"""Keyed upsert (merge) sinks — SURVEY K1-K3.

The reference upserts row chunks into Postgres keyed on primary keys
(``pricenow_etl.py:98-112``: chunked ``upsert(on_conflict=keys)``;
``:244-259``/``:262-282``: per-table wrappers with pre-write PK
guards). Spark has no DataFrame-native upsert, so the engine provides:

- ``merge_upsert_df``     — pure-DataFrame merge semantics
                            (updates win; base rows without a matching
                            key survive) usable inside any plan;
- ``merge_upsert_parquet`` — a parquet-table target with
                            write-new/swap commit, the stand-in for a
                            lakehouse MERGE INTO. All existence probes,
                            staging and the crash-safe swap go through
                            the Hadoop FileSystem API (``..fs``), so
                            the sink works on any scheme Spark itself
                            can write to (local, HDFS, s3a) — a
                            driver-local ``os.path`` probe is silently
                            False on an object-store URI, which would
                            turn the merge into "treat table as empty,
                            land output under a mangled local path,
                            report success";
- ``jdbc_upsert``          — executemany ``INSERT ... ON CONFLICT DO
                            UPDATE`` in key-ordered batches (mirrors
                            the reference's 1000-row chunking), gated
                            behind an import-try since no DB driver is
                            baked into this environment.

Every keyed sink (``merge_upsert_parquet``, ``merge_upsert_partitioned``,
``jdbc_upsert``) evaluates its update set exactly once: it persists the
input (unless the caller already cached it), runs both PK guards as one
aggregation over the persisted rows before anything is staged or
written, writes from the same rows, and unpersists in a ``finally``.
Without that, an upstream plan such as the forward-fill window would be
recomputed by every guard and again by the write.

Scale notes: the anti-join inside ``merge_upsert_df`` shuffles both
sides by the merge keys — at lakehouse scale you'd let the table
format (Delta/Iceberg) do file-level pruning instead; the API here is
deliberately the same shape as ``MERGE INTO t USING u ON keys``.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fs import (
    basename,
    fs_delete,
    fs_exists,
    fs_rename,
    parent,
    try_read_parquet,
)


def assert_keys_not_null(df: DataFrame, keys: list[str], table: str = "<target>") -> None:
    """Pre-write PK guard (reference py:249-251, py:271-274): refuse the
    whole write if any key column holds a null."""
    cond = None
    for k in keys:
        c = F.col(k).isNull()
        cond = c if cond is None else (cond | c)
    bad = df.filter(cond).limit(1).count()
    if bad:
        raise ValueError(f"upsert into {table}: null in key column(s) {keys}")


def assert_keys_unique(df: DataFrame, keys: list[str], table: str = "<target>") -> None:
    """Both pre-write PK guards in one aggregation: refuse the write if
    any key column holds a null (the ``assert_keys_not_null`` check) or
    any key occurs twice. A null key wins when both hold. Duplicate
    keys make an upsert batch ill-defined — Postgres raises 'ON
    CONFLICT DO UPDATE command cannot affect row a second time' when
    both rows land in one statement, and same-key rows in different
    partitions would commit in arbitrary order.

    ``groupBy(keys)`` gives each key its row count and whether it is
    null; one global ``max`` over those flags decides, so ``df`` is
    scanned once."""
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    has_null, has_dup = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max(null_key), F.max(F.col("__n") > 1))
        .first()
    )
    if has_null:
        raise ValueError(f"upsert into {table}: null in key column(s) {keys}")
    if has_dup:
        raise ValueError(f"upsert into {table}: duplicate rows for key(s) {keys}")


_CACHE_COALESCE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


@contextmanager
def _guarded_once(df: DataFrame, keys: list[str], table: str) -> Iterator[None]:
    """Persist ``df`` for the body of the ``with`` and run the PK guard
    over it first, so a sink's guard and its write read the same
    persisted rows and the update set's plan runs once per call, not
    once per guard plus once for the write. An input the caller
    already cached is used as is and left cached."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        # let AQE coalesce the cached plan's last shuffle, as it would
        # for the uncached write; without it the cache keeps every
        # shuffle partition and the table is written as that many files
        conf = df.sparkSession.conf
        prev = conf.get(_CACHE_COALESCE)
        conf.set(_CACHE_COALESCE, "true")
        try:
            df.persist()
        finally:
            conf.set(_CACHE_COALESCE, prev)
    try:
        assert_keys_unique(df, keys, table)
        yield
    finally:
        if owned:
            df.unpersist()


def merge_upsert_df(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    precedence_col: str | None = None,
) -> DataFrame:
    """Merge semantics: every key in ``updates`` replaces its row in
    ``base``; unmatched base rows pass through (K1, py:98-112).

    ``updates`` must be unique per key (enforced upstream by the
    pipelines; PK semantics).

    Default is unconditional replace — correct when updates are known
    newer (the reference's snapshot upsert). ``precedence_col`` makes
    the merge keep-newest instead: the surviving row per key is the
    one with the greatest ``precedence_col`` value (updates win ties),
    so a late-arriving batch of OLDER events cannot clobber newer base
    rows — the event-time contract a streaming upsert needs when file
    arrival order is not event order."""
    if precedence_col is None:
        surviving = base.join(
            updates.select(*keys).distinct(), on=keys, how="left_anti"
        )
        return updates.unionByName(surviving)
    tagged = base.withColumn("__upd", F.lit(0)).unionByName(
        updates.withColumn("__upd", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(precedence_col).desc_nulls_last(), F.col("__upd").desc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__upd")
    )


def merge_upsert_evolve(
    base: DataFrame, updates: DataFrame, keys: list[str]
) -> DataFrame:
    """Schema-evolution-tolerant merge: like ``merge_upsert_df`` but
    the two sides may disagree on non-key columns. Columns present on
    only one side are added to the other as typed NULLs (the lakehouse
    ``mergeSchema`` / Delta ``schema evolution`` behavior), so a feed
    that ADDS a column upserts cleanly into an older table (old rows
    read NULL for the new column) and a feed that DROPPED a column
    leaves the target column NULL on updated rows rather than failing
    the load. A column present on both sides with a DIFFERENT data
    type raises — silent casts corrupt; type changes are a migration,
    not a merge.

    Zero extra shuffles vs the plain merge: the null-padding is a
    projection on each side before the same anti-join + union."""
    for k in keys:
        if k not in base.columns or k not in updates.columns:
            raise ValueError(f"merge key {k!r} missing from one side")
    b_types = dict(base.dtypes)
    u_types = dict(updates.dtypes)
    conflicts = {
        c: (b_types[c], u_types[c])
        for c in b_types.keys() & u_types.keys()
        if b_types[c] != u_types[c]
    }
    if conflicts:
        raise ValueError(
            f"schema evolution cannot merge type-changed columns: {conflicts}"
        )
    # base column order first, then update-only columns in their order
    out_cols = base.columns + [c for c in updates.columns if c not in b_types]
    base_p = base.select(
        *[
            F.col(c) if c in b_types
            else F.lit(None).cast(u_types[c]).alias(c)
            for c in out_cols
        ]
    )
    upd_p = updates.select(
        *[
            F.col(c) if c in u_types
            else F.lit(None).cast(b_types[c]).alias(c)
            for c in out_cols
        ]
    )
    return merge_upsert_df(base_p, upd_p, keys=keys)


def replace_dir(spark: SparkSession, new_dir: str, target_path: str) -> None:
    """Crash-safe directory swap: rename the live target aside, move
    the new directory in, then drop the backup. A crash between the
    two renames leaves the hidden ``.<target>.bak`` sibling intact
    (recoverable) instead of losing the live table; a stale backup
    from a prior crash is cleared up front so the swap always starts
    clean. The backup name is DOT-prefixed because the target may be
    one hive partition inside a table root (partition-scoped
    compaction/merge), where a visible sibling would break partition
    discovery for every concurrent reader — and permanently, if the
    crash happens before cleanup. Spark's file index ignores hidden
    paths.

    All moves go through the path's own Hadoop FileSystem (``..fs``),
    so the swap is scheme-portable; ``new_dir`` must live under the
    same scheme as the target (stage next to the table — the callers
    here all do), since a cross-filesystem rename is refused, loudly.

    On object stores without native rename (S3) the per-rename cost is
    a server-side copy — acceptable for the dimension-sized tables
    this whole-table sink targets; the partition-scoped variant
    (`merge_upsert_partitioned`) commits through Spark's dynamic
    partition overwrite instead and avoids the double move."""
    d, b = parent(target_path), basename(target_path)
    bak = f"{d}/.{b}.bak"
    fs_delete(spark, bak)
    had_old = fs_exists(spark, target_path)
    if had_old:
        fs_rename(spark, target_path, bak)
    try:
        fs_rename(spark, new_dir, target_path)
    except BaseException:
        if had_old and not fs_exists(spark, target_path):
            fs_rename(spark, bak, target_path)
        raise
    if had_old:
        fs_delete(spark, bak)


def merge_upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: list[str],
    table: str | None = None,
    precedence_col: str | None = None,
) -> None:
    """Upsert into a parquet-directory table with atomic-ish swap:
    write merged output to a sibling temp dir, then replace the target
    via the crash-safe backup-aside swap. Idempotent: re-running the
    same updates yields the same table.

    This rewrites the WHOLE table per batch — fine for dimension-sized
    targets (the reference's tables); for large partitioned facts use
    ``merge_upsert_partitioned``, which only rewrites the hive
    partitions present in the update set.

    ``updates`` is evaluated once: it is persisted, the PK guards
    check it in one aggregation before anything is staged or swapped,
    and the merged write reads the persisted rows."""
    # merge_upsert_df's contract requires per-key-unique updates; the
    # guard enforces it here (like the reference's Postgres PK would)
    # instead of silently persisting duplicate "PK" rows
    with _guarded_once(updates, keys, table or target_path):
        # portable existence probe: read-or-None against the path's own
        # filesystem (an empty or absent table reads as None, same as the
        # old listdir check — but correct on object-store URIs too)
        base = try_read_parquet(spark, target_path)
        if base is not None:
            merged = merge_upsert_df(base, updates, keys, precedence_col=precedence_col)
        else:
            merged = updates
        # staging lives under a hidden per-TARGET directory next to the
        # table (same scheme, so the swap is a same-filesystem rename);
        # directory boundaries keep sibling tables' staging disjoint, and
        # single-writer-per-table (the sink's contract) makes sweeping
        # stale staging from a prior crash safe
        stage_root = f"{parent(target_path)}/.merge/{basename(target_path)}"
        fs_delete(spark, stage_root)
        out = f"{stage_root}/stage_{uuid.uuid4().hex[:8]}/data"
        # .write.parquet is an action: the output is fully on disk when it
        # returns (a re-read+count here would just double the read I/O)
        merged.write.mode("overwrite").parquet(out)
    replace_dir(spark, out, target_path)
    fs_delete(spark, stage_root)


def merge_upsert_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    target_path: str,
    keys: list[str],
    partition_cols: list[str],
    table: str | None = None,
    precedence_col: str | None = None,
) -> None:
    """Partition-scoped MERGE into a hive-partitioned parquet table:
    only the partitions present in the update set are read, merged and
    rewritten — untouched partition directories keep their files
    byte-for-byte. This is the 100 TB upsert path: per-batch work is
    bounded by the touched-partition volume, not the table size
    (lakehouse ``MERGE INTO`` with partition pruning; the whole-table
    rewrite in ``merge_upsert_parquet`` is the dimension-sized
    fallback).

    Mechanics: the distinct update partition tuples (driver-small by
    contract — one row per touched partition) become a static pruning
    filter on the base scan, so Catalyst reads only those directories
    (``PartitionFilters``); the merged result is committed with
    Spark's dynamic partition overwrite, which replaces exactly the
    partitions the output contains.

    Update rows must carry their partition columns, and a key's
    partition must be stable across batches (same contract as
    partitioned ``MERGE`` everywhere). ``precedence_col`` gives the
    merge keep-newest instead of unconditional-replace semantics —
    same contract as ``merge_upsert_df`` — so a late-arriving batch
    of OLDER events cannot clobber newer rows already merged into a
    partition."""
    with _guarded_once(updates, keys, table or target_path):
        if try_read_parquet(spark, target_path) is None:
            updates.write.mode("overwrite").partitionBy(*partition_cols).parquet(target_path)
            return
        touched = updates.select(*partition_cols).distinct().collect()
        cond = F.lit(False)
        for row in touched:
            c = F.lit(True)
            for col in partition_cols:
                # eqNullSafe, not ==: a NULL partition value (hive
                # __HIVE_DEFAULT_PARTITION__) compared with == yields NULL,
                # which would silently read ZERO base rows for that
                # partition while dynamic overwrite still rewrites it —
                # deleting every previously-merged row it held
                c = c & F.col(col).eqNullSafe(F.lit(row[col]))
            cond = cond | c
        base = spark.read.parquet(target_path).filter(cond)
        merged = merge_upsert_df(
            base, updates.select(*base.columns), keys, precedence_col=precedence_col
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(target_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def apply_cdc(
    base: DataFrame,
    ops: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Change-data-capture apply: fold an ordered op log onto a base
    table — the lakehouse `MERGE ... WHEN MATCHED AND op='D' THEN
    DELETE` shape Spark has no native operator for.

    ``ops`` carries the base columns plus ``op_col`` in
    ('I','U','D') and a strictly-increasing ``seq_col`` per key (the
    CDC stream's log sequence number). Per key only the LATEST op
    counts: 'D' removes the row, 'I'/'U' replace it; keys absent from
    the log pass through. A delete followed by a later insert
    resurrects the row — op folding, not op replay, which is what
    makes this one window + one anti-join instead of an iterative
    apply. Both shuffles key-partition on the merge keys."""
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    latest = (
        ops.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    payload_cols = [c for c in base.columns]
    upserts = latest.filter(F.col(op_col) != "D").select(*payload_cols)
    survivors = base.join(latest.select(*keys).distinct(), on=keys, how="left_anti")
    return survivors.unionByName(upserts)


def _psycopg2_connect(dsn: str):  # pragma: no cover - no driver in test env
    try:
        import psycopg2  # type: ignore
    except ImportError as e:
        raise NotImplementedError(
            "jdbc_upsert requires a DB-API driver on the executors"
        ) from e
    return psycopg2.connect(dsn)


def jdbc_upsert(
    df: DataFrame,
    *,
    table: str,
    keys: list[str],
    dsn: str | None = None,
    connect=None,
    chunk_size: int = 1000,
    paramstyle: str = "%s",
) -> None:
    """JDBC-style upsert: per-partition batched ``INSERT ... ON CONFLICT
    (keys) DO UPDATE SET ...`` with ``chunk_size``-row batches — the
    direct analog of the reference's chunked Supabase upsert
    (``pricenow_etl.py:98-112``).

    ``connect`` is a picklable zero-arg DB-API connection factory
    (e.g. ``functools.partial(psycopg2.connect, dsn)``); passing
    ``dsn`` alone defaults to psycopg2. ``paramstyle`` is the driver's
    placeholder token (``%s`` postgres, ``?`` sqlite) — the ON
    CONFLICT clause itself is standard and tested against a real
    DB-API engine in the suite. Each partition writes through its own
    connection, so write parallelism scales with the cluster while
    chunking bounds per-statement size.

    Input must be unique per key (enforced by a pre-write guard):
    with duplicates, Postgres rejects same-statement double updates
    ('cannot affect row a second time') and cross-partition duplicates
    would commit in nondeterministic order."""
    if connect is None:
        if dsn is None:
            raise ValueError("jdbc_upsert needs either `connect` or `dsn`")
        import functools

        connect = functools.partial(_psycopg2_connect, dsn)
    cols = df.columns
    collist = ", ".join(cols)
    placeholders = ", ".join([paramstyle] * len(cols))
    conflict = ", ".join(keys)
    sets = ", ".join(f"{c} = EXCLUDED.{c}" for c in cols if c not in keys)
    # all-key tables (e.g. a distinct-keys dimension) have nothing to
    # update on conflict; 'DO UPDATE SET <empty>' is a syntax error
    action = f"DO UPDATE SET {sets}" if sets else "DO NOTHING"
    sql = (
        f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
        f"ON CONFLICT ({conflict}) {action}"
    )

    def write_partition(rows) -> None:
        conn = connect()
        try:
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row))
                if len(batch) >= chunk_size:
                    cur.executemany(sql, batch)
                    batch = []
            if batch:
                cur.executemany(sql, batch)
            conn.commit()
        finally:
            conn.close()

    with _guarded_once(df, keys, table):
        df.foreachPartition(write_partition)
