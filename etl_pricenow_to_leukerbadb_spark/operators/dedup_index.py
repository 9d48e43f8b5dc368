"""Persisted near-dup indexes: build once, check deltas against them
forever.

The in-memory dedup operators (``dd_minhash_lsh``,
``dd_embedding_near_dup_hi`` and friends) re-hash the whole corpus on
every call — the right shape for an oracle-checkable query, not for
the production contract at 100 TB: there the corpus grows by a daily
delta, and "is anything in today's delta a near-dup of the existing
corpus?" must hash O(delta), never O(corpus). This module is the
dedup-family analog of ``operators/ann_index.py``, with TWO hashing
frontends over one persisted shape:

- **Text** (MinHash+LSH): ``build_dedup_index`` /
  ``query_dedup_candidates`` / ``append_to_dedup_index`` —
  shingle-level near-dups, the blocking structure of
  ``dd_minhash_lsh``. Documents too short to shingle fail the
  build/append loudly (they would otherwise be silently unblockable
  forever); ``allow_short=True`` opts out.
- **Vector** (sign-LSH over embeddings): ``build_vec_dedup_index`` /
  ``query_vec_dedup_candidates`` / ``append_to_vec_dedup_index`` —
  embedding-cosine near-dups, the blocking structure of
  ``dd_embedding_near_dup_hi``. The hyperplanes are deterministic
  functions of (plane id, dim) — the geometry in meta fully
  determines every bucket, so nothing random needs persisting.

Maintenance exists ONCE for both kinds: ``fsck_dedup_index``,
``compact_dedup_index``, ``compact_dedup_index_serving``,
``migrate_dedup_index_to_serving`` and ``append_gap_ids`` read the
index kind from its meta (``_scheme_of``). The compactions and the
repair's staged swap run on the core in ``serving``, shared with the
ANN index; this module supplies the loader and the band-table layout.

Both persist the same layout under ``path/``:

    meta/    1-row parquet: the hashing geometry + id/text-or-vec
             column names and the id type + ``build_id``. Probing
             with different parameters than the corpus was hashed
             with would silently produce incomparable buckets, so the
             geometry is persisted and never guessed; the id type
             lets a streaming ingest derive its schema from the
             index.
    commit/  1-row parquet: (build_id), written LAST — same
             generation-token contract as the ANN index (a crashed
             build or overwrite reads as "incomplete", loudly).
    bands/   (<id_col>, band, bucket) — the blocking structure,
             exactly K rows per indexed id (K = ``bands`` for text,
             ``n_tables`` for vectors). THE scan side of every probe;
             narrow (id + small int + string key), no text/vectors.
             Optionally hive-partitioned on a bucket-prefix key
             (``bucket_prefix_len > 0`` at build — the POINT-PROBE
             layout): a small probe's buckets cover few prefixes, so
             the probe pushes a literal partition filter and reads
             only those directories instead of the whole band table.
             Bulk probes cover every prefix and gain nothing — pick
             the layout for the probe shape you serve.

Why persist the BUCKET TABLE and not signatures/projections: a probe
needs only the bucket equi-join; the bucket table is the join-ready
form, and the delta's buckets are recomputed from its raw data at
probe/append time — O(delta).

Scale shape of a probe: hash the delta (O(delta)), then ONE linear
scan of the narrow band table joined to the delta's buckets —
Catalyst broadcasts the probe side when the delta is small, so the
corpus-sized table is never shuffled. On the flat layout the scan is
linear in the CORPUS (inherent to bucket blocking — the index cannot
know which buckets a future probe will carry) but reads ~1% of the
corpus bytes; what the index saves vs the in-memory operators is the
corpus-sized hashing pass, the dominant cost (measured 6.6x at 16x
corpus, SCALE.md). The point-probe layout above trades directory
count for sub-linear SMALL probes — the scan prunes to the prefixes
the probe's buckets hash into.

Reference analog: the twice-daily incremental upsert contract of
``scripts/pricenow_etl.py:329-358`` — new data integrated against
standing state without recomputing it.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..session import tiny_local_df
from ..sources.tables import fan_out
from ..fs import fs_delete as _fs_delete, try_read_parquet as _try_read_parquet
from .serving import (
    compact_generation,
    compact_in_place,
    migrate_root_to_serving,
    resolve_serving_root as _resolve_index_root,
    serving_root_report,
    swap_in_staged,
    write_commit_marker,
)
from .dedup import band_table, minhash_signatures


@dataclass(frozen=True)
class _Scheme:
    """What the text (MinHash bands) and vector (sign-LSH tables)
    indexes do differently; everything else in the lifecycle is one
    implementation. ``build``/``append``/``query`` name this module's
    frontends and ``probe_merge`` names ``cluster_index``'s tail —
    NAMES, looked up on the module at call time, so a wrapper patched
    onto the module attribute (tracing, tests) is what runs."""

    meta_cols: tuple[str, ...]
    k_key: str  # meta key of the exact per-id bands/ row count
    rows_noun: str  # what one bands/ row is, in error messages
    stream_schema: Callable[[dict], str]  # micro-batch DDL from meta
    # expected_ids(delta, params, text_col): the delta ids that must
    # end up fully banded (the gap-classification population)
    expected_ids: Callable[[DataFrame, dict, str], DataFrame]
    build: str
    append: str
    query: str
    probe_merge: str


_TEXT = _Scheme(
    meta_cols=(
        "k_shingle", "n_hashes", "bands", "id_col", "text_col", "id_type",
        "build_id",
    ),
    k_key="bands",
    rows_noun="band",
    stream_schema=lambda p: (
        f"{p['id_col']} {p['id_type']}, {p['text_col']} string"
    ),
    # only SHINGLABLE docs get band rows (allow_short=True lets the
    # rest through unbanded, legitimately)
    expected_ids=lambda delta, p, text_col: minhash_signatures(
        delta, p["id_col"], text_col, p["k_shingle"], p["n_hashes"]
    ).select(p["id_col"]),
    build="build_dedup_index",
    append="append_to_dedup_index",
    query="query_dedup_candidates",
    probe_merge="probe_and_merge_delta",
)
_VEC = _Scheme(
    meta_cols=(
        "n_planes", "n_tables", "dim", "id_col", "vec_col", "id_type",
        "vec_elem_type", "build_id",
    ),
    k_key="n_tables",
    rows_noun="bucket",
    stream_schema=lambda p: (
        f"{p['id_col']} {p['id_type']}, "
        f"{p['vec_col']} array<{p['vec_elem_type']}>"
    ),
    # no unbandable class: malformed vectors refuse at append time
    # (_vec_buckets), so every delta id carries n_tables rows
    expected_ids=lambda delta, p, text_col: delta.select(F.col(p["id_col"])),
    build="build_vec_dedup_index",
    append="append_to_vec_dedup_index",
    query="query_vec_dedup_candidates",
    probe_merge="probe_and_merge_delta_vec",
)


def _scheme_of(params: dict) -> _Scheme | None:
    """The scheme whose meta columns ``params`` carries (the index
    records its own kind), or None for a meta that is neither."""
    return next(
        (s for s in (_TEXT, _VEC) if set(s.meta_cols) <= set(params)), None
    )


# ---------------------------------------------------------------------------
# Shared core: one persisted shape, two hashing frontends
# ---------------------------------------------------------------------------


def _bp(prefix_len: int):
    """Partition key for the point-probe layout: the bucket's first
    ``prefix_len`` characters behind a non-numeric sentinel ('p') —
    without the sentinel, all-digit prefixes (every VECTOR bucket is a
    bit string) would be type-INFERRED as ints on read, silently
    breaking the string equi-filter against the probe's computed
    prefixes."""
    return F.concat(F.lit("p"), F.substring(F.col("bucket"), 1, prefix_len))


def _write_bands(
    df: DataFrame, dest: str, prefix_len: int, mode: str = "errorifexists"
) -> None:
    """Write (id, band, bucket) rows to ``dest`` in the index's layout:
    flat, or hive-partitioned on the bucket-prefix key when
    ``prefix_len > 0`` (the point-probe layout)."""
    if prefix_len:
        df.withColumn("bp", _bp(prefix_len)).write.mode(mode).partitionBy(
            "bp"
        ).parquet(dest)
    else:
        df.write.mode(mode).parquet(dest)


def _write_bucket_index(
    spark: SparkSession,
    path: str,
    meta_row: tuple,
    meta_schema: str,
    bucket_df: DataFrame,
    overwrite: bool,
    build_id: str,
    bucket_prefix_len: int = 0,
) -> None:
    """meta first, data, commit marker LAST — a load of a crashed
    build fails loudly instead of probing a half-written bucket table
    (which would silently MISS duplicates, the worst failure mode a
    dedup gate can have). ``bucket_prefix_len > 0`` hive-partitions
    ``bands/`` on the bucket-prefix key (the point-probe layout — see
    the module docstring)."""
    # Refuse an empty corpus BEFORE any write (ADVICE r11): a zero-row
    # bands write can leave a directory with no parquet footers, so
    # every later load of the index dies with UNABLE_TO_INFER_SCHEMA —
    # meta exists, bands unreadable, the structure wedged until an
    # operator deletes it by hand. An empty index is also semantically
    # useless (nothing to probe against); the caller should gate/skip
    # instead (curate_corpus_daily does). Cost: one limit-1 action on
    # the band table — negligible next to the full build that follows.
    if bucket_df.limit(1).isEmpty():
        raise ValueError(
            "bucket index build: the corpus produced ZERO bucket rows "
            f"(empty or fully filtered input) — refusing to write {path}: "
            "an empty bands table is unreadable on load and would wedge "
            "the index. Skip the build for an empty delta, or check the "
            "upstream gate/shingle filters."
        )
    if overwrite:
        for sub in ("commit", "bands", "meta"):
            _fs_delete(spark, f"{path}/{sub}")
    mode = "overwrite" if overwrite else "errorifexists"
    tiny_local_df(spark, [meta_row], meta_schema).coalesce(1).write.mode(
        mode
    ).parquet(f"{path}/meta")
    _write_bands(bucket_df, f"{path}/bands", bucket_prefix_len, mode)
    write_commit_marker(spark, path, build_id)


# Per-process handle cache, mirroring ann_index._HANDLE_CACHE: meta
# params are immutable within a generation, so a cache HIT re-reads
# only the 1-row commit marker (one tiny driver job) and compares
# build_id — a rebuild writes a new build_id (miss -> full reload), a
# crashed build has no matching marker (miss -> the loud load error).
# The bands table is ALWAYS re-read fresh so appends stay visible.
_HANDLE_CACHE: dict[tuple, dict] = {}


def invalidate_dedup_handles(path: str | None = None) -> None:
    """Drop cached dedup-index handles (test seam; normal invalidation
    is the per-hit build_id check)."""
    if path is None:
        _HANDLE_CACHE.clear()
        return
    p = path.rstrip("/")
    for k in [k for k in _HANDLE_CACHE if k[1] == p]:
        _HANDLE_CACHE.pop(k, None)


def _load_bucket_index(
    spark: SparkSession, path: str, name: str, scheme: _Scheme | None = None
) -> tuple[DataFrame, dict]:
    """(bands, params) with the generation-token check: the commit
    marker's build_id must match meta's. Params come from the
    validated per-process handle cache when possible (one marker job
    instead of meta+marker). Serving-layout roots
    (``migrate_dedup_index_to_serving``) resolve their ``CURRENT``
    pointer here, so probes read the live generation transparently.

    ``scheme`` pins the kind a kind-specific caller needs: an index of
    the OTHER kind refuses as malformed meta, on cache hits too. With
    ``None`` either kind loads (the maintenance entry points)."""
    path = _resolve_index_root(spark, path)
    key = (spark.sparkContext.applicationId, path.rstrip("/"))
    cached = _HANDLE_CACHE.get(key)
    if cached is not None:
        commit = _try_read_parquet(spark, f"{path}/commit")
        rows = commit.collect() if commit is not None else []
        if len(rows) == 1 and rows[0]["build_id"] == cached["build_id"]:
            params = dict(cached["params"])
        else:
            _HANDLE_CACHE.pop(key, None)  # superseded or crashed generation
            cached = None
    if cached is None:
        meta_df = _try_read_parquet(spark, f"{path}/meta")
        if meta_df is None:
            # a raw AnalysisException here sent the operator chasing a
            # path typo; name the two real states instead — not an
            # index, or a torn write/crashed build (the incident recipe
            # the curation jobs' torn-serving refusal points at)
            raise ValueError(
                f"{name}: no readable meta at {path}/meta — either the "
                "path is not a bucket index, or a torn write/crashed "
                "build left meta unreadable. Check the path; for a "
                "serving root restore CURRENT to the newest complete "
                "generation, else rebuild with overwrite=True"
            )
        meta_rows = meta_df.collect()
        params = meta_rows[0].asDict() if len(meta_rows) == 1 else {}
    found = _scheme_of(params)
    if found is None or (scheme is not None and found is not scheme):
        raise ValueError(f"{name}: malformed meta at {path}/meta")
    if cached is None:
        commit = _try_read_parquet(spark, f"{path}/commit")
        commit_rows = commit.collect() if commit is not None else []
        if (
            len(commit_rows) != 1
            or commit_rows[0]["build_id"] != params["build_id"]
        ):
            raise ValueError(
                f"{name}: index at {path} has no matching commit marker "
                "— the build (or an overwrite rebuild) crashed before "
                "completing. Rebuild with overwrite=True"
            )
        _HANDLE_CACHE[key] = {
            "build_id": params["build_id"],
            "params": dict(params),
        }
    return spark.read.parquet(f"{path}/bands"), params


def _probe_bucket_index(
    bands_df: DataFrame,
    id_col: str,
    probe_buckets: DataFrame,
    bucket_prefix_len: int = 0,
) -> DataFrame:
    """(probe_id, corpus_id) distinct pairs sharing any (band, bucket).

    Probe ids already in the index match themselves (identical
    buckets); callers probing not-yet-appended ids need no self-pair
    filtering beyond the ``probe_id != corpus_id`` guard here.

    On a partitioned layout (``bucket_prefix_len > 0``) the probe's
    distinct bucket prefixes are collected (bounded by the prefix
    ALPHABET — ≤ 16^len for text hex, ≤ 2^len for vector bits — a
    metadata-sized collect independent of data volume) and pushed as a
    literal ``bp IN (...)`` partition filter, so the corpus scan reads
    only the directories a bucket of the probe could live in. Spark's
    dynamic partition pruning does NOT fire here on its own — it
    requires a selective predicate on the build side, which a bare
    probe table lacks — so the pruning is explicit and plan-visible
    (``PartitionFilters: [bp IN (...)]``)."""
    if bucket_prefix_len:
        probe_buckets = probe_buckets.withColumn("bp", _bp(bucket_prefix_len))
        # localCheckpoint BEFORE the prefix collect: the collect and
        # the bucket join below would otherwise each evaluate the
        # probe's full hashing pipeline (minhash / sign-LSH) — doubling
        # exactly the delta-hashing cost the point-probe layout exists
        # to minimize. The probe is delta-sized by contract, so
        # materializing it is cheap; lineage truncation also keeps the
        # join plan free of the hashing subtree.
        probe_buckets = probe_buckets.localCheckpoint()
        prefixes = [
            r["bp"] for r in probe_buckets.select("bp").distinct().collect()
        ]
        bands_df = bands_df.filter(F.col("bp").isin(prefixes))
    return (
        probe_buckets.select(
            F.col(id_col).alias("probe_id"), "band", "bucket"
        )
        .join(
            bands_df.select(
                F.col(id_col).alias("corpus_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .filter(F.col("probe_id") != F.col("corpus_id"))
        .select("probe_id", "corpus_id")
        .distinct()
    )


def fsck_dedup_index(
    spark: SparkSession, path: str, strict: bool = True, repair: bool = False
) -> dict:
    """Whole-index consistency sweep of a text or vector near-dup index
    — scheduled maintenance, not a per-append tax (the append guard is
    delta-scoped).

    Every indexed id must carry exactly K distinct (band, bucket)
    rows (K = ``bands`` for text, ``n_tables`` for vectors, read from
    meta): fewer/more distinct rows = a partial append (crash during
    the bands file-commit), raw > distinct = a double-append's
    byte-identical duplicates (bucketing is
    deterministic under the frozen geometry). ``repair=True`` prunes
    in place — ``distinct()`` reconstructs double-appends exactly,
    partial ids drop back to their never-appended state (re-ingest
    recovers them) — via the staged-swap + commit-marker dance of the
    ANN index's ``repair_index``, then re-verifies strictly. One
    narrow-table rewrite, no re-hashing. Serving-layout roots also get
    the report-only root observations (orphaned generations, ingest
    claim) — see ``serving.serving_root_report``."""
    root_report = serving_root_report(spark, path)
    path = _resolve_index_root(spark, path)
    bands_df, params = _load_bucket_index(spark, path, "fsck_dedup_index")
    scheme = _scheme_of(params)
    id_col = params["id_col"]
    k = int(params[scheme.k_key])
    stats = (
        bands_df.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_distinct(F.col("band"), F.col("bucket")).alias(
                "n_distinct"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_ids"),
            F.sum(F.col("n_raw") - F.col("n_distinct")).alias("dup_rows"),
            F.count(
                F.when(F.col("n_distinct") != F.lit(k), F.lit(1))
            ).alias("partial_ids"),
        )
        .collect()[0]
    )
    report = {
        "n_ids": stats["n_ids"],
        "dup_rows": int(stats["dup_rows"] or 0),
        "partial_ids": stats["partial_ids"],
        **root_report,
    }
    violations = report["dup_rows"] or report["partial_ids"]
    if violations and repair:
        distinct = bands_df.select(id_col, "band", "bucket").distinct()
        keep = (
            distinct.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") == F.lit(k))
            .select(id_col)
        )
        staging = f"{path}/.repair"
        _fs_delete(spark, staging)
        # the rewrite keeps the index's (point-probe) layout
        _write_bands(
            distinct.join(keep, id_col, "left_semi"),
            f"{staging}/bands",
            params.get("bucket_prefix_len") or 0,
        )
        n_after = (
            spark.read.parquet(f"{staging}/bands")
            .select(id_col)
            .distinct()
            .count()
        )
        swap_in_staged(spark, path, staging, ["bands"], params["build_id"])
        _fs_delete(spark, staging)
        report["repair"] = {
            "pruned_ids": report["n_ids"] - n_after,
            "n_ids_after": n_after,
        }
        report["post_repair"] = fsck_dedup_index(
            spark, path, strict=True, repair=False
        )
        return report
    if strict and violations:
        raise RuntimeError(
            f"fsck_dedup_index: index at {path} is inconsistent — "
            f"{report}. A prior append crashed mid-commit or was "
            "double-applied. Run fsck_dedup_index(repair=True) to prune "
            "(cheap: one narrow-table rewrite, no re-hashing), then "
            "re-ingest any pruned ids"
        )
    return report


def _compaction_tables(name: str):
    """The shared compactions' strict loader, erroring as ``name``:
    returns the ``build_id`` and the band table to rewrite, sorted by
    (id, band) and kept hive-partitioned on ``bp`` in the point-probe
    layout."""

    def load(spark: SparkSession, root: str) -> tuple:
        _, params = _load_bucket_index(spark, root, name)
        plen = params.get("bucket_prefix_len") or 0
        bands = ("bands", [params["id_col"], "band"], "bp" if plen else None)
        return params["build_id"], [bands]

    return load


def compact_dedup_index(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    force: bool = False,
) -> dict:
    """Compact a streaming-ingested text or vector near-dup index's
    small files — the band-table analog of ``ann_index.compact_index``
    (each micro-batch appends one small file to ``bands/`` and one
    marker file; the file-listing and footer reads of every probe
    scale with that count). The rewrite sorts ``bands/`` by (id, band) range-
    partitioned on id, so the append guard's ``[min, max]``-pruned
    probe skips files via parquet min/max statistics for any ingest
    order. Crash safety: staged rewrite, row-count invariant BEFORE
    the swap, commit marker deleted first / re-written (same
    ``build_id``) after — a crash anywhere reads as "incomplete
    index". Markers are compacted last, outside the dark window
    (losing markers is benign: replay falls back to classification).
    Mechanics: ``serving.compact_in_place``. Single-writer per index is
    the caller's contract."""
    name = "compact_dedup_index"
    return compact_in_place(
        spark, path, name, _compaction_tables(name), target_files, force
    )


def _delta_stats(delta: DataFrame, id_col: str, extra: list | None = None):
    """One agg job over the delta: row count, distinct-id count and the
    id range — the shared input of every append guard (r14 fusion:
    previously each gate ran its own pass over the delta). ``extra``
    appends caller-specific aggregate columns (e.g. the vector
    malformedness count) so a frontend's whole gate battery reads from
    this single evaluation."""
    return delta.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("nd"),
        F.min(F.col(id_col)).alias("lo"),
        F.max(F.col(id_col)).alias("hi"),
        *(extra or []),
    ).collect()[0]


def _guard_append_delta(
    bands_df: DataFrame,
    delta: DataFrame,
    id_col: str,
    path: str,
    name: str,
    dstats=None,
) -> bool:
    """Delta-scoped append guards (same range-pruning shape as
    ``append_to_pq_index``): reject internally duplicated delta ids
    and delta ids already present in ``bands/`` — a double-append
    would duplicate bucket rows, and although the probe's
    ``distinct()`` hides duplicates from RESULTS, they'd inflate the
    join fan-out forever. Returns False when the delta is empty.
    ``dstats`` accepts a precomputed ``_delta_stats`` row so a caller
    running other delta-sized gates shares ONE stats job (r14)."""
    if dstats is None:
        dstats = _delta_stats(delta, id_col)
    if dstats["n"] == 0:
        return False
    if dstats["n"] != dstats["nd"]:
        raise ValueError(
            f"{name}: delta carries internally duplicated ids "
            f"({dstats['n']} rows, {dstats['nd']} distinct) — each would "
            "double its bucket rows"
        )
    n_existing = (
        bands_df.filter(
            F.col(id_col).between(F.lit(dstats["lo"]), F.lit(dstats["hi"]))
        )
        .join(delta.select(id_col), id_col, "left_semi")
        .select(id_col)
        .distinct()
        .count()
    )
    if n_existing:
        raise ValueError(
            f"{name}: {n_existing} delta id(s) already exist in "
            f"{path}/bands — re-appending would duplicate their bucket "
            "rows and inflate every later probe's join fan-out. Probe "
            "first, append once"
        )
    return True


def append_gap_ids(
    spark: SparkSession,
    path: str,
    docs_delta: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Per-id append state of a delta against a text or vector index:
    every EXPECTED delta id that is not fully banded, as ``(id_col,
    n_rows)``. Expected means shinglable docs for text (docs with
    fewer than ``k_shingle`` tokens legitimately have no rows, the
    ``allow_short=True`` case; ``text_col`` names their column) and
    every delta id for vectors (malformed vectors refuse at append
    time, ``_vec_buckets``). ``n_rows = 0`` means the id never landed
    (or fsck pruned it back to never-appended); ``1 .. K-1`` means a
    crashed append left a partial row set that MUST be pruned
    (``fsck_dedup_index(repair=True)``) before any re-append, or its
    bucket rows would duplicate. The split is what lets a caller
    SELF-HEAL a mixed delta (``orchestrate``'s daily jobs): zero-row
    ids are safe to re-append exactly as if new (the append guard
    matches exact ids, not spans), partial ids are not. Empty result
    == complete.

    The corpus-side scan is range-pruned to the delta's id span (the
    append guard's shape). The span comes from the RAW delta, not from
    ``expected``: min/max over the text rule's ids would evaluate the
    whole minhash pipeline for two bounds, and a superset span is
    still exact because the left_semi join restricts to expected ids.
    An all-unshinglable text delta gets no early exit: detecting it
    would cost a minhash pass on every call, while its own cost is one
    range-pruned bands scan (AQE does not collapse the join on an
    empty build side; the result is the correct empty frame)."""
    path = _resolve_index_root(spark, path)
    bands_df, params = _load_bucket_index(spark, path, "append_gap_ids")
    scheme = _scheme_of(params)
    id_col = params["id_col"]
    expected = scheme.expected_ids(docs_delta, params, text_col)
    estats = docs_delta.agg(
        F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
    ).collect()[0]
    if estats["lo"] is None:
        return expected.withColumn("n_rows", F.lit(0).cast("long")).limit(0)
    present = (
        bands_df.filter(
            F.col(id_col).between(F.lit(estats["lo"]), F.lit(estats["hi"]))
        )
        .join(expected, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        expected.join(present, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_rows"), F.lit(0).cast("long")).alias("n_rows"),
        )
        .filter(F.col("n_rows") != int(params[scheme.k_key]))
    )


# ---------------------------------------------------------------------------
# Text frontend: MinHash+LSH over shingles (dd_minhash_lsh's blocking)
# ---------------------------------------------------------------------------


def _guard_unshinglable(
    docs: DataFrame, sigs: DataFrame, id_col: str, k_shingle: int, name: str
) -> DataFrame:
    """Raise when any document produces NO shingles (NULL text or
    fewer than ``k_shingle`` tokens): such a document gets no minhash
    signature, so it would be silently absent from ``bands/`` —
    permanently exempt from every future near-dup check with no
    signal, the same failure class ``_vec_buckets`` gates on for
    malformed vectors. For a one-shot in-memory query (``dd_minhash_lsh``)
    dropping the unshinglable tail is inherent MinHash semantics; for
    a PERSISTED gate it must be a decision the caller makes:
    pre-filter short documents (and route them through an exact-dup
    check — ``exact_duplicates`` has no length floor), or pass
    ``allow_short=True`` to accept that they are unblockable by
    shingle LSH.

    The check is derived from the SIGNATURE DataFrame (ids present in
    ``docs`` but missing from ``sigs`` — minhashing drops zero-shingle
    documents), not from a separate tokenize+shingle pass over the
    corpus: tokenization is the expensive stage and must run once per
    build/append, and deriving both the guard and the index from one
    localCheckpointed snapshot means the guarded rows ARE the indexed
    rows even when ``docs`` is a non-deterministic source. Returns the
    checkpointed signatures; the caller MUST band/write these, not the
    original lazy plan."""
    sigs = sigs.localCheckpoint()
    n_bad = (
        docs.select(F.col(id_col))
        .join(sigs.select(F.col(id_col)), id_col, "left_anti")
        .count()
    )
    if n_bad:
        raise ValueError(
            f"{name}: {n_bad} document(s) have NULL text or fewer than "
            f"k_shingle={k_shingle} tokens — they produce no shingles, so "
            "indexing would silently exempt them from every future "
            "near-dup check. Pre-filter them (route short docs through an "
            "exact-dup check instead), or pass allow_short=True to accept "
            "that shingle LSH cannot block them"
        )
    return sigs


def build_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    overwrite: bool = False,
    allow_short: bool = False,
    bucket_prefix_len: int = 0,
) -> str:
    """Minhash + band the corpus and persist the bucket table under
    ``path``. Returns the generation ``build_id``. Crash contract:
    see ``_write_bucket_index``; unshinglable documents fail the build
    loudly unless ``allow_short=True`` (``_guard_unshinglable``).

    ``bucket_prefix_len > 0`` selects the POINT-PROBE layout:
    ``bands/`` is hive-partitioned on the bucket's first N hex chars
    (16^N directories), and probes prune the corpus scan to the
    partitions their buckets could live in. Right for the serving
    shape (a handful of documents checked interactively: a 1-doc probe
    touches ``bands`` buckets ≈ that many partitions of 16^N); useless
    for bulk probes, whose buckets cover every prefix — there the flat
    layout's single linear scan is the honest cost. 2 is a sane N
    (256 dirs); the geometry rides in meta like every other
    parameter."""
    spark = docs.sparkSession
    build_id = uuid.uuid4().hex
    sigs = minhash_signatures(docs, id_col, text_col, k_shingle, n_hashes)
    if not allow_short:
        sigs = _guard_unshinglable(
            docs, sigs, id_col, k_shingle, "build_dedup_index"
        )
    _write_bucket_index(
        spark,
        path,
        (
            int(k_shingle),
            int(n_hashes),
            int(bands),
            id_col,
            text_col,
            docs.schema[id_col].dataType.simpleString(),
            build_id,
            int(bucket_prefix_len),
        ),
        "k_shingle int, n_hashes int, bands int, id_col string, "
        "text_col string, id_type string, build_id string, "
        "bucket_prefix_len int",
        band_table(sigs, id_col, n_hashes, bands),
        overwrite,
        build_id,
        bucket_prefix_len=int(bucket_prefix_len),
    )
    return build_id


def load_dedup_index(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    return _load_bucket_index(spark, path, "load_dedup_index", _TEXT)


def query_dedup_candidates(
    spark: SparkSession,
    path: str,
    probe_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs between ``probe_docs`` (the delta) and
    the INDEXED corpus: ``(probe_id, corpus_id)`` rows sharing any
    band bucket, distinct. The signature geometry comes from the
    persisted meta — a probe can never hash with different parameters
    than the corpus did. Cost: O(delta) shingling + one narrow
    band-table scan (module docstring). The caller decides what a
    candidate means (drop, exact-verify via ``ngram_jaccard_pairs`` on
    the candidate ids, or route to review) — same contract as the
    in-memory ``lsh_candidate_pairs``."""
    bands_df, params = load_dedup_index(spark, path)
    id_col = params["id_col"]
    sigs = minhash_signatures(
        probe_docs, id_col, text_col, params["k_shingle"], params["n_hashes"]
    )
    return _probe_bucket_index(
        bands_df,
        id_col,
        band_table(sigs, id_col, params["n_hashes"], params["bands"]),
        bucket_prefix_len=params.get("bucket_prefix_len") or 0,
    )


def append_to_dedup_index(
    docs_delta: DataFrame,
    path: str,
    text_col: str = "text",
    allow_short: bool = False,
) -> None:
    """Minhash ONLY the delta under the frozen geometry and append its
    buckets, so later probes see today's corpus. Guards:
    ``_guard_append_delta`` plus the unshinglable-document gate
    (``_guard_unshinglable``, opt out with ``allow_short=True``).
    Appending is atomic per parquet job; a
    crashed append leaves partial bucket rows for some delta ids,
    which a RETRY of the same delta then reports — recovery is
    ``fsck_dedup_index(repair=True)``, then re-append. Exactly-once
    streaming ingest is ``stream_dedup_ingest_job`` (epoch markers +
    this guard, mirroring the ANN index's)."""
    spark = docs_delta.sparkSession
    # appends land in the CURRENT generation of a serving-layout index
    path = _resolve_index_root(spark, path)
    bands_df, params = load_dedup_index(spark, path)
    id_col = params["id_col"]
    # Guard-job fusion (r14, guide §1.2: a merge/ingest runs per
    # micro-batch, so every fused driver job is cadence headroom). ONE
    # delta-stats job feeds the empty/dup/overlap guards AND the
    # unshinglable gate: with the dup guard proven first, delta rows =
    # distinct ids, so the gate's "ids missing a signature" count is
    # simply nd - |sigs| — and |sigs| rides the signature
    # materialization the gate already paid (observed on the
    # localCheckpoint) instead of a separate docs-vs-sigs anti-join
    # job. Net: 5 jobs/append -> 4, identical raises (the dup raise now
    # precedes the unshinglable one — both states are caller bugs and
    # each message still names its own condition).
    dstats = _delta_stats(docs_delta, id_col)
    if dstats["n"] == 0:
        return
    sigs = minhash_signatures(
        docs_delta, id_col, text_col, params["k_shingle"], params["n_hashes"]
    )
    if not allow_short:
        if dstats["n"] != dstats["nd"]:
            raise ValueError(
                f"append_to_dedup_index: delta carries internally "
                f"duplicated ids ({dstats['n']} rows, {dstats['nd']} "
                "distinct) — each would double its bucket rows"
            )
        obs = Observation()
        # the checkpoint both materializes the guarded snapshot (the
        # guarded rows ARE the indexed rows, as _guard_unshinglable
        # documents) and fires the observed signature count
        sigs = sigs.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        n_bad = int(dstats["nd"]) - int(obs.get["n"])
        if n_bad:
            raise ValueError(
                f"append_to_dedup_index: {n_bad} document(s) have NULL "
                f"text or fewer than k_shingle={params['k_shingle']} "
                "tokens — they produce no shingles, so indexing would "
                "silently exempt them from every future near-dup check. "
                "Pre-filter them (route short docs through an exact-dup "
                "check instead), or pass allow_short=True to accept "
                "that shingle LSH cannot block them"
            )
    if not _guard_append_delta(
        bands_df, docs_delta, id_col, path, "append_to_dedup_index", dstats
    ):
        return
    _write_bands(
        band_table(sigs, id_col, params["n_hashes"], params["bands"]),
        f"{path}/bands",
        params.get("bucket_prefix_len") or 0,
        "append",
    )


# ---------------------------------------------------------------------------
# Vector frontend: sign-LSH over embeddings (dd_embedding_near_dup_hi's
# blocking). Defaults are the production-threshold tuning whose
# bits-per-table/corpus-size law SCALE.md measures (12 planes x 8
# tables).
# ---------------------------------------------------------------------------


def _vec_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    name: str,
) -> DataFrame:
    """(id, band, bucket) rows from sign-LSH, RAISING on malformed
    vectors (wrong length / NULL components). The in-memory operators
    bucket those to NULL so they drop out of self-joins — acceptable
    for a one-shot query, but an INDEX that silently never blocks a
    vector misses its duplicates forever, so the gate is loud here;
    callers pre-filter (``size(vec) = dim AND NOT exists(vec,
    x -> isnull(x))``) if malformed input is expected."""
    from .similarity import sign_lsh_buckets_long

    # the same well-formedness predicate sign_lsh_buckets_long gates
    # buckets on, checked directly on the vectors so the (hash-heavy)
    # bucketing runs ONCE — for the write, not also for this count
    v = F.col(vec_col)
    n_bad = df.filter(
        v.isNull()
        | (F.size(v) != F.lit(dim))
        | F.exists(v, lambda x: x.isNull())
    ).count()
    if n_bad:
        raise ValueError(
            f"{name}: {n_bad} vector(s) are malformed (length != {dim} or "
            "NULL components) — indexing them would silently exempt them "
            "from every future near-dup check. Filter or fix them first"
        )
    b = sign_lsh_buckets_long(df, id_col, vec_col, n_planes, n_tables, dim)
    return b.select(id_col, F.col("tbl").alias("band"), "bucket")


def build_vec_dedup_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 8,
    dim: int = 64,
    overwrite: bool = False,
    bucket_prefix_len: int = 0,
) -> str:
    """Sign-LSH-bucket the embedding corpus and persist the bucket
    table under ``path``. Returns the generation ``build_id``.

    The hyperplanes are deterministic in (plane id, dim)
    (``similarity._hyperplane_values``), so the persisted geometry
    fully determines every bucket — probes and appends reproduce the
    corpus's bucketing exactly, nothing random to persist.

    ``bucket_prefix_len > 0`` selects the point-probe layout (see
    ``build_dedup_index``) — here buckets are BIT strings, so the
    prefix alphabet is 2^N directories (use e.g. 6 for 64): size it so
    partitions stay coarse enough to hold real data but fine enough
    that a few-vector probe prunes most of them."""
    spark = corpus.sparkSession
    build_id = uuid.uuid4().hex
    buckets = _vec_buckets(
        fan_out(corpus),
        id_col,
        vec_col,
        n_planes,
        n_tables,
        dim,
        "build_vec_dedup_index",
    )
    _write_bucket_index(
        spark,
        path,
        (
            int(n_planes),
            int(n_tables),
            int(dim),
            id_col,
            vec_col,
            corpus.schema[id_col].dataType.simpleString(),
            corpus.schema[vec_col].dataType.elementType.simpleString(),
            build_id,
            int(bucket_prefix_len),
        ),
        "n_planes int, n_tables int, dim int, id_col string, "
        "vec_col string, id_type string, vec_elem_type string, "
        "build_id string, bucket_prefix_len int",
        buckets,
        overwrite,
        build_id,
        bucket_prefix_len=int(bucket_prefix_len),
    )
    return build_id


def load_vec_dedup_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    return _load_bucket_index(spark, path, "load_vec_dedup_index", _VEC)


def query_vec_dedup_candidates(
    spark: SparkSession,
    path: str,
    probe_vecs: DataFrame,
    corpus: DataFrame | None = None,
    threshold: float | None = None,
) -> DataFrame:
    """Embedding near-dup check of a delta against the indexed corpus.

    Without ``corpus``/``threshold``: candidate ``(probe_id,
    corpus_id)`` pairs sharing any sign-LSH bucket — the blocking
    stage alone, O(delta) hashing + one narrow band-table scan.

    With both: the candidates get the SAME exact rounded-cosine
    verification as ``dd_embedding_near_dup_hi`` — probe vectors from
    ``probe_vecs``, corpus vectors joined from ``corpus`` (the index
    stores no floats; the verify join touches only candidate ids, a
    semi-join-sized read of the raw table) — returning ``(probe_id,
    corpus_id, cos_sim)`` with ``cos_sim >= threshold``."""
    from .similarity import cosine_prenormed, norm_sq

    bands_df, params = load_vec_dedup_index(spark, path)
    id_col, vec_col = params["id_col"], params["vec_col"]
    probe_buckets = _vec_buckets(
        probe_vecs,
        id_col,
        vec_col,
        params["n_planes"],
        params["n_tables"],
        params["dim"],
        "query_vec_dedup_candidates",
    )
    cand = _probe_bucket_index(
        bands_df,
        id_col,
        probe_buckets,
        bucket_prefix_len=params.get("bucket_prefix_len") or 0,
    )
    if corpus is None or threshold is None:
        return cand
    pv = probe_vecs.select(
        F.col(id_col).alias("__pid"),
        F.col(vec_col).alias("__pv"),
        F.sqrt(norm_sq(F.col(vec_col))).alias("__pn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        F.sqrt(norm_sq(F.col(vec_col))).alias("__cn"),
    )
    # Coverage gate BEFORE the verify join: the band table indexes ids
    # whose raw vectors the caller may fail to pass back (stale
    # snapshot, delta-only table), and the inner verify join would
    # silently DROP those candidates — quietly under-reporting
    # near-dups, the worst dedup failure. A row-level raise_error
    # behind a LEFT join does NOT survive the optimizer here: the
    # null-intolerant cosine filter lets Catalyst eliminate the outer
    # join back to inner (measured — the gate never fired), so the
    # check is an explicit delta-sized anti-join + driver count over
    # the checkpointed candidates instead. The probe side needs no
    # gate: probe vectors produced the candidates.
    cand = cand.localCheckpoint()  # delta-sized; feeds check + verify
    n_missing = (
        cand.select(F.col("corpus_id"))
        .distinct()
        .join(
            corpus.select(F.col(id_col).alias("corpus_id")),
            "corpus_id",
            "left_anti",
        )
        .count()
    )
    if n_missing:
        raise ValueError(
            f"query_vec_dedup_candidates: {n_missing} candidate corpus "
            "id(s) have no raw vector in `corpus` — the exact-cosine "
            "verify would silently drop those pairs. Pass the raw table "
            "covering every indexed id (including any just-appended "
            "delta)"
        )
    return (
        cand.join(pv, cand.probe_id == pv.__pid)
        .join(cv, F.col("corpus_id") == cv.__cid)
        .select(
            "probe_id",
            "corpus_id",
            F.round(
                cosine_prenormed(
                    F.col("__pv"), F.col("__cv"), F.col("__pn"), F.col("__cn")
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(float(threshold)))
    )


# ---------------------------------------------------------------------------
# Serving layout (pointer indirection), shared with the ANN index: the
# migration and the generation compaction are ``serving``'s, so a dedup
# gate is also compacted with zero reader downtime (probes planned
# before/during/after the pointer swap all succeed).
# ---------------------------------------------------------------------------


def migrate_dedup_index_to_serving(
    spark: SparkSession, path: str, force: bool = False
) -> str:
    """One-time flat -> serving migration of a text or vector near-dup
    index; mechanics in ``serving.migrate_root_to_serving``."""
    return migrate_root_to_serving(
        spark,
        path,
        lambda ss, p: _load_bucket_index(
            ss, p, "migrate_dedup_index_to_serving"
        ),
        force=force,
    )


def compact_dedup_index_serving(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    force: bool = False,
) -> dict:
    """Zero-downtime compaction of a text or vector near-dup index
    (reader-isolated): the band table and epoch markers are compacted
    into a new ``gen-<id>/``, the small artifacts byte-copied, the
    commit marker written LAST, then the ``CURRENT`` pointer swapped —
    the dedup analog of ``ann_index.compact_index_serving``, same crash
    contract (``serving.compact_generation``)."""
    name = "compact_dedup_index_serving"
    return compact_generation(
        spark, path, name, _compaction_tables(name), target_files, force
    )


def append_to_vec_dedup_index(vecs_delta: DataFrame, path: str) -> None:
    """Bucket ONLY the delta under the frozen geometry and append.
    Guards and crash/retry contract: as ``append_to_dedup_index``
    (recovery via ``fsck_dedup_index(repair=True)``)."""
    spark = vecs_delta.sparkSession
    # appends land in the CURRENT generation of a serving-layout index
    path = _resolve_index_root(spark, path)
    bands_df, params = load_vec_dedup_index(spark, path)
    id_col = params["id_col"]
    if not _guard_append_delta(
        bands_df, vecs_delta, id_col, path, "append_to_vec_dedup_index"
    ):
        return
    buckets = _vec_buckets(
        vecs_delta,
        id_col,
        params["vec_col"],
        params["n_planes"],
        params["n_tables"],
        params["dim"],
        "append_to_vec_dedup_index",
    )
    _write_bands(
        buckets, f"{path}/bands", params.get("bucket_prefix_len") or 0,
        "append",
    )
