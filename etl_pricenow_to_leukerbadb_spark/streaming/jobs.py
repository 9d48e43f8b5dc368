"""Structured Streaming jobs (SURVEY §2.9).

The reference is batch-only (its "incremental" behavior is a
twice-daily idempotent re-upsert); the streaming-native equivalents
here are:

- ``windowed_event_counts``: tumbling-window aggregation over the
  events stream with a watermark, driven to completion with
  ``trigger(availableNow=True)`` — batch parquet in, streaming
  semantics throughout.
- ``stream_upsert_job``: the reference's snapshot-upsert shape as a
  stream: ``foreachBatch`` feeding the keyed merge sink, giving
  exactly-once-per-key upserts per micro-batch.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cluster_index import LOG_COMPACT_THRESHOLD
from ..session import tiny_local_df
from ..sinks.upsert import merge_upsert_parquet, replace_dir

DEC = "decimal(15,3)"


def _drain_memory_sink(df: DataFrame, name: str) -> DataFrame:
    """Materialize a memory-sink result and drop its temp view.

    The memory sink already holds the full result on the driver; the
    collect adds nothing to peak memory, and dropping the view right
    away means repeated job invocations (benchmark loops, test
    suites) don't pin one result set per call in the driver catalog
    forever. Returns an equivalent static DataFrame with the exact
    same schema."""
    spark = df.sparkSession
    rows = df.collect()
    schema = df.schema
    spark.catalog.dropTempView(name)
    # Arrow path (tiny_local_df): the pickle-RDD re-emit made every
    # consumer of a streaming result pay a python-worker evaluation
    return tiny_local_df(spark, rows, schema)


def _event_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """readStream over the events parquet.

    The file stream source requires an explicit schema, but the on-disk
    encoding of ``ts`` has varied across testdata generations
    (TIMESTAMP(NANOS) read as int64 via the nanosAsLong conf vs a plain
    TIMESTAMP(MICROS)), so the schema is inferred from the file with a
    driver-side batch read of the footer — hardcoding either variant
    silently mis-reads the other (int64-nanos declared over a micros
    column yields 1970-era timestamps, not an error). ``ts`` is then
    normalized to a microsecond timestamp exactly like the batch
    loader (``sources/tables.py``).

    The file stream source also requires a *directory*; when given
    ``.../events.parquet`` we stream its parent with a glob filter."""
    from .. import fs

    schema = spark.read.parquet(events_path).schema
    if events_path.endswith(".parquet"):
        base, fname = fs.parent(events_path), fs.basename(events_path)
        reader = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", fname)
            .parquet(base)
        )
    else:
        reader = spark.readStream.schema(schema).parquet(events_path)
    if dict((f.name, f.dataType.simpleString()) for f in schema).get("ts") == "bigint":
        reader = reader.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(reader.dtypes).get("ts") == "timestamp_ntz":
        reader = reader.withColumn("ts", F.col("ts").cast("timestamp"))
    return reader


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type, computed by a real
    streaming query (availableNow + in-memory sink), returned as a
    static DataFrame with engine-portable types."""
    agg = (
        _event_stream(spark, events_path)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return _drain_memory_sink(
        spark.table(name).select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        ),
        name,
    )


def stream_distinct_keys(
    spark: SparkSession,
    events_path: str,
    keys: list[str] = ("user_id", "event_type"),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` evicts keys older than the
    watermark — the at-scale requirement (plain ``dropDuplicates`` on
    a stream holds every key forever and OOMs on an infinite stream).
    A key recurring *beyond* the watermark horizon re-emits; within it,
    and on any finite input processed as one availableNow batch, the
    key-column output equals batch ``SELECT DISTINCT`` exactly."""
    keys = list(keys)
    deduped = (
        _event_stream(spark, events_path)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return _drain_memory_sink(spark.table(name), name)


def stream_stream_funnel_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon_s: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with a time-interval condition — the
    streaming funnel: for every ``left_type`` event, every
    ``right_type`` event by the same user within ``horizon_s`` seconds
    after it. Both sides carry watermarks and the join condition
    bounds event time on both ends, which is exactly what lets Spark
    evict join state: per key, buffered rows older than
    (watermark + horizon) are provably unmatchable and dropped — state
    stays proportional to the event rate within the horizon, not to
    stream history. That bounded-state contract is the 100 TB/day
    requirement; an unconstrained stream-stream join would buffer
    forever. On finite availableNow input the result equals the batch
    self-join, which is what the SQL oracle checks."""
    left = (
        _event_stream(spark, events_path)
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("left_id"),
            F.col("user_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        _event_stream(spark, events_path)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("r_user_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon_s} SECONDS")),
    ).select(
        "left_id",
        "right_id",
        "user_id",
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).cast("long").alias("lag_s"),
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return _drain_memory_sink(spark.table(name), name)


def stream_static_enriched_counts(
    spark: SparkSession,
    events_path: str,
    dim: DataFrame,
    dim_key: str = "c_custkey",
    dim_col: str = "c_mktsegment",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static join + windowed aggregation: the event stream is
    enriched against a static dimension (broadcast per micro-batch —
    no stream state for the join side) and counted per 1-day window
    and dimension value. On finite input equals the batch join+agg."""
    joined = (
        _event_stream(spark, events_path)
        .withWatermark("ts", watermark)
        .join(
            F.broadcast(dim.select(F.col(dim_key).alias("user_id"), F.col(dim_col))),
            "user_id",
        )
        .groupBy(F.window("ts", "1 day").alias("w"), F.col(dim_col))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"enr_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return _drain_memory_sink(
        spark.table(name).select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"), dim_col, "n"
        ),
        name,
    )


def stream_upsert_job(
    spark: SparkSession,
    events_path: str,
    target_path: str,
    keys: list[str] = ("user_id",),
) -> None:
    """Streaming keyed upsert: per micro-batch, reduce to one row per
    key (latest by ts) and merge into the parquet target — the
    streaming-native form of the reference's whole-snapshot upsert.

    Latest-by-ts holds ACROSS batches, not just within one: the merge
    runs with ``precedence_col='ts'``, so a late-arriving batch of
    older events (file arrival order is not event order, and
    availableNow can split input into several batches) cannot
    overwrite a newer row already in the target."""
    from pyspark.sql import Window

    keys = list(keys)

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            # a 0-row trigger must not pay a full read-merge-rewrite of
            # the target (note: checking .columns instead would never
            # fire — a schema'd stream always has columns)
            return
        w = Window.partitionBy(*keys).orderBy(F.col("ts").desc(), F.col("event_id").desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        merge_upsert_parquet(
            batch_df.sparkSession, latest, target_path, keys, precedence_col="ts"
        )

    q = (
        _event_stream(spark, events_path)
        .writeStream.foreachBatch(handle_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", target_path + "_ckpt")
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def stream_partitioned_upsert_job(
    spark: SparkSession,
    events_path: str,
    target_path: str,
    keys: list[str] = ("event_id",),
    partition_cols: list[str] = ("day",),
) -> None:
    """Streaming partition-scoped merge: per micro-batch, stamp the
    hive partition column (event day) and merge through
    ``merge_upsert_partitioned`` — only the partitions the batch
    touches get rewritten. This is the 100 TB streaming-upsert shape:
    a micro-batch covers a bounded time slice, so per-trigger write
    amplification is bounded by the touched partitions, not by table
    size (contrast ``stream_upsert_job``, which rewrites the whole
    dimension-sized target per batch). Latest-by-ts holds across
    batches via ``precedence_col='ts'``, like ``stream_upsert_job``."""
    from ..sinks.upsert import merge_upsert_partitioned

    keys, partition_cols = list(keys), list(partition_cols)

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import Window

        # one row per key, latest by event time: merge_upsert_df's
        # contract requires per-key-unique updates, and a raw batch can
        # repeat a key (duplicate event ids in the source, replays)
        w = Window.partitionBy(*keys).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        with_day = latest.withColumn("day", F.col("ts").cast("date"))
        # precedence_col: latest-by-ts must hold ACROSS batches too —
        # availableNow can split input into several micro-batches with
        # file-arrival order != event order, and without it a later
        # batch of older events would clobber newer merged rows (the
        # same contract stream_upsert_job's merge carries)
        merge_upsert_partitioned(
            batch_df.sparkSession,
            with_day,
            target_path,
            keys,
            partition_cols,
            precedence_col="ts",
        )

    q = (
        _event_stream(spark, events_path)
        .writeStream.foreachBatch(handle_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", target_path + "_ckpt")
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


# stored accumulator type for the incremental view: wide enough that
# totals never narrow (sum over decimal(15,3) values), and PINNED so the
# view schema is identical after any number of merge generations —
# letting widths float (sum of (15,3) -> (25,3) -> (35,3)...) would make
# each generation's schema differ from the next batch's partial and turn
# the union into an implicit-coercion guessing game.
_INC_ACC = "decimal(25,3)"
_INC_EPOCH_MARKER = "_applied_epoch"


def incremental_agg_apply_batch(
    batch_df: DataFrame, target_path: str, epoch_id: int
) -> bool:
    """Fold one micro-batch into the (day, event_type) -> (n, sum_dec)
    view at ``target_path``. Returns False (no-op) when ``epoch_id`` is
    already recorded in the view's ``_applied_epoch`` marker — the
    replay-after-crash case foreachBatch's at-least-once contract
    allows. The marker travels inside the staged directory and the
    stage replaces the view via the crash-safe backup-aside swap
    (``replace_dir``): a crash mid-swap leaves ``.<view>.bak``
    recoverable instead of destroying the accumulated totals the way
    a bare rmtree+rename would.

    The view directory and the streaming checkpoint form a pair:
    epoch ids are only monotonic within one checkpoint lineage, so to
    rebuild from scratch delete BOTH (a fresh checkpoint restarts epoch
    numbering at 0, which the marker of a kept view would shadow).

    Marker IO, the existence probe, staging and the swap all go
    through the view path's own Hadoop filesystem (``..fs``), so the
    sink commits correctly when the view lives on HDFS/an object store
    — a driver-local ``open()``/``os.path`` here would read an absent
    marker (replaying committed epochs as double-counts) and land the
    stage under a mangled local path."""
    import uuid

    from ..fs import (
        basename,
        fs_delete,
        fs_read_text,
        fs_write_text,
        parent,
        try_read_parquet,
    )

    if batch_df.isEmpty():
        return False
    sess = batch_df.sparkSession
    # clear stage dirs orphaned by a prior crash (single-writer by the
    # streaming checkpoint's contract, so anything here is dead);
    # hidden per-view directory, same layout discipline as the upsert
    # and compaction sinks
    stage_root = f"{parent(target_path)}/.inc_stage/{basename(target_path)}"
    fs_delete(sess, stage_root)
    applied_txt = fs_read_text(sess, f"{target_path}/{_INC_EPOCH_MARKER}")
    if applied_txt is not None and epoch_id <= int(applied_txt.strip()):
        return False
    part = batch_df.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).cast(_INC_ACC).alias("sum_dec"),
    )
    existing_df = try_read_parquet(sess, target_path)
    if existing_df is not None:
        existing = existing_df.select(
            "day", "event_type", "n", F.col("sum_dec").cast(_INC_ACC).alias("sum_dec")
        )
        part = (
            part.unionByName(existing)
            .groupBy("day", "event_type")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_dec").cast(_INC_ACC).alias("sum_dec"),
            )
        )
    tmp = f"{stage_root}/stage_{uuid.uuid4().hex[:8]}"
    part.write.mode("overwrite").parquet(tmp)
    fs_write_text(sess, f"{tmp}/{_INC_EPOCH_MARKER}", str(epoch_id))
    replace_dir(sess, tmp, target_path)
    fs_delete(sess, stage_root)
    return True


def stream_incremental_agg_job(
    spark: SparkSession,
    events_path: str,
    target_path: str,
) -> None:
    """Incremental materialized-view maintenance: a running
    (day, event_type) -> (n, sum) aggregate table kept current by
    *adding* each micro-batch's partial aggregate into the stored
    totals — the streaming-native form of a warehouse summary table.

    Per batch: aggregate the batch (map-side combinable), read the
    current view, union + re-aggregate, atomically replace. The
    rewrite touches only the VIEW, whose cardinality is the group
    count (days x types — dimension-sized by construction), never the
    fact volume; at 100 TB/day the per-batch cost is
    O(batch + view), not O(history). Sums accumulate in decimal so
    the stored totals are order- and batching-independent — replaying
    the same input through any batch split yields identical totals,
    which is what lets a plain batch GROUP BY oracle-check the final
    table.

    Delivery: foreachBatch is at-least-once, and the additive merge is
    NOT idempotent on its own — a crash between the view swap and the
    checkpoint commit would replay the batch and double-add it. The
    last-applied ``epoch_id`` is therefore persisted INSIDE the view
    directory (``_applied_epoch`` — underscore-prefixed, so the parquet
    reader ignores it) and swapped atomically with the data by the same
    ``os.rename``; a replayed epoch is detected and skipped, upgrading
    the job to effective exactly-once. Verified in tests: re-applying a
    batch with its already-recorded epoch is a no-op, and a re-run with
    the same checkpoint processes nothing new."""

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        incremental_agg_apply_batch(batch_df, target_path, epoch_id)

    q = (
        _event_stream(spark, events_path)
        .writeStream.foreachBatch(handle_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", target_path + "_ckpt")
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def _index_stream_schema(
    spark: SparkSession, index_path: str, codes: DataFrame, params: dict
) -> str:
    """DDL schema for a vector stream feeding a persisted ANN index.

    Derived from the index, never assumed: an index built over int ids
    or double vectors would otherwise have its streamed delta appended
    to codes/ with a different parquet physical type than the existing
    files (schema-merge failures or silent widening on later reads).
    New-format indexes record the corpus column types in meta
    (``id_type``/``vec_elem_type``); legacy indexes fall back to the id
    type the code table actually carries plus the codebook's slice
    element type (the codebook IS corpus slices under the fixed
    quantizer, so its element type matches the corpus)."""
    id_col, vec_col = params["id_col"], params["vec_col"]
    id_type = params.get("id_type") or codes.schema[
        id_col
    ].dataType.simpleString()
    elem_type = (
        params.get("vec_elem_type")
        or spark.read.parquet(f"{index_path}/codebook")
        .schema["__code_sub"]
        .dataType.elementType.simpleString()
    )
    return f"{id_col} {id_type}, {vec_col} array<{elem_type}>"


def stream_index_ingest_job(
    spark: SparkSession,
    vectors_path: str,
    index_path: str,
) -> None:
    """Streaming ANN-index ingest: micro-batches of new vectors from a
    parquet directory stream are quantized against the persisted
    index's FROZEN codebook and appended — the composition that closes
    the production loop: ``build_pq_index`` once when the corpus
    snapshot lands, this job as vectors keep arriving, every search
    still reading only the 3-column code scan.

    Replay safety under foreachBatch's at-least-once contract, both
    layouts (plain PQ and IVFADC):

    - **Epoch commit markers** (the build path's generation-token
      idea, per micro-batch): after a batch's appends complete, a
      one-row marker ``(query_id, epoch_id, build_id)`` is appended
      to ``{index_path}/ingest_epochs`` — written LAST, so a marker
      proves the whole batch committed. A replayed epoch whose marker
      exists is a metadata no-op: no scan of the (arbitrarily large)
      code table, the replay cost tracks the marker table, not the
      index. Markers are keyed by the STREAMING QUERY id (read from
      the checkpoint's metadata file) because epoch ids restart at 0
      when a checkpoint is wiped — bare epoch ids would collide a
      fresh run's first batch with the old run's marker and silently
      skip genuinely new vectors; the query id is stable across
      restarts of one checkpoint and fresh on a wipe, which is
      exactly the scope in which Spark guarantees (checkpoint, epoch)
      identifies the same data. Markers also carry the index's
      ``build_id`` so a rebuild (new generation) invalidates stale
      markers automatically.
    - **Marker-less replay** (crash after some appends, before the
      marker): the batch's ids are classified against the code table
      (range-pruned on the batch's id span) by per-id code-row count.
      COMPLETE ids (n_subspaces rows) are a prior successful append —
      dropped. ABSENT ids append; on IVFADC layouts
      ``append_to_pq_index``'s lists anti-join means a crash between
      the lists and codes writes is REPAIRED by the replay (the
      missing codes land, the lists don't duplicate) — the retry
      contract the batch append guarantees. PARTIAL ids (a crash
      DURING the codes append's file-commit renames — narrow but real,
      since one id's code rows span files) RAISE loudly: parquet
      cannot retract the partial rows in place, re-appending would
      double-count them in every ADC sum, and silently skipping them
      would leave vectors that under-count forever — the error names
      ``fsck_index(repair=True)`` as the recovery (prune the partial
      ids; this same delta then re-ingests them cleanly). (Under the old
      whole-index post-append invariant this case was caught by the
      NEXT append's full scan; the delta-scoped guards made detection
      the ingest's job.)

    Mid-append search consistency needs no epoch filtering: the lists
    write precedes the codes write, and a list row whose id has no
    codes yet is invisible to BOTH search paths (PQ scans codes;
    IVFADC inner-joins codes to lists) — additions become searchable
    atomically when their code rows commit.

    The marker table grows one tiny file per micro-batch; a production
    deployment compacts it on the same schedule as ``fsck_index``
    (it is metadata, thousands of rows, never joined to data).
    Cites reference scripts/pricenow_etl.py:329-358 (the incremental
    "update existing records as needed" contract, re-expressed for an
    index artifact instead of a row store)."""
    from ..operators.serving import (
        claim_index_for_ingest,
        release_index_ingest_claim,
    )

    # the checkpoint stays keyed to the LOGICAL index path (its
    # lineage outlives generations); data/markers/appends resolve a
    # serving-layout pointer once at job start. Single-writer contract,
    # enforced loudly from both sides: this job holds the exclusive
    # `.INGEST_ACTIVE` claim (compaction/migration refuse while it
    # exists), and each batch re-checks after its commit marker that
    # the serving pointer still names the generation it appended to —
    # a swap mid-ingest fails the batch (checkpoint holds, replay
    # re-classifies under the live generation) instead of committing
    # into a generation the next compaction sweeps.
    ckpt_path = index_path.rstrip("/") + "_ingest_ckpt"
    logical_path = index_path.rstrip("/")
    tag = f"stream_index_ingest:{ckpt_path}"
    token = claim_index_for_ingest(spark, logical_path, tag)
    try:
        _stream_index_ingest(spark, vectors_path, logical_path, ckpt_path)
    finally:
        release_index_ingest_claim(spark, logical_path, owner_token=token)


def _stream_index_ingest(
    spark: SparkSession, vectors_path: str, index_path: str, ckpt_path: str
) -> None:
    from ..fs import try_read_parquet as _try_read_parquet
    from ..operators.ann_index import append_to_pq_index, load_pq_index
    from ..operators.serving import resolve_serving_root as _resolve_index_root

    logical_path = index_path
    index_path = _resolve_index_root(spark, index_path)
    codes, _, params = load_pq_index(spark, index_path)
    build_id = params.get("build_id") or ""
    id_col, vec_col = params["id_col"], params["vec_col"]
    schema = _index_stream_schema(spark, index_path, codes, params)
    markers_path = f"{index_path}/ingest_epochs"
    qid_cache: dict[str, str] = {}

    def query_id(ss: SparkSession) -> str:
        # StreamExecution writes the checkpoint's metadata file
        # ({"id": ...}) at query start, BEFORE batch 0 runs, so it is
        # always readable here — stable across restarts of one
        # checkpoint, fresh on a wipe, which is exactly the scope in
        # which (checkpoint, epoch_id) identifies the same data.
        if "id" not in qid_cache:
            qid_cache["id"] = ss.read.json(f"{ckpt_path}/metadata").first()[
                "id"
            ]
        return qid_cache["id"]

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ss = batch_df.sparkSession
        qid = query_id(ss)
        markers = _try_read_parquet(ss, markers_path)
        if markers is not None:
            committed = (
                markers.filter(
                    (F.col("query_id") == F.lit(qid))
                    & (F.col("epoch_id") == F.lit(int(epoch_id)))
                    & (F.col("build_id") == F.lit(build_id))
                ).limit(1)
            ).count()
            if committed:  # full replay of a committed batch: no-op
                return
        span = batch_df.agg(
            F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
        ).collect()[0]
        existing = (
            ss.read.parquet(f"{index_path}/codes")
            .filter(F.col(id_col).between(F.lit(span["lo"]), F.lit(span["hi"])))
            .join(batch_df.select(F.col(id_col)), id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        n_partial = existing.filter(
            F.col("n") != F.lit(int(params["n_subspaces"]))
        ).count()
        if n_partial:
            raise RuntimeError(
                f"stream_index_ingest_job: {n_partial} id(s) in this batch "
                f"have a PARTIAL code set in {index_path}/codes — a prior "
                "append crashed mid-commit. Re-appending would double-count "
                "them in every ADC sum and skipping would leave them "
                "under-counting forever; run fsck_index(repair=True) to "
                "prune them (this delta then re-ingests cleanly) before "
                "resuming ingest"
            )
        fresh = batch_df.join(existing, id_col, "left_anti")
        if not fresh.isEmpty():
            # assume_new_ids=False: the anti-join proved disjointness
            # vs the index, but the internal-duplicate check still
            # guards a batch that carries the same new id twice
            append_to_pq_index(fresh, index_path)
        # marker LAST: its presence proves both directories committed
        _commit_epoch_marker(
            ss, markers_path, qid, epoch_id, build_id, logical_path, index_path
        )

    q = (
        spark.readStream.schema(schema)
        .parquet(vectors_path)
        .writeStream.foreachBatch(handle_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt_path)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def _commit_epoch_marker(
    ss: SparkSession,
    markers_path: str,
    qid: str,
    epoch_id: int,
    build_id: str,
    logical_path: str,
    index_path: str,
) -> None:
    """Write an epoch's commit marker LAST (its presence proves every
    directory the epoch touched committed) and then fire the
    generation-stability tripwire: a pointer swap since job start means
    everything this epoch wrote — marker included — landed in a dead
    generation, so the batch must fail loudly (checkpoint holds; the
    replay re-classifies against the live generation). One
    implementation for the ANN ingest and the bucket-index cores, so
    the marker schema and the tripwire cannot drift between them."""
    from ..operators.serving import assert_generation_stable

    tiny_local_df(
        ss,
        [(qid, int(epoch_id), build_id)],
        "query_id string, epoch_id long, build_id string",
    ).coalesce(1).write.mode("append").parquet(markers_path)
    assert_generation_stable(ss, logical_path, index_path)


def _stream_bucket_ingest(
    spark: SparkSession,
    src_path: str,
    index_path: str,
    params: dict,
    name: str,
    append_kw: dict,
    post_batch=None,
    transform=None,
) -> None:
    """The streaming-ingest body for both persisted near-dup index
    kinds (text and vector frontends of ``operators/dedup_index``).
    ``params`` is the index meta the public job loaded through its
    kind's loader (an index of the other kind has already refused);
    the micro-batch schema, the per-id row count and the repair
    entry point named in errors come from its scheme, and each fresh
    batch goes to the kind's append frontend with ``append_kw``.

    Replay safety under foreachBatch's at-least-once contract — the
    SAME two-tier scheme as the ANN ingest
    (``stream_index_ingest_job``), simpler because the band table is
    the only data directory (one parquet job, atomic):

    - **Epoch commit markers** ``(query_id, epoch_id, build_id)``
      appended to ``{index_path}/ingest_epochs`` LAST; a replayed
      committed epoch is a metadata no-op.
    - **Marker-less replay**: batch ids are classified against
      ``bands/`` (range-pruned on the batch's id span) by per-id row
      count. COMPLETE ids (K rows — a prior successful append) drop;
      ABSENT ids append; PARTIAL ids (a crash during the bands
      file-commit) RAISE naming ``fsck(repair=True)`` — re-appending
      would duplicate the surviving rows and silently skipping would
      leave under-blocking entries (missed duplicates, the worst dedup
      failure) forever.

    ``post_batch(batch_df)``, when given, runs after the append and
    BEFORE the epoch marker, with the FULL batch — not the replay-
    filtered ``fresh`` subset. This is the hook for idempotent
    downstream maintenance (the cluster merge): a crash between
    append and marker replays the whole batch, and ids the replay
    classifier drops from ``fresh`` (their buckets already landed)
    must still reach the downstream step, which may never have run.
    The callback must therefore be idempotent — exactly what
    ``merge_cluster_delta`` guarantees.

    ``transform(batch_df)``, when given, rewrites each micro-batch
    BEFORE replay classification, append, and ``post_batch`` — the
    curation pre-stages (quality gate + PII scrub). It MUST be
    deterministic (pure column expressions): a replayed batch must
    transform to the same rows, or the replay classifier would
    misjudge which ids already landed. A batch the transform empties
    commits its epoch marker as a no-op.
    """
    from ..fs import try_read_parquet as _try_read_parquet
    from ..operators import dedup_index
    from ..operators.serving import (
        claim_index_for_ingest,
        release_index_ingest_claim,
        resolve_serving_root as _resolve_index_root,
    )

    scheme = dedup_index._scheme_of(params)
    id_col = params["id_col"]
    rows_per_id = int(params[scheme.k_key])
    build_id = params["build_id"]
    # checkpoint keyed to the LOGICAL index path; data/markers resolve
    # a serving-layout pointer once at job start. Single-writer
    # contract, enforced loudly from both sides (same scheme as
    # stream_index_ingest_job): exclusive `.INGEST_ACTIVE` claim held
    # for the job's lifetime, and a post-marker generation-stability
    # tripwire per batch.
    logical_path = index_path.rstrip("/")
    ckpt_path = logical_path + "_ingest_ckpt"
    token = claim_index_for_ingest(spark, logical_path, f"{name}:{ckpt_path}")
    try:
        resolved = _resolve_index_root(spark, logical_path)
        markers_path = f"{resolved}/ingest_epochs"
        qid_cache: dict[str, str] = {}

        def query_id(ss: SparkSession) -> str:
            if "id" not in qid_cache:
                qid_cache["id"] = ss.read.json(
                    f"{ckpt_path}/metadata"
                ).first()["id"]
            return qid_cache["id"]

        def commit_epoch_marker(
            ss: SparkSession, qid: str, epoch_id: int
        ) -> None:
            _commit_epoch_marker(
                ss, markers_path, qid, epoch_id, build_id, logical_path,
                resolved,
            )

        def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():
                return
            ss = batch_df.sparkSession
            qid = query_id(ss)
            markers = _try_read_parquet(ss, markers_path)
            if markers is not None:
                committed = (
                    markers.filter(
                        (F.col("query_id") == F.lit(qid))
                        & (F.col("epoch_id") == F.lit(int(epoch_id)))
                        & (F.col("build_id") == F.lit(build_id))
                    ).limit(1)
                ).count()
                if committed:
                    return
            if transform is not None:
                # deterministic pre-stages (gate/scrub) run before
                # replay classification so a replay sees the same
                # transformed rows; persisted because the transformed
                # frame feeds 5-6 actions below (emptiness, span agg,
                # partial-classifier join, append, post_batch's probe)
                # and re-evaluating the gate/scrub expressions per
                # action multiplies their cost
                batch_df = transform(batch_df).persist()
                if batch_df.isEmpty():
                    # an entirely-gated-out batch commits its epoch as
                    # a no-op so a restart does not reprocess it forever
                    batch_df.unpersist()
                    commit_epoch_marker(ss, qid, epoch_id)
                    return
            try:
                _handle_nonempty(batch_df, ss, qid, epoch_id)
            finally:
                if transform is not None:
                    batch_df.unpersist()

        def _handle_nonempty(
            batch_df: DataFrame, ss: SparkSession, qid: str, epoch_id: int
        ) -> None:
            span = batch_df.agg(
                F.min(F.col(id_col)).alias("lo"),
                F.max(F.col(id_col)).alias("hi"),
            ).collect()[0]
            existing = (
                ss.read.parquet(f"{resolved}/bands")
                .filter(
                    F.col(id_col).between(F.lit(span["lo"]), F.lit(span["hi"]))
                )
                .join(batch_df.select(F.col(id_col)), id_col, "left_semi")
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n"))
            )
            n_partial = existing.filter(F.col("n") != F.lit(rows_per_id)).count()
            if n_partial:
                raise RuntimeError(
                    f"{name}: {n_partial} id(s) in this batch have a "
                    f"PARTIAL bucket set in {resolved}/bands — a prior "
                    "append crashed mid-commit. Run "
                    f"{scheme.fsck_name}(repair=True) to prune them (this "
                    "delta then re-ingests cleanly) before resuming ingest"
                )
            fresh = batch_df.join(existing, id_col, "left_anti")
            if not fresh.isEmpty():
                # resolved per call, so a wrapper patched onto the
                # module runs
                getattr(dedup_index, scheme.append)(
                    fresh, logical_path, **append_kw
                )
            if post_batch is not None:
                # full batch, not `fresh`: on a replay the classifier
                # drops ids whose buckets already landed, but the
                # downstream step (idempotent by contract) may have
                # crashed before running
                post_batch(batch_df)
            commit_epoch_marker(ss, qid, epoch_id)

        q = (
            spark.readStream.schema(scheme.stream_schema(params))
            .parquet(src_path)
            .writeStream.foreachBatch(handle_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt_path)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    finally:
        release_index_ingest_claim(spark, logical_path, owner_token=token)


def _stream_cluster_job(
    spark: SparkSession,
    src_path: str,
    index_path: str,
    clusters_path: str,
    params: dict,
    job_name: str,
    append_kw: dict,
    query_kw: dict,
    compact_log_threshold: int | None,
    snapshot_path: str | None,
    snapshot_rows_threshold: int,
    snapshot_min_age_sec: float,
    transform=None,
) -> None:
    """The streaming cluster-job body for both index kinds (semantics
    in ``stream_dedup_cluster_job``): take the clustering's writer
    claim, run ``_stream_bucket_ingest`` with a per-batch probe (the
    kind's query frontend with ``query_kw``) → merge → log compaction
    → threshold snapshot, then publish the drain tail."""
    from ..operators import dedup_index
    from ..operators.cluster_index import (
        _compact_if_log_large,
        claim_cluster_writer,
        merge_cluster_delta,
        release_cluster_writer,
        snapshot_cluster_assignments,
        snapshot_if_stale,
    )

    query = dedup_index._scheme_of(params).query
    # this job is the clustering's writer for its whole run: the
    # exclusive `.WRITER_ACTIVE` claim makes a concurrent manual
    # compaction (or a second stream on the same clustering) refuse
    # loudly instead of interleaving with the per-batch marker dance —
    # the same enforced single-writer contract the index ingests carry
    token = claim_cluster_writer(
        spark, clusters_path, f"{job_name}:{clusters_path.rstrip('/')}"
    )
    rows_since_snapshot = {"n": 0}

    def _cluster(batch_df: DataFrame) -> None:
        ss = batch_df.sparkSession
        pairs = getattr(dedup_index, query)(
            ss, index_path, batch_df, **query_kw
        )
        stats = merge_cluster_delta(
            ss,
            clusters_path,
            pairs,
            src_col="probe_id",
            dst_col="corpus_id",
            writer_token=token,
        )
        _compact_if_log_large(
            ss, clusters_path, stats, compact_log_threshold, token
        )
        if snapshot_path is not None:
            rows_since_snapshot["n"] += stats["new_nodes"]
            if rows_since_snapshot["n"] >= snapshot_rows_threshold:
                snapshot_cluster_assignments(
                    ss,
                    clusters_path,
                    snapshot_path,
                    min_age_sec=snapshot_min_age_sec,
                )
                rows_since_snapshot["n"] = 0

    try:
        _stream_bucket_ingest(
            spark,
            src_path,
            index_path,
            params,
            job_name,
            append_kw,
            post_batch=_cluster,
            transform=transform,
        )
        if snapshot_path is not None:
            # drain tail: whatever landed below the threshold, plus any
            # publish debt a restarted run inherited from a crash
            snapshot_if_stale(
                spark,
                clusters_path,
                snapshot_path,
                min_age_sec=snapshot_min_age_sec,
            )
    finally:
        release_cluster_writer(spark, clusters_path, owner_token=token)


def stream_dedup_ingest_job(
    spark: SparkSession,
    docs_path: str,
    index_path: str,
    allow_short: bool = False,
) -> None:
    """Streaming text near-dup-index ingest: micro-batches of new
    documents from a parquet directory stream are minhashed under the
    persisted index's FROZEN geometry and their buckets appended —
    closing the production loop: ``build_dedup_index`` once when the
    corpus snapshot lands, this job as documents keep arriving, every
    ``query_dedup_candidates`` probe seeing yesterday's corpus plus
    every committed batch. Replay safety: ``_stream_bucket_ingest``.
    The stream schema is derived from the index meta (id_type
    persisted at build), never assumed. A batch carrying documents too
    short to shingle fails loudly for triage (same poison-message
    stance as the vector job) unless ``allow_short=True`` accepts that
    shingle LSH cannot block them."""
    from ..operators.dedup_index import load_dedup_index

    _, params = load_dedup_index(spark, index_path)
    _stream_bucket_ingest(
        spark,
        docs_path,
        index_path,
        params,
        "stream_dedup_ingest_job",
        dict(text_col=params["text_col"], allow_short=allow_short),
    )


def stream_dedup_cluster_job(
    spark: SparkSession,
    docs_path: str,
    index_path: str,
    clusters_path: str,
    allow_short: bool = False,
    compact_log_threshold: int | None = LOG_COMPACT_THRESHOLD,
    snapshot_path: str | None = None,
    snapshot_rows_threshold: int = 100_000,
    snapshot_min_age_sec: float = 3600.0,
    transform=None,
    job_name: str = "stream_dedup_cluster_job",
) -> None:
    """``stream_dedup_ingest_job`` plus persisted-cluster maintenance:
    each micro-batch is appended to the near-dup index, then probed
    for the pairs it introduces and merged into the cluster
    assignments (``merge_cluster_delta``) — the FULL curation loop
    (index + clusters, both O(batch)) as one checkpointed streaming
    job, equal to a from-scratch pairs+components recompute over the
    union (pytest-pinned).

    The cluster merge runs through the ``post_batch`` hook with the
    FULL batch and before the epoch marker, so every crash window
    replays it; the merge's own idempotency (replayed pairs contract
    to self-edges, replayed inserts anti-join out) is what makes
    at-least-once delivery exactly-once in effect.

    A long-running stream on merge-heavy data is exactly the caller
    that walks the remap log past broadcast size with nobody watching,
    so the loop compacts it in place whenever a batch's merge leaves
    the log at or past ``compact_log_threshold`` rows (default: the
    module-level ``LOG_COMPACT_THRESHOLD`` broadcast budget; ``None``
    DISABLES the hook — the same semantics as the batch loops — for a
    deployment that schedules compact_cluster_assignments itself).
    The compaction is itself idempotent and runs BEFORE
    the epoch marker, so a crash inside it replays through the same
    recovery path as the merge.

    With ``snapshot_path`` the job also keeps the always-on serving
    snapshot fresh unattended: the merge stats already report how many
    rows each batch added (``new_nodes``), so the job accumulates them
    and publishes ``snapshot_cluster_assignments`` once
    ``snapshot_rows_threshold`` rows have landed since the last
    publish — zero extra reads on the skip path, unlike polling
    ``snapshot_if_stale`` per batch (whose currency check is a linear
    count of the base). A final ``snapshot_if_stale`` at stream drain
    catches the tail below the threshold (and, because it compares
    provenance rather than the in-memory accumulator, also repairs
    the publish debt a crash-restarted run inherited — the
    accumulator dying with the process only ever DELAYS a mid-stream
    publish, never loses rows). Publishing inside the job is safe by
    construction: the snapshot is a strict read, this job holds the
    single-writer claim, and post-batch means no mutation is in
    flight. Storage envelope: the publish sweep only deletes
    generations older than ``snapshot_min_age_sec`` (protection for
    overlapping publishes), so a stream publishing every P seconds
    holds ~max(2, snapshot_min_age_sec / P) full-table generations at
    steady state — a fast-publishing stream should lower the age gate
    (its own publishes are the only writers racing it) or raise the
    row threshold."""
    from ..operators.dedup_index import load_dedup_index

    _, params = load_dedup_index(spark, index_path)
    text_col = params["text_col"]
    _stream_cluster_job(
        spark,
        docs_path,
        index_path,
        clusters_path,
        params,
        job_name,
        dict(text_col=text_col, allow_short=allow_short),
        dict(text_col=text_col),
        compact_log_threshold,
        snapshot_path,
        snapshot_rows_threshold,
        snapshot_min_age_sec,
        transform,
    )


def stream_curation_job(
    spark: SparkSession,
    docs_path: str,
    index_path: str,
    clusters_path: str,
    allow_short: bool = True,
    compact_log_threshold: int | None = LOG_COMPACT_THRESHOLD,
    snapshot_path: str | None = None,
    snapshot_rows_threshold: int = 100_000,
    snapshot_min_age_sec: float = 3600.0,
) -> None:
    """The streaming twin of ``orchestrate.curate_corpus_daily`` (r10
    verdict ask #4): each micro-batch of raw documents is quality-gated
    (``functions.text.quality_rule_flags`` — the exact oracle-paired
    ``tx_quality_filter`` expressions) and PII-scrubbed
    (``scrub_pii``) BEFORE it reaches the persisted near-dup index and
    the incremental cluster merge, riding
    ``stream_dedup_cluster_job``'s existing claim / auto-compaction /
    threshold-snapshot machinery unchanged — the unattended continuous
    corpus-refresh loop in one call.

    Correctness under replay: the gate and scrub are pure
    deterministic column expressions, so a replayed batch transforms
    to byte-identical rows and the replay classifier's complete /
    absent / partial judgement is unchanged; the scrubbed text is what
    gets shingled, so index buckets are replay-stable too. A batch the
    gate empties entirely commits its epoch marker as a no-op. The
    canonical keep table is a READ-side artifact — compute it off the
    published snapshot (``canonical_keep_table``) on whatever cadence
    consumers need; persisting it per micro-batch would rewrite a
    corpus-sized table per batch for no reader benefit.

    ``allow_short`` defaults True like the batch twin, and for a
    stream it is close to mandatory: the gate counts tokens on RAW
    text while the index shingles SCRUBBED text, so a gate-surviving
    doc whose PII scrub collapses it below ``k_shingle`` tokens (a
    long phone number becoming one ``[PHONE]`` token) is legitimately
    unshinglable — under ``allow_short=False`` that one doc would fail
    its micro-batch BEFORE the epoch marker and every restart would
    replay it, wedging the unattended loop on organic input. The text
    column comes from the index meta (the micro-batch schema is built
    from it), never from the caller — a mismatched override could
    only break the stream."""
    from ..functions.text import quality_rule_flags, scrub_pii
    from ..operators.dedup_index import load_dedup_index

    _, params = load_dedup_index(spark, index_path)
    text_col = params["text_col"]

    def gate_and_scrub(batch_df: DataFrame) -> DataFrame:
        keep = quality_rule_flags(F.col(text_col))["keep"]
        return batch_df.filter(keep).withColumn(
            text_col, scrub_pii(text_col)
        )

    stream_dedup_cluster_job(
        spark,
        docs_path,
        index_path,
        clusters_path,
        allow_short=allow_short,
        compact_log_threshold=compact_log_threshold,
        snapshot_path=snapshot_path,
        snapshot_rows_threshold=snapshot_rows_threshold,
        snapshot_min_age_sec=snapshot_min_age_sec,
        transform=gate_and_scrub,
        job_name="stream_curation_job",
    )


def stream_vec_dedup_ingest_job(
    spark: SparkSession,
    vectors_path: str,
    index_path: str,
) -> None:
    """Streaming VECTOR near-dup-index ingest: new embeddings are
    sign-LSH-bucketed under the persisted geometry and appended — the
    embedding analog of ``stream_dedup_ingest_job`` (same core, same
    replay contract). Malformed vectors in a batch fail the batch
    loudly via ``append_to_vec_dedup_index``'s gate — a poison message
    should stop the queue for triage, not silently become an
    unblockable corpus entry. The stream schema (id type + vector
    element type) is derived from the index meta, never assumed."""
    from ..operators.dedup_index import load_vec_dedup_index

    _, params = load_vec_dedup_index(spark, index_path)
    _stream_bucket_ingest(
        spark,
        vectors_path,
        index_path,
        params,
        "stream_vec_dedup_ingest_job",
        {},
    )


def stream_vec_dedup_cluster_job(
    spark: SparkSession,
    vectors_path: str,
    index_path: str,
    clusters_path: str,
    compact_log_threshold: int | None = LOG_COMPACT_THRESHOLD,
    snapshot_path: str | None = None,
    snapshot_rows_threshold: int = 100_000,
    snapshot_min_age_sec: float = 3600.0,
) -> None:
    """``stream_vec_dedup_ingest_job`` plus persisted-cluster
    maintenance — the embedding twin of ``stream_dedup_cluster_job``,
    completing the symmetry: each micro-batch of vectors is sign-LSH
    appended to the persisted index, probed for the CANDIDATE pairs it
    introduces (shared-bucket semantics — the blocked structure a
    from-scratch bucket-join + components over the union computes,
    which is the pytest-pinned equivalence), and merged into the
    persisted clustering in O(batch). Same crash contract as the text
    job: the merge runs through the ``post_batch`` hook with the full
    batch BEFORE the epoch marker, so every crash window replays into
    the idempotent merge.

    Exact-threshold semantics (``dd_embedding_near_dup``'s verified
    cosine) are deliberately NOT offered here: the verify needs the
    raw-vector corpus covering every candidate endpoint, and a
    streaming job cannot hold a static snapshot of a corpus it is
    itself growing — run the batch loop
    (``ingest_and_update_clusters_vec(corpus=..., threshold=...)``)
    when verified-pair clusters are required. Candidate clusters are
    a superset partition (every verified pair is a candidate pair),
    so downstream keep-best over them is conservative, never lossy.

    Holds the clustering's ``.WRITER_ACTIVE`` claim for the run and
    auto-compacts the remap log past ``compact_log_threshold``
    (default: the module-level broadcast budget; ``None`` disables —
    the same semantics as the batch loops), like the text job; with
    ``snapshot_path`` it also keeps the serving snapshot fresh off the
    accumulated merge stats and drains through ``snapshot_if_stale``,
    exactly like the text job."""
    from ..operators.dedup_index import load_vec_dedup_index

    _, params = load_vec_dedup_index(spark, index_path)
    _stream_cluster_job(
        spark,
        vectors_path,
        index_path,
        clusters_path,
        params,
        "stream_vec_dedup_cluster_job",
        {},
        {},
        compact_log_threshold,
        snapshot_path,
        snapshot_rows_threshold,
        snapshot_min_age_sec,
    )
