"""Persisted ANN index: build once to parquet, search many times.

The in-memory ANN scorers (``similarity.pq_adc_topk`` and friends)
derive their index structures — PQ codes and codebook — from the
corpus on every call. That is the right shape for an oracle-checkable
query, but not for production retrieval at 100 TB: there the O(N)
index build runs ONCE (when the corpus snapshot lands), the artifacts
are written next to the data, and every search afterwards scans only
the quantized codes (4 small ints per vector) plus a dimension-sized
codebook — never the raw float vectors, except for the final exact
re-rank of a k x rerank_factor shortlist.

Layout under ``path/``:

    meta/       1-row parquet: (n_subspaces, sub_dim, n_codes,
                id_col, vec_col, build_id) — the build parameters, so
                search never has to guess them and a mismatched caller
                fails loudly instead of computing garbage distances.
    commit/     1-row parquet: (build_id) — written LAST. A load
                verifies commit.build_id == meta.build_id, so a build
                that crashed anywhere mid-way (fresh OR overwrite)
                reads as "incomplete", never as a silently
                mixed-generation index (old codes under a new
                codebook).
    codebook/   (subspace, code, __code_sub) — n_subspaces x n_codes
                rows, each a sub_dim-wide float slice. Dimension-sized:
                always broadcast.
    codes/      (<id_col>, subspace, code) — n_subspaces small ints
                per corpus vector. THE scan side of every search;
                written without the raw vectors so a search job's
                ReadSchema is three narrow columns.

Search = ``similarity.pq_adc_search`` over the loaded tables: per
query one broadcast (subspace, code) -> distance lookup table, one
map-side-combinable sum over the code scan, a per-query shortlist
window, and (when the caller passes the corpus) an exact re-rank join
touching only shortlist raw vectors. Distances are 1e-6 fixed-point
BIGINTs end to end, so persisted-index search is bit-identical to the
from-scratch scorer — pytest-verified, which is the point: persisting
the index changes WHERE the structures live, never what they compute.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

# Layout decisions go through Spark's filesystem (``..fs``), never
# ``os.path``: the index lives wherever ``spark.write`` put it
# (HDFS/S3 in production), where a driver-local check is silently
# False and "append to both tables" would become "append to one".
from ..fs import fs_delete, try_read_parquet
from ..session import tiny_local_df
# The serving core (pointer layout, claims and tripwires, GC, both
# compactions) lives in ``serving``; the ``_``-names are re-exports the
# tests check against it.
from .serving import (
    GEN_RE as _GEN_RE,
    assert_generation_stable,
    assert_no_late_writers as _assert_no_late_writers,
    claim_index_for_ingest,
    compact_generation,
    compact_in_place,
    compact_sorted as _compact_sorted,
    fs_now_ms as _fs_now_ms,
    gc_serving_root,
    migrate_root_to_serving,
    release_index_ingest_claim,
    resolve_serving_root as _resolve_index_root,
    serving_root_report as _root_report,
    swap_in_staged,
    write_commit_marker as _write_commit,
    write_current_pointer as _write_current,
)
from .similarity import (
    _RESIDUAL_LUT_ROW_BUDGET,
    _pq_codebook,
    ivf_assign_residuals,
    ivf_list_assign,
    ivf_pq_search,
    kmeans_centroids_2iter,
    pq_adc_search,
    pq_assign_codes,
    trained_pq_codebook,
)

_META_COLS = ("n_subspaces", "sub_dim", "n_codes", "id_col", "vec_col")


def build_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    sub_dim: int = 16,
    n_codes: int = 8,
    overwrite: bool = False,
    train: bool = False,
    _commit: bool = True,
    _meta_vec_elem_type: str | None = None,
    _meta_residual: bool = False,
) -> str:
    """Quantize the corpus and persist the PQ index under ``path``.

    One pass over the raw vectors (the ``pq_assign_codes`` broadcast
    argmin — no data-sized shuffle) plus a dimension-sized codebook
    write. ``overwrite=False`` (default) refuses to clobber an
    existing index — rebuilds are deliberate, not accidental.

    ``train=True`` swaps the fixed id-seeded codebook for
    ``trained_pq_codebook`` (one deterministic Lloyd refinement per
    subspace — better-centered codes, measurably higher recall at the
    same search cost). Everything downstream is codebook-agnostic:
    search loads whatever codebook was persisted, and appends
    quantize deltas against it frozen, so the flag exists only at
    build time.

    Crash safety is generation-tokened: every build stamps a fresh
    ``build_id`` into meta and writes a 1-row ``commit`` marker LAST;
    ``load_pq_index`` requires the two to agree. An overwrite rebuild
    deletes the old commit marker (and any stale IVFADC artifacts —
    a plain-PQ rebuild over an IVFADC path must not leave old
    inverted lists pointing at new codes) BEFORE touching anything,
    so a crash at any point leaves the index loudly unloadable
    instead of silently pairing old codes with a new codebook.
    Returns the ``build_id``. ``_commit=False`` is internal for
    ``build_ivfpq_index``, which writes the marker after its own
    artifacts; ``_meta_vec_elem_type`` / ``_meta_residual`` likewise —
    a residual IVFADC build passes the RESIDUAL table as ``corpus``
    here, but meta must record the RAW corpus's element type (it
    defines the ingest stream schema) and flag the codes as
    residual-encoded so every later reader scores them in the right
    coordinate frame."""
    build_id = uuid.uuid4().hex
    mode = "overwrite" if overwrite else "errorifexists"
    spark = corpus.sparkSession
    if overwrite:
        for sub in ("commit", "ivf_meta", "centroids", "lists"):
            fs_delete(spark, f"{path}/{sub}")
    # the COLUMN TYPES ride in meta too: a streaming ingest must read
    # its delta with exactly the corpus's id / vector-element types, or
    # the appended parquet files carry a different physical type than
    # the existing ones (schema-merge failures or silent widening on
    # later reads). Names alone cannot reconstruct that.
    meta = tiny_local_df(
        spark,
        [
            (
                n_subspaces,
                sub_dim,
                n_codes,
                id_col,
                vec_col,
                build_id,
                train,
                corpus.schema[id_col].dataType.simpleString(),
                _meta_vec_elem_type
                or corpus.schema[vec_col].dataType.elementType.simpleString(),
                _meta_residual,
            )
        ],
        "n_subspaces int, sub_dim int, n_codes int, id_col string, "
        "vec_col string, build_id string, trained boolean, "
        "id_type string, vec_elem_type string, residual boolean",
    )
    # meta first: a crashed build leaves meta without a commit marker,
    # which load_pq_index turns into a clean "incomplete build" error
    # rather than a silently param-less or mixed-generation index
    meta.coalesce(1).write.mode(mode).parquet(f"{path}/meta")
    if train:
        cb = trained_pq_codebook(
            corpus, id_col, vec_col, n_subspaces, sub_dim, n_codes
        )
    else:
        cb = _pq_codebook(corpus, id_col, vec_col, n_subspaces, sub_dim, n_codes)
    cb.write.mode(mode).parquet(f"{path}/codebook")
    # assign against the PERSISTED codebook (read back, not the
    # in-memory plan): for train=True the codebook is itself a
    # two-stage aggregate, and re-deriving it inside the assignment
    # plan would recompute it per-partition; the written parquet is
    # the broadcast-sized artifact searches will use anyway, so codes
    # are quantized against byte-identical entries
    cb_disk = spark.read.parquet(f"{path}/codebook")
    pq_assign_codes(
        corpus, id_col, vec_col, n_subspaces, sub_dim, n_codes, codebook=cb_disk
    ).select(id_col, "subspace", "code").write.mode(mode).parquet(f"{path}/codes")
    if _commit:
        _write_commit(spark, path, build_id)
    return build_id


# Maintenance (migration, both compactions, the staged swap of repair)
# runs on the shared core in ``operators/serving.py``; this module
# supplies the PQ / IVF-PQ loader and table layout
# (``_compaction_tables``).


def _compaction_tables(spark: SparkSession, root: str) -> tuple:
    """Strict load for the shared compactions: the ``build_id`` (None
    on the legacy format, which has no commit marker) and the tables to
    rewrite — codes by (id, subspace), plus lists by id on an IVF-PQ
    layout — range-partitioned so each file covers a disjoint id
    range."""
    _, _, params = load_pq_index(spark, root)
    id_col = params["id_col"]
    tables = [("codes", [id_col, "subspace"], None)]
    if try_read_parquet(spark, f"{root}/ivf_meta") is not None:
        tables.append(("lists", [id_col], None))
    return params.get("build_id"), tables


def migrate_index_to_serving(
    spark: SparkSession, path: str, force: bool = False
) -> str:
    """One-time, resumable migration of a flat-layout index into the
    serving layout — ``serving.migrate_root_to_serving`` validated by
    ``load_pq_index``."""
    return migrate_root_to_serving(spark, path, load_pq_index, force=force)


def compact_index_serving(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    force: bool = False,
) -> dict:
    """Reader-isolated compaction: compact a COPY of the live
    generation into a new ``gen-<id>/`` and atomically swap the
    ``CURRENT`` pointer — searches planned before, during, or after
    the swap all succeed (pytest-gated), because no file a reader can
    hold a reference to is deleted.

    Same rewrite as ``compact_index`` (codes, lists and epoch markers,
    row counts verified BEFORE the pointer moves); the small artifacts
    (meta/codebook/centroids/ivf_meta) are byte-copied and the commit
    marker completes the generation. Mechanics, crash contract and the
    one-generation reader grace: ``serving.compact_generation``.
    Single-writer per index, and not concurrent with a streaming
    ingest — ingest claims are refused unless ``force=True`` bypasses
    (hard-killed-job recovery: the bypassed claim is released at the
    END of the run, once the pre-swap file-count check has proven it
    wrote nothing)."""
    return compact_generation(
        spark, path, "compact_index_serving", _compaction_tables,
        target_files, force,
    )


# Per-process handle cache: the small immutable-within-a-generation
# artifacts (meta params, codebook plan, IVF geometry) keyed by
# (application, resolved path). A cache HIT is validated by re-reading
# the 1-row commit marker and comparing build_id — one tiny driver job
# instead of the 3-5 (meta collect, commit collect, codebook count,
# ivf_meta collect, centroids count) a cold load runs — so at serving
# QPS the per-search driver overhead drops without weakening the crash
# contract: any rebuild writes a new build_id (miss -> full re-check),
# a crashed build has no matching marker (miss -> the loud load error),
# and repair/compaction keep build_id but only rewrite codes/lists,
# which are ALWAYS re-read fresh per call (appends must be visible, so
# the big-table file listing is never cached). Legacy indexes without
# a build_id cannot be validated and bypass the cache entirely.
_HANDLE_CACHE: dict[tuple, dict] = {}


def _cache_key(spark: SparkSession, path: str) -> tuple:
    return (spark.sparkContext.applicationId, path)


def invalidate_index_handles(path: str | None = None) -> None:
    """Drop cached handles (all, or those for one resolved path) —
    test seam and escape hatch; normal invalidation is the build_id
    check on every hit."""
    if path is None:
        _HANDLE_CACHE.clear()
        return
    p = path.rstrip("/")
    for k in [k for k in _HANDLE_CACHE if k[1] == p]:
        _HANDLE_CACHE.pop(k, None)


def load_pq_index(
    spark: SparkSession, path: str, use_cache: bool = True
) -> tuple[DataFrame, DataFrame, dict]:
    """Load (codes, codebook, params) from a ``build_pq_index`` path.

    Validates (a) that the commit marker exists and its build_id
    matches meta's — a crashed fresh build has no marker, a crashed
    OVERWRITE rebuild has the old generation's marker under the new
    meta, and both must read as "incomplete", never as an index whose
    codes and codebook come from different builds — and (b) that the
    codebook row count matches the persisted parameters
    (n_subspaces x n_codes), the cheap structural check that catches
    a half-written or hand-edited index before a search silently
    computes distances against missing codes.

    Format compatibility: indexes persisted before the generation-token
    format (meta without a ``build_id`` column, no ``commit/``) load
    through the structural codebook-count check alone — the legacy
    format cannot distinguish a crashed build from a complete one, so
    the stronger guarantee starts at the first rebuild, without forcing
    one.

    Serving-layout roots (``migrate_index_to_serving``) resolve their
    ``CURRENT`` pointer here, so every search path reads the live
    generation transparently. ``use_cache=True`` (default) serves the
    small artifacts from the validated per-process handle cache (see
    ``_HANDLE_CACHE``); the codes table is re-read fresh either way."""
    path = _resolve_index_root(spark, path)
    key = _cache_key(spark, path)
    if use_cache and key in _HANDLE_CACHE:
        cached = _HANDLE_CACHE[key]
        commit = try_read_parquet(spark, f"{path}/commit")
        rows = commit.collect() if commit is not None else []
        if len(rows) == 1 and rows[0]["build_id"] == cached["build_id"]:
            codes = spark.read.parquet(f"{path}/codes")
            return codes, cached["codebook"], dict(cached["params"])
        _HANDLE_CACHE.pop(key, None)  # superseded or crashed generation
    meta_rows = spark.read.parquet(f"{path}/meta").collect()
    if len(meta_rows) != 1 or set(_META_COLS) - set(meta_rows[0].asDict()):
        raise ValueError(f"load_pq_index: malformed meta at {path}/meta")
    params = meta_rows[0].asDict()
    if "build_id" in params:
        commit = try_read_parquet(spark, f"{path}/commit")
        commit_rows = commit.collect() if commit is not None else []
        if len(commit_rows) != 1 or commit_rows[0]["build_id"] != params.get(
            "build_id"
        ):
            raise ValueError(
                f"load_pq_index: index at {path} has no matching commit "
                "marker — the build (or an overwrite rebuild) crashed "
                "before completing, and the artifacts may mix generations. "
                "Rebuild with overwrite=True"
            )
    codebook = spark.read.parquet(f"{path}/codebook")
    expected = params["n_subspaces"] * params["n_codes"]
    actual = codebook.count()  # dimension-sized table: a cheap job
    if actual != expected:
        raise ValueError(
            f"load_pq_index: codebook at {path} has {actual} entries, "
            f"expected n_subspaces*n_codes = {expected} — index is corrupt "
            "or was built with different parameters"
        )
    codes = spark.read.parquet(f"{path}/codes")
    if use_cache and "build_id" in params:
        _HANDLE_CACHE[key] = {
            "build_id": params["build_id"],
            "codebook": codebook,
            "params": dict(params),
        }
    return codes, codebook, params


def search_pq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    corpus: DataFrame | None = None,
    k: int = 5,
    rerank_factor: int = 10,
) -> DataFrame:
    """Top-k ANN over a persisted PQ index.

    ``corpus`` (the raw-vector table) enables the exact re-rank stage;
    ``corpus=None`` returns ADC-distance top-k straight off the code
    scan — the pure quantized path for when raw vectors are cold
    storage. Search output is bit-identical to ``pq_adc_topk`` run
    from scratch with the build's parameters (pytest-gated).

    Refuses a residual-encoded IVFADC layout: its codes quantize
    ``vector - coarse centroid``, and plain ADC would score them
    against the RAW query's lookup table — every distance silently
    shifted by the centroid term, confidently wrong neighbors. Use
    ``search_ivfpq_index``, which reconstructs the per-list frame."""
    codes, codebook, params = load_pq_index(spark, path)
    if params.get("residual"):
        raise ValueError(
            f"search_pq_index: the index at {path} is residual-encoded "
            "(build_ivfpq_index(residual=True)) — its codes quantize "
            "vector - coarse centroid, which a plain ADC scan would "
            "score in the wrong coordinate frame. Search it with "
            "search_ivfpq_index instead"
        )
    return pq_adc_search(
        codes.select(
            F.col(params["id_col"]).alias("neighbor_id"), "subspace", "code"
        ),
        codebook,
        queries,
        corpus,
        id_col=params["id_col"],
        vec_col=params["vec_col"],
        n_subspaces=params["n_subspaces"],
        sub_dim=params["sub_dim"],
        k=k,
        rerank_factor=rerank_factor,
    )


def append_to_pq_index(
    delta: DataFrame,
    path: str,
    assume_new_ids: bool = False,
) -> None:
    """Incrementally extend a persisted PQ or IVFADC index with a
    corpus delta — the streaming-ingest shape: quantize ONLY the new
    vectors against the index's FROZEN codebook (one broadcast argmin
    pass over the delta) and append their code rows; on an IVFADC
    layout (``build_ivfpq_index``) the delta is also assigned to the
    frozen coarse centroids and appended to the inverted lists, so
    both search paths see it. Nothing existing is rewritten, and the
    result is bit-identical to a full rebuild over the union
    (pytest-gated — the quantizers are fixed, so assignment is a pure
    per-vector function).

    Guards, each failing loudly instead of corrupting searches, and
    each scoped to the DELTA's ids so that per-append cost is flat in
    index size (a streaming ingest calls this every micro-batch; an
    O(full index) sweep per small append is the wrong place for
    whole-index hygiene — that lives in ``fsck_index``, run on a
    schedule):

    - delta vectors must cover the index geometry (short/NULL vectors
      would append NULL-code rows whose undercounted ADC sums wrongly
      PROMOTE the vector);
    - delta ids must be internally unique and disjoint from the
      index's code table (duplicates double-count in every ADC sum) —
      skippable with ``assume_new_ids=True`` when the ingest
      guarantees fresh ids. The probe into the existing tables is
      range-pruned on the delta's [min, max] id before the semi-join,
      so log-structured ingests with monotonically increasing ids skip
      nearly every parquet row group via min/max statistics — the scan
      cost tracks the OVERLAP, not the index;
    - on an IVFADC layout the delta is ALSO probed against lists/:
      ids already listed but absent from codes are a prior append that
      crashed between its lists and codes writes, and the natural
      recovery is retrying the same delta — those ids are anti-joined
      OUT of the lists append (retry is idempotent and REPAIRS the
      half-append; the old codes-first order made retry fail loudly,
      and before that guard existed a retry silently duplicated list
      rows, doubling adc_dist_fp for exactly those ids at search
      time);
    - a post-append invariant over the delta's ids verifies exactly
      n_subspaces code rows per id and (IVFADC) exactly one list row
      per id with no duplicates — so a replayed
      ``assume_new_ids=True`` append that double-writes still fails
      loudly here instead of poisoning searches."""
    spark = delta.sparkSession
    # appends land in the CURRENT generation of a serving-layout index
    # (resolved once; do not compact concurrently with an append)
    path = _resolve_index_root(spark, path)
    codes, codebook, params = load_pq_index(spark, path)
    id_col, vec_col = params["id_col"], params["vec_col"]
    dim = params["n_subspaces"] * params["sub_dim"]
    # Dimension guard BEFORE quantizing: a short (or NULL) delta vector
    # would slice short subvectors, zip_with would NULL-pad them, the
    # argmin would emit NULL codes, and those rows would fail the ADC
    # join at search time — an artificially SMALL distance that wrongly
    # promotes the vector into top-k. Same in-expression raise_error
    # pattern as _require_query_dim (a detached assert gets pruned);
    # unlike the build path, an append delta comes from a separate
    # ingest and is exactly where a dim mismatch happens.
    delta = delta.withColumn(
        vec_col,
        F.when(F.size(F.col(vec_col)) >= F.lit(dim), F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"append_to_pq_index: delta {vec_col} needs >= {dim} "
                        "elements (index geometry n_subspaces*sub_dim), got "
                    ),
                    F.coalesce(
                        F.size(F.col(vec_col)).cast("string"), F.lit("NULL")
                    ),
                )
            )
        ),
    )
    # One delta-sized aggregate always runs: internal-duplicate check
    # plus the delta's [min, max] id range, which prunes every probe
    # into the existing tables below (parquet row-group min/max stats
    # skip non-overlapping files — for sorted ingest ids that is nearly
    # the whole index; a bloom filter on id would prune unsorted
    # ingests too, at the cost of maintaining it per append).
    dstats = delta.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("nd"),
        F.min(F.col(id_col)).alias("lo"),
        F.max(F.col(id_col)).alias("hi"),
    ).collect()[0]
    n_delta, lo, hi = dstats["n"], dstats["lo"], dstats["hi"]
    if dstats["n"] != dstats["nd"]:
        raise ValueError(
            f"append_to_pq_index: delta contains {dstats['n'] - dstats['nd']} "
            "internally duplicated id(s) — each would emit duplicate code "
            "rows and double-count in every ADC sum. Deduplicate the delta"
        )

    def _delta_scope(table: DataFrame) -> DataFrame:
        """Range-prune, then keep only rows whose id is in the delta."""
        return table.filter(F.col(id_col).between(F.lit(lo), F.lit(hi))).join(
            delta.select(F.col(id_col)), id_col, "left_semi"
        )

    if not assume_new_ids:
        # semi-join from the delta into the (range-pruned) code table:
        # catches collisions with the EXISTING index; the aggregate
        # above caught internal duplicates. Neither alone covers both.
        n_dup = (
            delta.select(F.col(id_col))
            .join(
                codes.filter(F.col(id_col).between(F.lit(lo), F.lit(hi))),
                id_col,
                "left_semi",
            )
            .count()
        )
        if n_dup:
            raise ValueError(
                f"append_to_pq_index: {n_dup} delta id(s) already exist in "
                f"the index at {path} — appending would double-count their "
                "code rows in every ADC sum. Deduplicate the delta (or pass "
                "assume_new_ids=True only when ids are provably fresh)"
            )
    # An IVFADC index (build_ivfpq_index layout) must ALSO extend the
    # inverted lists: search_ivfpq_index inner-joins codes to lists, so
    # codes-only appends would be silently invisible to IVFADC search
    # (while plain PQ search over the same path saw them). Layout
    # detection goes through Spark's filesystem (try_read_parquet) —
    # an os.path probe is driver-local and silently False on HDFS/S3,
    # which would reintroduce exactly that corruption one layer up.
    ivf_meta = try_read_parquet(spark, f"{path}/ivf_meta")
    if ivf_meta is not None:
        # lists BEFORE codes: the two appends cannot be atomic across
        # directories, and this order makes the crash window benign —
        # a list row whose id has no codes yet is invisible to BOTH
        # search paths (PQ scans codes; IVFADC inner-joins codes to
        # lists). The natural recovery from a crash in that window is
        # RETRYING the same delta, so retry must be idempotent: delta
        # ids already present in lists/ (they passed the codes
        # disjointness check above, so they can only be a prior
        # half-append of this delta) are anti-joined out of the lists
        # append — the retry then completes the codes side and repairs
        # the index instead of duplicating list rows, which would
        # silently double adc_dist_fp for exactly those ids at search
        # time. Under assume_new_ids=True the anti-join still runs
        # (it is what makes crash-retry safe); only the codes
        # disjointness semi-join is skipped.
        n_centroids = ivf_meta.collect()[0]["n_centroids"]
        centroids = spark.read.parquet(f"{path}/centroids")
        lists_now = try_read_parquet(spark, f"{path}/lists")
        # assign the FULL delta against the frozen coarse quantizer
        # once: the lists append below filters it, and a residual
        # layout also needs the assignment for ids anti-joined OUT of
        # that append (their prior half-append wrote list rows, and
        # the frozen quantizer makes the recomputed cent_id identical).
        # Residual layouts use the fused assignment+residual operator
        # (r14, guide §8 — same change as the build): the codes pass
        # then reads its residuals from the SAME one-pass frame instead
        # of re-scanning the delta and joining it by id against the
        # assignment.
        ar_delta = None
        if params.get("residual"):
            ar_delta = ivf_assign_residuals(delta, centroids, id_col, vec_col)
            assign_full = ar_delta.select(id_col, "cent_id")
        else:
            assign_full = ivf_list_assign(
                delta, id_col, vec_col, n_centroids, centroids=centroids
            ).select(id_col, "cent_id")
        to_list = assign_full
        if lists_now is not None:
            to_list = assign_full.join(
                lists_now.filter(
                    F.col(id_col).between(F.lit(lo), F.lit(hi))
                ),
                id_col,
                "left_anti",
            )
        to_list.write.mode("append").parquet(f"{path}/lists")
    # a residual layout quantizes the delta's RESIDUALS against the
    # frozen coarse quantizer — same frame the build encoded in, so
    # append-then-search stays bit-identical to a full rebuild
    to_code = delta
    if params.get("residual"):
        if ivf_meta is None:
            raise ValueError(
                f"append_to_pq_index: meta at {path} says residual-encoded "
                "but ivf_meta/ is missing — the coarse quantizer the codes "
                "were built against is gone. The index is corrupt; rebuild "
                "with build_ivfpq_index(..., residual=True, overwrite=True)"
            )
        # ar_delta was computed above (ivf_meta is present on every
        # residual layout — just validated); its residual column is the
        # same one-pass frame the lists append read cent_id from
        to_code = ar_delta.select(F.col(id_col), F.col(vec_col))
    new_codes = pq_assign_codes(
        to_code,
        id_col,
        vec_col,
        params["n_subspaces"],
        params["sub_dim"],
        params["n_codes"],
        codebook=codebook,
    ).select(id_col, "subspace", "code")
    new_codes.write.mode("append").parquet(f"{path}/codes")
    # Post-append invariant over the DELTA's ids only (range-pruned
    # semi-join — per-append cost tracks the delta, not the index): a
    # partially-committed append (crash during job commit) leaves some
    # of THESE vectors with fewer than n_subspaces code rows, which
    # searches would read as undercounted ADC sums. A violation names
    # the recovery instead of poisoning every later search.
    # Whole-index hygiene (ids outside this delta) is fsck_index's job.
    cstats = (
        _delta_scope(spark.read.parquet(f"{path}/codes"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_ids"),
            F.count(
                F.when(F.col("n") != params["n_subspaces"], F.lit(1))
            ).alias("bad"),
        )
        .collect()[0]
    )
    if cstats["bad"] or cstats["n_ids"] != n_delta:
        raise RuntimeError(
            f"append_to_pq_index: delta ids in {path}/codes are incomplete "
            f"after the append ({cstats['bad']} with a partial code set, "
            f"{cstats['n_ids']}/{n_delta} present) — the append crashed "
            "mid-commit. Retry the append, or rebuild with "
            "build_pq_index(..., overwrite=True) before searching"
        )
    if ivf_meta is not None:
        # the delta's lists rows must be exactly one per id with no
        # duplicates: count(*) == count_distinct(id) == n_delta. This
        # is what catches a replayed assume_new_ids=True append that
        # double-wrote list rows — count(*) doubles while the distinct
        # count does not — as well as a crash between this append's
        # lists and codes writes on the NEXT retry.
        lstats = (
            _delta_scope(spark.read.parquet(f"{path}/lists"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct(F.col(id_col)).alias("n_ids"),
            )
            .collect()[0]
        )
        if lstats["n_rows"] != lstats["n_ids"] or lstats["n_ids"] != n_delta:
            raise RuntimeError(
                f"append_to_pq_index: inverted lists at {path} carry "
                f"{lstats['n_rows']} rows over {lstats['n_ids']} distinct "
                f"delta id(s) (expected {n_delta} of each) — a replayed or "
                "crashed append left duplicates or gaps. Rebuild the index "
                "with build_ivfpq_index(..., overwrite=True) before "
                "searching"
            )


def fsck_index(
    spark: SparkSession, path: str, strict: bool = True, repair: bool = False
) -> dict:
    """Whole-index consistency sweep — the scheduled-maintenance
    counterpart of ``append_to_pq_index``'s delta-scoped guards.

    The per-append guards deliberately verify only the ids just
    written (flat cost per micro-batch); this sweep is the O(index)
    pass that catches anything outside a delta's scope — partial code
    sets from a crash no one retried, duplicated list rows from a
    replayed ``assume_new_ids=True`` append, and codes/lists id-set
    disagreement on an IVFADC layout. Run it on a schedule (or before
    promoting an index to serving), not per append.

    Returns a report dict:
        ``n_ids`` distinct ids in codes/, ``partial_code_ids`` ids with
        != n_subspaces code rows, and for IVFADC layouts
        ``n_list_ids``, ``dup_list_rows`` (rows beyond one per id) and
        ``codes_lists_id_mismatch`` (distinct-id count disagreement).
    ``strict=True`` (default) raises RuntimeError on any violation,
    naming the recovery.

    ``repair=True`` prunes the violations in place instead of raising
    (see :func:`repair_index`) and adds its ``repair`` sub-report; the
    post-repair state is re-verified strictly. Repair is the CHEAP
    recovery: a rewrite of the narrow codes/lists tables, never a
    re-quantization of the corpus — at billion-vector scale that is
    the difference between minutes and a full rebuild.

    On a serving-layout root the report also carries the root's
    non-violation observations (``_root_report``): orphaned
    generation dirs (crash debris the next successful serving
    compaction sweeps) and a live/stale ``.INGEST_ACTIVE`` claim —
    report-only, since a claim may be a legitimately running ingest
    and an orphan is benign until disk pressure says otherwise."""
    root_report = _root_report(spark, path)
    path = _resolve_index_root(spark, path)
    codes, _, params = load_pq_index(spark, path)
    id_col = params["id_col"]
    cstats = (
        codes.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_ids"),
            F.count(
                F.when(F.col("n") != params["n_subspaces"], F.lit(1))
            ).alias("bad"),
        )
        .collect()[0]
    )
    report = {
        "n_ids": cstats["n_ids"],
        "partial_code_ids": cstats["bad"],
        **root_report,
    }
    if try_read_parquet(spark, f"{path}/ivf_meta") is not None:
        lstats = (
            spark.read.parquet(f"{path}/lists")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct(F.col(id_col)).alias("n_ids"),
            )
            .collect()[0]
        )
        report["n_list_ids"] = lstats["n_ids"]
        report["dup_list_rows"] = lstats["n_rows"] - lstats["n_ids"]
        report["codes_lists_id_mismatch"] = lstats["n_ids"] != cstats["n_ids"]
    violations = report["partial_code_ids"] or report.get(
        "dup_list_rows"
    ) or report.get("codes_lists_id_mismatch")
    if violations and repair:
        report["repair"] = repair_index(spark, path)
        post = fsck_index(spark, path, strict=True, repair=False)
        report["post_repair"] = post
        return report
    if strict and violations:
        raise RuntimeError(
            f"fsck_index: index at {path} is inconsistent — {report}. "
            "A prior append crashed between the lists and codes writes "
            "(or a replayed append double-wrote). Run "
            "fsck_index(repair=True) to prune the offending ids (cheap: "
            "rewrites only the narrow code/list tables), or rebuild with "
            "overwrite=True, before searching"
        )
    return report


def repair_index(spark: SparkSession, path: str) -> dict:
    """Prune inconsistencies out of a persisted index WITHOUT
    re-quantizing: rewrite the narrow ``codes/`` (and ``lists/``)
    tables keeping only coherent ids, then swap them in.

    What gets repaired, and why pruning is sound:

    - **Identical duplicate rows** (a replayed ``assume_new_ids=True``
      append): code assignment is deterministic given the frozen
      codebook, so a double-append writes byte-identical rows —
      ``distinct()`` reconstructs the single-append state exactly.
    - **Partial code sets** (a crash during a codes file-commit): the
      id's surviving rows are a subset of one coherent assignment, but
      parquet cannot retract them in place — the id is DROPPED from
      the index entirely (codes and lists), which restores the
      "never appended" state; re-ingesting the same delta afterwards
      appends it cleanly (absent ids pass every guard).
    - **codes/lists id-set disagreement** (IVFADC crash between the
      lists and codes writes that nobody retried): only ids present
      in BOTH tables are kept — ``ivf_pq_search`` inner-joins the two,
      so a one-sided id is unsearchable dead weight either way.

    Crash safety mirrors the build path: the rewritten tables land in
    a hidden ``.repair/`` staging dir first, the commit marker is
    removed BEFORE the swap and re-written (same ``build_id`` — repair
    is not a new generation) only after it (``serving.swap_in_staged``),
    so a crash mid-swap reads as "incomplete index" at the next load,
    never as a silently half-repaired one. Single-writer per index is the caller's
    contract, as with overwrite builds. (Repair itself loads through
    the strict marker check — repairing an UNcommitted index could
    "repair" mixed-generation artifacts into a coherent-looking lie —
    so a crash inside repair's own swap window, after the marker
    delete, needs a rebuild; that window is a handful of metadata ops,
    and the failure is loud.)

    Returns ``{"pruned_ids": n, "n_ids_before": n, "n_ids_after": n}``.
    Pruned ids are gone from the index — recover them by re-ingesting
    their vectors (the streaming path treats them as absent).

    When to repair vs rebuild, measured honestly (SCALE.md): at bench
    scale REBUILD is ~2x faster (64 k vectors: 3.2 s vs 6.3 s) —
    repair's ~20 small jobs (detect, prune, swap, re-verify) dominate
    while re-quantizing 64 k vectors is trivial. Repair wins where it
    matters: (a) its data volume is the narrow code/list ints
    (~40 B/vector) vs the rebuild's raw-float read (4·dim B/vector)
    PLUS the O(N x n_subspaces x n_codes) assignment compute, so the
    ratio inverts as N grows past the fixed-overhead regime; (b)
    repair needs NO raw corpus at all — a rebuild must re-assemble the
    exact vector snapshot, which at the billion-vector target means
    re-reading 25x the bytes repair touches, from tables that may be
    cold or already compacted away."""
    path = _resolve_index_root(spark, path)
    codes, _, params = load_pq_index(spark, path)
    id_col = params["id_col"]
    n_sub = int(params["n_subspaces"])
    staging = f"{path}/.repair"
    fs_delete(spark, staging)  # stale from a prior crashed repair

    codes = codes.select(id_col, "subspace", "code").distinct()
    complete = (
        codes.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == F.lit(n_sub))
        .select(id_col)
    )
    ivfadc = try_read_parquet(spark, f"{path}/ivf_meta") is not None
    if ivfadc:
        lists = (
            spark.read.parquet(f"{path}/lists")
            .select(id_col, "cent_id")
            .distinct()
        )
        keep = complete.join(lists.select(id_col), id_col, "left_semi")
    else:
        keep = complete
    n_before = codes.select(id_col).distinct().count()
    codes.join(keep, id_col, "left_semi").write.parquet(f"{staging}/codes")
    if ivfadc:
        lists.join(keep, id_col, "left_semi").write.parquet(f"{staging}/lists")
    n_after = spark.read.parquet(f"{staging}/codes").select(id_col).distinct().count()
    swap_in_staged(
        spark, path, staging, ["codes", "lists"] if ivfadc else ["codes"],
        params.get("build_id"),
    )
    fs_delete(spark, staging)
    return {
        "pruned_ids": n_before - n_after,
        "n_ids_before": n_before,
        "n_ids_after": n_after,
    }


def compact_index(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    force: bool = False,
) -> dict:
    """Compact a streaming-ingested index's small files — the
    scheduled-maintenance pass the ingest jobs defer to (each
    micro-batch appends one small file to ``codes/`` — plus ``lists/``
    on IVFADC — and one marker file to ``ingest_epochs/``; at a
    batch-per-minute cadence that is ~43k files/directory/month, and
    both the file-listing and the footer reads of every later search
    and append-guard probe scale with that count).

    The rewrite is also a SORT: codes by (id, subspace), lists by id,
    range-partitioned so each output file covers a disjoint id range.
    That makes the append guards' range-pruned probes (``[min, max]``
    of the delta before the semi-join) actually skip files via parquet
    min/max statistics for ANY ingest order — the "log-structured ids
    prune everything" property, restored by maintenance even when the
    ingest ids arrived shuffled.

    Crash safety and ordering: ``serving.compact_in_place`` — staged
    rewrite, row counts checked BEFORE the swap, the commit marker
    deleted first and re-written with the same ``build_id`` after the
    swap, the epoch markers compacted last, outside the dark window.
    Single-writer per index is the caller's contract; do not run
    concurrently with an ingest job on the same path. Readers are not
    isolated either: a search PLANNED before the swap reads file paths
    that the swap removes (FileNotFound, loud), and a search planned
    DURING the dark window fails the marker check — run THIS variant in
    the same maintenance slot as ``fsck_index``, not under live query
    traffic. For zero-downtime compaction, migrate the index once with
    ``migrate_index_to_serving`` and use ``compact_index_serving``,
    which compacts a copy and swaps a pointer instead.

    Returns ``{"codes": {...}, "lists": {...}, "ingest_epochs":
    {...}}`` with rows / files_before / files_after per directory."""
    return compact_in_place(
        spark, path, "compact_index", _compaction_tables, target_files, force
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_subspaces: int = 4,
    sub_dim: int = 16,
    n_codes: int = 8,
    overwrite: bool = False,
    train: bool = False,
    residual: bool = False,
) -> str:
    """Persist the full IVFADC index: the PQ artifacts plus
    ``centroids/`` (cent_id, __cent — the coarse quantizer, always
    broadcast-sized) and ``lists/`` (<id_col>, cent_id — the inverted-
    list assignment). Two linear passes over the corpus (PQ argmin +
    IVF argmax, both broadcast aggregations), zero data-sized
    shuffles; everything a search needs afterwards except the raw
    vectors for the final re-rank.

    ``train=True`` trains BOTH quantizers deterministically: the
    coarse centroids via ``kmeans_centroids_2iter`` (one Lloyd
    refinement of the id seeds under cosine — the composition
    ``emb_kmeans_assign`` was designed to slot into) and the PQ
    codebook via ``trained_pq_codebook``. Search and append are
    quantizer-agnostic — they load whatever tables were persisted —
    so the flag changes index QUALITY (recall at equal probe cost),
    never the search contract.

    ``residual=True`` persists the classic IVFADC encoding: PQ codes
    (and the codebook, trained or fixed) are computed over
    ``vector - assigned coarse centroid`` (``ivf_residuals``) instead
    of raw vectors — the same code bytes describe within-list variance
    only, the standard recall lever at identical storage. The flag is
    stamped into meta; ``search_ivfpq_index`` reads it back so a
    search always scores codes in the coordinate frame they were
    encoded in, ``append_to_pq_index`` residualizes deltas against the
    frozen quantizers, and plain ``search_pq_index`` REFUSES the
    layout (raw-query ADC over residual codes is confidently wrong).
    Build order differs from the raw path — centroids and lists land
    first because the codes derive from them — but the commit marker
    still lands last, so a crash anywhere leaves the index loudly
    unloadable, never mixed-frame."""
    # Validate the coarse quantizer BEFORE writing anything: the
    # fixed-codebook convention takes ids 0..n_centroids-1, and a
    # corpus whose ids don't cover that range (fewer vectors, or ids
    # not starting at 0) would otherwise build successfully and fail
    # only at search time with a misleading "index is corrupt"
    cents = corpus.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("__cent")
    )
    n_found = cents.count()
    if n_found != n_centroids:
        raise ValueError(
            f"build_ivfpq_index: corpus has {n_found} vectors with "
            f"{id_col} < {n_centroids}; the fixed-codebook convention "
            f"needs ids 0..{n_centroids - 1} present exactly once — "
            "lower n_centroids or renumber the corpus ids"
        )
    spark = corpus.sparkSession
    if residual:
        # Residual build order: the codes DERIVE from the coarse
        # quantizer, so ivf_meta + centroids + lists land first, then
        # the PQ artifacts over the residual table, then the commit
        # marker — same loud-until-committed property, different
        # dependency order. The overwrite cleanup happens HERE (not in
        # build_pq_index, which would delete the just-written IVF
        # artifacts): the commit marker goes first so a crashed
        # rebuild reads as incomplete, never as the old generation.
        if overwrite:
            for sub in (
                "commit", "meta", "codebook", "codes",
                "ivf_meta", "centroids", "lists",
            ):
                fs_delete(spark, f"{path}/{sub}")
        mode = "errorifexists"
        tiny_local_df(spark, [(n_centroids,)], "n_centroids int").coalesce(
            1
        ).write.mode(mode).parquet(f"{path}/ivf_meta")
        if train:
            cents = kmeans_centroids_2iter(
                corpus, id_col, vec_col, n_centroids
            ).select("cent_id", "__cent")
        cents.write.mode(mode).parquet(f"{path}/centroids")
        # persisted-artifact discipline (same as the codebook): assign
        # and residualize against the centroids read BACK from disk, so
        # codes are encoded against byte-identical entries to what
        # every later search's probe and query-residual will use
        cents_disk = spark.read.parquet(f"{path}/centroids")
        # ONE corpus pass computes the list assignment AND the residual
        # (r14, guide §8; pinned identical to ivf_list_assign ∘
        # ivf_residuals in pytest): the unfused pair re-scanned the
        # corpus and joined it by id against the corpus-sized lists
        # table just to attach cent_id — at cluster scale that join
        # shuffles the raw vectors (the heavy payload) to attach a
        # 2-column decision. The fused operator computes the argmax in
        # the same row as the vector, so nothing data-sized is shuffled.
        # The persist spans the lists write AND build_pq_index's four
        # evaluations (r13 persisted only the residual side; this one
        # materialization replaces what were two passes plus a join),
        # and — since lists/ is written from the SAME materialized
        # frame the codes derive from — assignment/codes consistency
        # holds by construction, not just by determinism. Released in
        # finally so a failed build never leaks blocks.
        ar = ivf_assign_residuals(corpus, cents_disk, id_col, vec_col).persist()
        try:
            ar.select(id_col, "cent_id").write.mode(mode).parquet(
                f"{path}/lists"
            )
            build_id = build_pq_index(
                ar.select(F.col(id_col), F.col(vec_col)),
                path,
                id_col,
                vec_col,
                n_subspaces,
                sub_dim,
                n_codes,
                overwrite=False,  # this path already cleaned the dir
                train=train,
                _commit=False,
                # meta records the RAW corpus element type (it defines the
                # ingest stream schema), not the residual table's double
                _meta_vec_elem_type=corpus.schema[
                    vec_col
                ].dataType.elementType.simpleString(),
                _meta_residual=True,
            )
        finally:
            ar.unpersist()
        _write_commit(spark, path, build_id)
        return build_id
    # _commit=False: the marker must land only after the IVF artifacts
    # below, so a crash mid-IVF-write leaves the whole index loudly
    # unloadable rather than a "complete" PQ index with half an IVFADC
    # layout beside it
    build_id = build_pq_index(
        corpus,
        path,
        id_col,
        vec_col,
        n_subspaces,
        sub_dim,
        n_codes,
        overwrite,
        train=train,
        _commit=False,
    )
    mode = "overwrite" if overwrite else "errorifexists"
    n_cent = tiny_local_df(spark, [(n_centroids,)], "n_centroids int")
    n_cent.coalesce(1).write.mode(mode).parquet(f"{path}/ivf_meta")
    if train:
        cents = kmeans_centroids_2iter(
            corpus, id_col, vec_col, n_centroids
        ).select("cent_id", "__cent")
    cents.write.mode(mode).parquet(f"{path}/centroids")
    # same persisted-artifact discipline as the codebook: assign the
    # lists against the centroids read back from disk, so trained
    # (multi-stage-aggregate) centroids are computed once and the
    # lists are exactly what a search's coarse probe will see
    ivf_list_assign(
        corpus,
        id_col,
        vec_col,
        n_centroids,
        centroids=spark.read.parquet(f"{path}/centroids"),
    ).select(id_col, "cent_id").write.mode(mode).parquet(f"{path}/lists")
    _write_commit(spark, path, build_id)
    return build_id


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    corpus: DataFrame,
    n_probe: int = 4,
    k: int = 5,
    rerank_factor: int = 20,
    lut_row_budget: int | None = _RESIDUAL_LUT_ROW_BUDGET,
    chunk_oversized: bool = False,
) -> DataFrame:
    """Top-k IVFADC over a persisted index: coarse-probe the persisted
    centroid table, ADC-scan only the probed lists of the persisted
    code table, exact-re-rank the shortlist against ``corpus`` raw
    vectors. Bit-identical to ``ivf_pq_topk`` run from scratch with
    the build's parameters (pytest-gated). ``lut_row_budget`` bounds a
    residual layout's per-probed-list query LUT broadcast — see
    ``ivf_pq_search`` for the |Q| x n_probe x m x k sizing and the
    exact query-chunking recipe the guard prints (or pass
    ``chunk_oversized=True`` to run that recipe automatically)."""
    path = _resolve_index_root(spark, path)
    codes, codebook, params = load_pq_index(spark, path)
    # the IVF geometry is immutable within a generation; piggyback on
    # the handle cache entry load_pq_index just validated (same
    # build_id check covers it — a rebuild evicts the whole entry)
    cached = _HANDLE_CACHE.get(_cache_key(spark, path))
    if cached is not None and "centroids" in cached:
        centroids = cached["centroids"]
    else:
        cent_rows = spark.read.parquet(f"{path}/ivf_meta").collect()
        if len(cent_rows) != 1:
            raise ValueError(f"search_ivfpq_index: malformed ivf_meta at {path}")
        n_centroids = cent_rows[0]["n_centroids"]
        centroids = spark.read.parquet(f"{path}/centroids")
        actual = centroids.count()  # broadcast-sized table: a cheap job
        if actual != n_centroids:
            raise ValueError(
                f"search_ivfpq_index: centroid table at {path} has {actual} "
                f"rows, expected {n_centroids} — index is corrupt or was "
                "built with different parameters"
            )
        if cached is not None:
            cached["centroids"] = centroids
    nid = F.col(params["id_col"]).alias("neighbor_id")
    lists = spark.read.parquet(f"{path}/lists").select(nid, "cent_id")
    index = codes.select(nid, "subspace", "code").join(lists, "neighbor_id")
    return ivf_pq_search(
        index,
        centroids,
        codebook,
        queries,
        corpus,
        id_col=params["id_col"],
        vec_col=params["vec_col"],
        n_subspaces=params["n_subspaces"],
        sub_dim=params["sub_dim"],
        n_probe=n_probe,
        k=k,
        rerank_factor=rerank_factor,
        # meta-stamped at build time: codes must be scored in the
        # coordinate frame they were encoded in (legacy meta → raw)
        residual=bool(params.get("residual") or False),
        lut_row_budget=lut_row_budget,
        chunk_oversized=chunk_oversized,
    )
