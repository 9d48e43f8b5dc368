"""Persisted near-dup (MinHash+LSH) index: build-once / probe-many.

The contract under test mirrors the ANN index's: persisting the
blocking structure changes WHERE it lives, never what a probe
computes — a delta-vs-corpus probe must find exactly the pairs the
in-memory operator finds over the union, a crashed build must fail
loudly, and appends must be O(delta) with a loud double-append guard.
"""

import pytest
from pyspark.sql import functions as F

from etl_pricenow_to_leukerbadb_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
)
from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
    append_to_dedup_index,
    build_dedup_index,
    load_dedup_index,
    query_dedup_candidates,
)
from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

GEOM = dict(k_shingle=3, n_hashes=8, bands=4)


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents")


@pytest.fixture(scope="module")
def split(docs):
    mid = docs.agg(F.expr("percentile(doc_id, 0.8)")).collect()[0][0]
    old = docs.filter(F.col("doc_id") <= mid)
    delta = docs.filter(F.col("doc_id") > mid)
    return old, delta


def _memory_pairs(docs_union):
    sigs = minhash_signatures(docs_union, "doc_id", "text", 3, 8)
    return {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(sigs, "doc_id", 8, 4).collect()
    }


def test_probe_matches_in_memory_operator(spark, docs, split, tmp_path):
    """Probing the delta against the persisted corpus index must find
    exactly the cross (old x delta) pairs the in-memory operator finds
    over the union — the persisted band table is the same blocking
    structure, so the probe can neither miss nor invent a pair."""
    old, delta = split
    path = str(tmp_path / "ddx")
    build_dedup_index(old, path, **GEOM)
    got = {
        (r.corpus_id, r.probe_id)
        for r in query_dedup_candidates(spark, path, delta).collect()
    }
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    want = {
        (a, b) if a in old_ids else (b, a)
        for (a, b) in _memory_pairs(docs)
        if (a in old_ids) != (b in old_ids)  # cross pairs only
    }
    assert got == want
    assert got, "test corpus produced no cross candidates — not probative"


def test_append_then_probe_sees_appended_docs(spark, docs, split, tmp_path):
    """After appending the delta, a fresh probe of the SAME delta must
    self-match (identical signatures -> identical buckets), and the
    index must now block future near-dups of delta docs: the full
    self-pair set from persisted bands equals the in-memory operator
    over the union."""
    old, delta = split
    path = str(tmp_path / "ddx_append")
    build_dedup_index(old, path, **GEOM)
    append_to_dedup_index(delta, path)
    bands, params = load_dedup_index(spark, path)
    n_docs = docs.count()
    assert bands.select("doc_id").distinct().count() == n_docs
    # union self-join over persisted bands == in-memory over union
    a, b = bands.alias("a"), bands.alias("b")
    got = {
        (r.id_a, r.id_b)
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .collect()
    }
    assert got == _memory_pairs(docs)


def test_append_refuses_duplicate_ids(spark, docs, split, tmp_path):
    old, delta = split
    path = str(tmp_path / "ddx_dup")
    build_dedup_index(old, path, **GEOM)
    with pytest.raises(ValueError, match="already exist"):
        append_to_dedup_index(old, path)


def test_crashed_build_fails_loudly(spark, docs, tmp_path):
    """No commit marker (crash before the last write) -> load and
    probe must refuse: probing a half-written bucket table silently
    MISSES duplicates, the worst dedup failure mode."""
    import shutil

    path = str(tmp_path / "ddx_crash")
    build_dedup_index(docs, path, **GEOM)
    shutil.rmtree(f"{path}/commit")
    with pytest.raises(ValueError, match="commit"):
        query_dedup_candidates(spark, path, docs.limit(5))


def test_append_refuses_internal_duplicates(spark, docs, split, tmp_path):
    old, delta = split
    path = str(tmp_path / "ddx_internal")
    build_dedup_index(old, path, **GEOM)
    with pytest.raises(ValueError, match="internally duplicated"):
        append_to_dedup_index(delta.unionByName(delta), path)


def test_fsck_dedup_repair(spark, docs, split, tmp_path):
    """fsck must flag planted partial bucket sets and duplicated rows;
    repair=True must prune the partial id, distinct-away the
    byte-identical duplicates, leave the band table row-identical to a
    clean build, and return the index to a state where the pruned id
    re-appends cleanly."""
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        fsck_dedup_index,
    )
    from etl_pricenow_to_leukerbadb_spark.session import tiny_local_df

    old, delta = split
    path = str(tmp_path / "ddx_fsck")
    build_dedup_index(old, path, **GEOM)
    probe_id = delta.agg(F.min("doc_id")).collect()[0][0]
    # partial: 1 of 4 bucket rows for a not-yet-appended delta id
    tiny_local_df(
        spark, [(int(probe_id), 0, "deadbeef")], "doc_id long, band int, bucket string"
    ).write.mode("append").parquet(f"{path}/bands")
    # duplicate: replay one existing id's bucket rows
    dup_id = old.agg(F.min("doc_id")).collect()[0][0]
    spark.read.parquet(f"{path}/bands").filter(
        F.col("doc_id") == dup_id
    ).write.mode("append").parquet(f"{path}/bands")

    with pytest.raises(RuntimeError, match="repair=True"):
        fsck_dedup_index(spark, path)
    report = fsck_dedup_index(spark, path, repair=True)
    assert report["partial_ids"] == 1 and report["dup_rows"] == GEOM["bands"]
    assert report["repair"]["pruned_ids"] == 1
    assert report["post_repair"]["dup_rows"] == 0

    clean = str(tmp_path / "ddx_fsck_clean")
    build_dedup_index(old, clean, **GEOM)
    got = sorted(tuple(r) for r in spark.read.parquet(f"{path}/bands").collect())
    want = sorted(tuple(r) for r in spark.read.parquet(f"{clean}/bands").collect())
    assert got == want
    append_to_dedup_index(docs.filter(F.col("doc_id") == probe_id), path)
    fsck_dedup_index(spark, path)


def test_unshinglable_docs_fail_build_and_append(spark, docs, split, tmp_path):
    """A document with NULL text or < k_shingle tokens produces no
    shingles, so indexing it would silently exempt it from every
    future near-dup check — build and append must refuse loudly (and
    BEFORE writing anything: a refused build leaves the path clean),
    while allow_short=True indexes the shinglable remainder and
    leaves the short document absent from bands/ by construction."""
    old, delta = split
    path = str(tmp_path / "ddx_short")
    short = delta.orderBy(F.col("doc_id").desc()).limit(1).select(
        "doc_id", F.lit("too short").alias("text")
    )
    with_short = old.select("doc_id", "text").unionByName(short)
    with pytest.raises(ValueError, match="no shingles"):
        build_dedup_index(with_short, path, **GEOM)
    # the refused build wrote nothing — a fresh errorifexists build works
    build_dedup_index(old, path, **GEOM)
    null_short = delta.select(
        "doc_id", F.lit(None).cast("string").alias("text")
    ).limit(1)
    with pytest.raises(ValueError, match="no shingles"):
        append_to_dedup_index(
            delta.select("doc_id", "text")
            .join(null_short.select("doc_id"), "doc_id", "left_anti")
            .unionByName(null_short),
            path,
        )
    append_to_dedup_index(
        delta.select("doc_id", "text")
        .join(null_short.select("doc_id"), "doc_id", "left_anti")
        .unionByName(null_short),
        path,
        allow_short=True,
    )
    bands, _ = load_dedup_index(spark, path)
    assert bands.select("doc_id").distinct().count() == docs.count() - 1
    skipped = null_short.collect()[0]["doc_id"]
    assert bands.filter(F.col("doc_id") == skipped).count() == 0


def test_verify_append_complete_tracks_shinglable_ids_and_band_rows(
    spark, docs, split, tmp_path
):
    """The replay-completeness answer lives next to the append guard:
    a fully-landed delta verifies complete; a delta containing an
    unshinglable doc (allow_short — zero band rows by construction)
    still verifies complete, because expected ids are the SHINGLABLE
    ones; an id missing one of its band rows (a crashed append's
    partial state) fails, because completeness is per-id band-ROW
    counts, not id presence."""
    import shutil

    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        verify_append_complete,
    )

    old, delta = split
    path = str(tmp_path / "ddx_vac")
    build_dedup_index(old, path, **GEOM)
    # make one delta doc unshinglable, append with allow_short
    short_id = delta.agg(F.max("doc_id")).collect()[0][0]
    delta2 = delta.select(
        "doc_id",
        F.when(F.col("doc_id") == short_id, F.lit("x")).otherwise(
            F.col("text")
        ).alias("text"),
    )
    append_to_dedup_index(delta2, path, allow_short=True)
    rep = verify_append_complete(spark, path, delta2)
    assert rep["complete"]
    assert rep["n_expected"] == rep["n_complete"] == delta.count() - 1
    assert rep["n_delta"] == delta.count()
    # an un-appended delta is NOT complete (0 banded ids)
    fresh = delta2.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    assert not verify_append_complete(spark, path, fresh)["complete"]
    # strip one band row of one appended delta id: partial
    victim = delta2.filter(F.col("doc_id") != short_id).agg(
        F.min("doc_id")
    ).collect()[0][0]
    bands = spark.read.parquet(f"{path}/bands")
    pruned = bands.filter(
        ~((F.col("doc_id") == victim) & (F.col("band") == 0))
    ).localCheckpoint()
    shutil.rmtree(f"{path}/bands")
    pruned.write.parquet(f"{path}/bands")
    rep = verify_append_complete(spark, path, delta2)
    assert not rep["complete"]
    assert rep["n_complete"] == rep["n_expected"] - 1


def test_stream_dedup_ingest_e2e_and_replay(spark, docs, split, tmp_path):
    """Streaming micro-batch appends must leave the band table
    row-identical to a full rebuild over the union, and replaying the
    same input against a fresh checkpoint (new query_id, so the epoch
    markers do not apply) must be a no-op via the classification
    guard."""
    import shutil

    from etl_pricenow_to_leukerbadb_spark.streaming.jobs import (
        stream_dedup_ingest_job,
    )

    old, delta = split
    path = str(tmp_path / "ddx_stream")
    docs_dir = str(tmp_path / "doc_stream")
    build_dedup_index(old, path, **GEOM)
    delta.select("doc_id", "text").repartition(2).write.parquet(docs_dir)
    stream_dedup_ingest_job(spark, docs_dir, path)

    full = str(tmp_path / "ddx_stream_full")
    build_dedup_index(docs, full, **GEOM)
    inc = sorted(tuple(r) for r in spark.read.parquet(f"{path}/bands").collect())
    want = sorted(tuple(r) for r in spark.read.parquet(f"{full}/bands").collect())
    assert inc == want
    # committed-epoch short-circuit: same checkpoint replays are no-ops
    stream_dedup_ingest_job(spark, docs_dir, path)
    # fresh checkpoint: classification drops every already-complete id
    shutil.rmtree(path + "_ingest_ckpt")
    stream_dedup_ingest_job(spark, docs_dir, path)
    again = sorted(tuple(r) for r in spark.read.parquet(f"{path}/bands").collect())
    assert again == inc
    markers = spark.read.parquet(f"{path}/ingest_epochs").collect()
    assert len({m.query_id for m in markers}) == 2  # one per checkpoint


def test_stream_dedup_ingest_partial_fails_loudly(spark, docs, split, tmp_path):
    from etl_pricenow_to_leukerbadb_spark.session import tiny_local_df
    from etl_pricenow_to_leukerbadb_spark.streaming.jobs import (
        stream_dedup_ingest_job,
    )

    old, delta = split
    path = str(tmp_path / "ddx_stream_partial")
    docs_dir = str(tmp_path / "doc_stream_partial")
    build_dedup_index(old, path, **GEOM)
    probe_id = delta.agg(F.min("doc_id")).collect()[0][0]
    tiny_local_df(
        spark, [(int(probe_id), 0, "deadbeef")], "doc_id long, band int, bucket string"
    ).write.mode("append").parquet(f"{path}/bands")
    delta.select("doc_id", "text").coalesce(1).write.parquet(docs_dir)
    with pytest.raises(Exception, match="PARTIAL bucket set"):
        stream_dedup_ingest_job(spark, docs_dir, path)


def test_compact_dedup_index_preserves_probe(spark, docs, split, tmp_path):
    """Compacting the band table's streaming small files must leave
    probe candidates identical, shrink the file count, preserve the
    ingest markers, keep fsck clean, and keep the double-append guard
    armed — compaction is maintenance, not a new generation."""
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        compact_dedup_index,
        fsck_dedup_index,
    )
    from etl_pricenow_to_leukerbadb_spark.session import tiny_local_df

    old, delta = split
    path = str(tmp_path / "ddx_compact")
    build_dedup_index(old, path, **GEOM)
    mid = delta.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    append_to_dedup_index(delta.filter(F.col("doc_id") <= mid), path)
    append_to_dedup_index(delta.filter(F.col("doc_id") > mid), path)
    for epoch in range(2):
        tiny_local_df(
            spark,
            [("qid", epoch, "bid")],
            "query_id string, epoch_id long, build_id string",
        ).coalesce(1).write.mode("append").parquet(f"{path}/ingest_epochs")

    probe = docs.limit(20).select("doc_id", "text")
    before = sorted(
        tuple(r) for r in query_dedup_candidates(spark, path, probe).collect()
    )
    report = compact_dedup_index(spark, path, target_files=2)
    assert report["bands"]["files_after"] < report["bands"]["files_before"]
    assert report["ingest_epochs"]["rows"] == 2
    after = sorted(
        tuple(r) for r in query_dedup_candidates(spark, path, probe).collect()
    )
    assert after == before and before
    assert spark.read.parquet(f"{path}/ingest_epochs").count() == 2
    fsck_dedup_index(spark, path)  # strict: clean
    with pytest.raises(ValueError, match="already exist"):
        append_to_dedup_index(delta, path)


VEC_GEOM = dict(n_planes=4, n_tables=4, dim=64)


@pytest.fixture(scope="module")
def vecs(spark, sf_small):
    return load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def vec_split(vecs):
    old = vecs.filter(F.col("vec_id") < 400)
    delta = vecs.filter(F.col("vec_id") >= 400)
    return old, delta


def test_vec_probe_matches_in_memory_blocking(spark, vecs, vec_split, tmp_path):
    """Probing delta embeddings against the persisted corpus index
    must find exactly the cross (old x delta) pairs the in-memory
    sign-LSH blocking finds over the union — buckets are deterministic
    in the persisted geometry, so the probe can neither miss nor
    invent a candidate."""
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_vec_dedup_index,
        query_vec_dedup_candidates,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.similarity import (
        sign_lsh_buckets_long,
    )

    old, delta = vec_split
    path = str(tmp_path / "vddx")
    build_vec_dedup_index(old, path, **VEC_GEOM)
    got = {
        (r.corpus_id, r.probe_id)
        for r in query_vec_dedup_candidates(spark, path, delta).collect()
    }
    b = sign_lsh_buckets_long(vecs, "vec_id", "embedding", **VEC_GEOM)
    pairs = (
        b.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
        .join(
            b.select(F.col("vec_id").alias("id_b"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    )
    want = {
        (a, b_) if a < 400 else (b_, a)
        for (a, b_) in ((r.id_a, r.id_b) for r in pairs)
        if (a < 400) != (b_ < 400)
    }
    assert got == want
    assert got, "no cross candidates at this geometry — not probative"


def test_vec_verified_probe_applies_exact_cosine(spark, vecs, vec_split, tmp_path):
    """With corpus + threshold the probe must return exactly the
    candidates whose EXACT rounded cosine clears the threshold —
    verified against a numpy recomputation over the candidate pairs."""
    import numpy as np

    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_vec_dedup_index,
        query_vec_dedup_candidates,
    )

    old, delta = vec_split
    path = str(tmp_path / "vddx_verify")
    build_vec_dedup_index(old, path, **VEC_GEOM)
    cand = {
        (r.probe_id, r.corpus_id)
        for r in query_vec_dedup_candidates(spark, path, delta).collect()
    }
    got = {
        (r.probe_id, r.corpus_id): r.cos_sim
        for r in query_vec_dedup_candidates(
            spark, path, delta, corpus=old, threshold=0.4
        ).collect()
    }
    V = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in vecs.collect()
    }
    want = {}
    for p, c in cand:
        cos = round(
            float(
                V[p] @ V[c] / (np.sqrt(V[p] @ V[p]) * np.sqrt(V[c] @ V[c]))
            ),
            6,
        )
        if cos >= 0.4:
            want[(p, c)] = cos
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_vec_append_fsck_repair_roundtrip(spark, vecs, vec_split, tmp_path):
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        append_to_vec_dedup_index,
        build_vec_dedup_index,
        fsck_dedup_index,
        fsck_vec_dedup_index,
    )
    from etl_pricenow_to_leukerbadb_spark.session import tiny_local_df

    old, delta = vec_split
    path = str(tmp_path / "vddx_fsck")
    build_vec_dedup_index(old, path, **VEC_GEOM)
    append_to_vec_dedup_index(delta, path)
    report = fsck_vec_dedup_index(spark, path)
    assert report["n_ids"] == vecs.count() and report["dup_rows"] == 0
    # the unsuffixed name reads the vector kind from meta
    assert fsck_dedup_index(spark, path) == report
    # appended index == clean rebuild over the union
    full = str(tmp_path / "vddx_full")
    build_vec_dedup_index(vecs, full, **VEC_GEOM)
    got = sorted(tuple(r) for r in spark.read.parquet(f"{path}/bands").collect())
    want = sorted(tuple(r) for r in spark.read.parquet(f"{full}/bands").collect())
    assert got == want
    # corrupt: partial bucket set for a fake id + duplicate rows
    tiny_local_df(
        spark, [(900_000, 0, "0101")], "vec_id long, band int, bucket string"
    ).write.mode("append").parquet(f"{path}/bands")
    spark.read.parquet(f"{path}/bands").filter(
        F.col("vec_id") == 7
    ).write.mode("append").parquet(f"{path}/bands")
    with pytest.raises(RuntimeError, match="repair=True"):
        fsck_vec_dedup_index(spark, path)
    rep = fsck_vec_dedup_index(spark, path, repair=True)
    assert rep["repair"]["pruned_ids"] == 1
    again = sorted(tuple(r) for r in spark.read.parquet(f"{path}/bands").collect())
    assert again == want


def test_vec_stream_ingest_e2e_and_replay(spark, vecs, vec_split, tmp_path):
    """Vector-index streaming ingest must leave the band table
    row-identical to a clean rebuild over the union; a fresh-checkpoint
    replay (new query_id — epoch markers do not apply) must be a no-op
    via the per-id bucket-count classification."""
    import shutil

    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_vec_dedup_index,
    )
    from etl_pricenow_to_leukerbadb_spark.streaming.jobs import (
        stream_vec_dedup_ingest_job,
    )

    old, delta = vec_split
    path = str(tmp_path / "vddx_stream")
    vec_dir = str(tmp_path / "vec_stream")
    build_vec_dedup_index(old, path, **VEC_GEOM)
    delta.repartition(2).write.parquet(vec_dir)
    stream_vec_dedup_ingest_job(spark, vec_dir, path)

    full = str(tmp_path / "vddx_stream_full")
    build_vec_dedup_index(vecs, full, **VEC_GEOM)
    inc = sorted(tuple(r) for r in spark.read.parquet(f"{path}/bands").collect())
    want = sorted(tuple(r) for r in spark.read.parquet(f"{full}/bands").collect())
    assert inc == want
    shutil.rmtree(path + "_ingest_ckpt")
    stream_vec_dedup_ingest_job(spark, vec_dir, path)
    again = sorted(tuple(r) for r in spark.read.parquet(f"{path}/bands").collect())
    assert again == inc


def test_vec_malformed_vectors_raise(spark, vecs, vec_split, tmp_path):
    """An index ingesting malformed vectors would silently exempt them
    from every future near-dup check — build and probe must raise."""
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_vec_dedup_index,
        query_vec_dedup_candidates,
    )

    old, delta = vec_split
    bad = delta.select(
        "vec_id", F.slice("embedding", 1, 10).alias("embedding")
    )
    with pytest.raises(ValueError, match="malformed"):
        build_vec_dedup_index(bad, str(tmp_path / "vddx_bad"), **VEC_GEOM)
    path = str(tmp_path / "vddx_goodbase")
    build_vec_dedup_index(old, path, **VEC_GEOM)
    with pytest.raises(ValueError, match="malformed"):
        query_vec_dedup_candidates(spark, path, bad).collect()


def test_probe_uses_persisted_geometry(spark, docs, split, tmp_path):
    """The probe hashes with the geometry persisted in meta, not
    defaults: an index built with a non-default band count must still
    agree with the in-memory operator at THAT geometry."""
    old, delta = split
    path = str(tmp_path / "ddx_geom")
    build_dedup_index(old, path, k_shingle=2, n_hashes=8, bands=2)
    got = {
        (r.corpus_id, r.probe_id)
        for r in query_dedup_candidates(spark, path, delta).collect()
    }
    sigs = minhash_signatures(docs, "doc_id", "text", 2, 8)
    old_ids = {r.doc_id for r in old.select("doc_id").collect()}
    want = {
        (a, b) if a in old_ids else (b, a)
        for (a, b) in (
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(sigs, "doc_id", 8, 2).collect()
        )
        if (a in old_ids) != (b in old_ids)
    }
    assert got == want


def test_vec_compact_preserves_probe(spark, vecs, vec_split, tmp_path):
    """Vector-frontend compaction: probe candidates identical across
    the rewrite, marker-protected swap (build_id unchanged), fsck
    clean."""
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_vec_dedup_index,
        compact_dedup_index,
        compact_vec_dedup_index,
        fsck_vec_dedup_index,
        load_vec_dedup_index,
        query_vec_dedup_candidates,
    )

    old, delta = vec_split
    path = str(tmp_path / "vddx_compact")
    build_id = build_vec_dedup_index(old, path, **VEC_GEOM)
    before = sorted(
        tuple(r)
        for r in query_vec_dedup_candidates(spark, path, delta).collect()
    )
    report = compact_vec_dedup_index(spark, path, target_files=1)
    assert report["bands"]["files_after"] <= report["bands"]["files_before"]
    after = sorted(
        tuple(r)
        for r in query_vec_dedup_candidates(spark, path, delta).collect()
    )
    assert after == before and before
    _, params = load_vec_dedup_index(spark, path)
    assert params["build_id"] == build_id
    fsck_vec_dedup_index(spark, path)
    # the unsuffixed name reads the vector kind from meta: on the same
    # (compacted) index it reports what the _vec name reports
    assert compact_dedup_index(spark, path, target_files=1) == (
        compact_vec_dedup_index(spark, path, target_files=1)
    )


def test_point_probe_layout_matches_flat_and_prunes(
    spark, docs, split, tmp_path
):
    """The partitioned (point-probe) layout must change WHERE bands
    live, never what a probe computes: candidates identical to the
    flat layout for the same probe, with the partition filter visible
    in the scan (PartitionFilters: bp IN ...). Append, fsck repair,
    and compaction must all preserve the layout."""
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        compact_dedup_index,
        fsck_dedup_index,
    )

    old, delta = split
    flat = str(tmp_path / "ddx_flat")
    part = str(tmp_path / "ddx_part")
    build_dedup_index(old, flat, **GEOM)
    build_dedup_index(old, part, bucket_prefix_len=2, **GEOM)

    probe = delta.orderBy("doc_id").limit(3).select("doc_id", "text")
    want = sorted(
        tuple(r) for r in query_dedup_candidates(spark, flat, probe).collect()
    )
    cand = query_dedup_candidates(spark, part, probe)
    got = sorted(tuple(r) for r in cand.collect())
    assert got == want
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "bp#" in plan and "IN (p" in plan, plan[:2000]
    # and the pruning is PARTITION pruning (directory skip at planning
    # time), not a row filter after a full scan
    fmt = spark._jvm.PythonSQLUtils.explainString(
        cand._jdf.queryExecution(), "formatted"
    )
    assert any(
        "PartitionFilters" in ln and "bp#" in ln and "IN (p" in ln
        for ln in fmt.splitlines()
    ), fmt[:3000]

    # append under the partitioned layout: probe of the delta now
    # self-blocks against it, layout intact (bp dirs in the file paths)
    append_to_dedup_index(delta, part)
    bands, params = load_dedup_index(spark, part)
    assert params["bucket_prefix_len"] == 2
    assert bands.select("doc_id").distinct().count() == docs.count()
    assert all("/bp=p" in f for f in bands.inputFiles())

    # full-probe parity against the flat layout over the same corpus
    append_to_dedup_index(delta, flat)
    want_all = sorted(
        tuple(r)
        for r in query_dedup_candidates(spark, flat, probe).collect()
    )
    got_all = sorted(
        tuple(r)
        for r in query_dedup_candidates(spark, part, probe).collect()
    )
    assert got_all == want_all

    # repair preserves the layout
    from etl_pricenow_to_leukerbadb_spark.session import tiny_local_df

    ghost = int(docs.agg(F.max("doc_id")).collect()[0][0]) + 1
    tiny_local_df(
        spark,
        [(ghost, 0, "deadbeef")],
        "doc_id long, band int, bucket string",
    ).withColumn("bp", F.lit("pde")).write.mode("append").partitionBy(
        "bp"
    ).parquet(f"{part}/bands")
    report = fsck_dedup_index(spark, part, repair=True)
    assert report["repair"]["pruned_ids"] == 1
    bands, _ = load_dedup_index(spark, part)
    assert all("/bp=p" in f for f in bands.inputFiles())
    got_rep = sorted(
        tuple(r)
        for r in query_dedup_candidates(spark, part, probe).collect()
    )
    assert got_rep == want_all

    # compaction preserves the layout and the probe results
    creport = compact_dedup_index(spark, part, target_files=4)
    bands, _ = load_dedup_index(spark, part)
    assert all("/bp=p" in f for f in bands.inputFiles())
    got_cmp = sorted(
        tuple(r)
        for r in query_dedup_candidates(spark, part, probe).collect()
    )
    assert got_cmp == want_all and creport["bands"]["rows"] > 0


def test_vec_point_probe_layout_and_stream_inherit(
    spark, vecs, vec_split, tmp_path
):
    """Vector frontend on the partitioned layout: bit-string buckets
    partition on a 2^N prefix alphabet (sentinel keeps them strings),
    probe candidates identical to the flat layout, and the streaming
    ingest inherits the layout from meta without being told."""
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_vec_dedup_index,
        load_vec_dedup_index,
        query_vec_dedup_candidates,
    )
    from etl_pricenow_to_leukerbadb_spark.streaming.jobs import (
        stream_vec_dedup_ingest_job,
    )

    old, delta = vec_split
    flat = str(tmp_path / "vddx_flat")
    part = str(tmp_path / "vddx_part")
    build_vec_dedup_index(old, flat, **VEC_GEOM)
    build_vec_dedup_index(old, part, bucket_prefix_len=2, **VEC_GEOM)
    want = sorted(
        tuple(r)
        for r in query_vec_dedup_candidates(spark, flat, delta).collect()
    )
    got = sorted(
        tuple(r)
        for r in query_vec_dedup_candidates(spark, part, delta).collect()
    )
    assert got == want and want

    # streaming ingest appends under the persisted layout
    vec_dir = str(tmp_path / "vec_stream_part")
    delta.write.parquet(vec_dir)
    stream_vec_dedup_ingest_job(spark, vec_dir, part)
    bands, params = load_vec_dedup_index(spark, part)
    assert params["bucket_prefix_len"] == 2
    assert all("/bp=p" in f for f in bands.inputFiles())
    n_all = old.count() + delta.count()
    assert bands.select("vec_id").distinct().count() == n_all
    # bit-prefix alphabet: exactly the 2^2 sentinel'd values
    bps = {r.bp for r in bands.select("bp").distinct().collect()}
    assert bps <= {"p00", "p01", "p10", "p11"}


def test_load_names_missing_meta(spark, tmp_path):
    """Loading a path with no readable meta raises the NAMED error,
    not a raw AnalysisException (r13 review: the raw error sent an
    operator chasing a path typo during the exact torn-write incident
    the curation jobs' serving refusal points at this recipe for)."""
    import pytest

    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        load_dedup_index,
        load_vec_dedup_index,
    )

    with pytest.raises(ValueError, match="no readable meta"):
        load_dedup_index(spark, str(tmp_path / "nope"))
    # an existing-but-meta-less dir (torn write shape) gets the same
    # named error
    (tmp_path / "torn" / "bands").mkdir(parents=True)
    with pytest.raises(ValueError, match="no readable meta"):
        load_vec_dedup_index(spark, str(tmp_path / "torn"))
