"""Single-writer tripwires: ingest claims vs compaction/migration.

The maintenance contract ("no compaction concurrent with an ingest")
used to fail SILENTLY when violated: a serving compaction racing a
streaming ingest sweeps the ingest's generation — epoch markers and
appended data gone while the stream's checkpoint has already advanced,
i.e. permanent invisible data loss. These tests pin the loud version:

- ingest jobs hold an exclusive ``.INGEST_ACTIVE`` claim at the
  LOGICAL index root for their lifetime (released even on failure);
- compaction (both layouts, both index families) and migration refuse
  while the claim exists, ``force=True`` overriding a stale claim;
- ``assert_generation_stable`` (each batch calls it after its commit
  marker lands) raises once the serving pointer moves, so a mid-ingest
  swap fails the batch instead of committing into a dead generation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pricenow_to_leukerbadb_spark.fs import fs_exists
from etl_pricenow_to_leukerbadb_spark.operators.ann_index import (
    _resolve_index_root,
    assert_generation_stable,
    build_pq_index,
    claim_index_for_ingest,
    compact_index,
    compact_index_serving,
    migrate_index_to_serving,
    release_index_ingest_claim,
)
from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

PARAMS = dict(n_subspaces=4, sub_dim=16, n_codes=8)


@pytest.fixture(scope="module")
def corpus(spark, sf_small):
    return load_table(spark, sf_small, "embeddings")


def test_claim_is_exclusive_and_releasable(spark, tmp_path):
    path = str(tmp_path / "idx")
    claim_index_for_ingest(spark, path, "job-a")
    with pytest.raises(RuntimeError, match="already claimed.*job-a"):
        claim_index_for_ingest(spark, path, "job-b")
    release_index_ingest_claim(spark, path)
    claim_index_for_ingest(spark, path, "job-b")  # free again
    release_index_ingest_claim(spark, path)


def test_compaction_and_migration_refuse_under_claim(spark, corpus, tmp_path):
    path = str(tmp_path / "idx")
    build_pq_index(corpus, path, **PARAMS)
    claim_index_for_ingest(spark, path, "live-ingest")
    try:
        with pytest.raises(RuntimeError, match="claimed by a live ingest"):
            migrate_index_to_serving(spark, path)
        with pytest.raises(RuntimeError, match="claimed by a live ingest"):
            compact_index(spark, path)
    finally:
        release_index_ingest_claim(spark, path)
    migrate_index_to_serving(spark, path)
    claim_index_for_ingest(spark, path, "live-ingest")
    try:
        with pytest.raises(RuntimeError, match="claimed by a live ingest"):
            compact_index_serving(spark, path)
        # stale-claim recovery after a hard-killed job: force proceeds
        # AND releases the corpse marker, so the next legitimate ingest
        # can claim without manual cleanup
        compact_index_serving(spark, path, force=True)
        assert not fs_exists(spark, f"{path}/.INGEST_ACTIVE")
        claim_index_for_ingest(spark, path, "next-job")
    finally:
        release_index_ingest_claim(spark, path)


def test_generation_stability_tripwire(spark, corpus, tmp_path):
    path = str(tmp_path / "idx")
    build_pq_index(corpus, path, **PARAMS)
    # flat layout: the root is its own fixed point, check is a no-op
    root = _resolve_index_root(spark, path)
    assert_generation_stable(spark, path, root)
    migrate_index_to_serving(spark, path)
    root = _resolve_index_root(spark, path)
    assert_generation_stable(spark, path, root)  # still live
    compact_index_serving(spark, path)  # swaps the pointer
    with pytest.raises(RuntimeError, match="generation changed mid-ingest"):
        assert_generation_stable(spark, path, root)


def test_serving_compaction_aborts_on_late_appends(spark, corpus, tmp_path):
    """The pre-swap guard: data files added to the live generation
    after the compaction snapshot (an ingest that slipped past the
    entry check) abort the swap, leaving the live generation current
    and the new one orphaned — instead of sweeping the late appends."""
    from etl_pricenow_to_leukerbadb_spark.fs import fs_read_text
    from etl_pricenow_to_leukerbadb_spark.operators.ann_index import (
        _assert_no_late_writers,
        _resolve_index_root,
        append_to_pq_index,
    )

    path = str(tmp_path / "idx")
    build_pq_index(corpus.filter(F.col("vec_id") < 400), path, **PARAMS)
    migrate_index_to_serving(spark, path)
    cur = _resolve_index_root(spark, path)
    # simulate: compaction snapshotted, then an ingest appended
    snapshot = {
        "codes": {
            "files_before": len(
                spark.read.parquet(f"{cur}/codes").inputFiles()
            )
        }
    }
    append_to_pq_index(corpus.filter(F.col("vec_id") >= 400), path)
    before = fs_read_text(spark, f"{path}/CURRENT")
    with pytest.raises(RuntimeError, match="gained files since"):
        _assert_no_late_writers(spark, cur, snapshot, "test")
    assert fs_read_text(spark, f"{path}/CURRENT") == before  # still live

    # a claim that APPEARED after compaction entry also aborts the
    # swap, even before any files land; the claim a forced run
    # bypassed at entry (same content) is tolerated
    claim_index_for_ingest(spark, path, "midway-job")
    try:
        entry = fs_read_text(spark, f"{path}/.INGEST_ACTIVE")
        with pytest.raises(RuntimeError, match="after this compaction started"):
            _assert_no_late_writers(spark, cur, {}, "test", entry_claim=None)
        _assert_no_late_writers(spark, cur, {}, "test", entry_claim=entry)
    finally:
        release_index_ingest_claim(spark, path)


def test_flat_compaction_force_aborts_on_live_writer(
    spark, corpus, tmp_path, monkeypatch
):
    """The FLAT-layout tripwire: ``compact_index(force=True)`` past a
    claim the operator misjudged as stale must still ABORT when that
    ingest is actually alive. ``assert_generation_stable`` is a no-op
    on flat layouts (the root resolves to itself), so the pre-swap
    re-check — claim unchanged AND no files added since the snapshot —
    is the only late-writer defense the in-place path has. A batch
    committed between the snapshot and the swap is injected by
    wrapping the snapshot-taking rewrite itself."""
    from etl_pricenow_to_leukerbadb_spark.operators import ann_index as ai
    from etl_pricenow_to_leukerbadb_spark.operators import serving as sv

    path = str(tmp_path / "idx")
    build_pq_index(corpus.filter(F.col("vec_id") < 400), path, **PARAMS)
    claim_index_for_ingest(spark, path, "actually-alive-job")

    real = sv.compact_sorted
    state = {"injected": False}

    def inject_then_compact(spark_, src, staging, *a, **kw):
        out = real(spark_, src, staging, *a, **kw)
        if not state["injected"] and src.endswith("/codes"):
            state["injected"] = True
            # the live ingest commits a batch AFTER the snapshot
            ai.append_to_pq_index(
                corpus.filter(F.col("vec_id") >= 400), path
            )
        return out

    monkeypatch.setattr(sv, "compact_sorted", inject_then_compact)
    try:
        with pytest.raises(RuntimeError, match="gained files since"):
            compact_index(spark, path, force=True)
    finally:
        release_index_ingest_claim(spark, path)
    # the live index is untouched: loads cleanly, late batch included
    codes, _, _ = ai.load_pq_index(spark, path)
    assert codes.select("vec_id").distinct().count() == corpus.count()
    # without the live writer, the same forced compaction succeeds
    claim_index_for_ingest(spark, path, "corpse-claim")
    monkeypatch.setattr(sv, "compact_sorted", real)
    report = compact_index(spark, path, force=True)
    assert report["codes"]["rows"] > 0


def test_ingest_jobs_release_claim(spark, corpus, tmp_path):
    """The streaming ingest claims at start and releases in finally —
    afterwards the root carries no ``.INGEST_ACTIVE`` and maintenance
    runs freely."""
    from etl_pricenow_to_leukerbadb_spark.streaming.jobs import (
        stream_index_ingest_job,
    )

    path = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    build_pq_index(corpus.filter(F.col("vec_id") < 400), path, **PARAMS)
    corpus.filter(F.col("vec_id") >= 400).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    ).write.parquet(src)
    stream_index_ingest_job(spark, src, path)
    assert not fs_exists(spark, f"{path}/.INGEST_ACTIVE")
    compact_index(spark, path)  # no claim left behind

    # a second job on the same index is refused while one holds the claim
    claim_index_for_ingest(spark, path, "other")
    try:
        with pytest.raises(RuntimeError, match="already claimed"):
            stream_index_ingest_job(spark, src, path)
    finally:
        release_index_ingest_claim(spark, path)


def test_fsck_reports_root_observations(spark, corpus, tmp_path):
    """fsck surfaces (report-only) a live/stale ingest claim and the
    non-current generations on a serving root, classified against the
    CURRENT generation's mtime: the newest OLDER one is the deliberate
    keep_previous grace, anything NEWER is an orphaned partial build
    (crashed or swap-aborted compaction) — never the other way around,
    so an operator clearing 'debris' can't be steered at the grace
    generation in-flight readers may still hold."""
    import os
    import time

    from etl_pricenow_to_leukerbadb_spark.fs import fs_mkdirs
    from etl_pricenow_to_leukerbadb_spark.operators.ann_index import fsck_index

    path = str(tmp_path / "idx")
    build_pq_index(corpus, path, **PARAMS)
    rep = fsck_index(spark, path)
    assert "ingest_claim" not in rep and "superseded_generation" not in rep
    migrate_index_to_serving(spark, path)
    # a healthy compaction leaves exactly ONE superseded generation —
    # the reader grace, reported under its own key, never as debris
    compact_index_serving(spark, path)
    rep = fsck_index(spark, path)
    assert "generation_debris" not in rep and "orphaned_generations" not in rep
    grace = rep["superseded_generation"]
    claim_index_for_ingest(spark, path, "lingering-job")
    # a pointer-less generation NEWER than current = crash/abort orphan
    # (mtime forced explicitly — coarse-granularity filesystems could
    # otherwise tie it with the compaction's dirs)
    fake_gen = f"{path}/gen-{'0' * 12}"
    fs_mkdirs(spark, fake_gen)
    future = time.time() + 3600
    os.utime(fake_gen, (future, future))
    try:
        rep = fsck_index(spark, path)
        assert rep["ingest_claim"].startswith("lingering-job nonce=")
        assert rep["superseded_generation"] == grace  # unchanged
        assert rep["orphaned_generations"] == ["gen-" + "0" * 12]
        assert "generation_debris" not in rep
    finally:
        release_index_ingest_claim(spark, path)


def test_failed_ingest_still_releases_claim(spark, corpus, tmp_path):
    """A batch failure propagates AND releases the claim (a dead job
    must not block maintenance)."""
    from etl_pricenow_to_leukerbadb_spark.streaming.jobs import (
        stream_index_ingest_job,
    )

    from etl_pricenow_to_leukerbadb_spark.fs import fs_delete

    path = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    build_pq_index(corpus, path, **PARAMS)
    corpus.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    ).write.parquet(src)
    # sever the commit marker: the job's index load fails loudly
    fs_delete(spark, f"{path}/commit")
    with pytest.raises(Exception):
        stream_index_ingest_job(spark, src, path)
    assert not fs_exists(spark, f"{path}/.INGEST_ACTIVE")
