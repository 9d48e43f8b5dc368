"""Serving-layout (pointer-indirection) index: zero-downtime compaction.

The flat layout's ``compact_index`` swaps directories in place, so a
search PLANNED before the swap holds file paths the swap deletes
(FileNotFound) and one planned in the commit-marker dark window fails
the marker check. The serving layout removes both: artifacts live
under ``path/gen-<id>/``, readers resolve a tiny ``CURRENT`` pointer
at plan time, and compaction writes a new generation and swaps the
pointer — old-generation files survive until the next compaction.

These tests pin the contract the round-7 verdict asked for: a search
planned BEFORE the swap still collects successfully AFTER it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pricenow_to_leukerbadb_spark.fs import (
    fs_exists,
    fs_list_names,
    fs_mtime,
    fs_read_text,
)
from etl_pricenow_to_leukerbadb_spark.operators.ann_index import (
    _GEN_RE,
    append_to_pq_index,
    build_pq_index,
    compact_index_serving,
    fsck_index,
    migrate_index_to_serving,
    search_pq_index,
)
from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

PARAMS = dict(n_subspaces=4, sub_dim=16, n_codes=8)


@pytest.fixture(scope="module")
def corpus(spark, sf_small):
    return load_table(spark, sf_small, "embeddings")


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.filter(F.col("vec_id") < 3)


def _build_fragmented(spark, corpus, path: str) -> None:
    """A flat index whose code table is deliberately many small files
    (the post-streaming-ingest shape compaction exists for). AQE's
    partition coalescing would fold the repartition back to one file,
    so it is suspended for the build only."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        build_pq_index(corpus.repartition(24), path, **PARAMS)
    finally:
        spark.conf.set(key, prev)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_migrate_preserves_search_and_moves_artifacts(
    spark, corpus, queries, tmp_path
):
    path = str(tmp_path / "idx")
    _build_fragmented(spark, corpus, path)
    before = _rows(search_pq_index(spark, path, queries, corpus, k=5))
    gen_path = migrate_index_to_serving(spark, path)
    # pointer written, artifacts moved under the generation dir
    cur = fs_read_text(spark, f"{path}/CURRENT")
    assert cur is not None and _GEN_RE.match(cur.strip())
    assert gen_path.endswith(cur.strip())
    assert fs_exists(spark, f"{gen_path}/codes")
    assert not fs_exists(spark, f"{path}/codes")
    # searches resolve the pointer transparently and are unchanged
    assert _rows(search_pq_index(spark, path, queries, corpus, k=5)) == before
    # migrating twice is refused (idempotence is for CRASHED runs)
    with pytest.raises(ValueError, match="already in the serving layout"):
        migrate_index_to_serving(spark, path)


def test_search_planned_before_swap_survives_compaction(
    spark, corpus, queries, tmp_path
):
    path = str(tmp_path / "idx")
    _build_fragmented(spark, corpus, path)
    migrate_index_to_serving(spark, path)
    # PLAN the search first: read.parquet snapshots the file listing,
    # so under the flat compaction these exact files would be deleted
    # before the collect
    planned = search_pq_index(spark, path, queries, corpus, k=5)
    report = compact_index_serving(spark, path)
    assert report["codes"]["files_after"] < report["codes"]["files_before"]
    # the pre-swap plan still reads its own (old-generation) files
    pre_swap_rows = _rows(planned)
    # and a fresh plan reads the new generation — identical results
    assert _rows(search_pq_index(spark, path, queries, corpus, k=5)) == pre_swap_rows
    # previous generation retained for in-flight readers (grace)
    gens = [n for n in fs_list_names(spark, path) if _GEN_RE.match(n)]
    assert len(gens) == 2
    assert report["generation"]["previous"] in gens
    assert report["generation"]["current"] in gens
    # the NEXT compaction sweeps it
    report2 = compact_index_serving(spark, path)
    gens2 = [n for n in fs_list_names(spark, path) if _GEN_RE.match(n)]
    assert sorted(gens2) == sorted(
        [report2["generation"]["previous"], report2["generation"]["current"]]
    )


def test_crash_before_pointer_swap_leaves_old_generation_live(
    spark, corpus, queries, tmp_path, monkeypatch
):
    path = str(tmp_path / "idx")
    _build_fragmented(spark, corpus, path)
    migrate_index_to_serving(spark, path)
    before = _rows(search_pq_index(spark, path, queries, corpus, k=5))
    old_cur = fs_read_text(spark, f"{path}/CURRENT").strip()

    import etl_pricenow_to_leukerbadb_spark.operators.serving as sv

    def boom(spark_, p, gen):
        raise RuntimeError("injected crash before pointer swap")

    monkeypatch.setattr(sv, "write_current_pointer", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_index_serving(spark, path)
    monkeypatch.undo()
    # pointer untouched -> searches unaffected by the crashed run
    assert fs_read_text(spark, f"{path}/CURRENT").strip() == old_cur
    assert _rows(search_pq_index(spark, path, queries, corpus, k=5)) == before
    # orphaned partial generation exists now, swept by the next success
    orphans = [
        n
        for n in fs_list_names(spark, path)
        if _GEN_RE.match(n) and n != old_cur
    ]
    assert len(orphans) == 1
    report = compact_index_serving(spark, path)
    gens = [n for n in fs_list_names(spark, path) if _GEN_RE.match(n)]
    assert orphans[0] not in gens
    assert sorted(gens) == sorted(
        [report["generation"]["previous"], report["generation"]["current"]]
    )


def test_append_and_fsck_resolve_the_pointer(spark, corpus, queries, tmp_path):
    path = str(tmp_path / "idx")
    dim = PARAMS["n_subspaces"] * PARAMS["sub_dim"]
    # threshold split: the id-seeded codebook needs ids 0..n_codes-1
    # present in the BASE corpus
    base = corpus.filter(F.col("vec_id") < 40)
    delta = corpus.filter(F.col("vec_id") >= 40)
    build_pq_index(base, path, **PARAMS)
    gen_path = migrate_index_to_serving(spark, path)
    append_to_pq_index(delta, path)
    # the delta landed inside the CURRENT generation, not the root
    assert not fs_exists(spark, f"{path}/codes")
    n_ids = (
        spark.read.parquet(f"{gen_path}/codes").select("vec_id").distinct().count()
    )
    assert n_ids == corpus.count()
    # fsck resolves the pointer and sees a healthy index
    report = fsck_index(spark, path)
    assert report["n_ids"] == n_ids and not report["partial_code_ids"]
    # a compaction after the append keeps every appended id searchable
    compact_index_serving(spark, path)
    got = _rows(search_pq_index(spark, path, queries, corpus, k=5))
    full = str(tmp_path / "full")
    build_pq_index(corpus, full, **PARAMS)
    assert got == _rows(search_pq_index(spark, full, queries, corpus, k=5))
    assert dim == 64  # geometry sanity for the fixture corpus


def test_dedup_index_serving_probe_survives_compaction(spark, sf_small, tmp_path):
    """The bucket dedup indexes share the pointer-indirection layout:
    a probe planned before the compaction swap still collects, and the
    new generation answers identically."""
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_dedup_index,
        compact_dedup_index_serving,
        migrate_dedup_index_to_serving,
        query_dedup_candidates,
    )

    docs = load_table(spark, sf_small, "documents")
    old = docs.filter(F.col("doc_id") < 400)
    probe = docs.filter(F.col("doc_id") >= 400).select("doc_id", "text")
    path = str(tmp_path / "ddx")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        build_dedup_index(
            old.repartition(16), path, k_shingle=3, n_hashes=8, bands=4
        )
    finally:
        spark.conf.set(key, prev)
    migrate_index_path = migrate_dedup_index_to_serving(spark, path)
    assert fs_exists(spark, f"{migrate_index_path}/bands")
    planned = query_dedup_candidates(spark, path, probe)
    report = compact_dedup_index_serving(spark, path)
    assert report["bands"]["files_after"] < report["bands"]["files_before"]
    pre_swap = _rows(planned)
    assert _rows(query_dedup_candidates(spark, path, probe)) == pre_swap
    gens = [n for n in fs_list_names(spark, path) if _GEN_RE.match(n)]
    assert sorted(gens) == sorted(
        [report["generation"]["previous"], report["generation"]["current"]]
    )


def test_gc_serving_root_sweeps_debris_keeps_grace(
    spark, corpus, queries, tmp_path
):
    """--gc's contract: aged debris and orphans are deleted, the
    CURRENT generation and the one-generation reader grace are never
    touched, fresh (possibly mid-staging) dirs survive the age gate,
    and a live ingest claim refuses the sweep outright."""
    import os
    import shutil
    import time as _t

    from etl_pricenow_to_leukerbadb_spark.operators.ann_index import (
        claim_index_for_ingest,
        gc_serving_root,
        release_index_ingest_claim,
    )

    path = str(tmp_path / "idx")
    _build_fragmented(spark, corpus, path)
    migrate_index_to_serving(spark, path)
    report = compact_index_serving(spark, path)
    cur = report["generation"]["current"]
    grace = report["generation"]["previous"]

    # fabricate an AGED debris generation (older than current's mtime)
    # and a FRESH orphan (newer — the crashed-compaction shape)
    debris, orphan = "gen-" + "d" * 12, "gen-" + "a" * 12
    shutil.copytree(f"{path}/{grace}", f"{path}/{debris}")
    old = _t.time() - 7200
    os.utime(f"{path}/{debris}", (old, old))
    shutil.copytree(f"{path}/{cur}", f"{path}/{orphan}")
    # copytree preserves the source's mtime — anchor the orphan's at
    # CURRENT's + 1 s so it classifies as newer (the crashed-compaction
    # shape) regardless of how fast the test got here. A full SECOND,
    # not less: a 1 ms margin was observed collapsing under the local
    # filesystem's mtime granularity (the orphan then classified OLDER
    # and usurped the grace slot); the future-dating race this opens
    # against the age-0 sweep is closed deterministically below.
    from etl_pricenow_to_leukerbadb_spark.fs import fs_mtime

    new = fs_mtime(spark, f"{path}/{cur}") / 1000 + 1
    os.utime(f"{path}/{orphan}", (new, new))

    before = _rows(search_pq_index(spark, path, queries, corpus, k=5))

    # a live claim refuses the sweep (single-writer like every
    # maintenance op); force is the documented bypass and is REPORTED
    live_token = claim_index_for_ingest(spark, path, "job-live")
    with pytest.raises(RuntimeError, match="claimed by a live ingest"):
        gc_serving_root(spark, path, min_age_sec=0)
    forced = gc_serving_root(spark, path, min_age_sec=10**9, force=True)
    assert forced["bypassed_claim"].startswith("job-live")
    assert forced["deleted"] == []  # age gate still holds under force
    release_index_ingest_claim(spark, path, live_token)

    # default age gate: aged debris swept, fresh orphan retained
    out = gc_serving_root(spark, path, min_age_sec=3600)
    assert out["deleted"] == [debris], out
    assert out["retained_young"] == [orphan], out
    assert out["kept_current"] == cur and out["kept_grace"] == grace, out

    # age gate lowered: the orphan goes too; current + grace survive.
    # One full-suite run (r13) saw this sweep retain the orphan with
    # deleted == []: the orphan is future-dated (cur + 1 s) and the
    # fully-warm run reached this sweep inside that second, so the
    # fs-clock age gate saw a NEGATIVE age and correctly retained it.
    # Close the race deterministically: wait until the filesystem's
    # own clock passes the orphan's mtime (bounded by the 1 s anchor),
    # and carry the clock reference in the failure payload so any
    # recurrence distinguishes a classification flip from an age-gate
    # miss.
    from etl_pricenow_to_leukerbadb_spark.operators.serving import (
        fs_now_ms,
    )

    orphan_m = fs_mtime(spark, f"{path}/{orphan}")
    while fs_now_ms(spark, path) <= orphan_m:
        _t.sleep(0.05)
    mtimes = {
        n: fs_mtime(spark, f"{path}/{n}")
        for n in fs_list_names(spark, path)
        if _GEN_RE.match(n)
    }
    mtimes["__fs_now_ms__"] = fs_now_ms(spark, path)
    out = gc_serving_root(spark, path, min_age_sec=0)
    assert out["deleted"] == [orphan], (out, mtimes)
    gens = sorted(n for n in fs_list_names(spark, path) if _GEN_RE.match(n))
    assert gens == sorted([cur, grace])
    assert fs_read_text(spark, f"{path}/CURRENT").strip() == cur
    assert _rows(search_pq_index(spark, path, queries, corpus, k=5)) == before

    # flat layouts have no generations to sweep — loud, not silent
    flat = str(tmp_path / "flat")
    build_pq_index(corpus, flat, **PARAMS)
    with pytest.raises(ValueError, match="not a serving-layout root"):
        gc_serving_root(spark, flat)


def test_gc_ages_against_the_filesystem_clock_not_the_driver(
    spark, corpus, tmp_path, monkeypatch
):
    """The ADVICE r10 item: gc must derive 'now' from the store's own
    clock (probe-file mtime), not the driver wall clock — on HDFS/S3 a
    driver/store skew silently shrinks the min_age_sec margin that
    protects a concurrently-staging compaction. Proven by skewing the
    driver clock a full day each way: the sweep decision is
    unchanged, because time.time() is no longer consulted."""
    import os
    import shutil
    import time as _t

    from etl_pricenow_to_leukerbadb_spark.operators import ann_index as ai
    from etl_pricenow_to_leukerbadb_spark.operators import serving as sv

    path = str(tmp_path / "idx")
    _build_fragmented(spark, corpus, path)
    migrate_index_to_serving(spark, path)
    report = compact_index_serving(spark, path)
    grace = report["generation"]["previous"]
    # a FRESH orphan (newer than CURRENT — the mid-staging shape the
    # age gate exists to protect)
    orphan = "gen-" + "f" * 12
    shutil.copytree(f"{path}/{grace}", f"{path}/{orphan}")
    fresh = fs_mtime(spark, f"{path}/{report['generation']['current']}") / 1000 + 1
    os.utime(f"{path}/{orphan}", (fresh, fresh))

    # driver clock a day in the FUTURE: a wall-clock gc would see the
    # fresh dir as ancient and sweep a possibly-mid-staging build
    real_time = _t.time
    # gc now lives in operators/serving.py; patch the clock THERE (and
    # the old ann_index seam no longer even imports time — the re-export
    # IS the serving function)
    monkeypatch.setattr(sv.time, "time", lambda: real_time() + 86400)
    out = ai.gc_serving_root(spark, path, min_age_sec=3600)
    assert out["deleted"] == [] and out["retained_young"] == [orphan]

    # driver clock a day in the PAST: a wall-clock gc would never age
    # anything out; the fs-clock sweep still collects genuinely old
    # dirs (now aged past the gate, it reclassifies as debris)
    monkeypatch.setattr(sv.time, "time", lambda: real_time() - 86400)
    old = real_time() - 7200
    os.utime(f"{path}/{orphan}", (old, old))
    out = ai.gc_serving_root(spark, path, min_age_sec=3600)
    assert out["deleted"] == [orphan]


def test_gc_works_on_dedup_serving_roots(spark, sf_small, tmp_path):
    """gc_serving_root claims to sweep ANY serving-layout root — the
    generation layout is shared across index kinds. Proven on a text
    near-dup index: aged debris swept, grace + CURRENT retained,
    probes unchanged."""
    import os
    import shutil
    import time as _t

    from etl_pricenow_to_leukerbadb_spark.operators.ann_index import (
        gc_serving_root,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_dedup_index,
        compact_dedup_index_serving,
        migrate_dedup_index_to_serving,
        query_dedup_candidates,
    )

    docs = load_table(spark, sf_small, "documents")
    old = docs.filter(F.col("doc_id") < 400)
    probe = docs.filter(F.col("doc_id") >= 400).select("doc_id", "text")
    path = str(tmp_path / "ddx")
    build_dedup_index(old, path, k_shingle=3, n_hashes=8, bands=4)
    migrate_dedup_index_to_serving(spark, path)
    report = compact_dedup_index_serving(spark, path)
    cur = report["generation"]["current"]
    grace = report["generation"]["previous"]
    debris = "gen-" + "e" * 12
    shutil.copytree(f"{path}/{grace}", f"{path}/{debris}")
    aged = _t.time() - 7200
    os.utime(f"{path}/{debris}", (aged, aged))
    before = _rows(query_dedup_candidates(spark, path, probe))
    out = gc_serving_root(spark, path)
    assert out["deleted"] == [debris]
    assert out["kept_current"] == cur and out["kept_grace"] == grace
    assert _rows(query_dedup_candidates(spark, path, probe)) == before
