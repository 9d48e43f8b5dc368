"""Scheduler-analog tests: due-slot math, concurrency lock, guarded
runs (the reference's twice-daily cron + concurrency group,
run_pricenow.yml:3-16)."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from etl_pricenow_to_leukerbadb_spark.orchestrate import (
    RunLock,
    is_due,
    next_due,
    run_guarded,
)

UTC = dt.timezone.utc


def test_next_due_slots():
    assert next_due(dt.datetime(2026, 1, 1, 5, 0, tzinfo=UTC)) == dt.datetime(2026, 1, 1, 6, tzinfo=UTC)
    assert next_due(dt.datetime(2026, 1, 1, 6, 0, tzinfo=UTC)) == dt.datetime(2026, 1, 1, 14, tzinfo=UTC)
    # after the last slot of the day -> tomorrow's first
    assert next_due(dt.datetime(2026, 1, 1, 20, 0, tzinfo=UTC)) == dt.datetime(2026, 1, 2, 6, tzinfo=UTC)


def test_is_due_semantics():
    ran_at = dt.datetime(2026, 1, 1, 6, 30, tzinfo=UTC)
    assert is_due(dt.datetime(2026, 1, 1, 7, 0, tzinfo=UTC), None)  # never ran
    assert not is_due(dt.datetime(2026, 1, 1, 13, 59, tzinfo=UTC), ran_at)
    assert is_due(dt.datetime(2026, 1, 1, 14, 0, tzinfo=UTC), ran_at)
    # two missed slots collapse into one due run
    assert is_due(dt.datetime(2026, 1, 3, 9, 0, tzinfo=UTC), ran_at)


def test_run_lock_excludes_and_takes_over_stale(tmp_path):
    lock = RunLock(str(tmp_path / "l.lock"), stale_after_s=600)
    now = dt.datetime(2026, 1, 1, 6, 0, tzinfo=UTC)
    assert lock.acquire(now)
    assert not RunLock(str(tmp_path / "l.lock"), stale_after_s=600).acquire(
        now + dt.timedelta(minutes=5)
    )  # held and fresh
    assert RunLock(str(tmp_path / "l.lock"), stale_after_s=600).acquire(
        now + dt.timedelta(minutes=11)
    )  # stale -> takeover


def test_run_lock_stale_takeover_race_is_contention(tmp_path, monkeypatch):
    """Two contenders observing the same stale lock: the loser's rename
    hits FileNotFoundError and must resolve as contention (False when
    the winner's fresh lock exists), never propagate."""
    import os as _os

    path = str(tmp_path / "l.lock")
    now = dt.datetime(2026, 1, 1, 6, 0, tzinfo=UTC)
    stale_holder = RunLock(path, stale_after_s=600)
    assert stale_holder.acquire(now)  # becomes stale below

    loser = RunLock(path, stale_after_s=600)
    real_rename = _os.rename
    intervened = []

    def winner_steals_first(src, dst):
        # simulate the interleaving once: the winner takes over and
        # re-acquires between the loser's stat and its claim-rename, so
        # the loser's rename grabs the winner's FRESH lock
        if not intervened:
            intervened.append(1)
            real_rename(src, src + ".won")
            _os.unlink(src + ".won")
            assert RunLock(path, stale_after_s=600).acquire(
                now + dt.timedelta(minutes=11)
            )
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", winner_steals_first)
    got = loser.acquire(now + dt.timedelta(minutes=11))
    monkeypatch.undo()
    assert got is False  # winner holds a fresh lock; loser backed off
    assert _os.path.exists(path)  # ...and the fresh lock was given back
    # a third contender still sees the winner's live lock
    assert not RunLock(path, stale_after_s=600).acquire(
        now + dt.timedelta(minutes=12)
    )


def test_run_guarded_schedule_lock_and_stamp(tmp_path):
    state = str(tmp_path / "state")
    calls = []
    t0 = dt.datetime(2026, 1, 1, 6, 5, tzinfo=UTC)

    out = run_guarded(lambda: calls.append(1) or "ok", state, now=t0)
    assert out == {"ran": True, "result": "ok"} and calls == [1]
    # same slot again: not due
    out2 = run_guarded(lambda: calls.append(2), state, now=t0 + dt.timedelta(minutes=10))
    assert out2["ran"] is False and out2["reason"] == "not_due" and calls == [1]
    # forced manual dispatch runs anyway
    out3 = run_guarded(lambda: calls.append(3) or "ok", state, now=t0 + dt.timedelta(minutes=10), force=True)
    assert out3["ran"] is True and calls == [1, 3]
    # concurrent FRESH holder -> skip, not cancel (a stale one would be
    # taken over, per the timeout semantics)
    RunLock(str(tmp_path / "state" / "run.lock")).acquire(
        t0 + dt.timedelta(hours=8, minutes=55)
    )
    out4 = run_guarded(lambda: calls.append(4), state, now=t0 + dt.timedelta(hours=9))
    assert out4 == {"ran": False, "reason": "already_running"} and calls == [1, 3]
    # a failing job must release the lock and not stamp success
    RunLock(str(tmp_path / "state" / "run.lock")).release()
    stamp = json.load(open(tmp_path / "state" / "last_success.json"))
    try:
        run_guarded(lambda: 1 / 0, state, now=t0 + dt.timedelta(days=1))
    except ZeroDivisionError:
        pass
    assert json.load(open(tmp_path / "state" / "last_success.json")) == stamp
    assert run_guarded(lambda: "after-fail", state, now=t0 + dt.timedelta(days=1))["ran"] is True


def test_run_lock_give_back_does_not_clobber_third_contender(tmp_path, monkeypatch):
    """If a third contender acquires while the loser holds the stolen
    fresh lock under its takeover name, the give-back must NOT replace
    the third contender's lock (two-holder violation); link() fails
    closed where rename() would clobber."""
    import os as _os

    path = str(tmp_path / "l.lock")
    now = dt.datetime(2026, 1, 1, 6, 0, tzinfo=UTC)
    assert RunLock(path, stale_after_s=600).acquire(now)  # goes stale below

    loser = RunLock(path, stale_after_s=600)
    real_rename, real_link = _os.rename, _os.link
    staged = []

    def winner_steals_first(src, dst):
        # winner takes over the stale lock and re-acquires fresh, so the
        # loser's claim-rename grabs the winner's FRESH lock
        if not staged:
            staged.append("rename")
            real_rename(src, src + ".won")
            _os.unlink(src + ".won")
            assert RunLock(path, stale_after_s=600).acquire(
                now + dt.timedelta(minutes=11)
            )
        return real_rename(src, dst)

    def third_sneaks_in(src, dst):
        # between the loser's rename-away and its give-back, a third
        # contender sees no lock file and acquires
        if "link" not in staged:
            staged.append("link")
            assert RunLock(path, stale_after_s=600).acquire(
                now + dt.timedelta(minutes=12)
            )
        return real_link(src, dst)

    monkeypatch.setattr(_os, "rename", winner_steals_first)
    monkeypatch.setattr(_os, "link", third_sneaks_in)
    got = loser.acquire(now + dt.timedelta(minutes=11))
    monkeypatch.undo()
    assert got is False
    # the surviving lock is the THIRD contender's (minute 12), untouched
    held = json.load(open(path))
    assert held["acquired_at"] == (now + dt.timedelta(minutes=12)).isoformat()
    # and no takeover temp file leaked
    assert _os.listdir(tmp_path) == ["l.lock"]


def test_run_lock_release_by_non_owner_is_noop(tmp_path):
    """release() must not unlink a lock held by another process — a
    holder whose lock was stolen-as-stale would otherwise break the new
    holder's mutual exclusion on its way out."""
    import os as _os

    path = str(tmp_path / "l.lock")
    now = dt.datetime(2026, 1, 1, 6, 0, tzinfo=UTC)
    other = RunLock(path, stale_after_s=600)
    assert other.acquire(now)
    # rewrite the lock as if owned by a different pid
    with open(path, "w") as fh:
        json.dump({"pid": _os.getpid() + 99999, "acquired_at": now.isoformat()}, fh)
    RunLock(path, stale_after_s=600).release()
    assert _os.path.exists(path)  # foreign lock untouched
    # an unreadable lock FAILS CLOSED on release: it is not provably
    # ours, and unlinking a live contender's mid-takeover lock would
    # admit a third holder. Recovery belongs to acquire(), whose
    # rename-based stale takeover handles corrupt locks without ever
    # bare-unlinking a fresh one.
    with open(path, "w") as fh:
        fh.write("not json")
    RunLock(path, stale_after_s=600).release()
    assert _os.path.exists(path)
    # ...and the next acquire() still recovers the corrupt lock
    assert RunLock(path, stale_after_s=600).acquire(now)


def test_curate_corpus_daily_end_to_end_and_idempotent(spark, sf_small, tmp_path):
    """The composed persisted daily-curation job (r10 verdict ask #4):
    quality gate → PII scrub → index ingest + cluster merge (under the
    writer claim) → canonical keep table → staleness-gated snapshot,
    one call, per-stage audit counts — and a re-run of the SAME delta
    is a no-op end to end (verified replay through the index, merge
    contracts to self-edges, snapshot skip)."""
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.orchestrate import curate_corpus_daily
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    day1 = docs.filter(F.col("doc_id") % 3 == 0)
    idx = str(tmp_path / "idx")
    cl = str(tmp_path / "cl")
    snap = str(tmp_path / "snap")

    a1 = curate_corpus_daily(day1, idx, cl, snap)
    # stage 1: the gate saw every delta doc and its per-rule counts
    # reconcile with the total
    n_day1 = day1.count()
    assert a1["quality"]["docs_in"] == n_day1
    assert a1["quality"]["kept"] + a1["quality"]["dropped"] == n_day1
    assert a1["quality"]["kept"] > 0
    for rule, n in a1["quality"]["dropped_by_rule"].items():
        assert n <= a1["quality"]["dropped"], rule
    # stage 3: first run builds; the clustering holds only PAIR
    # ENDPOINTS (singletons resolve by coalesce at read time — the
    # 100 TB-friendly contract: base size tracks the dup graph, not
    # the corpus), so new_nodes is bounded by kept, equals the
    # distinct endpoints of the probed pairs, and pairs > 0 on this
    # corpus slice
    assert a1["index"] == {"built": True, "appended": True}
    assert a1.get("clusters_initialized")
    assert 0 < a1["pairs"]
    assert 0 < a1["merge"]["new_nodes"] <= a1["quality"]["kept"]
    # stage 4: the keep table covers EVERY kept doc (singletons are
    # their own component)
    assert a1["keep"]["docs_covered"] == a1["quality"]["kept"]
    assert 0 < a1["keep"]["components"] <= a1["quality"]["kept"]
    # stage 5: first snapshot always publishes, capturing the base
    # (started empty, so rows == the merge's new nodes)
    assert a1["snapshot"]["published"]
    assert a1["snapshot"]["n_rows"] == a1["merge"]["new_nodes"]
    gen1 = a1["snapshot"]["generation"]

    # day 2: a fresh delta appends rather than builds, and the
    # snapshot republishes because the clustering moved
    day2 = docs.filter(F.col("doc_id") % 3 == 1)
    a2 = curate_corpus_daily(day2, idx, cl, snap)
    assert a2["index"] == {"built": False, "appended": True}
    assert "clusters_initialized" not in a2
    assert a2["merge"]["new_nodes"] <= a2["quality"]["kept"]
    # the clustering moved iff the delta brought new endpoints; the
    # snapshot publishes exactly then (merges never drop base rows)
    moved = a2["merge"]["new_nodes"] > 0
    assert a2["snapshot"]["published"] == moved
    assert (a2["snapshot"]["generation"] != gen1) == moved
    assert (
        a2["snapshot"]["n_rows"]
        == a1["snapshot"]["n_rows"] + a2["merge"]["new_nodes"]
    )

    # idempotency: replaying day 2 verbatim is a no-op — the append
    # guard routes through the verified-replay fallback, the merge
    # adds nothing, the snapshot skips (and keeps its generation)
    stage_sec: dict[str, float] = {}
    a3 = curate_corpus_daily(day2, idx, cl, snap, stage_timings=stage_sec)
    assert set(stage_sec) == {
        "quality_gate",
        "pii_scrub",
        "index_ingest",
        "probe_merge",
        "keep_table",
        "snapshot",
    }
    assert all(v >= 0 for v in stage_sec.values())
    assert a3["index"] == {"built": False, "appended": False}
    assert a3["merge"]["new_nodes"] == 0
    assert a3["merge"]["merged_labels"] == 0
    assert not a3["snapshot"]["published"]
    assert a3["snapshot"]["generation"] == a2["snapshot"]["generation"]
    assert a3["snapshot"]["n_rows"] == a2["snapshot"]["n_rows"]
    # audit counts for the replayed delta match the original run
    assert a3["quality"] == a2["quality"]
    assert a3["pii"] == a2["pii"]
    assert a3["pairs"] == a2["pairs"]


def test_curate_corpus_daily_heals_gaps_and_refuses_torn_appends(
    spark, sf_small, tmp_path
):
    """The overlap fallback's two arms (the r11 review finding: the
    old refuse-everything recipe was a dead end — fsck pruned partial
    ids to zero rows, and the retry wedged on the same error forever):

    - a mixed delta whose non-indexed ids have ZERO band rows (daily
      exports overlapping yesterday's, or a post-fsck retry) is
      SELF-HEALED — only the missing ids are appended, the replayed
      ids probe-only;
    - ids with a TORN band set (a crashed append left 1..bands-1 of
      their rows) still refuse with the fsck recipe, because
      re-appending them would duplicate bucket rows — and after
      fsck_dedup_index(repair=True) the retry takes the healing arm
      and completes."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.orchestrate import curate_corpus_daily
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    day1 = docs.filter(F.col("doc_id") < 40)
    idx = str(tmp_path / "idx")
    cl = str(tmp_path / "cl")
    snap = str(tmp_path / "snap")
    a1 = curate_corpus_daily(day1, idx, cl, snap)

    # arm 1: half-replay, half-new -> healed, not refused
    mixed = docs.filter(F.col("doc_id") < 80)
    a2 = curate_corpus_daily(mixed, idx, cl, snap)
    assert a2["index"] == {"built": False, "appended": True}
    assert a2["healed_ids"] > 0
    assert a2["healed_ids"] < a2["quality"]["kept"]  # replays not re-appended

    # arm 2: tear one id's band set (simulate a crashed append) ->
    # loud refusal naming the fsck recipe
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        fsck_dedup_index,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.serving import (
        resolve_serving_root,
    )

    root = resolve_serving_root(spark, idx)
    bands = spark.read.parquet(f"{root}/bands")
    victim = bands.agg(F.max("doc_id")).collect()[0][0]
    kept_rows = bands.filter(
        (F.col("doc_id") != victim) | (F.col("band") == 0)
    )
    staged = str(tmp_path / "torn_bands")
    kept_rows.write.parquet(staged)
    import shutil

    shutil.rmtree(f"{root}/bands")
    shutil.move(staged, f"{root}/bands")
    with pytest.raises(RuntimeError, match="PARTIALLY appended"):
        curate_corpus_daily(mixed, idx, cl, snap)

    # the recipe WORKS: repair prunes the torn id to zero rows, and
    # the retry self-heals it through arm 1 and completes
    fsck_dedup_index(spark, idx, repair=True)
    a3 = curate_corpus_daily(mixed, idx, cl, snap)
    assert a3["healed_ids"] == 1  # exactly the pruned victim
    assert a3["index"]["appended"]


def test_streaming_curation_twin_matches_batch_curation(
    spark, sf_small, tmp_path
):
    """``stream_curation_job`` (the streaming twin of
    ``curate_corpus_daily``) must leave the index, the clustering, and
    the published snapshot IDENTICAL to running the batch job over the
    same waves: the gate and scrub are deterministic expressions and
    the ingest/merge path below them is shared, so streamed and
    batched curation are the same computation. Also pins the
    empty-after-gate batch: a wave of all-garbage docs commits its
    epoch as a no-op and changes nothing."""
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.operators.cluster_index import (
        read_cluster_snapshot,
        resolve_cluster_assignments,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.serving import (
        resolve_serving_root,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import curate_corpus_daily
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table
    from etl_pricenow_to_leukerbadb_spark.streaming.jobs import (
        stream_curation_job,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    cut = docs.agg(F.expr("percentile(doc_id, 0.7)")).collect()[0][0]
    mid = docs.agg(F.expr("percentile(doc_id, 0.85)")).collect()[0][0]
    base = docs.filter(F.col("doc_id") <= cut)
    waves = [
        docs.filter((F.col("doc_id") > cut) & (F.col("doc_id") <= mid)),
        docs.filter(F.col("doc_id") > mid),
    ]

    # batch arm: seed + two curate calls
    idx_a, cl_a, snap_a = (
        str(tmp_path / n) for n in ("idx_a", "cl_a", "snap_a")
    )
    curate_corpus_daily(base, idx_a, cl_a, snap_a)
    for w in waves:
        curate_corpus_daily(w, idx_a, cl_a, snap_a)

    # streaming arm: same seed, then the raw waves arrive as parquet
    # files through one checkpointed stream_curation_job lineage
    idx_b, cl_b, snap_b = (
        str(tmp_path / n) for n in ("idx_b", "cl_b", "snap_b")
    )
    curate_corpus_daily(base, idx_b, cl_b, snap_b)
    stream_dir = str(tmp_path / "docs_stream")
    for w in waves:
        w.coalesce(1).write.mode("append").parquet(stream_dir)
        stream_curation_job(
            spark,
            stream_dir,
            idx_b,
            cl_b,
            allow_short=True,
            snapshot_path=snap_b,
            snapshot_rows_threshold=1,
        )

    def resolved(path):
        return {
            (r.node, r.component)
            for r in resolve_cluster_assignments(spark, path).collect()
        }

    assert resolved(cl_b) == resolved(cl_a)
    assert {
        (r.node, r.component)
        for r in read_cluster_snapshot(spark, snap_b).collect()
    } == resolved(cl_a)
    bands = lambda p: {  # noqa: E731
        tuple(r)
        for r in spark.read.parquet(
            f"{resolve_serving_root(spark, p)}/bands"
        ).collect()
    }
    assert bands(idx_b) == bands(idx_a)

    # a wave the gate empties entirely, PLUS the confirmed poison
    # input (r11 review finding #1): a doc that passes the gate on its
    # RAW text but whose PII scrub collapses it below k_shingle tokens
    # ('the <phone>' -> 'the [PHONE]', 2 tokens). Under the old
    # allow_short=False default this doc failed its micro-batch before
    # the epoch marker and every restart replayed it — a permanent
    # wedge; with the twin-matching default it is absorbed as a
    # legitimately unshinglable doc (zero band rows). Either way the
    # stream must drain and index/clustering stay unchanged.
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    garbage = spark.createDataFrame(
        [(int(max_id) + 1 + i, "x y") for i in range(5)]
        + [(int(max_id) + 6, "the +41 79 123 456 789")],
        "doc_id long, text string",
    )
    garbage.coalesce(1).write.mode("append").parquet(stream_dir)
    before = resolved(cl_b)
    stream_curation_job(spark, stream_dir, idx_b, cl_b)
    assert resolved(cl_b) == before
    assert bands(idx_b) == bands(idx_a)


def test_fsck_curation_passes_healthy_and_catches_drift(
    spark, sf_small, tmp_path
):
    """The composed sweep: green on a triple curate_corpus_daily just
    wrote (per-structure fscks + the cross-structure subset
    invariant), loud when the structures drift — here a clustering
    whose nodes reference documents the index never saw (the
    wrong-backup / rebuilt-index shape no per-structure fsck can
    detect, because each structure is internally consistent)."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.operators.cluster_index import (
        build_cluster_assignments,
        snapshot_cluster_assignments,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily,
        fsck_curation,
    )
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    idx = str(tmp_path / "idx")
    cl = str(tmp_path / "cl")
    snap = str(tmp_path / "snap")
    curate_corpus_daily(docs.filter(F.col("doc_id") < 150), idx, cl, snap)
    report = fsck_curation(spark, idx, cl, snap)
    assert report["unindexed_cluster_nodes"] == 0
    assert "index" in report and "clusters" in report and "snapshot" in report

    # drift: replace the clustering with one whose nodes the index
    # never banded (internally consistent — its own fsck passes — but
    # inconsistent with the index)
    foreign = spark.createDataFrame(
        [(10_000_001, 10_000_001), (10_000_002, 10_000_001)],
        "node long, component long",
    )
    build_cluster_assignments(foreign, cl, overwrite=True)
    snapshot_cluster_assignments(spark, cl, snap, min_age_sec=0.0)
    with pytest.raises(RuntimeError, match="not banded ids"):
        fsck_curation(spark, idx, cl, snap)
    report = fsck_curation(spark, idx, cl, snap, strict=False)
    assert report["unindexed_cluster_nodes"] == 2


def test_fsck_cli_curation_mode(spark, sf_small, tmp_path, monkeypatch, capsys):
    """`python -m tools.fsck_index IDX --curation CL SNAP` runs the
    composed sweep and exits 0 on a healthy triple, 1 on drift."""
    import json
    import sys

    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark import session as sess
    from etl_pricenow_to_leukerbadb_spark.operators.cluster_index import (
        build_cluster_assignments,
        snapshot_cluster_assignments,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import curate_corpus_daily
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table
    from tools.fsck_index import main as fsck_main

    class _NoStop:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def stop(self):  # the CLI stops its session; ours is shared
            pass

    monkeypatch.setattr(sess, "get_spark", lambda **kw: _NoStop(spark))

    docs = load_table(spark, sf_small, "documents")
    idx = str(tmp_path / "idx")
    cl = str(tmp_path / "cl")
    snap = str(tmp_path / "snap")
    curate_corpus_daily(docs.filter(F.col("doc_id") < 100), idx, cl, snap)

    monkeypatch.setattr(
        sys, "argv", ["fsck_index", idx, "--curation", cl, snap]
    )
    assert fsck_main() == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["index"] == idx  # the shared envelope: path swept
    report = out["curation"]
    assert report["clean"] and report["unindexed_cluster_nodes"] == 0

    build_cluster_assignments(
        spark.createDataFrame(
            [(20_000_001, 20_000_001)], "node long, component long"
        ),
        cl,
        overwrite=True,
    )
    snapshot_cluster_assignments(spark, cl, snap, min_age_sec=0.0)
    assert fsck_main() == 1
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])[
        "curation"
    ]
    assert not report["clean"] and report["unindexed_cluster_nodes"] == 1


def test_fsck_curation_reports_missing_structures(spark, sf_small, tmp_path):
    """A broken triple is a REPORT, not a stack trace (r11 review
    finding): a first run that crashed before the snapshot published —
    or a typo'd path — must come back as missing=True with clean=False
    in lenient mode, and a named RuntimeError in strict mode."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily,
        fsck_curation,
    )
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    idx = str(tmp_path / "idx")
    cl = str(tmp_path / "cl")
    snap_missing = str(tmp_path / "never_published")
    snap = str(tmp_path / "snap")
    curate_corpus_daily(docs.filter(F.col("doc_id") < 60), idx, cl, snap)

    report = fsck_curation(spark, idx, cl, snap_missing, strict=False)
    assert report["snapshot"] == {"missing": True}
    assert not report["clean"]
    assert report["unindexed_cluster_nodes"] is None
    # the present structures still got their own lenient sweeps
    assert "dup_rows" in report["index"]
    assert "uncommitted" in report["clusters"]
    with pytest.raises(RuntimeError, match="snapshot missing"):
        fsck_curation(spark, idx, cl, snap_missing)

    # all three missing: every structure reported, nothing crashes
    report = fsck_curation(
        spark,
        str(tmp_path / "no_idx"),
        str(tmp_path / "no_cl"),
        snap_missing,
        strict=False,
    )
    assert report["index"] == {"missing": True}
    assert report["clusters"] == {"missing": True}
    assert report["snapshot"] == {"missing": True}
    assert not report["clean"]


def test_fsck_curation_crashed_swap_is_not_missing(spark, sf_small, tmp_path):
    """A serving root with generation dirs but no CURRENT pointer is a
    CRASHED SWAP, not a missing structure (r11 third review pass): the
    missing-probe disambiguates on generation dirs exactly like
    resolve_serving_root, so the structure's OWN fsck names the state
    (current_resolves=False, 'Re-run snapshot_cluster_assignments')
    instead of the missing-recipe ('re-run / fix the path')."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily,
        fsck_curation,
    )
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    idx = str(tmp_path / "idx")
    cl = str(tmp_path / "cl")
    snap = str(tmp_path / "snap")
    curate_corpus_daily(docs.filter(F.col("doc_id") < 60), idx, cl, snap)
    # simulate a crashed pointer swap on the snapshot root
    os.remove(f"{snap}/CURRENT")
    report = fsck_curation(spark, idx, cl, snap, strict=False)
    assert "missing" not in report["snapshot"]
    assert report["snapshot"]["current_resolves"] is False
    assert not report["clean"]
    with pytest.raises(RuntimeError, match="snapshot_cluster_assignments"):
        fsck_curation(spark, idx, cl, snap)


def test_fsck_curation_vec_triple(spark, sf_small, tmp_path):
    """`fsck_curation(vec=True)` sweeps an EMBEDDING-side curation
    triple (sign-LSH index + clusters + snapshot) with the same
    cross-structure subset invariant — green on a healthy triple built
    by the vec ingest loop, loud on a foreign clustering."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.operators.cluster_index import (
        build_cluster_assignments,
        ingest_and_update_clusters_vec,
        snapshot_cluster_assignments,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_vec_dedup_index,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import fsck_curation
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    vecs = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / "vidx")
    cl = str(tmp_path / "vcl")
    snap = str(tmp_path / "vsnap")
    base = vecs.filter(F.col("vec_id") % 2 == 0)
    delta = vecs.filter(F.col("vec_id") % 2 == 1)
    build_vec_dedup_index(base, idx, n_planes=4, n_tables=4, dim=64)
    id_type = "bigint"
    build_cluster_assignments(
        spark.createDataFrame([], f"node {id_type}, component {id_type}"), cl
    )
    ingest_and_update_clusters_vec(delta, idx, cl)
    snapshot_cluster_assignments(spark, cl, snap)

    report = fsck_curation(spark, idx, cl, snap, vec=True)
    assert report["clean"] and report["unindexed_cluster_nodes"] == 0

    build_cluster_assignments(
        spark.createDataFrame(
            [(30_000_001, 30_000_001)], "node long, component long"
        ),
        cl,
        overwrite=True,
    )
    snapshot_cluster_assignments(spark, cl, snap, min_age_sec=0.0)
    with pytest.raises(RuntimeError, match="not banded ids"):
        fsck_curation(spark, idx, cl, snap, vec=True)


def test_curate_corpus_daily_empty_after_gate_is_noop(spark, sf_small, tmp_path):
    """ADVICE r11 (medium): a delta the quality gate empties entirely
    must be a clean no-op epoch — the same contract the streaming twin
    already commits — NOT a zero-row index build. Before the fix, a
    FIRST run with such a delta wrote meta + an empty bands table, and
    every later load of the index (this run's probe and all retries,
    good deltas included) died with UNABLE_TO_INFER_SCHEMA: the triple
    was wedged until an operator deleted the dir by hand."""
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.fs import try_read_parquet
    from etl_pricenow_to_leukerbadb_spark.operators.cluster_index import (
        snapshot_provenance,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import curate_corpus_daily
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    idx, cl, snap = (str(tmp_path / p) for p in ("idx", "cl", "snap"))
    # every row fails ok_length (n_tokens < 5) — gate keeps nothing
    junk = spark.createDataFrame(
        [(i, "xx yy") for i in range(5)], "doc_id bigint, text string"
    )

    a1 = curate_corpus_daily(junk, idx, cl, snap)
    assert a1["noop_empty_delta"]
    assert a1["quality"] == {
        "docs_in": 5,
        "kept": 0,
        "dropped": 5,
        "dropped_by_rule": a1["quality"]["dropped_by_rule"],
    }
    assert a1["quality"]["dropped_by_rule"]["ok_length"] == 5
    assert all(v == 0 for v in a1["pii"].values())
    assert a1["index"] == {"built": False, "appended": False}
    # NOTHING was written — no wedged meta/bands, no clustering, no claim
    assert try_read_parquet(spark, f"{idx}/meta") is None
    assert try_read_parquet(spark, f"{cl}/meta") is None

    # the wedge regression: a good delta on the SAME paths now succeeds
    docs = load_table(spark, sf_small, "documents")
    good = docs.filter(F.col("doc_id") < 40)
    a2 = curate_corpus_daily(good, idx, cl, snap)
    assert a2["index"] == {"built": True, "appended": True}
    assert a2["quality"]["kept"] > 0
    gen = a2["snapshot"]["generation"]

    # empty-after-gate against the STANDING triple is also a no-op:
    # the snapshot keeps its generation, the index its bands
    a3 = curate_corpus_daily(junk, idx, cl, snap)
    assert a3["noop_empty_delta"]
    assert snapshot_provenance(spark, snap)["generation"] == gen


def test_curate_corpus_daily_gate_does_not_clobber_user_columns(
    spark, sf_small, tmp_path
):
    """ADVICE r11 (low): a delta column named ``keep`` (or any ok_*
    rule name) is USER DATA — the gate computes its flags under
    reserved ``__q_`` names. Before the fix, ``withColumns`` silently
    overwrote the user's column, the filter obeyed whatever the gate
    wrote, and the flag value propagated into the index/keep/snapshot
    in place of the data. Discriminating shape: an all-False user
    ``keep`` column — the old code would gate everything out."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.orchestrate import curate_corpus_daily
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_small, "documents")
        .filter(F.col("doc_id") < 40)
        .withColumn("keep", F.lit(False))
        .withColumn("ok_length", F.lit("user data"))
    )
    idx, cl, snap = (str(tmp_path / p) for p in ("idx", "cl", "snap"))
    a = curate_corpus_daily(docs, idx, cl, snap)
    # the gate ran on the TEXT, not on the user's all-False column
    assert a["quality"]["kept"] > 0
    assert a["index"] == {"built": True, "appended": True}

    # the reserved prefix itself refuses loudly instead of mis-gating
    bad = docs.withColumn("__q_keep", F.lit(True))
    with pytest.raises(ValueError, match="__q_"):
        curate_corpus_daily(
            bad, str(tmp_path / "i2"), str(tmp_path / "c2"), str(tmp_path / "s2")
        )


def test_curate_corpus_daily_claim_contention(spark, sf_small, tmp_path):
    """r11 verdict ask #6: the COMPOSED job's claim ordering, pinned
    directly — a second concurrent ``curate_corpus_daily`` against the
    same clusters_path refuses on the writer claim (no deadlock, no
    interleave) BEFORE touching any structure, and a crashed first
    run's stale claim is force-cleanable per the nonce-token rules
    (unconditional release = delete the marker the error names)."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.fs import try_read_parquet
    from etl_pricenow_to_leukerbadb_spark.operators.cluster_index import (
        claim_cluster_writer,
        release_cluster_writer,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.serving import (
        resolve_serving_root,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import curate_corpus_daily
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    idx, cl, snap = (str(tmp_path / p) for p in ("idx", "cl", "snap"))

    # shape 1a: contention on a FIRST run — refused with ZERO
    # structures created (the claim is taken before the index build)
    foreign = claim_cluster_writer(spark, cl, "concurrent_curation")
    with pytest.raises(RuntimeError, match="already claimed"):
        curate_corpus_daily(docs.filter(F.col("doc_id") < 40), idx, cl, snap)
    assert try_read_parquet(spark, f"{idx}/meta") is None
    release_cluster_writer(spark, cl, owner_token=foreign)

    a1 = curate_corpus_daily(docs.filter(F.col("doc_id") < 40), idx, cl, snap)
    assert a1["index"]["built"]

    # shape 1b: contention against the STANDING triple — refused with
    # the index unchanged (no day-2 ids half-appended)
    foreign = claim_cluster_writer(spark, cl, "concurrent_curation")
    day2 = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80))
    with pytest.raises(RuntimeError, match="already claimed"):
        curate_corpus_daily(day2, idx, cl, snap)
    root = resolve_serving_root(spark, idx)
    bands = spark.read.parquet(f"{root}/bands")
    assert bands.filter(F.col("doc_id") >= 40).count() == 0

    # shape 2: the first run crashed without cleanup — its claim is
    # stale debris. The refusal's recipe (delete the marker =
    # unconditional release) unwedges, and the retry completes.
    release_cluster_writer(spark, cl)  # force-clean, no owner token
    a2 = curate_corpus_daily(day2, idx, cl, snap)
    assert a2["index"] == {"built": False, "appended": True}
    assert a2["quality"]["kept"] > 0

    # the claim is RELEASED after a successful run (finally, exact
    # token): a follow-up claim succeeds immediately
    t = claim_cluster_writer(spark, cl, "post_run_probe")
    release_cluster_writer(spark, cl, owner_token=t)


def test_build_dedup_index_refuses_empty_corpus(spark, tmp_path):
    """ADVICE r11 (medium, the build-side guard): a zero-row corpus —
    empty input, or every doc unshinglable under allow_short=True —
    refuses BEFORE writing meta, because an empty bands write can
    leave a directory parquet cannot infer a schema from, wedging
    every later load. Both bucket-index builds share the guard."""
    import pytest

    from etl_pricenow_to_leukerbadb_spark.fs import try_read_parquet
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        build_dedup_index,
        build_vec_dedup_index,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="ZERO bucket rows"):
        build_dedup_index(empty, str(tmp_path / "idx"))
    assert try_read_parquet(spark, str(tmp_path / "idx/meta")) is None

    # allow_short=True drops unshinglable docs from the signatures —
    # all-short corpora must hit the same refusal, not an empty write
    short = spark.createDataFrame(
        [(1, "a b"), (2, "c")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="ZERO bucket rows"):
        build_dedup_index(short, str(tmp_path / "idx2"), allow_short=True)

    vempty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="ZERO bucket rows"):
        build_vec_dedup_index(vempty, str(tmp_path / "vidx"), dim=8)
    assert try_read_parquet(spark, str(tmp_path / "vidx/meta")) is None


def test_curate_corpus_daily_vec_end_to_end(spark, sf_small, tmp_path):
    """The embedding-side composed daily job (r11 verdict ask #7 — the
    batch twin of stream_vec_dedup_cluster_job, completing the text
    job's symmetry): validity gate → sign-LSH ingest + merge under the
    claim (taken before the append) → keep table → snapshot, one call.
    Exercises the same operational contracts as the text battery:
    audited malformed drop, verbatim-replay no-op, overlap self-heal,
    empty-after-gate no-op, claim refusal — and ends with the composed
    vec-triple fsck green on the structures this job maintained."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.operators.cluster_index import (
        claim_cluster_writer,
        release_cluster_writer,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily_vec,
        fsck_curation,
    )
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    vecs = load_table(spark, sf_small, "embeddings")
    idx, cl, snap = (str(tmp_path / p) for p in ("vidx", "vcl", "vsnap"))
    day1 = vecs.filter(F.col("vec_id") < 200)

    # day 1 builds; every audit stage reconciles
    a1 = curate_corpus_daily_vec(
        day1, idx, cl, snap, n_planes=4, n_tables=4
    )
    n_day1 = day1.count()
    assert a1["validity"] == {
        "vecs_in": n_day1,
        "kept": n_day1,
        "dropped_malformed": 0,
    }
    assert a1["index"] == {"built": True, "appended": True}
    assert a1.get("clusters_initialized")
    assert a1["pairs"] > 0
    assert 0 < a1["merge"]["new_nodes"] <= n_day1
    assert a1["keep"]["docs_covered"] == n_day1
    assert a1["snapshot"]["published"]
    gen1 = a1["snapshot"]["generation"]

    # day 2: a delta carrying MALFORMED rows (NULL vector, wrong dim)
    # appends the well-formed remainder and audits the drop
    day2_good = vecs.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 400)
    )
    malformed = spark.createDataFrame(
        [(9_000_001, None, 0), (9_000_002, [0.0] * 3, 0)],
        "vec_id bigint, embedding array<float>, label int",
    )
    a2 = curate_corpus_daily_vec(
        day2_good.unionByName(malformed), idx, cl, snap,
        n_planes=4, n_tables=4,
    )
    assert a2["validity"]["dropped_malformed"] == 2
    assert a2["validity"]["kept"] == day2_good.count()
    assert a2["index"] == {"built": False, "appended": True}

    # verbatim replay of day 2's good rows is a no-op end to end
    a3 = curate_corpus_daily_vec(
        day2_good, idx, cl, snap, n_planes=4, n_tables=4
    )
    assert a3["index"] == {"built": False, "appended": False}
    assert a3["merge"]["new_nodes"] == 0
    assert not a3["snapshot"]["published"]

    # overlap self-heal: half replay, half new -> only the new appended
    mixed = vecs.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 450))
    a4 = curate_corpus_daily_vec(mixed, idx, cl, snap, n_planes=4, n_tables=4)
    assert a4["index"] == {"built": False, "appended": True}
    assert 0 < a4["healed_ids"] < mixed.count()

    # empty-after-gate no-op against the standing triple
    a5 = curate_corpus_daily_vec(
        malformed, idx, cl, snap, n_planes=4, n_tables=4
    )
    assert a5["noop_empty_delta"]

    # concurrent-writer refusal, zero new structures touched
    foreign = claim_cluster_writer(spark, cl, "concurrent_vec_curation")
    with pytest.raises(RuntimeError, match="already claimed"):
        curate_corpus_daily_vec(
            vecs.filter(F.col("vec_id") >= 450), idx, cl, snap,
            n_planes=4, n_tables=4,
        )
    release_cluster_writer(spark, cl, owner_token=foreign)

    # config-mistake refusals fire BEFORE any mutation: a stale corpus
    # on the exact-verify arm (missing delta ids) dies clean with the
    # index untouched — not mid-epoch after the append landed
    from etl_pricenow_to_leukerbadb_spark.operators.serving import (
        resolve_serving_root,
    )

    tail = vecs.filter(F.col("vec_id") >= 450)
    with pytest.raises(ValueError, match="missing from"):
        curate_corpus_daily_vec(
            tail, idx, cl, snap, corpus=day1, threshold=0.9,
            n_planes=4, n_tables=4,
        )
    root = resolve_serving_root(spark, idx)
    bands = spark.read.parquet(f"{root}/bands")
    assert bands.filter(F.col("vec_id") >= 450).count() == 0

    # the triple this job maintained passes the composed vec sweep
    report = fsck_curation(spark, idx, cl, snap, vec=True)
    assert report["clean"] and report["unindexed_cluster_nodes"] == 0


def test_curate_corpus_daily_vec_string_id_refused_pre_mutation(
    spark, tmp_path
):
    """The default keep score (lowest id wins) needs an integral id —
    and the refusal must fire BEFORE the claim/build/append (r12
    review: it originally sat at the keep stage, after every mutation,
    so an unattended loop would re-crash there each retry with the
    index already changed). With an explicit keep_score_col, string
    ids are fully supported end to end."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.fs import try_read_parquet
    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily_vec,
    )

    delta = spark.createDataFrame(
        [("a", [0.0] * 64), ("b", [1.0] * 64)],
        "vec_id string, embedding array<float>",
    )
    idx, cl, snap = (str(tmp_path / p) for p in ("vidx", "vcl", "vsnap"))
    with pytest.raises(ValueError, match="integral id_col"):
        curate_corpus_daily_vec(delta, idx, cl, snap, n_planes=4, n_tables=4)
    # refused pre-mutation: no index meta, no clustering, no claim
    assert try_read_parquet(spark, f"{idx}/meta") is None
    assert try_read_parquet(spark, f"{cl}/meta") is None

    a = curate_corpus_daily_vec(
        delta.withColumn("score", F.size("embedding")),
        idx, cl, snap,
        keep_score_col="score", n_planes=4, n_tables=4,
    )
    assert a["index"] == {"built": True, "appended": True}
    assert a["keep"]["docs_covered"] == 2


def test_curate_corpus_daily_vec_dim_mismatch_refused_pre_gate(
    spark, tmp_path
):
    """Against a STANDING index the gate sizes vectors by the index's
    RECORDED dim, and a conflicting caller `dim` refuses loudly BEFORE
    the validity aggregation (ADVICE r12: a forgotten/wrong dim used to
    classify every vector as dropped_malformed and return a silent
    noop_empty_delta audit — the unattended loop stopped ingesting with
    zero errors, the opposite of the job's pre-mutation-refusal
    contract). The refusal leaves every structure untouched."""
    import pytest

    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily_vec,
    )

    idx, cl, snap = (str(tmp_path / p) for p in ("vidx", "vcl", "vsnap"))
    day1 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )

    # FRESH-path arm (r13 review): on the FIRST epoch there is no
    # recorded dim to reconcile, so a wrong dim that drops every row
    # must refuse — a noop would be permanent (no index built means
    # the recorded-dim gate never arms on any later day)
    with pytest.raises(ValueError, match="dropped all"):
        curate_corpus_daily_vec(day1, idx, cl, snap, n_planes=4, n_tables=4)
    from etl_pricenow_to_leukerbadb_spark.fs import try_read_parquet

    assert try_read_parquet(spark, f"{idx}/meta") is None

    a1 = curate_corpus_daily_vec(
        day1, idx, cl, snap, dim=8, n_planes=4, n_tables=4
    )
    assert a1["index"] == {"built": True, "appended": True}
    bands_before = spark.read.parquet(f"{idx}/bands").count()

    # the exact ADVICE scenario: day 2 forgets dim (falls to the
    # default 64) against the dim-8 index — must raise, NOT return a
    # silent noop_empty_delta audit
    day2 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6, 12)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="recorded dim"):
        curate_corpus_daily_vec(day2, idx, cl, snap, n_planes=4, n_tables=4)
    # an explicitly wrong dim refuses identically
    with pytest.raises(ValueError, match="recorded dim"):
        curate_corpus_daily_vec(
            day2, idx, cl, snap, dim=16, n_planes=4, n_tables=4
        )
    # refused pre-mutation: zero new band rows landed
    assert spark.read.parquet(f"{idx}/bands").count() == bands_before

    # the correct dim still appends; the gate keeps every row
    a2 = curate_corpus_daily_vec(
        day2, idx, cl, snap, dim=8, n_planes=4, n_tables=4
    )
    assert a2["validity"]["dropped_malformed"] == 0
    assert a2["index"] == {"built": False, "appended": True}


def test_curate_corpus_daily_vec_serving_layout_gate_and_append(
    spark, tmp_path
):
    """The dim gate and the fresh/append decision survive a serving
    migration (r13 review): a serving-layout root keeps meta under the
    live generation, so BOTH reads must resolve CURRENT first — the
    unresolved read saw no meta, sized the gate by the caller's dim,
    and misread the standing index as fresh (for the text twin that
    build would even SUCCEED at the flat root, splitting the structure
    across two layouts)."""
    import pytest

    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        migrate_dedup_index_to_serving,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.serving import (
        resolve_serving_root,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily_vec,
    )

    idx, cl, snap = (str(tmp_path / p) for p in ("vidx", "vcl", "vsnap"))
    day1 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )
    a1 = curate_corpus_daily_vec(
        day1, idx, cl, snap, dim=8, n_planes=4, n_tables=4
    )
    assert a1["index"] == {"built": True, "appended": True}

    migrate_dedup_index_to_serving(spark, idx)
    live = resolve_serving_root(spark, idx)
    assert live != idx.rstrip("/")
    bands_before = spark.read.parquet(f"{live}/bands").count()

    # the ADVICE scenario against the MIGRATED index: a forgotten dim
    # must still hit the recorded-dim refusal, not the fresh-path
    # "first epoch dropped all" misdiagnosis
    day2 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6, 12)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="recorded dim"):
        curate_corpus_daily_vec(day2, idx, cl, snap, n_planes=4, n_tables=4)

    # the correct dim APPENDS into the live generation (pre-fix the
    # job misread the migrated index as fresh and attempted a rebuild)
    a2 = curate_corpus_daily_vec(
        day2, idx, cl, snap, dim=8, n_planes=4, n_tables=4
    )
    assert a2["index"] == {"built": False, "appended": True}
    assert (
        spark.read.parquet(f"{live}/bands").count() == bands_before + 6 * 4
    )


@pytest.mark.parametrize(
    "index_kind, entry",
    [
        ("text", "curate_corpus_daily_vec"),
        ("vec", "curate_corpus_daily"),
        ("vec", "append_to_dedup_index"),
        ("text", "append_to_vec_dedup_index"),
    ],
)
def test_curate_corpus_daily_vec_foreign_meta_named_refusal(
    spark, sf_small, tmp_path, index_kind, entry
):
    """An index_path mistakenly pointing at an index of the OTHER kind
    refuses with the named malformed-meta error and leaves the band
    table as it was — not a bare KeyError from an unguarded row access
    (r13 review), and not an append of the wrong kind: the maintenance
    entry points read the kind from meta, so the kind-specific ones
    must keep refusing. The handle cache is warmed first, so the
    refusal must hold on a cache hit too."""
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.operators import dedup_index as dx
    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily,
        curate_corpus_daily_vec,
    )
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").filter(F.col("doc_id") < 40)
    vecs = load_table(spark, sf_small, "embeddings").filter(
        F.col("vec_id") < 40
    )
    idx, cl, snap = (str(tmp_path / p) for p in ("idx", "cl", "snap"))
    if index_kind == "text":
        dx.build_dedup_index(docs, idx, allow_short=True)
        dx.load_dedup_index(spark, idx)
    else:
        dx.build_vec_dedup_index(vecs, idx, n_planes=4, n_tables=4, dim=64)
        dx.load_vec_dedup_index(spark, idx)
    bands_before = spark.read.parquet(f"{idx}/bands").count()

    calls = {
        "curate_corpus_daily_vec": lambda: curate_corpus_daily_vec(
            vecs, idx, cl, snap, n_planes=4, n_tables=4
        ),
        "curate_corpus_daily": lambda: curate_corpus_daily(
            docs, idx, cl, snap
        ),
        "append_to_dedup_index": lambda: dx.append_to_dedup_index(
            docs, idx, allow_short=True
        ),
        "append_to_vec_dedup_index": lambda: dx.append_to_vec_dedup_index(
            vecs, idx
        ),
    }
    with pytest.raises(ValueError, match="malformed meta"):
        calls[entry]()
    assert spark.read.parquet(f"{idx}/bands").count() == bands_before


def test_curate_corpus_daily_serving_layout_appends_not_rebuilds(
    spark, sf_small, tmp_path
):
    """Text twin of the serving-layout fix (r13 review): after
    migrate_dedup_index_to_serving the job must APPEND to the live
    generation — the unresolved meta read misread the standing index
    as fresh, and the rebuild would SUCCEED at the flat root
    (errorifexists sees no flat meta), leaving a split-brain structure
    with a flat meta next to the generation dirs."""
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.fs import try_read_parquet
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        migrate_dedup_index_to_serving,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily,
    )
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    idx, cl, snap = (str(tmp_path / p) for p in ("idx", "cl", "snap"))
    a1 = curate_corpus_daily(
        docs.filter(F.col("doc_id") % 3 == 0), idx, cl, snap
    )
    assert a1["index"] == {"built": True, "appended": True}

    migrate_dedup_index_to_serving(spark, idx)
    a2 = curate_corpus_daily(
        docs.filter(F.col("doc_id") % 3 == 1), idx, cl, snap
    )
    assert a2["index"] == {"built": False, "appended": True}
    # no split-brain: the flat root holds generations + CURRENT, not
    # a second meta
    assert try_read_parquet(spark, f"{idx}/meta") is None


def test_curation_jobs_refuse_torn_serving_generation(
    spark, sf_small, tmp_path
):
    """A serving root whose LIVE generation's meta is unreadable (torn
    write) must refuse with a named error, for both twins (r13 review,
    second pass): try_read_parquet returns None there, so the fresh
    arm would otherwise silently build a SECOND flat index next to the
    generation dirs — readers resolve CURRENT and keep hitting the
    torn generation while the epoch reports built:True."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pricenow_to_leukerbadb_spark.fs import fs_delete, fs_exists
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        migrate_dedup_index_to_serving,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.serving import (
        resolve_serving_root,
    )
    from etl_pricenow_to_leukerbadb_spark.orchestrate import (
        curate_corpus_daily,
        curate_corpus_daily_vec,
    )
    from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table

    # vec twin — refuses PRE-GATE, before any validity aggregation
    vidx, vcl, vsnap = (
        str(tmp_path / p) for p in ("vidx", "vcl", "vsnap")
    )
    day1 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )
    curate_corpus_daily_vec(day1, vidx, vcl, vsnap, dim=8, n_planes=4, n_tables=4)
    migrate_dedup_index_to_serving(spark, vidx)
    fs_delete(spark, f"{resolve_serving_root(spark, vidx)}/meta")
    day2 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6, 12)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(RuntimeError, match="torn write in the live"):
        curate_corpus_daily_vec(
            day2, vidx, vcl, vsnap, dim=8, n_planes=4, n_tables=4
        )
    # no split-brain flat index appeared at the root
    assert not fs_exists(spark, f"{vidx}/meta")

    # text twin — refuses at the ingest stage, pre-mutation
    docs = load_table(spark, sf_small, "documents")
    idx, cl, snap = (str(tmp_path / p) for p in ("idx", "cl", "snap"))
    curate_corpus_daily(docs.filter(F.col("doc_id") % 3 == 0), idx, cl, snap)
    migrate_dedup_index_to_serving(spark, idx)
    fs_delete(spark, f"{resolve_serving_root(spark, idx)}/meta")
    with pytest.raises(RuntimeError, match="torn write in the live"):
        curate_corpus_daily(
            docs.filter(F.col("doc_id") % 3 == 1), idx, cl, snap
        )
    assert not fs_exists(spark, f"{idx}/meta")
