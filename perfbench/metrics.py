"""Metric definitions and the per-layer roll-up of a traced run.

``END_TO_END`` and ``PER_LAYER`` are the metric lists BENCHMARK.json
declares (a test keeps them in step). Each per-layer entry also names
the end-to-end metric it should move and the workload it is measured
on; ``python3 perfbench/run.py --list-metrics`` prints that table.
"""

from __future__ import annotations

import statistics

from .trace import Span, self_time

END_TO_END = [
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("cycle_s", "s", "lower", 0.25),
]

PRICING, TEAM, ALL = "pricing_etl", "data_team", "all"

_SESSION = [
    ("session.get_spark_s", "s", "lower", "setup_s", ALL),
    ("session.jobs_per_op", "count", "lower", "cycle_s", ALL),
    ("session.stages_per_op", "count", "lower", "cycle_s", ALL),
    ("session.tasks_per_op", "count", "lower", "cycle_s", ALL),
    ("session.shuffle_write_bytes_per_op", "bytes", "lower", "cycle_s", ALL),
    ("session.spill_bytes_per_op", "bytes", "lower", "cycle_s", ALL),
    ("session.task_busy_share", "ratio", "higher", "cycle_s", ALL),
    ("session.gc_s_per_op", "s", "lower", "cycle_s", ALL),
    ("session.leaked_rdds_per_op", "count", "lower", "cycle_s", ALL),
    ("session.peak_rss_mb", "MB", "lower", "setup_s", ALL),
    ("trace.cycle_s", "s", "lower", "cycle_s", ALL),
    ("trace.bookkeeping_s_per_op", "s", "lower", "cycle_s", ALL),
]

_PRICING = [
    ("sources.rest.fetch_all_s", "s", "lower", "cycle_s", PRICING),
    ("sources.rest.requests_per_op", "count", "lower", "cycle_s", PRICING),
    ("sources.rest.token_posts_per_op", "count", "lower", "cycle_s", PRICING),
    ("sources.rest.auth_retries_per_op", "count", "lower", "cycle_s", PRICING),
    ("sources.rest.rows_per_request", "count", "higher", "cycle_s", PRICING),
    ("plans.pricenow.run_pipeline_s", "s", "lower", "cycle_s", PRICING),
    ("plans.pricenow.product_ids_for_fetch_s", "s", "lower", "cycle_s", PRICING),
    ("plans.pricenow.build_products_s", "s", "lower", "cycle_s", PRICING),
    ("plans.pricenow.build_prices_s", "s", "lower", "cycle_s", PRICING),
    ("sinks.upsert.merge_upsert_parquet_s", "s", "lower", "cycle_s", PRICING),
    ("sinks.upsert.assert_keys_s", "s", "lower", "cycle_s", PRICING),
    ("sinks.upsert.jobs_per_op", "count", "lower", "cycle_s", PRICING),
    ("sinks.upsert.bytes_written_per_op", "bytes", "lower", "cycle_s", PRICING),
    ("sinks.upsert.table_bytes", "bytes", "lower", "cycle_s", PRICING),
    ("sinks.upsert.write_amplification", "ratio", "lower", "cycle_s", PRICING),
    ("fs.calls_per_op", "count", "lower", "cycle_s", ALL),
    ("fs.s_per_op", "s", "lower", "cycle_s", ALL),
]

# six of the 17 read-only headliners (every headliner except the four
# that mutate persisted state: ann_ivfpq_trained_e2e, dd_cluster_merge,
# dd_index_probe, llm_curation_e2e). One per query family: scan and
# aggregate, forward-fill window, as-of, broadcast and multi-way joins,
# PageRank. Each query runs twice per run (a cold, checked pass, then
# the measured one), and every query costs a data_team run ~2-3 s, in a
# run that has to stay near 75 s. dd_minhash_lsh (the costliest),
# dd_cluster_components and dq_expectations are left out for time; the
# curation day still runs an LSH probe (over vectors) and the
# connected-components merge every cycle.
QUERIES = (
    "a1_pricing_summary gr_pagerank j1_broadcast_join j2_asof_join q3_shipping_priority t6_forward_fill_daily"
).split()

_ANALYST = [
    ("sources.tables.load_table_s", "s", "lower", "cycle_s", TEAM),
    ("sources.tables.input_bytes_per_query", "bytes", "lower", "cycle_s", TEAM),
    *[(f"plans.analytics.{q}_s", "s", "lower", "cycle_s", TEAM) for q in QUERIES],
    ("plans.analytics.jobs_per_query", "count", "lower", "cycle_s", TEAM),
    ("plans.analytics.shuffle_write_bytes_per_query", "bytes", "lower", "cycle_s", TEAM),
    ("operators.graph.pagerank_fixed_iters_s", "s", "lower", "cycle_s", TEAM),
    ("operators.dedup.connected_components_twophase_s", "s", "lower", "cycle_s", TEAM),
]

_VECTOR = [
    ("orchestrate.curate_corpus_daily_vec_s", "s", "lower", "cycle_s", TEAM),
    *[
        (f"orchestrate.stage.{s}_s", "s", "lower", "cycle_s", TEAM)
        for s in ("validity_gate", "index_ingest", "probe_merge", "keep_table", "snapshot")
    ],
    ("operators.dedup_index.build_vec_dedup_index_s", "s", "lower", "setup_s", TEAM),
    ("operators.dedup_index.append_to_vec_dedup_index_s", "s", "lower", "cycle_s", TEAM),
    ("operators.dedup_index.index_bytes_per_vec_byte", "ratio", "lower", "setup_s", TEAM),
    ("operators.cluster_index.probe_and_merge_delta_vec_s", "s", "lower", "cycle_s", TEAM),
    ("operators.cluster_index.merge_cluster_delta_s", "s", "lower", "cycle_s", TEAM),
    ("operators.cluster_index.snapshot_if_stale_s", "s", "lower", "cycle_s", TEAM),
    ("operators.cluster_index.compact_cluster_assignments_s", "s", "lower", "cycle_s", TEAM),
    ("operators.cluster_index.compactions_per_day", "count", "lower", "cycle_s", TEAM),
    ("operators.cluster_index.jobs_per_day", "count", "lower", "cycle_s", TEAM),
    ("operators.cluster_index.pairs_per_day", "count", "lower", "cycle_s", TEAM),
    ("operators.cluster_index.label_changes_per_pair", "ratio", "higher", "cycle_s", TEAM),
    ("operators.cluster_index.task_skew", "ratio", "lower", "cycle_s", TEAM),
    ("operators.ann_index.build_ivfpq_index_s", "s", "lower", "cycle_s", TEAM),
    ("operators.ann_index.build_jobs", "count", "lower", "cycle_s", TEAM),
    ("operators.ann_index.build_stages", "count", "lower", "cycle_s", TEAM),
    ("operators.ann_index.search_ivfpq_index_s", "s", "lower", "cycle_s", TEAM),
    ("operators.ann_index.load_pq_index_s", "s", "lower", "cycle_s", TEAM),
    ("operators.ann_index.search_jobs", "count", "lower", "cycle_s", TEAM),
    ("operators.ann_index.search_shuffle_bytes", "bytes", "lower", "cycle_s", TEAM),
    ("operators.ann_index.recall_at_10", "ratio", "higher", "cycle_s", TEAM),
]

PER_LAYER = _SESSION + _PRICING + _ANALYST + _VECTOR


# --------------------------------------------------------------------------


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def cycle_s(ops) -> float:
    """Median, over the run's cycles, of the op time one cycle took."""
    per: dict[int, float] = {}
    for o in ops:
        per[o["cycle"]] = per.get(o["cycle"], 0.0) + o["seconds"]
    return _median(per.values())


class Rollup:
    """Per-layer numbers from the spans and op records of a traced run.
    Op 0 is set-up; measured ops are those in ``ops``."""

    def __init__(self, spans: list[Span], kids: dict[int, list[Span]], ops: list[dict]):
        self.spans, self.kids, self.ops = spans, kids, ops
        self.measured = {o["op"] for o in ops}

    def of(self, name: str, ops=None) -> list[Span]:
        ops = self.measured if ops is None else ops
        return [s for s in self.spans if s.name == name and s.op in ops]

    def per_op_s(self, name: str, self_only: bool = False) -> float:
        """Median, over the measured ops that called ``name`` (or over
        set-up when only set-up did), of the op's total time in it."""
        spans = self.of(name) or self.of(name, {0})
        per: dict[int, float] = {}
        for s in spans:
            d = self_time(s, self.kids.get(s.idx, [])) if self_only else s.end - s.start
            per[s.op] = per.get(s.op, 0.0) + d
        return _median(per.values())

    def subtree(self, span: Span, key: str) -> float:
        return span.spark.get(key, 0) + sum(self.subtree(c, key) for c in self.kids.get(span.idx, []))

    def per_call(self, name: str, key: str) -> float:
        """Median over calls of ``name`` of a Spark metric summed over
        the call's span subtree."""
        return _median(self.subtree(s, key) for s in self.of(name))

    def per_op_count(self, name: str, key: str | None = None) -> float:
        """Calls to ``name`` (or a Spark metric summed over their
        subtrees) per measured op."""
        if not self.ops:
            return 0.0
        spans = self.of(name)
        total = sum(self.subtree(s, key) for s in spans) if key else len(spans)
        return total / len(self.ops)

    def outermost(self, layer: str) -> list[Span]:
        by_idx = {s.idx: s for s in self.spans}
        return [
            s
            for s in self.spans
            if s.layer == layer and s.op in self.measured and (s.parent is None or by_idx[s.parent].layer != layer)
        ]


def per_layer(roll: Rollup, ops: list[dict], cores: int, extras: dict, tracer_s: float, get_spark_s: float) -> dict:
    n = max(1, len(ops))
    tot = lambda k: sum(o["spark"].get(k, 0) for o in ops)  # noqa: E731
    wall = sum(o["seconds"] for o in ops)
    m: dict[str, float] = {
        "session.get_spark_s": get_spark_s,
        "session.jobs_per_op": tot("jobs") / n,
        "session.stages_per_op": tot("stages") / n,
        "session.tasks_per_op": tot("tasks") / n,
        "session.shuffle_write_bytes_per_op": tot("shuffleWriteBytes") / n,
        "session.spill_bytes_per_op": (tot("memoryBytesSpilled") + tot("diskBytesSpilled")) / n,
        "session.task_busy_share": tot("executorRunTime") / 1000 / (wall * cores) if wall else 0.0,
        "session.gc_s_per_op": tot("jvmGcTime") / 1000 / n,
        "session.leaked_rdds_per_op": sum(o["leaked"] for o in ops) / n,
        "session.peak_rss_mb": extras["peak_rss_mb"],
        "trace.cycle_s": cycle_s(ops),
        "trace.bookkeeping_s_per_op": tracer_s / n,
    }
    # sources.rest: counters of the in-process API over the measured ops
    api = extras.get("api", {})
    m["sources.rest.fetch_all_s"] = roll.per_op_s("sources.rest.fetch_all")
    m["sources.rest.requests_per_op"] = (api.get("gets", 0) + api.get("posts", 0)) / n
    m["sources.rest.token_posts_per_op"] = api.get("posts", 0) / n
    m["sources.rest.auth_retries_per_op"] = api.get("unauthorized", 0) / n
    m["sources.rest.rows_per_request"] = api["rows"] / api["gets"] if api.get("gets") else 0.0
    for f in ("run_pipeline", "product_ids_for_fetch", "build_products", "build_prices"):
        m[f"plans.pricenow.{f}_s"] = roll.per_op_s(f"plans.pricenow.{f}")
    m["sinks.upsert.merge_upsert_parquet_s"] = roll.per_op_s("sinks.upsert.merge_upsert_parquet", self_only=True)
    m["sinks.upsert.assert_keys_s"] = roll.per_op_s("sinks.upsert.assert_keys_not_null") + roll.per_op_s(
        "sinks.upsert.assert_keys_unique"
    )
    m["sinks.upsert.jobs_per_op"] = roll.per_op_count("sinks.upsert.merge_upsert_parquet", "jobs")
    written = roll.per_op_count("sinks.upsert.merge_upsert_parquet", "outputBytes")
    m["sinks.upsert.bytes_written_per_op"] = written
    m["sinks.upsert.table_bytes"] = extras.get("table_bytes", 0)
    changed = extras.get("changed_row_bytes", 0)
    m["sinks.upsert.write_amplification"] = written / changed if changed else 0.0
    fs = roll.outermost("fs")
    m["fs.calls_per_op"] = len(fs) / n
    m["fs.s_per_op"] = sum(s.end - s.start for s in fs) / n

    queries = [o for o in ops if o["name"] in QUERIES]
    nq = max(1, len(queries))
    m["sources.tables.load_table_s"] = roll.per_op_s("sources.tables.load_table")
    m["sources.tables.input_bytes_per_query"] = sum(o["spark"].get("inputBytes", 0) for o in queries) / nq
    for q in QUERIES:
        m[f"plans.analytics.{q}_s"] = _median(o["seconds"] for o in queries if o["name"] == q and o["ok"])
    m["plans.analytics.jobs_per_query"] = sum(o["spark"].get("jobs", 0) for o in queries) / nq
    m["plans.analytics.shuffle_write_bytes_per_query"] = (
        sum(o["spark"].get("shuffleWriteBytes", 0) for o in queries) / nq
    )
    m["operators.graph.pagerank_fixed_iters_s"] = roll.per_op_s("operators.graph.pagerank_fixed_iters")
    m["operators.dedup.connected_components_twophase_s"] = roll.per_op_s(
        "operators.dedup.connected_components_twophase"
    )

    days = [o for o in ops if o["name"] == "curation_day_vec"]
    nd = max(1, len(days))
    m["orchestrate.curate_corpus_daily_vec_s"] = roll.per_op_s("orchestrate.curate_corpus_daily_vec")
    stages = extras.get("stage_timings", [])
    for s in ("validity_gate", "index_ingest", "probe_merge", "keep_table", "snapshot"):
        m[f"orchestrate.stage.{s}_s"] = _median(st.get(s, 0.0) for st in stages)
    m["operators.dedup_index.build_vec_dedup_index_s"] = roll.per_op_s("operators.dedup_index.build_vec_dedup_index")
    m["operators.dedup_index.append_to_vec_dedup_index_s"] = roll.per_op_s(
        "operators.dedup_index.append_to_vec_dedup_index"
    )
    m["operators.dedup_index.index_bytes_per_vec_byte"] = extras.get("index_bytes_per_vec_byte", 0.0)
    for f in ("probe_and_merge_delta_vec", "merge_cluster_delta", "snapshot_if_stale", "compact_cluster_assignments"):
        m[f"operators.cluster_index.{f}_s"] = roll.per_op_s(f"operators.cluster_index.{f}")
    m["operators.cluster_index.compactions_per_day"] = (
        len(roll.of("operators.cluster_index.compact_cluster_assignments")) / nd
    )
    m["operators.cluster_index.jobs_per_day"] = (
        sum(roll.subtree(s, "jobs") for s in roll.of("operators.cluster_index.probe_and_merge_delta_vec")) / nd
    )
    audits = extras.get("audits", [])
    pairs = [a.get("pairs", 0) for a in audits]
    m["operators.cluster_index.pairs_per_day"] = _median(pairs)
    # a pair is useful when it changes the clustering: merges two labels
    # or gives a new node a label
    changed = sum(a["merge"]["merged_labels"] + a["merge"]["new_nodes"] for a in audits if "merge" in a)
    m["operators.cluster_index.label_changes_per_pair"] = changed / sum(pairs) if sum(pairs) else 0.0
    skews = [
        s.spark["task_skew"]
        for s in roll.spans
        if s.layer == "operators.cluster_index" and s.op in roll.measured and "task_skew" in s.spark
    ]
    m["operators.cluster_index.task_skew"] = _median(skews)
    m["operators.ann_index.build_ivfpq_index_s"] = roll.per_op_s("operators.ann_index.build_ivfpq_index")
    m["operators.ann_index.build_jobs"] = roll.per_call("operators.ann_index.build_ivfpq_index", "jobs")
    m["operators.ann_index.build_stages"] = roll.per_call("operators.ann_index.build_ivfpq_index", "stages")
    m["operators.ann_index.search_ivfpq_index_s"] = roll.per_op_s("operators.ann_index.search_ivfpq_index")
    m["operators.ann_index.load_pq_index_s"] = roll.per_op_s("operators.ann_index.load_pq_index")
    searches = [o for o in ops if o["name"] == "ivfpq_search"]
    m["operators.ann_index.search_jobs"] = _median(o["spark"].get("jobs", 0) for o in searches)
    m["operators.ann_index.search_shuffle_bytes"] = _median(o["spark"].get("shuffleWriteBytes", 0) for o in searches)
    m["operators.ann_index.recall_at_10"] = extras.get("recall_at_10", 0.0)
    return m
