"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Smoke-runs every workload at tiny size in one shared SparkSession
(~3 min on 4 cores), checks the traced span tree, the record files and
that BENCHMARK.json declares exactly the metrics the runner emits.
"""

from __future__ import annotations

import json
import os
import re
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import metrics, run  # noqa: E402
from perfbench.trace import Span, Tracer, self_time  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_declares_the_runner_metrics():
    b = _declared()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [
        (n, u, better) for n, u, better, *_ in metrics.PER_LAYER
    ]
    assert sorted(w["name"] for w in b["workloads"]) == sorted(WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in b["workloads"])


def test_cycle_s_is_the_median_cycle():
    ops = [{"cycle": c, "seconds": s} for c, s in ((1, 1.0), (1, 2.0), (2, 4.0), (3, 1.0), (3, 1.5))]
    assert metrics.cycle_s(ops) == 3.0  # cycles of 3.0, 4.0 and 2.5 s
    assert metrics.cycle_s([]) == 0.0


def test_analyst_queries_are_read_only_headliners_with_oracles():
    from etl_pricenow_to_leukerbadb_spark.plans.analytics import REGISTRY

    lifecycles = {"ann_ivfpq_trained_e2e", "dd_cluster_merge", "dd_index_probe", "llm_curation_e2e"}
    assert metrics.QUERIES == sorted(set(metrics.QUERIES))
    for q in metrics.QUERIES:
        assert REGISTRY[q].headline and q not in lifecycles and REGISTRY[q].oracle


class _FakeContext:
    def setLocalProperty(self, key, value):
        pass


def test_span_tree_is_well_formed():
    mod = types.ModuleType("perfbench._fake_layer")

    def leaf(x):
        return sum(range(x))

    def mid(x):
        return mod.leaf(x) + mod.leaf(x)

    def top(x):
        return mod.mid(x) + mod.leaf(x)

    mod.leaf, mod.mid, mod.top = leaf, mid, top
    sys.modules[mod.__name__] = mod
    try:
        tracer = Tracer(_FakeContext())
        tracer.install([("fake", mod, "top"), ("fake", mod, "mid"), ("fake", mod, "leaf")])
        tracer.begin_op()
        assert mod.top(10_000) == 3 * sum(range(10_000))
        tracer.uninstall()
        assert mod.leaf is leaf
    finally:
        del sys.modules[mod.__name__]
    spans, kids = tracer.spans(), tracer.children()
    assert [s.name for s in spans] == ["fake.top", "fake.mid", "fake.leaf", "fake.leaf", "fake.leaf"]
    _assert_well_formed(spans, kids)


def _assert_well_formed(spans, kids):
    by_idx = {s.idx: s for s in spans}
    for s in spans:
        assert s.end >= s.start
        assert self_time(s, kids.get(s.idx, [])) >= 0
        if s.parent is not None:
            p = by_idx[s.parent]
            assert p.start <= s.start and s.end <= p.end
            assert p.op == s.op


def test_records_are_never_overwritten(tmp_path):
    rec = {"utc": "20260101T000000000000Z", "commit": "abc", "workload": "w", "seed": 1, "trace": 0}
    a = run.write_record(rec, str(tmp_path))
    b = run.write_record(rec, str(tmp_path))
    assert a != b and os.path.exists(a) and os.path.exists(b)


@pytest.fixture(scope="module")
def spark():
    from etl_pricenow_to_leukerbadb_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests")
    yield s
    s.stop()


@pytest.mark.parametrize("workload", ["pricing_etl", "data_team"])
def test_workload_smoke(spark, workload, tmp_path):
    res = run.execute(workload, 7, 0, trace=False, size="tiny", records_dir=str(tmp_path), keep_session=True)
    assert res["correct"], _errors(res)
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {n: u for n, u, *_ in metrics.END_TO_END}
    assert all(v["value"] > 0 for v in res["metrics"].values())
    with open(res["record"]) as f:
        record = json.load(f)
    assert record["directions"] == {n: b for n, _, b, _ in metrics.END_TO_END}

    # traced run with a fault injected: per-layer metrics, failures counted
    res = run.execute(workload, 7, 0, trace=True, size="tiny", fault=True, records_dir=str(tmp_path),
                      keep_session=True)
    assert res["failed"] >= 1 and not res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {n: u for n, u, *_ in metrics.PER_LAYER}
    with open(res["record"]) as f:
        record = json.load(f)
    spans = [Span(**s) for s in record["spans"]]
    assert spans
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    _assert_well_formed(spans, kids)


def _errors(res):
    with open(res["record"]) as f:
        return json.load(f)["errors"]
