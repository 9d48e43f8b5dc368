"""Layer tracing from outside the program.

``Tracer.install`` replaces each listed public function with a wrapper,
at every module attribute it is bound under, so a call made through
any import of it is seen. A wrapper records a span (name, layer, start,
end, parent span, op id) in memory and runs the call inside its own
Spark job group. After each op, ``end_op`` reads the job, stage and
task metrics of every group from Spark's status store, so each span
also knows the Spark work it launched itself.

Spans stay in memory until the run ends; ``spans()`` returns them for
the run record.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PACKAGE = "etl_pricenow_to_leukerbadb_spark"
# layers whose spans also record task skew (slowest ÷ median task)
SKEW_LAYERS = ("operators.cluster_index",)


@dataclass
class Span:
    idx: int
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    spark: dict = field(default_factory=dict)


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


_STAGE_FIELDS = (
    "executorRunTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "outputBytes",
)


class Tracer:
    """Spans plus per-job-group Spark metrics. One per run; not
    thread-safe (the benchmark drives the program from one thread)."""

    def __init__(self, sc):
        self.sc = sc
        self._spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = -1
        self.op_group = ""
        self.bookkeeping_s = 0.0
        self._seen_stages: set[int] = set()
        self._quantiles = None

    # -- installation ------------------------------------------------------

    def install(self, targets: list[tuple[str, object, str]]) -> None:
        """``targets``: (layer, owner, attribute). ``owner`` is a module
        or a class; a module function is also replaced in every loaded
        package module that bound it by name."""
        for layer, owner, attr in targets:
            orig = getattr(owner, attr)
            name = f"{layer}.{attr}"
            wrapped = self._wrap(orig, name, layer)
            holders = [owner]
            if isinstance(owner, type(sys)):
                holders += [
                    m
                    for mname, m in list(sys.modules.items())
                    if m is not None
                    and m is not owner
                    and (mname.startswith(PACKAGE) or mname.startswith("perfbench"))
                    and getattr(m, attr, None) is orig
                ]
            for h in holders:
                self._patched.append((h, attr, orig))
                setattr(h, attr, wrapped)

    def uninstall(self) -> None:
        for h, attr, orig in reversed(self._patched):
            setattr(h, attr, orig)
        self._patched.clear()

    def _set_group(self, gid: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer.call(name, layer, fn, *args, **kwargs)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__doc__ = getattr(fn, "__doc__", None)
        return wrapper

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """Run ``fn`` as a span of the current op."""
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self._spans), name, layer, self.op, parent.idx if parent else None, 0.0)
        span.group = f"pb-{self.op}-{span.idx}"
        self._spans.append(span)
        self._stack.append(span)
        self._set_group(span.group)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - b0
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else self.op_group or None)
            self.bookkeeping_s += time.perf_counter() - span.end

    # -- ops ---------------------------------------------------------------

    def begin_op(self) -> None:
        self.op += 1
        self.op_group = f"pb-{self.op}-op"
        self._set_group(self.op_group)

    def end_op(self) -> dict:
        """Clear the op's job group and read the Spark metrics of every
        group the op used. Returns the op-level totals."""
        b0 = time.perf_counter()
        self._set_group(None)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        totals = self._group_metrics(self.op_group, skew=False)
        for s in self._spans:
            if s.op == self.op:
                s.spark = self._group_metrics(s.group, skew=s.layer in SKEW_LAYERS)
                for k, v in s.spark.items():
                    if k != "task_skew":
                        totals[k] = totals.get(k, 0) + v
        self.bookkeeping_s += time.perf_counter() - b0
        return totals

    def _group_metrics(self, gid: str, skew: bool) -> dict:
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, **{f: 0 for f in _STAGE_FIELDS}}
        skews = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(gid):
            out["jobs"] += 1
            it = store.job(job_id).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self._seen_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # a skipped stage whose first run the store already evicted
                if sd.status().toString() != "COMPLETE":
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                for f in _STAGE_FIELDS:
                    out[f] += getattr(sd, f)()
                if skew and sd.numCompleteTasks() >= 2:
                    skews.append(self._stage_skew(store, sid, sd.attemptId()))
        if skew:
            out["task_skew"] = max(skews) if skews else 1.0
        return out

    def _stage_skew(self, store, sid: int, attempt: int) -> float:
        if self._quantiles is None:
            q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            self._quantiles = q
        summary = store.taskSummary(sid, attempt, self._quantiles)
        if not summary.isDefined():
            return 1.0
        rt = summary.get().executorRunTime()
        med, top = rt.apply(0), rt.apply(1)
        return top / med if med > 0 else 1.0

    # -- results -----------------------------------------------------------

    def spans(self) -> list[Span]:
        return list(self._spans)

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self._spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids
