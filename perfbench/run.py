"""Benchmark runner: one workload, one client, one SparkSession.

    python3 perfbench/run.py --workload pricing_etl --seed 1 --seconds 15 --trace 0

Runs from the repository root. Set-up (session start, seeded inputs,
standing state) is timed as ``setup_s``; then whole cycles of the
workload's ops run until the ops have taken ``--seconds``; then the
output checks run, untimed. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). Every run also writes a record under
``perfbench/records/`` that is never overwritten.
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(tmp: str) -> None:
    """Keep every temporary file Spark and Python write inside ``tmp``."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')} "
        f"--conf spark.local.dir={tmp} pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _commit() -> str:
    """HEAD commit when run from a git checkout, else 'unknown'."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return "unknown"


def write_record(record: dict, records_dir: str) -> str:
    """Write ``record`` to a new file keyed by UTC time, commit,
    workload, seed and trace flag; an existing file is never replaced."""
    os.makedirs(records_dir, exist_ok=True)
    stem = "{utc}_{commit}_{workload}_s{seed}_t{trace}".format(**record)
    for i in range(1000):
        path = os.path.join(records_dir, f"{stem}{f'_{i}' if i else ''}.json")
        try:
            with open(path, "x") as f:
                json.dump(record, f, indent=1, default=str)
            return path
        except FileExistsError:
            continue
    raise RuntimeError(f"no free record name for {stem}")


def release_leaked(sc) -> int:
    """Unpersist the RDDs an op left persisted; returns how many."""
    gc.collect()
    rdds = sc._jsc.sc().getPersistentRDDs()
    n = rdds.size()
    it = rdds.iterator()
    while it.hasNext():
        it.next()._2().unpersist(True)
    return n


def trace_targets():
    """(layer, owner, attribute) for every public function the traced
    run wraps."""
    from etl_pricenow_to_leukerbadb_spark import fs, orchestrate
    from etl_pricenow_to_leukerbadb_spark.operators import (
        ann_index,
        cluster_index,
        dedup,
        dedup_index,
        graph,
    )
    from etl_pricenow_to_leukerbadb_spark.plans import pricenow
    from etl_pricenow_to_leukerbadb_spark.sinks import upsert
    from etl_pricenow_to_leukerbadb_spark.sources import rest, tables

    out = [("sources.rest", rest.PaginatedRestSource, "fetch_all"), ("sources.tables", tables, "load_table")]
    for f in ("run_pipeline", "product_ids_for_fetch", "build_products", "build_prices"):
        out.append(("plans.pricenow", pricenow, f))
    for f in ("merge_upsert_parquet", "assert_keys_not_null", "assert_keys_unique"):
        out.append(("sinks.upsert", upsert, f))
    out.append(("operators.graph", graph, "pagerank_fixed_iters"))
    out.append(("operators.dedup", dedup, "connected_components_twophase"))
    out.append(("orchestrate", orchestrate, "curate_corpus_daily_vec"))
    for f in ("build_vec_dedup_index", "append_to_vec_dedup_index"):
        out.append(("operators.dedup_index", dedup_index, f))
    for f in (
        "probe_and_merge_delta_vec",
        "merge_cluster_delta",
        "snapshot_if_stale",
        "compact_cluster_assignments",
    ):
        out.append(("operators.cluster_index", cluster_index, f))
    for f in ("build_ivfpq_index", "search_ivfpq_index", "load_pq_index"):
        out.append(("operators.ann_index", ann_index, f))
    for f in sorted(n for n in vars(fs) if n.startswith("fs_") or n in ("try_read_parquet", "parquet_file_count_fs")):
        out.append(("fs", fs, f))
    return out


def execute(workload: str, seed: int, seconds: float, trace: bool, size: str = "full", fault: bool = False,
            records_dir: str | None = None, keep_session: bool = False) -> dict:
    """Run one workload and return the result object (also recorded)."""
    import numpy as np

    from etl_pricenow_to_leukerbadb_spark import session

    from perfbench import metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}-{seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    started = dt.datetime.now(dt.timezone.utc)
    errors: list[str] = []
    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{workload}")
    get_spark_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    cores = sc.defaultParallelism
    tracer = None
    if trace:
        tracer = Tracer(sc)
        tracer.install(trace_targets())
    ops: list[dict] = []
    try:
        wl = WORKLOADS[workload](spark, np.random.default_rng(seed), work, size)
        if tracer:
            tracer.begin_op()  # op 0: set-up
        wl.setup()
        setup_s = time.perf_counter() - t0
        t_warm = time.perf_counter()
        errors += wl.warm_up_checks()  # untimed: not part of setup_s
        release_leaked(sc)
        t_state = time.perf_counter()
        wl.build_state()
        setup_s += time.perf_counter() - t_state
        if tracer:
            tracer.end_op()
        release_leaked(sc)
        failed = len(errors)
        phases = {"get_spark_s": get_spark_s, "setup_s": setup_s, "warm_up_checks_s": t_state - t_warm}
        if fault:
            wl.inject_fault()
        measured, cycles = 0.0, 0
        t_loop = time.perf_counter()
        while measured < seconds or not ops:
            cycles += 1
            for name, run, check in wl.cycle():
                if tracer:
                    tracer.begin_op()
                ok, msg = True, None
                start = time.perf_counter()
                try:
                    run()
                except Exception as e:  # an op failure is counted, not fatal
                    ok, msg = False, f"{name}: {type(e).__name__}: {e}"
                    traceback.print_exc(file=sys.stderr)
                took = time.perf_counter() - start
                spark_totals = tracer.end_op() if tracer else {}
                leaked = release_leaked(sc)
                if ok and check is not None:
                    msg = check()
                    ok = msg is None
                if msg:
                    errors.append(msg)
                    failed += 1
                measured += took
                ops.append({"op": tracer.op if tracer else len(ops) + 1, "cycle": cycles, "name": name,
                            "seconds": took, "ok": ok, "leaked": leaked, "spark": spark_totals})
        t_final = time.perf_counter()
        phases["loop_s"] = t_final - t_loop
        finals = wl.final_checks()
        errors += finals
        phases["final_checks_s"] = time.perf_counter() - t_final
        failed += len(finals)
        proc = sc._gateway.proc
        rss = _rss_mb(os.getpid()) + _rss_mb(proc.pid)
        if tracer:
            extras = {"peak_rss_mb": rss, **wl.layer_extras()}
            roll = metrics.Rollup(tracer.spans(), tracer.children(), ops)
            values = metrics.per_layer(roll, ops, cores, extras, tracer.bookkeeping_s, get_spark_s)
            declared = metrics.PER_LAYER
        else:
            values = {
                "setup_s": setup_s,
                "cycle_s": metrics.cycle_s(ops),
            }
            declared = metrics.END_TO_END
        result = {
            "correct": not errors,
            "attempted": len(ops),
            "failed": min(len(ops), failed),
            "metrics": {name: {"value": values[name], "unit": unit} for name, unit, *_ in declared},
        }
        record = {
            "utc": started.strftime("%Y%m%dT%H%M%S%fZ"),
            "commit": _commit()[:12],
            "workload": workload,
            "seed": seed,
            "trace": int(trace),
            "seconds": seconds,
            "size": size,
            "cores": cores,
            "result": result,
            "directions": {name: better for name, _, better, *_ in declared},
            "errors": errors,
            "phases": phases,
            "ops": ops,
            "spans": [vars(s) for s in tracer.spans()] if tracer else [],
        }
        result["record"] = write_record(record, records_dir or os.path.join(HERE, "records"))
        return result
    finally:
        if tracer:
            tracer.uninstall()
        if not keep_session:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("pricing_etl", "data_team"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list-metrics", action="store_true", help="print every metric and what it should move")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_pricenow_to_leukerbadb_spark")):
        print("perfbench: run from a checkout that holds etl_pricenow_to_leukerbadb_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics

    if args.list_metrics:
        for name, unit, better, bound in metrics.END_TO_END:
            print(f"{name:55s} {unit:6s} {better:6s} bound {bound}")
        for name, unit, better, moves, wl in metrics.PER_LAYER:
            print(f"{name:55s} {unit:6s} {better:6s} -> {moves} on {wl}")
        return 0
    if not args.workload:
        ap.error("--workload is required")
    tmp = os.path.join(HERE, ".work", f"tmp-{os.getpid()}")
    _isolate(tmp)
    try:
        result = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    directions = {n: b for n, _, b, *_ in metrics.END_TO_END + metrics.PER_LAYER}
    for name, v in result["metrics"].items():
        print(f"{name:55s} {v['value']:>16.6g} {v['unit']:6s} ({directions[name]} is better)")
    print(f"record: {result.pop('record')}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
