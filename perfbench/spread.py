"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload pricing_etl --seeds 1-10 [--seconds 15]

Runs the benchmark once per seed, one run at a time, and prints each
metric's median and its spread: the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median, next to a third of the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", default="15")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench.metrics import END_TO_END

    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(lo, hi + 1):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        walls.append(time.perf_counter() - t0)
        res = json.loads(out)
        print(f"seed {seed}: wall={walls[-1]:.1f}s correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    bounds = {name: bound for name, _, _, bound in END_TO_END}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:40s} median {med:12.5g}  spread {spread:.4f}  (bound/3 {bounds[k] / 3:.4f})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
