"""Round-13 probe: does the serving-root hardening tax the curation
loop? This round every curation-job meta read learned to resolve a
serving-layout root (``require_untorn_serving_root``) so the dim gate
and the fresh/append decision survive a
``migrate_dedup_index_to_serving`` — the probe measures the
per-epoch cost of ``curate_corpus_daily_vec`` against the SAME
standing state before and after the migration.

Run:

    python -m tools.probe_r13

Shape:

- builds a standing corpus (default 4x the sf0.1 embeddings table,
  per-replica orthogonal sign-flips as in ``tools/probe_r12.py``) and
  curates it into a fresh flat index + clustering + snapshot;
- times N (default 3) epochs of a fresh ~250-vector delta each
  against the FLAT index;
- migrates the index to the serving layout (pointer-indirected
  generations);
- times N more epochs against the MIGRATED index;
- prints one JSON line per epoch with the job's per-stage split.

Expected: identical within session noise. The added work per epoch is
one ``CURRENT`` read + the meta read the job already did (plus, on
the standing path, nothing else — the under-claim re-probe only runs
for fresh-looking roots), all O(1) metadata ops that do not scale
with corpus, delta, or epoch count. Recorded result (r13 session,
local[32], sf0.1 x4 standing corpus, ~250-vec deltas): flat epochs
9.16/8.53/8.76 s vs serving epochs 9.56/9.76/8.43 s, with `pairs`
growing ~7%/epoch by construction (each delta also meets its
predecessors), so the last — serving — epoch is the cheapest per
pair; the `validity_gate` stage, which absorbs the new resolve +
meta read, is 0.25-0.30 s on BOTH sides. The resolution cost is
unmeasurable against Spark job-dispatch noise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (  # noqa: E402
    migrate_dedup_index_to_serving,
)
from etl_pricenow_to_leukerbadb_spark.orchestrate import (  # noqa: E402
    curate_corpus_daily_vec,
)
from etl_pricenow_to_leukerbadb_spark.session import get_spark  # noqa: E402
from etl_pricenow_to_leukerbadb_spark.sources.tables import load_table  # noqa: E402
from tools.probe_r12 import _replica  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE = int(os.environ.get("SPARK_GRAFT_PROBE_SCALE", "4"))
DELTA_VECS = int(os.environ.get("SPARK_GRAFT_PROBE_DELTA", "250"))
EPOCHS = int(os.environ.get("SPARK_GRAFT_PROBE_EPOCHS", "3"))


def main() -> None:
    spark = get_spark(app_name="probe_r13")
    spark.sparkContext.setLogLevel("ERROR")
    vecs = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    max_id = vecs.agg(F.max("vec_id")).collect()[0][0]
    work = tempfile.mkdtemp(prefix="probe_r13_")
    try:
        standing = None
        for r in range(SCALE):
            rep = _replica(vecs, r, max_id)
            standing = rep if standing is None else standing.unionByName(rep)
        base_path = f"{work}/base"
        standing.write.parquet(base_path)
        standing = spark.read.parquet(base_path)

        idx, cl, snap = f"{work}/idx", f"{work}/cl", f"{work}/snap"
        t0 = time.perf_counter()
        curate_corpus_daily_vec(
            standing, idx, cl, snap, snapshot_min_rows_behind=10**9
        )
        print(
            json.dumps(
                {
                    "standing_build_sec": round(time.perf_counter() - t0, 2),
                    "scale": SCALE,
                }
            ),
            flush=True,
        )

        def epoch(e: int, layout: str) -> None:
            # fresh ids per epoch, replica-0 vectors: true near-dup
            # partners in the standing state every time
            delta = (
                vecs.orderBy("vec_id")
                .limit(DELTA_VECS)
                .select(
                    (
                        F.col("vec_id") + F.lit((SCALE + 1 + e) * (max_id + 1))
                    ).alias("vec_id"),
                    "embedding",
                )
            )
            delta_path = f"{work}/delta_{e}"
            delta.write.parquet(delta_path)
            delta = spark.read.parquet(delta_path)
            stage_sec: dict[str, float] = {}
            t0 = time.perf_counter()
            audit = curate_corpus_daily_vec(
                delta,
                idx,
                cl,
                snap,
                snapshot_min_rows_behind=10**9,
                stage_timings=stage_sec,
            )
            print(
                json.dumps(
                    {
                        "layout": layout,
                        "epoch": e,
                        "delta_curate_sec": round(
                            time.perf_counter() - t0, 2
                        ),
                        "stages_sec": {
                            k: round(v, 2) for k, v in stage_sec.items()
                        },
                        "pairs": audit["pairs"],
                        "appended": audit["index"]["appended"],
                    }
                ),
                flush=True,
            )

        for e in range(EPOCHS):
            epoch(e, "flat")
        migrate_dedup_index_to_serving(spark, idx)
        for e in range(EPOCHS, 2 * EPOCHS):
            epoch(e, "serving")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
