"""CLI for scheduled index maintenance: consistency sweep + compaction
(ANN and near-dup indexes).

``python -m tools.fsck_index /path/to/index [--lenient] [--repair]
[--dedup | --vec-dedup | --clusters | --snapshot [--source PATH]
 | --curation CLUSTERS_PATH SNAPSHOT_PATH]
[--compact [TARGET_FILES]] [--serving] [--gc [MIN_AGE_SEC]]``

``append_to_pq_index`` (and the bucket-index appends) verify only the
ids each append writes (flat cost per micro-batch — the right scope
for a streaming ingest); this tool is the scheduled O(index) pass that
catches everything else: partial code sets nobody retried, duplicated
inverted-list rows from a replayed ``assume_new_ids=True`` append, and
codes/lists id-set disagreement on IVFADC layouts. ``--compact``
additionally rewrites the streaming-ingest small files (one per
micro-batch in codes/lists/bands plus one marker file each) into a few
id-sorted files AFTER the sweep comes back clean — compacting an
inconsistent index would bake the corruption into the rewritten files.
``--serving`` makes the compaction go through the pointer-swap
serving layout (``compact_*_serving``: compact a copy, swap CURRENT —
no reader downtime; the index must have been migrated with the
module's ``migrate_*_to_serving`` once) instead of the in-place
maintenance-window rewrite. ``--gc`` additionally sweeps a serving
root's crash debris after the sweep (and compaction, if requested)
come back clean: aged older-than-grace generations and
newer-than-CURRENT orphans from crashed compactions — never CURRENT,
never the one-generation reader grace, never anything younger than
MIN_AGE_SEC (default 3600; the age gate protects a concurrently
staging compaction), refused under a live ingest claim unless
--force. ``--clusters`` routes the whole pipeline at the FOURTH
persisted structure, the cluster-assignments layout
(operators/cluster_index.py): the sweep is
``fsck_cluster_assignments`` (dup base rows, log chains/dup keys,
unanchored labels, crashed-mutation markers + the pending-operation
token naming what to retry), ``--compact`` folds the remap log into
base, and ``--gc`` sweeps aged ``.base_stage``/``.remap_stage``
debris whose live twin exists plus stale pending tokens beside a
valid marker (``gc_cluster_debris`` — a stage with a missing twin is
restore material, never debris); both refuse under a live
``.WRITER_ACTIVE`` claim (a running stream_dedup_cluster_job) unless
--force. ``--repair``/``--serving`` do not apply to clusterings.
``--curation CLUSTERS_PATH SNAPSHOT_PATH`` runs the COMPOSED sweep for
the curation triple the daily job mutates together
(``orchestrate.fsck_curation``): each structure's own fsck plus the
cross-structure invariant no per-structure sweep can see — every
resolved cluster node must be a banded id in the index (a violation
means drifted structures: wrong backup restored, or an index rebuilt
without replaying the clustering). ``--vec-dedup`` combines with it
for an embedding-side triple; sweep-only.
``--snapshot`` routes the sweep at the FIFTH persisted structure, a
cluster-snapshot serving root (``fsck_cluster_snapshot``: pointer
resolution, provenance row count, crash-orphan extras — the grace
generation is never listed as debris); with ``--source`` it also
reports staleness vs the live clustering. Sweep-only: a snapshot root
is repaired by re-publishing, which sweeps its own aged debris. Exit
code 0 = consistent (or --lenient), 1 = violations found.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("index_path")
    ap.add_argument(
        "--lenient",
        action="store_true",
        help="print the report instead of failing on violations",
    )
    ap.add_argument(
        "--repair",
        action="store_true",
        help="prune violations in place (rewrite of the narrow "
        "codes/lists/bands tables, no re-hashing; pruned ids must be "
        "re-ingested) and re-verify",
    )
    ap.add_argument(
        "--dedup",
        action="store_true",
        help="the path is a TEXT near-dup (MinHash+LSH) index "
        "(operators/dedup_index.py) instead of an ANN index",
    )
    ap.add_argument(
        "--vec-dedup",
        action="store_true",
        help="the path is a VECTOR near-dup (sign-LSH) index "
        "(operators/dedup_index.py) instead of an ANN index",
    )
    ap.add_argument(
        "--clusters",
        action="store_true",
        help="the path is a persisted cluster-assignments layout "
        "(operators/cluster_index.py) instead of an ANN index",
    )
    ap.add_argument(
        "--snapshot",
        action="store_true",
        help="the path is a cluster-snapshot serving root "
        "(snapshot_cluster_assignments' generation/CURRENT layout): "
        "sweep = fsck_cluster_snapshot (pointer resolution, "
        "provenance row count, crash-orphan extras). Sweep-only — "
        "repair is re-publishing the snapshot",
    )
    ap.add_argument(
        "--curation",
        nargs=2,
        default=None,
        metavar=("CLUSTERS_PATH", "SNAPSHOT_PATH"),
        help="the path is a near-dup index and these are its curation "
        "siblings: run the COMPOSED sweep (orchestrate.fsck_curation) "
        "— each structure's own fsck plus the cross-structure subset "
        "invariant (every resolved cluster node must be a banded id). "
        "Combine with --vec-dedup for an embedding-side triple. "
        "Sweep-only",
    )
    ap.add_argument(
        "--source",
        default=None,
        metavar="CLUSTERS_PATH",
        help="with --snapshot: the live clustering to compare against "
        "(adds source_rebuilt + rows_behind_source staleness fields)",
    )
    ap.add_argument(
        "--serving",
        action="store_true",
        help="compact via the zero-downtime serving layout (pointer "
        "swap) instead of in place; requires a migrated index",
    )
    ap.add_argument(
        "--compact",
        nargs="?",
        const=-1,
        default=None,
        type=int,
        metavar="TARGET_FILES",
        help="after a clean (or repaired) sweep, compact the index's "
        "streaming-ingest small files into TARGET_FILES id-sorted "
        "files (default: sized from the row count)",
    )
    ap.add_argument(
        "--gc",
        nargs="?",
        const=3600.0,
        default=None,
        type=float,
        metavar="MIN_AGE_SEC",
        help="after a clean sweep (and compaction, if any), delete a "
        "serving root's aged generation debris and crashed-compaction "
        "orphans older than MIN_AGE_SEC (default 3600) — never the "
        "CURRENT generation or the one-generation reader grace",
    )
    ap.add_argument(
        "--force",
        action="store_true",
        help="compact across a stale .INGEST_ACTIVE claim left by a "
        "hard-killed ingest job (compaction refuses it otherwise; "
        "confirm no ingest is actually running first). A --serving "
        "compaction also releases the claim once its pre-swap check "
        "has proven it wrote nothing during the run; the in-place "
        "variant leaves the marker for manual cleanup",
    )
    args = ap.parse_args()
    if sum([args.dedup, args.vec_dedup, args.clusters, args.snapshot]) > 1:
        ap.error(
            "--dedup, --vec-dedup, --clusters and --snapshot are "
            "mutually exclusive"
        )
    if args.curation and (args.dedup or args.clusters or args.snapshot):
        ap.error(
            "--curation names the index positionally and its siblings "
            "as arguments; only --vec-dedup combines with it"
        )
    if args.curation and (
        args.repair or args.serving or args.compact is not None
        or args.gc is not None
    ):
        ap.error(
            "--curation is sweep-only: repair/compact/gc each structure "
            "through its own mode after reading the composed report"
        )
    if args.source and not args.snapshot:
        ap.error("--source only applies to --snapshot")
    if args.snapshot and (
        args.repair or args.serving or args.compact is not None
        or args.gc is not None
    ):
        ap.error(
            "--snapshot is sweep-only: a snapshot root is repaired by "
            "re-publishing (snapshot_cluster_assignments), which also "
            "sweeps aged debris itself"
        )
    if args.clusters and args.repair:
        ap.error(
            "--repair does not apply to clusterings: retry the crashed "
            "mutation fsck names (merges and compactions are idempotent) "
            "or rebuild from a fresh connected_components run"
        )
    if args.clusters and args.serving:
        ap.error(
            "--serving does not apply to clusterings (no pointer-swap "
            "layout; always-on readers use snapshot_cluster_assignments)"
        )
    # -1 is the "size from the row count" sentinel (bare --compact);
    # any other non-positive value would reach repartitionByRange and
    # die mid-staging with an opaque IllegalArgumentException, leaving
    # a stale .compact_stage behind — reject it up front instead
    if args.compact is not None and args.compact != -1 and args.compact < 1:
        ap.error(f"--compact TARGET_FILES must be >= 1 (got {args.compact})")

    from etl_pricenow_to_leukerbadb_spark.operators.ann_index import (
        compact_index,
        compact_index_serving,
        fsck_index,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.dedup_index import (
        compact_dedup_index,
        compact_dedup_index_serving,
        fsck_dedup_index,
    )
    from etl_pricenow_to_leukerbadb_spark.operators.cluster_index import (
        compact_cluster_assignments,
        fsck_cluster_assignments,
        fsck_cluster_snapshot,
        gc_cluster_debris,
    )
    from etl_pricenow_to_leukerbadb_spark.session import get_spark

    if args.dedup or args.vec_dedup:
        # one set of maintenance functions serves both kinds (each reads
        # the kind from the index meta); --vec-dedup still selects the
        # vector curation sweep below
        fsck = fsck_dedup_index
        compact = (
            compact_dedup_index_serving if args.serving else compact_dedup_index
        )
    elif args.clusters or args.snapshot:
        fsck = None  # clusterings/snapshots take dedicated branches below
        compact = None
    else:
        fsck = fsck_index
        compact = compact_index_serving if args.serving else compact_index
    spark = get_spark(app_name="fsck-index")
    try:
        if args.curation:
            from etl_pricenow_to_leukerbadb_spark.orchestrate import (
                fsck_curation,
            )

            report = fsck_curation(
                spark,
                args.index_path,
                args.curation[0],
                args.curation[1],
                strict=False,
                vec=args.vec_dedup,
            )
            # same envelope as every other mode: "index" = the path
            # swept; the composed per-structure reports nest under
            # "curation" (the bare composed dict's own "index" key is
            # the index's REPORT, which would collide)
            print(
                json.dumps(
                    {"index": args.index_path, "curation": report},
                    default=str,
                )
            )
            return 0 if (report["clean"] or args.lenient) else 1
        if args.snapshot:
            report = fsck_cluster_snapshot(
                spark, args.index_path, source_path=args.source, strict=False
            )
            bad = not report.get("current_resolves", True) or (
                report.get("provenance_rows_match") is False
            )
        elif args.clusters:
            report = fsck_cluster_assignments(
                spark, args.index_path, strict=False
            )
            bad = (
                report["uncommitted"]
                or report["dup_node_rows"]
                or report["log_chain_entries"]
                or report["log_dup_keys"]
                or report["unanchored_components"]
            )
        else:
            report = fsck(
                spark, args.index_path, strict=False, repair=args.repair
            )
            if args.dedup or args.vec_dedup:
                bad = report["dup_rows"] or report["partial_ids"]
            else:
                bad = report["partial_code_ids"] or report.get(
                    "dup_list_rows"
                ) or report.get("codes_lists_id_mismatch")
        clean = ("post_repair" in report) or not bad
        if args.compact is not None and clean:
            target = None if args.compact == -1 else args.compact
            if args.clusters:
                report["compact"] = compact_cluster_assignments(
                    spark, args.index_path, target, force=args.force
                )
            else:
                report["compact"] = compact(
                    spark, args.index_path, target, force=args.force
                )
        elif args.compact is not None:
            report["compact"] = "skipped: sweep found violations"
        if args.gc is not None and clean:
            if args.clusters:
                report["gc"] = gc_cluster_debris(
                    spark, args.index_path, min_age_sec=args.gc, force=args.force
                )
            else:
                from etl_pricenow_to_leukerbadb_spark.operators.ann_index import (
                    gc_serving_root,
                )

                report["gc"] = gc_serving_root(
                    spark, args.index_path, min_age_sec=args.gc, force=args.force
                )
        elif args.gc is not None:
            report["gc"] = "skipped: sweep found violations"
    finally:
        spark.stop()
    print(json.dumps({"index": args.index_path, **report}))
    if "post_repair" in report:  # repaired and re-verified clean
        return 0
    return 0 if (args.lenient or not bad) else 1


if __name__ == "__main__":
    raise SystemExit(main())
