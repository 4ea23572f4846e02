#!/usr/bin/env python
"""spark-submit entrypoint for snapshot-table maintenance.

The third job of the deployment triad (extract → curate → maintain):
the periodic housekeeping a continuously-ingesting corpus needs, run
against any ``pipeline/snapshots.py`` table (``extract_job --output``
is one):

    spark-submit --py-files ragflow_core16_spark.zip \
        jobs/maintenance_job.py --table <dir> \
        [--compact [--target-mb 128]]   # binPack small-file debt
        [--delete "<sql predicate>"]    # copy-on-write row purge
        [--vacuum [--keep-versions 3]]  # expire unreachable data files
        [--history]                     # print snapshot log, change nothing

Operations run in the order delete → compact → vacuum (purge first so
the rewrite doesn't immediately re-fragment; vacuum last so it can
expire what the first two unpinned).  Each is its own atomic snapshot
commit; a concurrent extract job's appends compose with both delete and
compact, so maintenance never blocks ingestion.

The session comes from ``session.get_spark`` (the engine's tuned
config; master and topology from spark-submit).  Called in-process, it
reuses the caller's active session.

Prints ONE JSON line with the versions committed and files touched.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None, stop: bool = True) -> int:
    ap = argparse.ArgumentParser(description="snapshot table maintenance")
    ap.add_argument("--table", required=True,
                    help="snapshot table dir (data/ + _snapshots/)")
    ap.add_argument("--delete", default=None, metavar="PREDICATE",
                    help="SQL predicate: rows matching it are purged "
                         "(copy-on-write; NULL-predicate rows are kept)")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--target-mb", type=float, default=128.0,
                    help="binPack target: only files smaller than this "
                         "rewrite; 0 = full coalesce (small tables only)")
    ap.add_argument("--vacuum", action="store_true")
    ap.add_argument("--keep-versions", type=int, default=3)
    ap.add_argument("--history", action="store_true",
                    help="print the snapshot log and exit")
    args = ap.parse_args(argv)

    from ragflow_core16_spark.session import get_spark
    spark = get_spark(app_name="ragflow_core16_spark.maintenance")
    spark.sparkContext.setLogLevel("WARN")

    from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
    t = SnapshotTable(spark, args.table)

    if args.history:
        print(json.dumps({"table": args.table,
                          "versions": t.versions()}))
        if stop:
            spark.stop()
        return 0

    t0 = time.time()
    out: dict = {"table": args.table,
                 "version_before": t.current_version()}
    if args.delete:
        v = t.commit_delete(args.delete)
        m = t.manifest(v)
        out["delete"] = {"version": v,
                         "rewrote_files": m.get("rewrote_files", 0)
                         if m.get("op") == "delete" else 0}
    if args.compact:
        v = t.compact(target_mb=args.target_mb or None)
        m = t.manifest(v)
        out["compact"] = {"version": v,
                          "rewrote_files": m.get("rewrote_files",
                                                 m.get("n_files", 0))
                          if m.get("op") == "compact" else 0}
    if args.vacuum:
        removed = t.vacuum(keep_versions=args.keep_versions)
        out["vacuum"] = {"removed_files": len(removed)}
    out["version_after"] = t.current_version()
    out["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    if stop:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
