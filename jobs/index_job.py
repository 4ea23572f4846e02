#!/usr/bin/env python
"""spark-submit entrypoint for the ingest-time index build.

The reference builds its derived retrieval structures once per corpus at
indexing time — the GraphRAG entity graph and communities
(`graphrag/general/index.py`) and the RAPTOR summary tree (`rag/raptor.py`
via the task executor) — and every query reads the stored result.  This
job is that step for the Spark engine: it materializes every ``index``
family of ``pipeline/snapshot_cache.FAMILIES`` — the GraphRAG index, the
RAPTOR tree, per-doc keywords + tag features, document vectors, webgraph
ranks, SemDeDup labels, the trained BPE merge / LM / DSIR tables and the
retrieval index — turning those queries into scans:

    zip -r ragflow_core16_spark.zip ragflow_core16_spark
    spark-submit --py-files ragflow_core16_spark.zip \
        jobs/index_job.py \
        --input <dir containing documents.parquet> [--run-id r42]

Master/executor topology comes from spark-submit; the same invocation
runs at N and 4N executors.  Each table is a snapshot table committed
idempotently (a table with a published version is left alone) and a
crashed write never serves (it publishes no version), so reruns are
always safe.

Prints ONE JSON line: the table paths plus wall_sec.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description="documents → GraphRAG index + RAPTOR tree tables")
    ap.add_argument("--input", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)

    from ragflow_core16_spark.pipeline.snapshot_cache import (
        FAMILIES, materialize_families)
    from ragflow_core16_spark.session import get_spark
    spark = get_spark(app_name="ragflow_core16_spark.index")

    t0 = time.time()
    paths = materialize_families(
        spark, args.input.rstrip("/"),
        [f for f in FAMILIES if f.job == "index"])
    print(json.dumps({
        "run_id": args.run_id,
        "tables": list(paths.values()),
        "wall_sec": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
