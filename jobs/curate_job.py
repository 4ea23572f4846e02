#!/usr/bin/env python
"""spark-submit entrypoint for the training-data curation pipeline.

Runs the composed corpus materialization (`operators/webclean`:
Gopher repetition gate ∧ C4 line survival ∧ dedup-cluster survivorship ∧
benchmark decontamination ∧ robots/blocklist/meta-robots crawl gates,
eval split excluded) over a documents table.  It builds every ``curate``
family of ``pipeline/snapshot_cache.FAMILIES`` — the dedup index, the
site-boilerplate lexicon, the decontamination index and the full
per-document decision table (every component column plus the composed
corpus_keep/web_keep verdicts) that turns later ``web_keep`` /
``corpus_keep`` queries into pure scans — then writes the kept corpus
and the run's decision table:

    zip -r ragflow_core16_spark.zip ragflow_core16_spark
    spark-submit --py-files ragflow_core16_spark.zip \
        jobs/curate_job.py \
        --input  <dir containing documents.parquet> \
        --output <warehouse dir for keep/ corpus/> \
        [--no-corpus] [--run-id r42]

Master/executor topology comes from spark-submit, like the extraction
job; the same invocation runs at N and 4N executors.  The write order is
transactional in the same sense as the extraction pipeline: the snapshot
tables publish first (one snapshot commit each), then the kept corpus,
and the run's decision table (the thing downstream reads to trust a run)
lands LAST, so a crashed run leaves no authoritative decision table and a
rerun simply overwrites.

Prints ONE JSON line: mode, rows, kept, kept_pct, tables, wall_sec.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="documents → keep decisions + kept corpus")
    ap.add_argument("--input", required=True,
                    help="dir containing documents.parquet")
    ap.add_argument("--output", required=True,
                    help="output warehouse dir (keep/ corpus/)")
    ap.add_argument("--no-corpus", action="store_true",
                    help="write only the decision table, skip the kept-doc copy")
    ap.add_argument("--incremental", action="store_true",
                    help="day-2 delta maintenance: merge the batch into the "
                         "base snapshot's index tables instead of a full "
                         "rebuild (requires --base and --batch; --input is "
                         "the COMBINED corpus dir whose documents.parquet "
                         "holds base + batch part files)")
    ap.add_argument("--base", default=None,
                    help="(incremental) day-1 corpus dir with complete "
                         "curate/index tables")
    ap.add_argument("--batch", default=None,
                    help="(incremental) dir containing only the new batch's "
                         "documents.parquet")
    ap.add_argument("--allow-recrawl", action="store_true",
                    help="(incremental) treat batch doc_ids that already "
                         "exist in the base as re-crawls: retire their "
                         "stale index rows and merge the new versions "
                         "(--input must hold the compacted corpus)")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)
    if args.incremental and not (args.base and args.batch):
        ap.error("--incremental requires --base and --batch")

    from pyspark.sql import functions as F

    from ragflow_core16_spark.pipeline.snapshot_cache import (
        FAMILIES, materialize_families, read_table)
    from ragflow_core16_spark.session import get_spark
    spark = get_spark(app_name="ragflow_core16_spark.curate")

    t0 = time.time()
    sf_dir = args.input.rstrip("/")
    if args.incremental:
        # day-2 path: merge the batch into the base snapshot's dedup
        # index / decision table / retrieval postings without rescanning
        # day-1 documents (pipeline/incremental.py); the merged tables
        # land under the combined corpus fingerprint, so every routed
        # query over --input serves them immediately
        from ragflow_core16_spark.pipeline.incremental import (
            incremental_update)
        paths = incremental_update(spark, args.base.rstrip("/"),
                                   args.batch.rstrip("/"), sf_dir,
                                   allow_recrawl=args.allow_recrawl)
    else:
        # family order is dependency order: the decision table's
        # dedup_kept column scans the just-written dedup labels, so the
        # signature + connected-components jobs run once per snapshot
        paths = materialize_families(
            spark, sf_dir, [f for f in FAMILIES if f.job == "curate"])
    dec = read_table(spark, "web_decisions", sf_dir)
    if not args.no_corpus:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        kept = docs.join(dec.filter(F.col("corpus_keep")).select("doc_id"),
                         "doc_id")
        kept.write.mode("overwrite").parquet(f"{args.output}/corpus")
    dec.write.mode("overwrite").parquet(f"{args.output}/keep")
    rows = dec.count()
    kept_n = dec.filter(F.col("corpus_keep")).count()
    print(json.dumps({
        "run_id": args.run_id,
        "mode": "incremental" if args.incremental else "full",
        "rows": rows, "kept": kept_n,
        "kept_pct": round(100.0 * kept_n / rows, 2) if rows else 0.0,
        "tables": sorted(paths),
        "wall_sec": round(time.time() - t0, 2)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
