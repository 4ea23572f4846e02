#!/usr/bin/env python
"""spark-submit entrypoint for the extraction pipeline.

Deployment (north-rule run mode):

    zip -r ragflow_core16_spark.zip ragflow_core16_spark
    spark-submit --py-files ragflow_core16_spark.zip \
        jobs/extract_job.py \
        --input  <pages parquet dir | iceberg table | WARC dir> \
        --output <snapshot table dir, local or shared POSIX path> \
        [--input-format warc] [--wet-output <dir> [--wet-shards 256]] \
        [--lang en] [--chunk-tokens 128] [--no-resume] [--run-id r42]

``--input-format warc`` ingests a directory of ``*.warc.gz`` crawl files
(one file = one task); ``--wet-output`` additionally materializes
``*.warc.wet.gz`` shards of the extracted text from the committed
table — rerunnable on its own without re-extracting.

``--output`` is a ``SnapshotTable`` (``pipeline/snapshots.py``), one atomic
commit per run; chunks, per-partition metrics and provenance are views
over its rows (``chunks_table``, ``metrics_table``, ``versions``).

The script takes master/executor topology from the spark-submit command
line (no hardcoded master); on a cluster the same invocation runs at N and
4N executors for the scaling protocol (BASELINE.md §3).  Reruns resume from
the committed snapshot; --no-resume re-extracts every page as one upsert
commit (its rows replace those of the same urls; other urls stay).

Prints ONE JSON line with the run summary (rows, ok/error, bytes, chunks,
wall seconds, docs/sec).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    from ragflow_core16_spark.pipeline.snapshots import (SnapshotTable,
                                                         local_path)

    ap = argparse.ArgumentParser(description="pages → extracted+chunks")
    ap.add_argument("--input", required=True,
                    help="pages source: parquet path, iceberg:<table>, or "
                         "(with --input-format warc) a dir of *.warc.gz")
    ap.add_argument("--input-format", choices=["pages", "warc"],
                    default="pages",
                    help="'pages' = parquet/iceberg table of "
                         "(url, warc_ts, html, text, lang); "
                         "'warc' = directory of WARC files (one file = "
                         "one task)")
    ap.add_argument("--wet-output", default=None,
                    help="also write *.warc.wet.gz shards of the extracted "
                         "text (from the committed table)")
    ap.add_argument("--wet-shards", type=int, default=256)
    ap.add_argument("--wet-lang", default=None,
                    help="emit WET records only for pages whose DETECTED "
                         "language (marker heuristic on the extracted "
                         "text) matches — the per-language WET export "
                         "convention; works on raw crawls, unlike --lang "
                         "which needs a lang column")
    ap.add_argument("--output", required=True, type=local_path,
                    help="output snapshot table dir: a local or shared "
                         "POSIX path (s3://, hdfs:// URIs are refused)")
    ap.add_argument("--lang", default=None,
                    help="optional lang filter (e.g. en)")
    ap.add_argument("--chunk-tokens", type=int, default=128)
    ap.add_argument("--delimiter", default="\n!?。；！？")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true",
                    help="re-extract every page and publish it as one "
                         "upsert commit: its rows replace the committed "
                         "rows of the same urls")
    ap.add_argument("--target-partition-mb", type=int, default=64,
                    help="target extraction partition size: sets "
                         "spark.sql.adaptive.advisoryPartitionSizeInBytes,"
                         " toward which AQE's rebalance of the input "
                         "coalesces small partitions and splits large ones")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from ragflow_core16_spark.session import get_spark
    spark = get_spark(
        app_name="ragflow_core16_spark.extract",
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes":
                    str(args.target_partition_mb * 1024 * 1024)})

    from ragflow_core16_spark.pipeline.run import run_extraction_snapshotted

    if args.input_format == "warc":
        from ragflow_core16_spark.sources.warc import pages_from_warc_dir
        if args.lang:
            # a raw crawl carries no lang column (pages_from_warc emits
            # NULL); a silent `lang == X` filter would drop EVERY page —
            # fail loudly instead of completing with rows=0
            ap.error("--lang cannot be combined with --input-format warc: "
                     "WARC crawls carry no lang column; run language "
                     "identification downstream of extraction instead")
        pages = pages_from_warc_dir(spark, args.input)
    elif args.input.startswith("iceberg:"):
        pages = spark.read.table(args.input[len("iceberg:"):])
    else:
        pages = spark.read.parquet(args.input)
    if args.lang:
        pages = pages.filter(F.col("lang") == args.lang)

    summary = run_extraction_snapshotted(
        spark, pages, args.output,
        run_id=args.run_id,
        resume=not args.no_resume,
        chunk_token_num=args.chunk_tokens,
        delimiter=args.delimiter)
    summary["docs_per_sec"] = round(
        summary["rows"] / summary["wall_sec"], 1) if summary["wall_sec"] else 0.0

    if args.wet_output:
        # WET sink reads the COMMITTED extracted table (no recompute) —
        # a rerun with --wet-output alone re-emits shards without
        # re-extracting anything
        from ragflow_core16_spark.sources.warc import write_wet_files
        ext = (SnapshotTable(spark, args.output).read()
               .where(F.col("status") == "ok"))
        if args.wet_lang:
            from ragflow_core16_spark.operators.textstats import \
                lang_pred_expr
            ext = ext.where(
                lang_pred_expr(F.col("extracted_text")) == args.wet_lang)
        manifest = write_wet_files(ext, args.wet_output,
                                   n_files=args.wet_shards)
        agg = manifest.agg(
            F.count(F.lit(1)).alias("files"),
            F.sum("n_records").alias("records"),
            F.sum("bytes").alias("bytes")).collect()[0]
        summary["wet"] = {"files": int(agg["files"] or 0),
                          "records": int(agg["records"] or 0),
                          "bytes": int(agg["bytes"] or 0)}

    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
