"""Structured Streaming extraction: the same extraction operator over an
unbounded pages stream.

The reference is a batch queue consumer (Redis stream + ack,
``rag/svr/task_executor.py:172-210``); its streaming-equivalent in Spark is
``readStream`` over a landing zone of parquet page files → the identical
``mapInArrow`` extraction (operators/extract.py is stream-safe: stateless
per row) → ``writeStream`` with checkpointing.  Checkpoint + exactly-once
file sink replaces the queue's ack/unacked-replay machinery; the watermark
demo shows late-data handling on the metrics rollup.

At 100 TB scale the same topology ingests a continuously-crawled corpus:
one micro-batch = one crawl drop; lineage is the sink's commit log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen.pages import PAGES_SCHEMA
from ..operators.extract import extract_pages


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def windowed_metrics_stream(extracted: DataFrame,
                            watermark: str = "1 hour",
                            window: str = "1 hour") -> DataFrame:
    """Late-data-tolerant rollup: docs/chunks/bytes per event-time window
    (the streaming analogue of the per-partition metrics table)."""
    return (extracted
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "status")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("bytes_in").alias("bytes_in"),
                 F.sum("n_chunks").alias("chunks_out")))


def dedup_stream(extracted: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop content-duplicate documents across
    micro-batches with bounded state.

    ``dropDuplicatesWithinWatermark`` keys the state store on the content
    hash and evicts entries once the event-time watermark passes them —
    the streaming analogue of the batch ``dedup_exact`` hash-groupBy, with
    state ∝ (dup window × ingest rate), not corpus size.  At 100 TB the
    watermark IS the dedup horizon: crawl re-fetches of the same page
    arrive within hours, so a bounded horizon catches them while an
    unbounded exact pass stays a daily batch job (``operators/dedup.py``)."""
    keyed = extracted.withColumn(
        "content_md5",
        F.md5(F.regexp_replace(F.lower(F.trim(F.coalesce(
            F.col("extracted_text"), F.lit("")))), r"\s+", " ")))
    return (keyed.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["content_md5"]))


def run_extract_stream(spark: SparkSession, input_dir: str, out_dir: str,
                       checkpoint_dir: str, once: bool = True):
    """Start the streaming extraction job (availableNow → drain-and-stop,
    used by tests; drop once=True for a continuous job)."""
    stream = read_pages_stream(spark, input_dir)
    ext = extract_pages(stream).drop("chunks")
    writer = (ext.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
