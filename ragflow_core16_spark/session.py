"""SparkSession factory with the engine's tuned configuration.

Settings chosen for the 100 TB design point, all standard Spark knobs
(SURVEY.md §4.2): AQE on (coalescing + skew splitting), Arrow enabled for
every pandas UDF, small Arrow batches because page payloads are MBs not KBs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # pages are large rows: keep Arrow batches small so one batch of multi-MB
    # html payloads can't balloon executor memory (SURVEY.md §7.3 skew note).
    # This is also the extraction mapInArrow's batch: the unit its output
    # columns are built in and its chunk ids are hashed in
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.session.timeZone": "UTC",
    # the JVM-wide cache of generated classes (Spark's default: 100).  A
    # long-lived session reruns the same plans: one day-2 curation cycle
    # (full build, delta update, serve) uses about 600 classes, and an
    # LRU smaller than a repeating working set never hits, so every
    # cycle compiled them all again.  4096 leaves headroom over the
    # largest working set measured (BENCH/BASELINE.md, "Generated-code
    # cache").  Static: it takes effect only in a JVM get_spark starts.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # local mode: the driver JVM IS the executor.  8g starved a 32-thread
    # session late in a long query run (storage + execution + broadcast
    # remnants share old-gen; G1 thrash inflated late queries 3x — bench
    # A/B: 8g=235s, 16g=136s, 32g=186s total for the 76-query suite).  On
    # a real cluster this maps to spark.executor.memory per the usual
    # ~2g/core rule.
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
}


def _scan_splits(df, max_partition_bytes: int) -> int:
    """Estimated scan-split count from the files backing the plan — pure
    driver-side metadata (file index + sizes), NO plan→RDD conversion.
    ``df.rdd.getNumPartitions()`` compiles the whole query to an RDD just
    to read one number, which costs ~0.3-1 s of driver work per call and
    was the dominant term of the ``paragraph_dedup`` bench regression
    (each invocation rebuilds its plan, so every query paid it again).
    Files on non-local schemes (no stat available) count as one split
    each — the conservative direction for the < n test."""
    import math
    import os
    splits = 0
    for uri in df.inputFiles():
        path = uri[7:] if uri.startswith("file:") and uri[5:7] == "//" else uri
        try:
            size = os.path.getsize(path)
        except OSError:
            splits += 1
            continue
        splits += max(1, math.ceil(size / max_partition_bytes))
    return splits


def spread(df, partitions: int | None = None):
    """Repartition a narrow input ahead of a Python (mapInPandas) stage.

    Small parquet inputs arrive as ONE scan partition (a 100 MB file is a
    single split under maxPartitionBytes), which would serialize the whole
    Arrow-UDF stage onto one core.  A round-robin repartition of the narrow
    (doc_id, text) projection costs one tiny shuffle and buys full-cluster
    parallelism for the Python stage.  At real scale the scan already has
    thousands of splits and callers see a no-op (not even an Exchange);
    use ``partitions=`` to pin an explicit width."""
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    digits = "".join(c for c in str(raw) if c.isdigit())
    maxpb = int(digits) if digits else 134217728
    if str(raw).lower().endswith(("m", "mb")):
        maxpb *= 1024 * 1024
    elif str(raw).lower().endswith(("k", "kb")):
        maxpb *= 1024
    elif str(raw).lower().endswith(("g", "gb")):
        maxpb *= 1024 * 1024 * 1024
    try:
        splits = _scan_splits(df, maxpb)
    except Exception:
        splits = df.rdd.getNumPartitions()
    return df.repartition(n) if splits < n else df


def read_documents(spark, sf_dir: str):
    """A corpus snapshot's ``documents.parquet``, ``spread`` so the
    operators' explodes and Python stages do not all run on the one scan
    split a small single-row-group file yields (a no-op at real scale)."""
    return spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def ordered_once(df, *cols):
    """``orderBy`` for presentation without re-executing the upstream
    Python stage.

    A global sort samples its child to build the range partitioner, which
    executes the whole plan a second time — for a ``mapInPandas``-backed
    query that doubles the expensive Python stage.  Lazily local-checkpoint
    the (small) result first: the sampling pass materializes it once and
    the sort reads the checkpoint.  Driver-compare outputs are tiny
    relative to their inputs, so the checkpoint cost is noise; at
    production scale sorted presentation belongs in the sink
    (``sortWithinPartitions`` at write time), not a global sort."""
    return df.localCheckpoint(eager=False).orderBy(*cols)


def ordered(*cols):
    """Curried ``ordered_once`` for use as ``df.transform(ordered(...))``."""
    return lambda df: ordered_once(df, *cols)


def get_spark(master: str | None = None, app_name: str = "ragflow_core16_spark",
              extra_conf: dict | None = None) -> SparkSession:
    """The engine's one session factory: ``DEFAULT_CONF`` under
    ``extra_conf``.  ``master=None`` leaves the master (and the executor
    topology) to spark-submit.  When a session already exists it is
    returned with the runtime-modifiable settings applied — so a setting
    the caller tuned survives only if neither dict names it.  Static
    settings (``spark.driver.memory``,
    ``spark.sql.codegen.cache.maxEntries``) apply only when this call
    starts the JVM; on an existing session they keep their values."""
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for k, v in {**DEFAULT_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
