"""SparkSession factory with the engine's tuned configuration, and the
per-corpus plumbing every operator shares: the one documents reader
(``documents_scan`` / ``read_documents``), the width rule ahead of
Python stages (``spread``) and the session memo of shared intermediates
(``memo`` / ``reset_shared_cache``).

Settings chosen for the 100 TB design point, all standard Spark knobs
(SURVEY.md §4.2): AQE on (coalescing + skew splitting), Arrow enabled for
every pandas UDF, small Arrow batches because page payloads are MBs not KBs.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

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


def documents_scan(spark, sf_dir: str):
    """A corpus snapshot's documents, as a plain scan.  The one place
    that names the layout (``<sf_dir>/documents.parquet``); operators
    that feed an explode or a Python stage read ``read_documents``."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def spread(df):
    """Repartition a narrow input ahead of a row-wise Python or explode
    stage.

    A small parquet file is one scan split, which would run the whole
    stage on one core.  When the plan reads fewer files than
    ``defaultParallelism``, a round-robin ``repartition`` to that width
    costs one small shuffle; otherwise ``df`` itself comes back (no
    Exchange).  The file count is plan metadata (``inputFiles``): no
    file is opened or stat'd and the plan is not compiled to an RDD.
    It is the scan's split count while every file is under
    ``spark.sql.files.maxPartitionBytes`` (128 MB by default); a larger
    file splits further, so the count can only under-state the width."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n) if len(df.inputFiles()) < n else df


def read_documents(spark, sf_dir: str):
    """``documents_scan`` through ``spread``: the operators' explodes and
    Python stages do not all run on the one split a small file yields
    (returned as scanned once the corpus has a file per core)."""
    return spread(documents_scan(spark, sf_dir))


#: (name, sf_dir) -> (session, value) of every ``memo`` entry
_MEMO: dict = {}


def _frames(value) -> list:
    return [v for v in (value if isinstance(value, tuple) else (value,))
            if isinstance(v, DataFrame)]


def memo(name: str, spark, sf_dir: str, build):
    """A session-scoped intermediate of one corpus, built once.

    ``build()``'s DataFrame, or each DataFrame of the tuple it returns,
    is persisted MEMORY_AND_DISK (the local-mode analogue of writing the
    intermediate to a temp table between the jobs that share it); any
    other value, such as a count, is kept as is.  An entry carries its
    session object, so a call from another session (even one reusing a
    dead session's id) builds again and replaces the entry; nothing
    else evicts one.  Regenerating a corpus under an unchanged sf_dir
    within one session is not detected: that is the temp-table
    semantics this memo models.  ``reset_shared_cache`` forgets every
    entry."""
    hit = _MEMO.get((name, sf_dir))
    if hit is not None and hit[0] is spark:
        return hit[1]
    value = build()
    for df in _frames(value):
        if not df.is_cached:
            df.persist(StorageLevel.MEMORY_AND_DISK)
    _MEMO[(name, sf_dir)] = (spark, value)
    return value


def reset_shared_cache() -> None:
    """Unpersist and forget every ``memo`` entry, then every RDD the
    active session still pins (bench hygiene: each measured run pays
    its own materialization instead of inheriting a neighbor's, and
    storage memory does not accumulate across an N-query session)."""
    for _sess, value in _MEMO.values():
        for df in _frames(value):
            try:
                df.unpersist()
            except Exception:
                pass
    _MEMO.clear()
    # final sweep: localCheckpoints (each RAPTOR level's assignment,
    # ordered_once's presentation checkpoints) pin RDD blocks that never
    # appear in the CacheManager, so DataFrame.unpersist can't reach
    # them.  Every memo entry is forgotten above, so no cached plan can
    # legally reference an old checkpoint block: anything still listed
    # in sc.getPersistentRDDs is orphaned storage this reset owns.
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            jsc = spark.sparkContext._jsc
            for rdd in list(jsc.getPersistentRDDs().values()):
                rdd.unpersist()
    except Exception:
        pass


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
