"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship extraction pipeline on sf0.001 synthetic pages.
``queries`` — every implemented operator (SURVEY.md §2 + training-data ops),
              one callable per name.
``oracle_sql`` — DuckDB-equivalent SQL for every SQL-expressible query;
              extraction/ANN entries are rows-only checked (non-SQL ops).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Make the package importable inside Spark's PYTHON WORKERS regardless of
# the caller's cwd: the driver-side sys.path insert below never reaches
# worker processes — they inherit PYTHONPATH from the JVM's environment,
# which inherits the driver's.  Without this, any session whose cwd is
# not the repo root dies with ModuleNotFoundError the first time a
# pickled mapInPandas function references the package.  (Must run before
# the JVM starts; a cluster deploy ships the zip via --py-files instead.)
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
if _REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH") else _REPO)


def _tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's session settings the query results depend on
    to a caller-built session (values from ``session.DEFAULT_CONF``)."""
    from ragflow_core16_spark.session import DEFAULT_CONF
    tz = "spark.sql.session.timeZone"
    spark.conf.set(tz, DEFAULT_CONF[tz])
    try:
        for key in ("spark.sql.execution.arrow.pyspark.enabled",
                    "spark.sql.adaptive.enabled"):
            spark.conf.set(key, DEFAULT_CONF[key])
    except Exception:
        pass
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize Common-Crawl-style pages from sf0.001 documents,
    run the full extraction pipeline (decode → boilerplate strip → sections
    → 128-token chunks), return per-page extraction results."""
    _tune(spark)
    from ragflow_core16_spark.datagen.pages import pages_from_documents
    from ragflow_core16_spark.operators.extract import extract_pages

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    ext = extract_pages(pages)
    return ext.select("url", "lang", "status", "title", "codec",
                      "n_sections", "n_chunks", "n_tokens", "bytes_in")


def _registry():
    from ragflow_core16_spark.operators import (dedup, embed, extract_e2e,
                                                graph, graphrag, ir_metrics,
                                                multimodal, office,
                                                pdf_extract, raptor,
                                                relational,
                                                retrieval, similarity,
                                                tagging,
                                                sketches, templates,
                                                textstats, training,
                                                vision_llm,
                                                warc_e2e, webclean)
    reg: dict[str, tuple] = {}
    for mod in (textstats, dedup, similarity, retrieval, relational,
                templates, pdf_extract, multimodal, office, embed,
                training, webclean, sketches, graph, graphrag, raptor,
                tagging, vision_llm, extract_e2e,
                warc_e2e, ir_metrics):
        for name, (fn, sql) in mod.QUERIES.items():
            reg[name] = (fn, sql)
    return reg


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _tune(spark)
            return fn(spark, sf_dir)
        return run
    return {name: wrap(fn) for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (fn, sql) in _registry().items()
            if sql is not None}
