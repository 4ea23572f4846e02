import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: spark-submit deployment tests (minutes each)")


@pytest.fixture(scope="session", autouse=True)
def _isolated_curation_warehouse(tmp_path_factory):
    """Point the snapshot-table cache at a fresh per-session directory.

    A job run in this checkout (curate_job, index_job) materializes
    snapshot tables under ./spark-warehouse/curation; without isolation,
    plan-audit tests that pin the COMPUTE path would silently flip to the
    scan path depending on what ran here before.  Tests that want the scan path
    materialize into their own monkeypatched dir."""
    import os
    prev = os.environ.get("RAG_CURATION_DIR")
    os.environ["RAG_CURATION_DIR"] = str(
        tmp_path_factory.mktemp("curation"))
    yield
    if prev is None:
        os.environ.pop("RAG_CURATION_DIR", None)
    else:
        os.environ["RAG_CURATION_DIR"] = prev


@pytest.fixture(autouse=True)
def _stop_leftover_streams():
    """Stop every streaming query a test left running (a drain that
    outlived its ``awaitTermination`` timeout), so none runs on into the
    next test or past the session."""
    yield
    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        for q in active.streams.active:
            q.stop()


@pytest.fixture(scope="session")
def spark():
    from ragflow_core16_spark.session import get_spark
    s = get_spark("local[4]", app_name="tests",
                  extra_conf={"spark.sql.shuffle.partitions": "8",
                              "spark.ui.enabled": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def formatted_plan(df) -> str:
    """Shared explain("formatted") helper for plan-audit tests."""
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
