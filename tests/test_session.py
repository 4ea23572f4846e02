"""session.spread: metadata-based split estimation (no plan→RDD probe).

The r3 bench regression in ``paragraph_dedup`` (1.95 → 6.12 s) traced to
``spread()`` calling ``df.rdd.getNumPartitions()``: compiling the whole
query to an RDD just to read one number costs ~0.3-1 s of driver work per
invocation, and every query that touches ``_docs`` paid it on every call.
The estimate now comes from the scan's file index + sizes.

``TestCodegenCache`` pins that the session's generated-code cache outlives
a working set larger than Spark's 100-entry default.
"""

import pytest

from ragflow_core16_spark.session import DEFAULT_CONF, _scan_splits, spread

SF = "/root/testdata/sf0.001"


class TestScanSplits:
    def test_small_parquet_is_one_split(self, spark):
        df = spark.read.parquet(f"{SF}/documents.parquet")
        assert _scan_splits(df, 128 * 1024 * 1024) == 1

    def test_estimate_matches_actual_scan_partitions(self, spark):
        # the estimate must agree with what Spark actually schedules for
        # the default maxPartitionBytes (single small file → 1 split)
        df = spark.read.parquet(f"{SF}/documents.parquet")
        assert _scan_splits(df, 134217728) == df.rdd.getNumPartitions()

    def test_tiny_max_partition_bytes_multiplies_splits(self, spark):
        df = spark.read.parquet(f"{SF}/documents.parquet")
        one = _scan_splits(df, 1 << 40)
        many = _scan_splits(df, 4096)
        assert one == 1 and many > one


class TestSpread:
    def test_small_input_is_widened(self, spark):
        df = spark.read.parquet(f"{SF}/documents.parquet")
        out = spread(df)
        assert (out.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)

    def test_wide_enough_scan_is_untouched_no_exchange(self, spark):
        # when the scan already has >= the requested width, spread must
        # return the SAME frame — not even a no-op Exchange in the plan.
        # (The estimate is scan-file-based by design: spread's contract is
        # a raw scan / narrow projection, the only place a split shortage
        # can originate.)
        df = spark.read.parquet(f"{SF}/documents.parquet")
        assert spread(df, partitions=1) is df

    def test_explicit_width_pins_partitions(self, spark):
        df = spark.read.parquet(f"{SF}/documents.parquet")
        assert spread(df, partitions=7).rdd.getNumPartitions() == 7

    def test_rows_preserved(self, spark):
        df = spark.read.parquet(f"{SF}/documents.parquet")
        assert spread(df).count() == df.count()


class TestCodegenCache:
    def test_rerun_after_150_other_plans_compiles_nothing(self, spark):
        """A plan compiled once is not compiled again after 150 distinct
        generated classes.  Spark's default cache holds 100 classes, so
        an LRU that small evicts the first plan long before it repeats."""
        key = "spark.sql.codegen.cache.maxEntries"
        assert spark.sparkContext.getConf().get(key) == DEFAULT_CONF[key]
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

        def compiled() -> int:
            # one event per class this JVM's CodeGenerator compiled
            return metrics.METRIC_COMPILATION_TIME().getCount()

        def first():
            return spark.range(3).selectExpr("id * 7919 + 104729 AS x") \
                .collect()

        want = first()
        for i in range(150):
            # a distinct literal is a distinct generated class
            spark.range(1).selectExpr(f"id * {i} + {i + 3} AS x").collect()
        before = compiled()
        assert first() == want
        assert compiled() == before
