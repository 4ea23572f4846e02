"""session.spread and session.memo.

``spread`` widens an input of fewer files than ``defaultParallelism``
and returns a wider one as it is.  The width comes from plan metadata
(``inputFiles``), never from ``df.rdd.getNumPartitions()``: compiling the
whole query to an RDD just to read one number cost ~0.3-1 s of driver
work per call (the r3 ``paragraph_dedup`` bench regression, 1.95 → 6.12
s).

``TestMemo`` pins that ``reset_shared_cache`` forgets every session-scoped
intermediate, counts included.

``TestCodegenCache`` pins that the session's generated-code cache outlives
a working set larger than Spark's 100-entry default.
"""

from ragflow_core16_spark.session import (DEFAULT_CONF, reset_shared_cache,
                                          spread)

SF = "/root/testdata/sf0.001"


class TestSpread:
    def test_file_count_is_the_scan_width(self, spark):
        # the rule's premise: a fixture file under maxPartitionBytes is
        # one scan split, so the file count is what Spark schedules
        df = spark.read.parquet(f"{SF}/documents.parquet")
        assert len(df.inputFiles()) == df.rdd.getNumPartitions() == 1

    def test_small_input_is_widened(self, spark):
        df = spark.read.parquet(f"{SF}/documents.parquet")
        out = spread(df)
        assert (out.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)

    def test_wide_enough_scan_is_untouched_no_exchange(self, spark,
                                                       tmp_path):
        # a directory of at least defaultParallelism files comes back as
        # the SAME frame — not even a no-op Exchange in the plan
        n = spark.sparkContext.defaultParallelism
        spark.range(0, 40 * n, numPartitions=n).write.parquet(
            str(tmp_path / "wide"))
        df = spark.read.parquet(str(tmp_path / "wide"))
        assert len(df.inputFiles()) == n
        assert spread(df) is df

    def test_rows_preserved(self, spark):
        df = spark.read.parquet(f"{SF}/documents.parquet")
        assert spread(df).count() == df.count()

    def test_max_partition_bytes_does_not_change_the_width(self, spark):
        # a unit-suffixed setting ("1t" = 1 TiB) is not a byte count the
        # rule reads: the one-file fixture still widens
        key = "spark.sql.files.maxPartitionBytes"
        spark.conf.set(key, "1t")
        try:
            df = spark.read.parquet(f"{SF}/documents.parquet")
            assert (spread(df).rdd.getNumPartitions()
                    == spark.sparkContext.defaultParallelism)
        finally:
            spark.conf.unset(key)


class TestMemo:
    def test_reset_forgets_graphrag_document_count(self, spark,
                                                   monkeypatch):
        from ragflow_core16_spark.operators import graphrag as G
        counted = []
        compute = G.relation

        def counting(spark, kind, sf_dir):
            counted.append(kind)
            return compute(spark, kind, sf_dir)

        monkeypatch.setattr(G, "relation", counting)
        reset_shared_cache()
        n = G._n_docs(spark, SF)
        assert G._n_docs(spark, SF) == n
        assert len(counted) == 1
        reset_shared_cache()
        assert G._n_docs(spark, SF) == n
        assert len(counted) == 2


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
