"""Write-time bucketing (pipeline/bucketing.py): the join of two
same-bucketed tables must run with ZERO Exchange — the layout contract
that lets recurring pipeline joins skip re-shuffling the corpus — and
AQE must split skewed partitions when a hot key does shuffle."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


@pytest.fixture
def no_broadcast(spark):
    """Force SortMergeJoin so the Exchange behavior is observable."""
    old_t = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    old_a = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_t)
    spark.conf.set("spark.sql.adaptive.enabled", old_a)


class TestBucketedJoin:
    def test_same_bucketed_join_has_no_exchange(self, spark, tmp_path,
                                                no_broadcast):
        from ragflow_core16_spark.pipeline.bucketing import (read_bucketed,
                                                             write_bucketed)
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "lang", "text")
        emb = spark.read.parquet(f"{SF}/embeddings.parquet") \
            .select(F.col("vec_id").alias("doc_id"), "embedding")
        write_bucketed(docs, "b_docs", str(tmp_path / "docs"),
                       ["doc_id"], 8, sort_cols=["doc_id"])
        write_bucketed(emb, "b_emb", str(tmp_path / "emb"),
                       ["doc_id"], 8, sort_cols=["doc_id"])
        try:
            joined = (read_bucketed(spark, "b_docs")
                      .join(read_bucketed(spark, "b_emb"), "doc_id"))
            plan = _plan(joined)
            exchanges = [ln for ln in plan.splitlines()
                         if "Exchange" in ln and "Reused" not in ln]
            assert exchanges == [], f"bucketed join shuffled: {exchanges}"
            assert "SortMergeJoin" in plan
            # correctness unchanged by the layout
            n_plain = docs.join(emb, "doc_id").count()
            assert joined.count() == n_plain
        finally:
            spark.sql("DROP TABLE IF EXISTS b_docs")
            spark.sql("DROP TABLE IF EXISTS b_emb")

    def test_one_sided_bucket_shuffles_only_other_side(self, spark,
                                                       tmp_path,
                                                       no_broadcast):
        """The stable (bucketed) corpus side must not re-shuffle when
        joined against a fresh unbucketed batch — only the batch moves."""
        from ragflow_core16_spark.pipeline.bucketing import (read_bucketed,
                                                             write_bucketed)
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "lang")
        write_bucketed(docs, "b_corpus", str(tmp_path / "corpus"),
                       ["doc_id"], 8)
        try:
            batch = (spark.read.parquet(f"{SF}/documents.parquet")
                     .select("doc_id", "text").filter("doc_id % 7 = 0"))
            plan = _plan(read_bucketed(spark, "b_corpus")
                         .join(batch, "doc_id"))
            # the detail section lists each node once as "(N) Exchange"
            import re
            exchanges = re.findall(r"^\(\d+\) Exchange", plan,
                                   flags=re.MULTILINE)
            assert len(exchanges) == 1, \
                f"expected exactly the batch-side shuffle: {exchanges}"
        finally:
            spark.sql("DROP TABLE IF EXISTS b_corpus")


class TestAqeSkewJoin:
    def test_skewed_join_partitions_are_split(self, spark):
        """A hot join key must trigger AQE's skew-join split (the runtime
        complement to the salted two-stage aggregations, ``domain_cap``
        and ``salted_source_agg``).
        Thresholds are forced low so the sf0.001 fixture exhibits 'skew'
        the way one hot host does at 100 TB."""
        confs = {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "8KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            # 98% of rows land on key 0 — one hot host.  AQE sizes
            # partitions by COMPRESSED shuffle bytes, so the payload must
            # be incompressible (md5 of the id) and large enough that the
            # hot partition clears the 8KB threshold while the median
            # partition stays tiny.
            e = spark.range(0, 60_000, 1, 8)
            k = F.when(F.col("id") % 100 < 98, 0) \
                 .otherwise(F.col("id") % 50)
            left = e.select(k.alias("k"), F.col("id").alias("event_id"),
                            F.md5(F.col("id").cast("string")).alias("props"))
            right = (spark.range(0, 50)
                     .select(F.col("id").alias("k"),
                             (F.col("id") * 2).alias("r")))
            j = left.join(right.hint("merge"), "k")
            # drive j's OWN queryExecution (a sink write would clone the
            # plan and leave this QE unexecuted → isFinalPlan=false)
            j.collect()
            final = j._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in final, final[:2000]
        finally:
            for k, v in old.items():
                if v is not None:
                    spark.conf.set(k, v)
