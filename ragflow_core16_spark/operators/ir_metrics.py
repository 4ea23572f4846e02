"""Retrieval-quality benchmark: ndcg@10 / map@5 / mrr@10 as DataFrame ops.

The reference evaluates its retrieval stack with ranx over a qrels/run pair
(``rag/benchmark.py:246-253``: ``evaluate(Qrels(qrels), Run(run),
["ndcg@10", "map@5", "mrr@10"])``), where the run is the top-30 retrieval
page per query (``benchmark.py:54-56``: ``retrieval(query, ..., 1, 30, 0.0,
...)``) and qrels carry graded integer relevance from the dataset.

Here both sides are relational:

* **run** — the weighted-boolean retrieval score of `retrieval.py`
  (idf · min(tf,1), the ES scripted_sim the reference indexes with) over a
  fixed multi-term query set, top 30 per query, rank ties broken by doc_id;
* **qrels** — graded relevance derived from the same corpus: rel(q, d) =
  number of query terms appearing ≥ 2× in the doc (0..|q|), so ndcg has
  real gain levels and the oracle can replay it in SQL.

Metric forms are ranx defaults:

* ndcg@10 — Järvelin DCG ``Σ rel/log2(rank+1)`` over the top 10, normalised
  by the ideal DCG of the query's qrels (0 when the query has no relevant);
* map@5 — trec_eval average precision: ``Σ_{k≤5, rel_k>0} P@k`` divided by
  the TOTAL number of relevant docs (not min(R, k));
* mrr@10 — reciprocal rank of the first relevant doc in the top 10, else 0.

A final ``__mean__`` row is the corpus-level score the reference prints.

Scale: the token explode is map-local, the query-term list is a broadcast
literal, the only shuffles are the (doc, term) tf agg and the per-query
windows — partitioned by query, so 10^6 benchmark queries spread across the
cluster instead of serialising (each query's run is ≤ 30 rows).  Scores are
rounded to 4 decimals BEFORE ranking so rank order is identical across
engines (same convention as ``fulltext_topn``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import read_documents

# term vocabulary is QUERY_TERMS from retrieval.py — known present in the
# synthetic documents text at every SF
BENCH_QUERIES: dict[str, list[str]] = {
    "q_data_spark": ["spark", "data"],
    "q_merge_query": ["query", "merge"],
    "q_window_data": ["window", "data"],
    "q_spark_merge_query": ["spark", "merge", "query"],
    "q_window_spark": ["window", "spark"],
}
RUN_DEPTH = 30   # benchmark.py:54-56 — page 1, size 30
NDCG_K = 10
MAP_K = 5
MRR_K = 10


def _query_terms_df(spark: SparkSession) -> DataFrame:
    rows = [(q, t) for q, terms in BENCH_QUERIES.items() for t in terms]
    return spark.createDataFrame(rows, ["query", "term"])


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query, doc_id, score, rel): weighted-boolean score + graded rel
    in ONE pass over the (doc, term) tf aggregate."""
    from .retrieval import _term_tf
    n_docs = read_documents(spark, sf_dir).count()
    vocab = sorted({t for ts in BENCH_QUERIES.values() for t in ts})
    terms = spark.createDataFrame([(w,) for w in vocab], ["term"])
    tf = _term_tf(spark, sf_dir, terms)
    # df(term) over the aggregated tf relation — explode subtree runs once
    df_ = F.count(F.lit(1)).over(Window.partitionBy("term"))
    tf = tf.withColumn(
        "idf", F.log(1.0 + (F.lit(n_docs) - df_ + 0.5) / (df_ + 0.5)))
    qt = _query_terms_df(spark)
    return (tf.join(F.broadcast(qt), "term")
            .groupBy("query", "doc_id")
            .agg(F.round(F.sum(F.col("idf") * F.least("tf", F.lit(1))), 4)
                 .alias("score"),
                 F.sum(F.when(F.col("tf") >= 2, 1).otherwise(0))
                 .cast("int").alias("rel")))


def retrieval_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the run branch and the qrels/ideal branch both consume `scored`;
    # checkpointing it runs the corpus token-explode subtree ONCE (the
    # materialized relation is ≤ |queries|·|matched docs| rows — tiny)
    scored = _scored(spark, sf_dir).localCheckpoint(eager=False)
    run = (scored
           .withColumn("rank", F.row_number().over(
               Window.partitionBy("query")
               .orderBy(F.desc("score"), F.asc("doc_id"))))
           .filter(F.col("rank") <= RUN_DEPTH))

    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    hits = F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).over(
        Window.partitionBy("query").orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0))
    run = run.withColumn("cum_hits", hits)

    per_q = (run.groupBy("query").agg(
        F.sum(F.when(F.col("rank") <= NDCG_K,
                     F.col("rel") / log2(F.col("rank") + 1))
              .otherwise(0.0)).alias("dcg10"),
        F.sum(F.when((F.col("rank") <= MAP_K) & (F.col("rel") > 0),
                     F.col("cum_hits") / F.col("rank"))
              .otherwise(0.0)).alias("ap5_num"),
        F.max(F.when((F.col("rank") <= MRR_K) & (F.col("rel") > 0),
                     1.0 / F.col("rank"))).alias("rr10")))

    qrels = scored.filter(F.col("rel") > 0)
    ideal_rank = F.row_number().over(
        Window.partitionBy("query").orderBy(F.desc("rel"), F.asc("doc_id")))
    ideal = (qrels.withColumn("irank", ideal_rank)
             .groupBy("query").agg(
                 F.sum(F.when(F.col("irank") <= NDCG_K,
                              F.col("rel") / log2(F.col("irank") + 1))
                       .otherwise(0.0)).alias("idcg10"),
                 F.count(F.lit(1)).alias("n_rel")))

    per_q = (per_q.join(ideal, "query", "left")
             .select(
                 "query",
                 F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
                 F.round(F.when(F.coalesce("idcg10", F.lit(0.0)) > 0,
                                F.col("dcg10") / F.col("idcg10"))
                         .otherwise(0.0), 4).alias("ndcg10"),
                 F.round(F.when(F.coalesce("n_rel", F.lit(0)) > 0,
                                F.col("ap5_num") / F.col("n_rel"))
                         .otherwise(0.0), 4).alias("map5"),
                 F.round(F.coalesce("rr10", F.lit(0.0)), 4).alias("mrr10")))

    mean = per_q.agg(
        F.lit("__mean__").alias("query"),
        F.sum("n_rel").alias("n_rel"),
        F.round(F.avg("ndcg10"), 4).alias("ndcg10"),
        F.round(F.avg("map5"), 4).alias("map5"),
        F.round(F.avg("mrr10"), 4).alias("mrr10"))
    return per_q.unionByName(mean).orderBy("query")


def _queries_sql_values() -> str:
    return ", ".join(f"('{q}', '{t}')"
                     for q, ts in BENCH_QUERIES.items() for t in ts)


RETRIEVAL_QUALITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
qt(query, term) AS (VALUES {_queries_sql_values()}),
vocab AS (SELECT DISTINCT term FROM qt),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks JOIN vocab ON tok = term GROUP BY doc_id, term),
idf AS (
  SELECT term,
         ln(1.0 + ((SELECT count(*) FROM documents) - count(*) + 0.5)
                  / (count(*) + 0.5)) AS idf
  FROM tf GROUP BY term),
scored AS (
  SELECT qt.query, tf.doc_id,
         round(sum(idf.idf * least(tf.tf, 1)), 4) AS score,
         CAST(sum(CASE WHEN tf.tf >= 2 THEN 1 ELSE 0 END) AS INTEGER) AS rel
  FROM tf JOIN idf USING (term) JOIN qt USING (term)
  GROUP BY qt.query, tf.doc_id),
run AS (
  SELECT *, row_number() OVER (PARTITION BY query
                               ORDER BY score DESC, doc_id) AS rank
  FROM scored QUALIFY rank <= {RUN_DEPTH}),
run2 AS (
  SELECT *, sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY query ORDER BY rank
                    ROWS UNBOUNDED PRECEDING) AS cum_hits
  FROM run),
per_q AS (
  SELECT query,
         sum(CASE WHEN rank <= {NDCG_K}
                  THEN rel / log2(rank + 1) ELSE 0 END) AS dcg10,
         sum(CASE WHEN rank <= {MAP_K} AND rel > 0
                  THEN cum_hits * 1.0 / rank ELSE 0 END) AS ap5_num,
         max(CASE WHEN rank <= {MRR_K} AND rel > 0
                  THEN 1.0 / rank END) AS rr10
  FROM run2 GROUP BY query),
ideal AS (
  SELECT query,
         sum(CASE WHEN irank <= {NDCG_K}
                  THEN rel / log2(irank + 1) ELSE 0 END) AS idcg10,
         count(*) AS n_rel
  FROM (SELECT query, rel,
               row_number() OVER (PARTITION BY query
                                  ORDER BY rel DESC, doc_id) AS irank
        FROM scored WHERE rel > 0)
  GROUP BY query),
rows_q AS (
  SELECT p.query,
         COALESCE(i.n_rel, 0) AS n_rel,
         round(CASE WHEN COALESCE(i.idcg10, 0) > 0
                    THEN p.dcg10 / i.idcg10 ELSE 0 END, 4) AS ndcg10,
         round(CASE WHEN COALESCE(i.n_rel, 0) > 0
                    THEN p.ap5_num / i.n_rel ELSE 0 END, 4) AS map5,
         round(COALESCE(p.rr10, 0), 4) AS mrr10
  FROM per_q p LEFT JOIN ideal i USING (query))
SELECT * FROM rows_q
UNION ALL
SELECT '__mean__', CAST(sum(n_rel) AS BIGINT), round(avg(ndcg10), 4),
       round(avg(map5), 4), round(avg(mrr10), 4) FROM rows_q
ORDER BY query
"""

QUERIES = {
    "retrieval_quality": (retrieval_quality, RETRIEVAL_QUALITY_SQL),
}
