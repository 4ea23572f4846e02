"""Embedding-stage plumbing (reference ``rag/svr/task_executor.py:384-426``).

The reference encodes chunk contents in batches of 16 against an external
embedding service, encodes the document title ONCE, and blends
``0.1·title_vec + 0.9·content_vec`` (``filename_embd_weight`` default,
task_executor.py:400-425) into the ``q_{dim}_vec`` column.

The service call is out of scope by contract; the *stage* is not.  Here the
encoder slot is a deterministic feature hasher computed entirely JVM-side
(no Python in the hot path at all — stronger than the reference's batch
loop): each whitespace token hashes to one of ``dim`` signed buckets via
md5 (index = first 8 hex digits mod dim, sign = 9th hex digit's high bit),
summed per document.  Swap ``token → bucket`` for a real model by replacing
this stage with a ``predict_batch_udf`` — the blend/shape/write contract
stays identical.

Scale shape: explode → groupBy (doc, dim) partial-agg → dense-assemble via
a broadcast dims frame.  One shuffle on (doc, dim); AQE coalesces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import read_documents

DIM = 64
TITLE_W = 0.1  # filename_embd_weight default (task_executor.py:400-409)


def _tokens(col):
    return F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")


def _hashed(tok_col):
    """token → (bucket index, ±1 sign), both JVM exprs."""
    h = F.md5(tok_col)
    idx = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % DIM)
    sign = F.when(F.substring(h, 9, 1).isin(*"01234567"), F.lit(1.0)) \
            .otherwise(F.lit(-1.0))
    return idx, sign


def _hash_embed(df: DataFrame, id_col: str, text_col: str,
                weight_col: str | None = None) -> DataFrame:
    """df(id, text[, weight]) → (id, vec array<double>[DIM]) via signed
    feature hashing; absent dims are 0.  With ``weight_col`` each token's
    ±1 vote is scaled — hashing is linear, so a weighted union of token
    streams IS the blended vector (one pass instead of two)."""
    spark = df.sparkSession
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    toks = df.select(id_col, w.alias("w"),
                     F.explode(_tokens(text_col)).alias("tok")) \
             .filter(F.col("tok") != "")
    idx, sign = _hashed(F.col("tok"))
    sums = (toks.select(id_col, idx.alias("d"), (sign * F.col("w")).alias("s"))
            .groupBy(id_col, "d").agg(F.sum("s").alias("v")))
    dims = spark.range(DIM).select(F.col("id").alias("d"))
    ids = df.select(id_col).distinct()
    dense = (ids.crossJoin(F.broadcast(dims))
             .join(sums, [id_col, "d"], "left")
             .groupBy(id_col)
             .agg(F.array_sort(F.collect_list(F.struct("d", "v"))).alias("a"))
             .select(id_col,
                     F.transform("a", lambda e: F.coalesce(e["v"], F.lit(0.0)))
                     .alias("vec")))
    return dense


def embed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document q_64_vec: 0.1·title_vec + 0.9·content_vec — the
    reference blend over (source≈docnm_kwd, text≈content_with_weight).
    Output: (doc_id, dim0..dim3 sample + vec_norm) — the leading
    components and the L2 norm keep the oracle compact while pinning every
    blend coefficient."""
    blended = relation(spark, "doc_embeddings", sf_dir)
    norm = F.sqrt(F.aggregate("q_vec", F.lit(0.0), lambda a, v: a + v * v))
    return (blended.select(
        "doc_id",
        F.round(F.element_at("q_vec", 1), 4).alias("d0"),
        F.round(F.element_at("q_vec", 2), 4).alias("d1"),
        F.round(F.element_at("q_vec", 3), 4).alias("d2"),
        F.round(F.element_at("q_vec", 4), 4).alias("d3"),
        F.round(norm, 4).alias("vec_norm"))
        .orderBy("doc_id"))


def _doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, q_vec): the full blended vector — the reference stores
    exactly this per chunk at INDEX time (``q_{dim}_vec`` written by the
    task executor's embedding step, rag/svr/task_executor.py:387ff) and
    every search reads the stored column (the ``doc_embeddings`` table).
    This is the single-pass weighted-union hash."""
    d = read_documents(spark, sf_dir)
    # single pass: 0.1·hash(title) + 0.9·hash(content) = hash of the
    # weighted token union (hashing is linear in token votes)
    streams = (d.select("doc_id", F.col("text").alias("t"),
                        F.lit(1 - TITLE_W).alias("w"))
               .unionByName(d.select("doc_id", F.col("source").alias("t"),
                                     F.lit(TITLE_W).alias("w"))))
    return (_hash_embed(streams, "doc_id", "t", "w")
            .select("doc_id", F.col("vec").alias("q_vec")))


def _embed_sql() -> str:
    def hash_cte(src: str, text: str, name: str) -> str:
        return f"""
{name}_toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim({text})), '\\s+', ' ', 'g'), ' ')) AS tok
  FROM {src}),
{name}_sums AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::UBIGINT % {DIM} AS d,
         sum(CASE WHEN substr(md5(tok), 9, 1) IN
                  ('0','1','2','3','4','5','6','7')
             THEN 1.0 ELSE -1.0 END) AS v
  FROM {name}_toks WHERE tok != '' GROUP BY 1, 2),
{name}_vec AS (
  SELECT i.doc_id, list(COALESCE(s.v, 0.0) ORDER BY dm.d) AS vec
  FROM (SELECT DISTINCT doc_id FROM documents) i
  CROSS JOIN (SELECT unnest(range({DIM})) AS d) dm
  LEFT JOIN {name}_sums s ON s.doc_id = i.doc_id AND s.d = dm.d
  GROUP BY i.doc_id)"""

    return f"""
WITH {hash_cte('documents', 'text', 'c')},
{hash_cte('documents', 'source', 't')},
blended AS (
  SELECT c.doc_id,
         list_transform(range(1, {DIM} + 1),
                        i -> {TITLE_W} * t.vec[i] + {1 - TITLE_W} * c.vec[i])
           AS q_vec
  FROM c_vec c JOIN t_vec t USING (doc_id))
SELECT doc_id,
       round(q_vec[1], 4) AS d0, round(q_vec[2], 4) AS d1,
       round(q_vec[3], 4) AS d2, round(q_vec[4], 4) AS d3,
       round(sqrt(list_dot_product(q_vec, q_vec)), 4) AS vec_norm
FROM blended ORDER BY doc_id
"""


QUERIES = {
    "embed_docs": (embed_docs, _embed_sql()),
}
