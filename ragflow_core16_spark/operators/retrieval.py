"""Retrieval-side operators re-expressed as DataFrame queries.

The reference's query path (SURVEY.md §2.9): weighted-boolean full-text
match — NOT BM25 — per the ES scripted similarity ``idf · min(tf,1) · boost``
(``conf/mapping.json:8-15``), fused with dense cosine at weights 0.05/0.95
(``rag/nlp/search.py:112-118``), reranked 0.3·token-overlap + 0.7·cosine
(``search.py:274-311``), top-k + doc-level aggregation (``search.py:342-421``).

Here the "index" is the documents table tokenized on the fly (in production
it would be the pre-tokenized chunks table); the query is a fixed
deterministic term list so the oracle can replay it.  All JVM column ops:
explode → broadcast-join the tiny term list → groupBy(doc) agg.

Scale: the term list is broadcast (a handful of rows); the token explode is
map-local; the only shuffle is the per-doc score agg — same shape at 10^12
rows, with AQE coalescing the agg output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import read_documents

QUERY_TERMS = ["spark", "query", "data", "merge", "window"]
TOP_N = 20


def _tokens(spark, sf_dir) -> DataFrame:
    d = read_documents(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")
    return d.select("doc_id", F.explode(toks).alias("tok"))


# ------------------------------------------ retrieval-index materialization
# The reference indexes ONCE at ingest (the task executor's ES bulk
# insert against conf/mapping.json) and every search hits the stored
# index; it never re-tokenizes the corpus per query.  These tables are
# that index for the Spark engine: the (tok, doc_id, tf) posting relation
# and the per-doc length statistics.  Queries scan them when present and
# fall back to the token-explode compute path when absent (the driver's
# oracle run).

def _per_doc_tf(spark, sf_dir) -> DataFrame:
    """(tok, doc_id, tf) — the inverted-index content relation."""
    return (_tokens(spark, sf_dir).groupBy("tok", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf")))


def _term_tf(spark, sf_dir, terms: DataFrame) -> DataFrame:
    """(doc_id, term, tf) for a broadcast term relation.  With the index:
    a postings scan joined on the term key (no explode).  Without: the
    query-time shape — broadcast the terms INTO the token stream first,
    so only matching tokens reach the aggregation."""
    from ..pipeline.snapshot_cache import read_table
    scan = read_table(spark, "term_postings", sf_dir)
    if scan is not None:
        return (scan.join(F.broadcast(terms), scan.tok == terms.term)
                .select("doc_id", "term", "tf"))
    t = _tokens(spark, sf_dir)
    return (t.join(F.broadcast(terms), t.tok == terms.term)
            .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))


def _dl_rel(spark, sf_dir) -> DataFrame:
    """(doc_id, dl): per-doc token counts (BM25's length normalizer)."""
    return read_documents(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.regexp_replace(F.lower(F.trim("text")),
                                        r"\s+", " "), " ")).alias("dl"))


def materialize_retrieval_index(spark, sf_dir: str) -> list[str]:
    """Write the per-snapshot retrieval index tables (idempotent)."""
    from ..pipeline.snapshot_cache import BY_NAME
    return BY_NAME["retrieval_index"].build(spark, sf_dir)


def term_idf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query-term IDF over the corpus: ln(1 + (N - df + 0.5)/(df + 0.5)),
    the reference's term_weight idf form (rag/nlp/term_weight.py:184-186)."""
    # N as a broadcast 1-row relation, not a driver .count(): the scalar
    # collect would run a separate eager job per invocation (ADVICE r2)
    n_docs_rel = read_documents(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"))
    terms = spark.createDataFrame([(w,) for w in QUERY_TERMS], ["term"])
    # one row per (doc, term) in the tf relation ⇒ df = row count per term
    df_ = (_term_tf(spark, sf_dir, terms)
           .groupBy("term")
           .agg(F.count(F.lit(1)).alias("df")))
    return (df_.crossJoin(F.broadcast(n_docs_rel)).select(
        "term", "df",
        F.round(F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) /
                      (F.col("df") + 0.5)), 4)
         .alias("idf"))
        .orderBy("term"))


TERM_IDF_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
terms AS (SELECT unnest(['{"','".join(QUERY_TERMS)}']) AS term),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM toks JOIN terms ON tok = term GROUP BY term)
SELECT term, df,
       round(ln(1.0 + ((SELECT count(*) FROM documents) - df + 0.5) / (df + 0.5)), 4) AS idf
FROM dfreq ORDER BY term
"""


def fulltext_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-boolean retrieval: score(doc) = Σ_t idf(t)·min(tf,1) —
    the ES scripted_sim of conf/mapping.json:8-15 — top N docs."""
    from pyspark.sql import Window
    # N as a broadcast 1-row relation, not a driver .count() (ADVICE r2)
    n_docs_rel = read_documents(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"))
    terms = spark.createDataFrame([(w,) for w in QUERY_TERMS], ["term"])
    tf = _term_tf(spark, sf_dir, terms)
    # df(term) = row count per term over the aggregated tf (one row per
    # doc×term) via a window — the token explode+join subtree runs ONCE,
    # not once per idf/tf branch; the window reshuffles only the tiny
    # aggregated set (≤ |docs|·|terms| rows)
    df_ = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = (tf.crossJoin(F.broadcast(n_docs_rel))
              .withColumn("idf", F.log(1.0 + (F.col("n_docs") - df_ + 0.5) /
                                       (df_ + 0.5))))
    return (scored
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.col("idf") * F.least(F.col("tf"), F.lit(1))), 4)
                 .alias("score"),
                 F.count(F.lit(1)).alias("n_terms_hit"))
            .orderBy(F.desc("score"), "doc_id")
            .limit(TOP_N))


FULLTEXT_TOPN_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
terms AS (SELECT unnest(['{"','".join(QUERY_TERMS)}']) AS term),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks JOIN terms ON tok = term GROUP BY doc_id, term),
idf AS (
  SELECT term,
         ln(1.0 + ((SELECT count(*) FROM documents) - count(DISTINCT doc_id) + 0.5)
                  / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY term)
SELECT tf.doc_id,
       round(sum(idf.idf * least(tf.tf, 1)), 4) AS score,
       count(*) AS n_terms_hit
FROM tf JOIN idf ON tf.term = idf.term
GROUP BY tf.doc_id ORDER BY score DESC, tf.doc_id LIMIT {TOP_N}
"""


_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-N — the capability contrast to the reference's
    weighted-boolean similarity (``conf/mapping.json:8-15`` deliberately
    replaces BM25 with ``idf·min(tf,1)``; this operator is the standard
    ranking a drop-in ES/Lucene index would compute instead):
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)),
    idf(t) = ln(1 + (N-df+0.5)/(df+0.5)), k1=1.2, b=0.75.

    Scale: the term list broadcasts; df(term) is a window over the tiny
    aggregated (doc, term, tf) relation (≤ |docs|·|terms| rows) so the
    token explode runs once; doc lengths are computed scan-side (no second
    pass over tokens) and avgdl is a broadcast 1-row agg.  The only big
    shuffle is the per-doc score agg — same shape at 10^12 rows.

    Determinism (round-2 ADVICE): each per-term score part is rounded to
    an integer ppm BEFORE the per-doc sum, so ranking at the LIMIT
    boundary compares integers — no dependence on double summation order
    between engines.  The corpus count is a broadcast 1-row agg (no extra
    eager job per invocation)."""
    from pyspark.sql import Window
    n_docs_rel = read_documents(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_docs"))
    dl_rel = relation(spark, "doc_stats", sf_dir)
    avgdl = dl_rel.agg(F.avg("dl").alias("avgdl"))
    terms = spark.createDataFrame([(w,) for w in QUERY_TERMS], ["term"])
    tf = _term_tf(spark, sf_dir, terms)
    df_ = F.count(F.lit(1)).over(Window.partitionBy("term"))
    idf = F.log(1.0 + (F.col("n_docs") - df_ + 0.5) / (df_ + 0.5))
    scored = (tf.crossJoin(F.broadcast(n_docs_rel))
              .withColumn("idf", idf)
              .join(dl_rel, "doc_id")
              .crossJoin(F.broadcast(avgdl)))
    part = (F.col("idf") * F.col("tf") * (_BM25_K1 + 1.0) /
            (F.col("tf") + _BM25_K1 * (1.0 - _BM25_B +
                                       _BM25_B * F.col("dl") / F.col("avgdl"))))
    part_ppm = F.round(part * 1e6, 0).cast("long")
    return (scored.groupBy("doc_id")
            .agg(F.sum(part_ppm).alias("ppm"),
                 F.count(F.lit(1)).alias("n_terms_hit"))
            .select("doc_id",
                    F.round(F.col("ppm").cast("double") / 1e6, 4)
                     .alias("bm25"),
                    "n_terms_hit", "ppm")
            .orderBy(F.desc("ppm"), "doc_id")
            .limit(TOP_N)
            .drop("ppm"))


BM25_TOPN_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
dl AS (
  SELECT doc_id,
         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS dl
  FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
terms AS (SELECT unnest(['{"','".join(QUERY_TERMS)}']) AS term),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks JOIN terms ON tok = term GROUP BY doc_id, term),
idf AS (
  SELECT term,
         ln(1.0 + ((SELECT count(*) FROM documents) - count(DISTINCT doc_id) + 0.5)
                  / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY term)
SELECT doc_id, round(CAST(ppm AS DOUBLE) / 1e6, 4) AS bm25, n_terms_hit
FROM (
  SELECT tf.doc_id,
         sum(CAST(round(idf.idf * tf.tf * ({_BM25_K1} + 1.0) /
                        (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B} +
                           {_BM25_B} * dl.dl / avgdl.avgdl)) * 1e6)
                  AS BIGINT)) AS ppm,
         count(*) AS n_terms_hit
  FROM tf JOIN idf ON tf.term = idf.term
  JOIN dl ON dl.doc_id = tf.doc_id, avgdl
  GROUP BY tf.doc_id ORDER BY ppm DESC, tf.doc_id LIMIT {TOP_N})
ORDER BY ppm DESC, doc_id
"""


def hybrid_fusion(spark: SparkSession, sf_dir: str,
                  limit: int | None = None) -> DataFrame:
    """Text/vector fusion 0.05/0.95 (search.py:112-118): text score from
    fulltext_topn-style scoring joined FULL OUTER with vector cosine vs the
    query doc's pseudo-embedding (embeddings row vec_id = doc_id % 500 is
    not meaningful on synthetic data — instead vectors come from the
    embeddings table joined on vec_id = doc_id, missing → 0)."""
    text_scores = fulltext_topn(spark, sf_dir) \
        .select("doc_id", F.col("score").alias("tscore"))
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(F.zip_with(F.col("embedding"), F.col("qv"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda a, v: a + v)
    nrm = (F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0),
                              lambda a, v: a + v * v)) *
           F.sqrt(F.aggregate(F.col("qv"), F.lit(0.0), lambda a, v: a + v * v)))
    vec_scores = (e.crossJoin(F.broadcast(q))
                  .select(F.col("vec_id").alias("doc_id"),
                          (dot / nrm).alias("vscore")))
    return (text_scores.join(vec_scores, "doc_id", "full_outer")
            .select("doc_id",
                    F.round(F.coalesce("tscore", F.lit(0.0)) * 0.05 +
                            F.coalesce("vscore", F.lit(0.0)) * 0.95, 4)
                    .alias("fused"))
            .orderBy(F.desc("fused"), "doc_id")
            .limit(limit or TOP_N))


HYBRID_FUSION_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
terms AS (SELECT unnest(['{"','".join(QUERY_TERMS)}']) AS term),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks JOIN terms ON tok = term GROUP BY doc_id, term),
idf AS (
  SELECT term,
         ln(1.0 + ((SELECT count(*) FROM documents) - count(DISTINCT doc_id) + 0.5)
                  / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY term),
tscores AS (
  SELECT tf.doc_id, round(sum(idf.idf * least(tf.tf, 1)), 4) AS tscore
  FROM tf JOIN idf ON tf.term = idf.term
  GROUP BY tf.doc_id ORDER BY tscore DESC, tf.doc_id LIMIT {TOP_N}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vscores AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(e.embedding, q.qv) /
         (sqrt(list_dot_product(e.embedding, e.embedding)) *
          sqrt(list_dot_product(q.qv, q.qv))) AS vscore
  FROM embeddings e, q)
SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       round(COALESCE(t.tscore, 0) * 0.05 + COALESCE(v.vscore, 0) * 0.95, 4) AS fused
FROM tscores t FULL OUTER JOIN vscores v ON t.doc_id = v.doc_id
ORDER BY fused DESC, doc_id LIMIT {TOP_N}
"""


def doc_agg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level aggregation of retrieval hits (search.py:411-418 analogue):
    per source, how many docs hit ≥1 query term."""
    t = _tokens(spark, sf_dir)
    terms = spark.createDataFrame([(w,) for w in QUERY_TERMS], ["term"])
    hits = (t.join(F.broadcast(terms), t.tok == terms.term)
            .select("doc_id").distinct())
    d = read_documents(spark, sf_dir)
    return (d.join(hits, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_hit_docs"))
            .orderBy("source"))


DOC_AGG_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
terms AS (SELECT unnest(['{"','".join(QUERY_TERMS)}']) AS term),
hits AS (SELECT DISTINCT doc_id FROM toks JOIN terms ON tok = term)
SELECT d.source, count(*) AS n_hit_docs
FROM documents d JOIN hits USING (doc_id)
GROUP BY d.source ORDER BY d.source
"""


RERANK_QUESTION = "what is the spark data engine query window"


def _question_terms() -> list[tuple[str, float]]:
    """Driver-side query compile (FulltextQueryer.question) with weights
    rounded so the same literals feed both Spark and the DuckDB oracle."""
    from ragflow_core16_spark.textnorm.query import FulltextQueryer
    terms, _phrases, _kws = FulltextQueryer().question(RERANK_QUESTION)
    return [(t, float(round(float(w), 6))) for t, w in terms]


def _hybrid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hybrid) = 0.3·token-overlap + 0.7·cosine over all docs."""
    terms = _question_terms()
    total_w = round(sum(w for _, w in terms), 6)
    tdf = spark.createDataFrame(terms, ["term", "w"])
    # distinct (doc, tok) pairs ARE the posting keys — scan the index
    # when it exists instead of re-exploding + distincting the corpus
    from ..pipeline.snapshot_cache import read_table
    pscan = read_table(spark, "term_postings", sf_dir)
    toks = (pscan.select("doc_id", "tok") if pscan is not None
            else _tokens(spark, sf_dir).distinct())
    tok_sim = (toks.join(F.broadcast(tdf), toks.tok == tdf.term)
               .groupBy("doc_id")
               .agg((F.sum("w") / F.lit(total_w)).alias("tok_sim")))
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(F.zip_with(F.col("embedding"), F.col("qv"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda a, v: a + v)
    nrm = (F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0),
                              lambda a, v: a + v * v)) *
           F.sqrt(F.aggregate(F.col("qv"), F.lit(0.0), lambda a, v: a + v * v)))
    vec = (e.crossJoin(F.broadcast(q))
           .select(F.col("vec_id").alias("doc_id"), (dot / nrm).alias("cos")))
    return (tok_sim.join(vec, "doc_id", "full_outer")
            .select("doc_id",
                    (F.coalesce("tok_sim", F.lit(0.0)) * 0.3 +
                     F.coalesce("cos", F.lit(0.0)) * 0.7).alias("hybrid")))


def rerank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference rerank (search.py:274-311): token-overlap similarity
    (Σ matched query weights / Σ query weights, query.py:228-240) fused
    0.3/0.7 with vector cosine.  The compiled query terms are a broadcast
    literal relation — query compile happens once on the driver, scoring is
    all JVM."""
    return (_hybrid_scores(spark, sf_dir)
            .select("doc_id", F.round("hybrid", 4).alias("rerank_score"))
            .orderBy(F.desc("rerank_score"), "doc_id")
            .limit(TOP_N))


def _rerank_fusion_sql() -> str:
    terms = _question_terms()
    total_w = round(sum(w for _, w in terms), 6)
    values = ", ".join(f"('{t}', {w})" for t, w in terms)
    return rf"""
WITH terms(term, w) AS (VALUES {values}),
toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
tok_sim AS (
  SELECT doc_id, sum(w) / {total_w} AS tok_sim
  FROM toks JOIN terms ON tok = term GROUP BY doc_id),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(e.embedding, q.qv) /
         (sqrt(list_dot_product(e.embedding, e.embedding)) *
          sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM embeddings e, q)
SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       round(COALESCE(t.tok_sim, 0) * 0.3 + COALESCE(v.cos, 0) * 0.7, 4)
         AS rerank_score
FROM tok_sim t FULL OUTER JOIN vec v USING (doc_id)
ORDER BY rerank_score DESC, doc_id LIMIT {TOP_N}
"""


RERANK_LIMIT = 64       # search.py:350
SIM_THRESHOLD = 0.2     # Dealer.retrieval default (search.py:342-421)
PAGE, PAGE_SIZE = 1, 8


def retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's end-to-end retrieval flow (Dealer.retrieval,
    search.py:342-421): fusion-scored search (0.05/0.95) keeps the top
    RERANK_LIMIT candidates → rerank 0.3·token + 0.7·cosine → drop below
    the 0.2 similarity threshold → paginate (page 1).  One DataFrame
    chain: top-k is TakeOrderedAndProject, the rerank join touches only
    the 64 survivors (broadcast), pagination is a row_number window over
    the tiny reranked set."""
    from pyspark.sql import Window
    cands = hybrid_fusion(spark, sf_dir, limit=RERANK_LIMIT) \
        .select("doc_id")
    # round BEFORE the threshold and the rank window (same discipline as
    # the sibling queries): ordering on the raw double could flip ranks
    # between engines on sub-ulp accumulation differences
    reranked = (_hybrid_scores(spark, sf_dir)
                .withColumn("score", F.round("hybrid", 4))
                .join(F.broadcast(cands), "doc_id")
                .filter(F.col("score") >= SIM_THRESHOLD))
    w = Window.orderBy(F.desc("score"), "doc_id")
    return (reranked
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter((F.col("rank") > (PAGE - 1) * PAGE_SIZE) &
                    (F.col("rank") <= PAGE * PAGE_SIZE))
            .select("rank", "doc_id", "score")
            .orderBy("rank"))


def _retrieval_pipeline_sql() -> str:
    terms = _question_terms()
    total_w = round(sum(w for _, w in terms), 6)
    values = ", ".join(f"('{t}', {w})" for t, w in terms)
    return rf"""
WITH toks0 AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
fterms AS (SELECT unnest(['{"','".join(QUERY_TERMS)}']) AS term),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks0 JOIN fterms ON tok = term GROUP BY doc_id, term),
idf AS (
  SELECT term,
         ln(1.0 + ((SELECT count(*) FROM documents) - count(DISTINCT doc_id) + 0.5)
                  / (count(DISTINCT doc_id) + 0.5)) AS idf
  FROM tf GROUP BY term),
tscores AS (
  SELECT tf.doc_id, round(sum(idf.idf * least(tf.tf, 1)), 4) AS tscore
  FROM tf JOIN idf ON tf.term = idf.term
  GROUP BY tf.doc_id ORDER BY tscore DESC, tf.doc_id LIMIT {TOP_N}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vscores AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(e.embedding, q.qv) /
         (sqrt(list_dot_product(e.embedding, e.embedding)) *
          sqrt(list_dot_product(q.qv, q.qv))) AS vscore
  FROM embeddings e, q),
cands AS (
  SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
         round(COALESCE(t.tscore, 0) * 0.05 + COALESCE(v.vscore, 0) * 0.95, 4) AS fused
  FROM tscores t FULL OUTER JOIN vscores v ON t.doc_id = v.doc_id
  ORDER BY fused DESC, doc_id LIMIT {RERANK_LIMIT}),
rterms(term, w) AS (VALUES {values}),
rtoks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
tok_sim AS (
  SELECT doc_id, sum(w) / {total_w} AS tok_sim
  FROM rtoks JOIN rterms ON tok = term GROUP BY doc_id),
hybrid AS (
  SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
         COALESCE(t.tok_sim, 0) * 0.3 + COALESCE(v.vscore, 0) * 0.7 AS hybrid
  FROM tok_sim t FULL OUTER JOIN vscores v USING (doc_id)),
reranked AS (
  SELECT h.doc_id, round(h.hybrid, 4) AS score,
         CAST(row_number() OVER (ORDER BY round(h.hybrid, 4) DESC, h.doc_id)
              AS BIGINT) AS rank
  FROM hybrid h JOIN cands c USING (doc_id)
  WHERE round(h.hybrid, 4) >= {SIM_THRESHOLD})
SELECT rank, doc_id, score
FROM reranked
WHERE rank > {(PAGE - 1) * PAGE_SIZE} AND rank <= {PAGE * PAGE_SIZE}
ORDER BY rank
"""


Q_RFEA = {"src1": 2.0, "en": 1.0}   # query rank features (tag → weight)


def rerank_rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL reference rerank: hybrid 0.3/0.7 PLUS rank-feature scores
    (search.py:247-272): rank_fea = 10 · tag-cosine(query_rfea, doc tags)
    + pagerank, added to the hybrid similarity (search.py:305-311).

    Doc-side tag features and pagerank are deterministic column exprs over
    the documents table (tag_feas = {source: doc_id%5+1, lang: doc_id%3+1},
    pagerank_fea = (doc_id%7)/10) — the map<string,float> rank_features
    column of conf/mapping.json:141-155 re-expressed relationally."""
    import math
    q_denor = math.sqrt(sum(s * s for s in Q_RFEA.values()))
    d = read_documents(spark, sf_dir).select("doc_id", "source", "lang")
    sc1 = (F.col("doc_id") % 5 + 1).cast("double")   # weight of tag=source
    sc2 = (F.col("doc_id") % 3 + 1).cast("double")   # weight of tag=lang
    pagerank = (F.col("doc_id") % 7).cast("double") / 10.0
    nor = (F.when(F.col("source") == "src1", F.lit(Q_RFEA["src1"]) * sc1)
           .otherwise(F.lit(0.0)) +
           F.when(F.col("lang") == "en", F.lit(Q_RFEA["en"]) * sc2)
           .otherwise(F.lit(0.0)))
    denor = F.sqrt(sc1 * sc1 + sc2 * sc2)
    rfea = d.select(
        "doc_id",
        (F.lit(10.0) * nor / denor / F.lit(q_denor) + pagerank)
        .alias("rank_fea"))
    return (_hybrid_scores(spark, sf_dir)
            .join(rfea, "doc_id")
            .select("doc_id",
                    F.round(F.col("hybrid") + F.col("rank_fea"), 4)
                    .alias("score"),
                    F.round("rank_fea", 4).alias("rank_fea"))
            .orderBy(F.desc("score"), "doc_id")
            .limit(TOP_N))


def _rerank_rank_features_sql() -> str:
    import math
    terms = _question_terms()
    total_w = round(sum(w for _, w in terms), 6)
    values = ", ".join(f"('{t}', {w})" for t, w in terms)
    q_denor = math.sqrt(sum(s * s for s in Q_RFEA.values()))
    return rf"""
WITH terms(term, w) AS (VALUES {values}),
toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
tok_sim AS (
  SELECT doc_id, sum(w) / {total_w} AS tok_sim
  FROM toks JOIN terms ON tok = term GROUP BY doc_id),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(e.embedding, q.qv) /
         (sqrt(list_dot_product(e.embedding, e.embedding)) *
          sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM embeddings e, q),
hybrid AS (
  SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
         COALESCE(t.tok_sim, 0) * 0.3 + COALESCE(v.cos, 0) * 0.7 AS hybrid
  FROM tok_sim t FULL OUTER JOIN vec v USING (doc_id)),
rfea AS (
  SELECT doc_id,
         10.0 * ((CASE WHEN source = 'src1'
                       THEN {Q_RFEA['src1']} * (doc_id % 5 + 1) ELSE 0 END) +
                 (CASE WHEN lang = 'en'
                       THEN {Q_RFEA['en']} * (doc_id % 3 + 1) ELSE 0 END))
         / sqrt((doc_id % 5 + 1) * (doc_id % 5 + 1) +
                (doc_id % 3 + 1) * (doc_id % 3 + 1))
         / {q_denor}
         + (doc_id % 7) / 10.0 AS rank_fea
  FROM documents)
SELECT h.doc_id, round(h.hybrid + r.rank_fea, 4) AS score,
       round(r.rank_fea, 4) AS rank_fea
FROM hybrid h JOIN rfea r USING (doc_id)
ORDER BY score DESC, h.doc_id LIMIT {TOP_N}
"""


CITE_ANSWER = ("the spark engine can sort and merge each batch. "
               "a window query will scan the table and join the rows. "
               "stream data flows into the hash join and the group agg. "
               "small filters push down to the parquet scan.")
CITE_N_DOCS = 40          # chunk set: documents with doc_id < 40
CITE_TK_W, CITE_VT_W = 0.1, 0.9   # insert_citations weights (search.py:162)


def _cite_literals() -> tuple[list[tuple[int, int]], list[tuple[int, str, float]], list[tuple[int, float]]]:
    """Driver-side piece compile for insert_citations: split the answer
    (search.py:163-193), weight each citable piece's tokens, and assign each
    piece a deterministic pseudo-embedding (embeddings row vec_id=3·seq —
    the reference encodes pieces via an external embd_mdl; a vector lookup
    keeps the operator deterministic and oracle-checkable).
    → (piece_vec [(pidx, vec_id)], piece_terms [(pidx, term, w)],
       piece_total [(pidx, Σw)])."""
    from ragflow_core16_spark.textnorm.citations import split_pieces
    from ragflow_core16_spark.textnorm.query import FulltextQueryer
    qryr = FulltextQueryer()
    pieces, idx = split_pieces(CITE_ANSWER)
    piece_vec, piece_terms, piece_total = [], [], []
    for seq, i in enumerate(idx):
        piece_vec.append((i, 3 * seq))
        d = qryr._to_weight_dict(qryr.rmWWW(pieces[i]).lower().split())
        total = 0.0
        for t, w in sorted(d.items()):
            w = round(float(w), 6)
            piece_terms.append((i, t, w))
            total += w
        piece_total.append((i, round(total, 6)))
    return piece_vec, piece_terms, piece_total


def insert_citations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Citation insertion (search.py:158-245) as a DataFrame query: per
    answer piece, hybrid sim 0.1·token-overlap + 0.9·cosine vs every chunk;
    cite chunks with sim > 0.99·piece-max, ≤4 per piece (lowest doc_id
    first — deterministic variant of the reference's set-order [:4]),
    admission threshold = highest of the 0.63·0.8ⁿ decay levels reached by
    any piece.  Pieces/terms are driver-compiled broadcast literals; all
    scoring is JVM columnar.

    Documented divergence: the reference tokenizes pieces AND chunks via
    rag_tokenizer.tokenize (stemming + CJK segmentation, search.py:209-218);
    this operator uses lowercase whitespace tokens on BOTH sides so the
    chunk side stays a pure column expression (no Python stage) and the
    DuckDB oracle can reproduce it exactly.  The local Python path
    (textnorm/citations.py) uses the reference tokenizer.  Scale: |pieces|×|chunks| grid is tiny per
    query; at corpus scale the chunk side stays a DataFrame and the only
    wide op is the per-piece max — a broadcast-friendly agg."""
    pv, pt, ptot = _cite_literals()
    pvdf = spark.createDataFrame(pv, ["pidx", "vec_src"])
    tot = dict(ptot)

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cv = e.filter(F.col("vec_id") < CITE_N_DOCS) \
          .select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("dv"))
    qv = (e.join(F.broadcast(pvdf), e.vec_id == pvdf.vec_src)
          .select("pidx", F.col("embedding").alias("qv")))

    # per-piece token-overlap sim as a LITERAL expression over the doc's
    # token array — piece terms are driver constants, so the whole token
    # side is array_contains folds: no explode, no re-join, one scan
    d = (read_documents(spark, sf_dir).filter(F.col("doc_id") < CITE_N_DOCS)
         .select("doc_id",
                 F.split(F.regexp_replace(F.lower(F.trim("text")),
                                          r"\s+", " "), " ").alias("toks")))
    by_piece: dict[int, list] = {}
    for pidx, term, w in pt:
        by_piece.setdefault(pidx, []).append((term, w))
    stack_args = []
    for pidx, terms in by_piece.items():
        sw = None
        for term, w in terms:
            c = F.when(F.array_contains("toks", term), F.lit(w)) \
                 .otherwise(F.lit(0.0))
            sw = c if sw is None else sw + c
        tksim = (F.lit(1e-9) + sw) / F.lit(1e-9 + tot[pidx])
        stack_args.extend([F.lit(pidx), tksim])
    n = len(by_piece)
    tks = d.select("doc_id",
                   F.stack(F.lit(n), *stack_args).alias("pidx", "tksim"))

    base = tks.join(cv, "doc_id").join(F.broadcast(qv), "pidx")
    dot = F.aggregate(F.zip_with("qv", "dv", lambda x, y: x * y),
                      F.lit(0.0), lambda a, v: a + v)
    nrm = (F.sqrt(F.aggregate("qv", F.lit(0.0), lambda a, v: a + v * v)) *
           F.sqrt(F.aggregate("dv", F.lit(0.0), lambda a, v: a + v * v)))
    sim = base.select("pidx", "doc_id",
                      (F.lit(CITE_TK_W) * F.col("tksim") +
                       F.lit(CITE_VT_W) * (dot / nrm)).alias("sim"))

    from pyspark.sql import Window
    mx = F.max("sim").over(Window.partitionBy("pidx"))
    scored = sim.withColumn("mx", mx * F.lit(0.99))
    # thr_eff: highest 0.63·0.8ⁿ level (n<4) reached by any piece's mx
    best = scored.agg(F.max("mx").alias("b"))
    thr = best.select(
        F.when(F.col("b") >= 0.63, 0.63)
         .when(F.col("b") >= 0.63 * 0.8, 0.63 * 0.8)
         .when(F.col("b") >= 0.63 * 0.64, 0.63 * 0.64)
         .when(F.col("b") >= 0.63 * 0.512, 0.63 * 0.512)
         .alias("thr"))
    rk = F.row_number().over(
        Window.partitionBy("pidx").orderBy("doc_id"))
    return (scored.crossJoin(F.broadcast(thr))
            .filter((F.col("mx") >= F.col("thr")) & (F.col("sim") > F.col("mx")))
            .withColumn("cite_rank", rk)
            .filter(F.col("cite_rank") <= 4)
            .select("pidx", "doc_id", F.round("sim", 4).alias("sim"),
                    F.col("cite_rank").cast("long").alias("cite_rank"))
            .orderBy("pidx", "doc_id"))


def _insert_citations_sql() -> str:
    pv, pt, ptot = _cite_literals()
    pv_vals = ", ".join(f"({p}, {v})" for p, v in pv)
    pt_vals = ", ".join(f"({p}, '{t}', {w})" for p, t, w in pt)
    tot_vals = ", ".join(f"({p}, {w})" for p, w in ptot)
    return rf"""
WITH piece_vec(pidx, vec_src) AS (VALUES {pv_vals}),
piece_terms(pidx, term, w) AS (VALUES {pt_vals}),
piece_total(pidx, tw_total) AS (VALUES {tot_vals}),
toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents WHERE doc_id < {CITE_N_DOCS}),
tksum AS (
  SELECT pt.pidx, t.doc_id, sum(pt.w) AS sw
  FROM toks t JOIN piece_terms pt ON t.tok = pt.term
  GROUP BY pt.pidx, t.doc_id),
qv AS (
  SELECT pv.pidx, e.embedding AS qv FROM embeddings e
  JOIN piece_vec pv ON e.vec_id = pv.vec_src),
cv AS (
  SELECT vec_id AS doc_id, embedding AS dv FROM embeddings
  WHERE vec_id < {CITE_N_DOCS}),
sim AS (
  SELECT qv.pidx, cv.doc_id,
         {CITE_TK_W} * ((1e-9 + COALESCE(tk.sw, 0)) / (1e-9 + tot.tw_total))
         + {CITE_VT_W} * (list_dot_product(qv.qv, cv.dv) /
            (sqrt(list_dot_product(qv.qv, qv.qv)) *
             sqrt(list_dot_product(cv.dv, cv.dv)))) AS sim
  FROM qv CROSS JOIN cv
  LEFT JOIN tksum tk ON tk.pidx = qv.pidx AND tk.doc_id = cv.doc_id
  JOIN piece_total tot ON tot.pidx = qv.pidx),
scored AS (
  SELECT pidx, doc_id, sim,
         0.99 * max(sim) OVER (PARTITION BY pidx) AS mx
  FROM sim),
thr AS (
  SELECT CASE WHEN max(mx) >= 0.63 THEN 0.63
              WHEN max(mx) >= {0.63 * 0.8} THEN {0.63 * 0.8}
              WHEN max(mx) >= {0.63 * 0.64} THEN {0.63 * 0.64}
              WHEN max(mx) >= {0.63 * 0.512} THEN {0.63 * 0.512}
         END AS thr FROM scored)
SELECT pidx, doc_id, round(sim, 4) AS sim, cite_rank
FROM (
  SELECT s.pidx, s.doc_id, s.sim,
         CAST(row_number() OVER (PARTITION BY s.pidx ORDER BY s.doc_id)
              AS BIGINT) AS cite_rank
  FROM scored s CROSS JOIN thr
  WHERE s.mx >= thr.thr AND s.sim > s.mx)
WHERE cite_rank <= 4 ORDER BY pidx, doc_id
"""


SQL_RETRIEVAL_TEXT = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS DOUBLE) AS total_chars,
       round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def sql_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass-through SQL (reference ``sql_retrieval``, search.py:423-425 —
    the ES-SQL endpoint): the engine accepts the SQL text verbatim; here
    Spark SQL executes it natively against the registered tables.  The
    oracle runs the IDENTICAL string."""
    read_documents(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(SQL_RETRIEVAL_TEXT)


# ---------------------------------------------------------- posting lists
def build_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the offline analogue of the reference's ES
    index (conf/mapping.json): term → df, total tf, and the doc posting
    list with per-doc tf, capped at the 32 highest-tf docs per term (real
    posting builds cap or tier their lists; the cap keeps the row bounded).
    One explode + one (term, doc) agg + one term agg — two shuffles, both
    keyed, map-side combined.  At 10^12 docs this is the classic index
    build job; skewed stop-words are exactly what AQE skew-split handles.
    With a written posting relation (``materialize_retrieval_index``)
    the per-doc tf stage is a scan of it."""
    per_doc = relation(spark, "term_postings", sf_dir)
    from pyspark.sql import Window
    rk = F.row_number().over(
        Window.partitionBy("tok").orderBy(F.desc("tf"), "doc_id"))
    top = per_doc.withColumn("rk", rk).filter(F.col("rk") <= 32)
    return (per_doc.groupBy("tok")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.sum("tf").alias("total_tf"))
            .join(top.groupBy("tok").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("rk", "doc_id", "tf"))),
                        lambda s: F.concat_ws(":", s.doc_id.cast("string"),
                                              s.tf.cast("string"))),
                    ",").alias("postings")), "tok")
            .select(F.col("tok").alias("term"), "df",
                    F.col("total_tf").cast("long").alias("total_tf"),
                    "postings")
            .orderBy("term"))


BUILD_POSTINGS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
per_doc AS (
  SELECT tok, doc_id, count(*) AS tf FROM toks GROUP BY tok, doc_id),
ranked AS (
  SELECT tok, doc_id, tf,
         row_number() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS rk
  FROM per_doc),
top AS (
  SELECT tok, string_agg(doc_id || ':' || tf, ',' ORDER BY rk) AS postings
  FROM ranked WHERE rk <= 32 GROUP BY tok),
stats AS (
  SELECT tok, count(DISTINCT doc_id) AS df,
         CAST(sum(tf) AS BIGINT) AS total_tf
  FROM per_doc GROUP BY tok)
SELECT s.tok AS term, s.df, s.total_tf, t.postings
FROM stats s JOIN top t ON t.tok = s.tok
ORDER BY term
"""


# ------------------------------------------------------------- RRF fusion
RRF_K = 60


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the full-text and dense rankings:
    score = Σ 1/(k + rank), k=60 — the standard rank-level fusion
    alternative to the reference's score-level 0.05/0.95 blend.  Both
    source rankings reuse the existing operators; the fusion itself is one
    union + one groupBy."""
    from pyspark.sql import Window
    ft = fulltext_topn(spark, sf_dir).select(
        "doc_id", F.row_number().over(
            Window.orderBy(F.desc("score"), "doc_id")).alias("rank"))
    dn = cosine_doc_rank(spark, sf_dir)
    both = ft.select("doc_id", "rank").union(dn.select("doc_id", "rank"))
    return (both.groupBy("doc_id")
            .agg(F.round(F.sum(1.0 / (F.lit(RRF_K) + F.col("rank"))), 6)
                 .alias("rrf_score"),
                 F.count(F.lit(1)).alias("n_lists"))
            .orderBy(F.desc("rrf_score"), "doc_id")
            .limit(TOP_N))


def cosine_doc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense ranking side for fusion: cosine of each doc's embedding
    (doc_id = vec_id) against the deterministic query vector (vec_id 0),
    ranked.  Broadcast query row; TakeOrdered top path."""
    from pyspark.sql import Window
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"))
    dot = F.aggregate(F.zip_with("embedding", "qv", lambda x, y: x * y),
                      F.lit(0.0), lambda a, v: a + v)
    nrm = (F.sqrt(F.aggregate("embedding", F.lit(0.0),
                              lambda a, v: a + v * v)) *
           F.sqrt(F.aggregate("qv", F.lit(0.0), lambda a, v: a + v * v)))
    # rank on the ROUNDED cosine: the rank key must be reproducible
    # bit-for-bit across engines and partitionings, and a raw float sum
    # is not (addition order) — same contract as every score column
    scored = (e.crossJoin(F.broadcast(q))
              .select(F.col("vec_id").alias("doc_id"),
                      F.round(dot / nrm, 6).alias("cos")))
    return scored.select(
        "doc_id", F.row_number().over(
            Window.orderBy(F.desc("cos"), "doc_id")).alias("rank"))         .filter(F.col("rank") <= TOP_N)


def _rrf_fusion_sql() -> str:
    terms = ", ".join(f"('{t}')" for t in QUERY_TERMS)
    return rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
qt(term) AS (VALUES {terms}),
n AS (SELECT count(*) AS n_docs FROM documents),
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM toks JOIN qt ON tok = term GROUP BY term),
idf AS (
  SELECT term, ln(1.0 + (n.n_docs - df + 0.5) / (df + 0.5)) AS idf
  FROM dfs, n),
tfs AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks JOIN qt ON tok = term GROUP BY doc_id, term),
scores AS (
  SELECT t.doc_id, sum(i.idf * least(t.tf, 1)) AS score
  FROM tfs t JOIN idf i ON i.term = t.term GROUP BY t.doc_id),
ftrank AS (
  -- rank on the ROUNDED score (as the Spark side does): the raw float
  -- sum's last bits depend on addition order, so two docs hitting the
  -- same term set can order differently per engine/partitioning
  SELECT doc_id,
         row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank
  FROM scores QUALIFY rank <= {TOP_N}),
dense AS (
  SELECT e.vec_id AS doc_id,
         round(list_dot_product(e.embedding, q.embedding) /
         (sqrt(list_dot_product(e.embedding, e.embedding)) *
          sqrt(list_dot_product(q.embedding, q.embedding))), 6) AS cos
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q),
dnrank AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank
  FROM dense QUALIFY rank <= {TOP_N}),
unioned AS (
  SELECT doc_id, rank FROM ftrank UNION ALL SELECT doc_id, rank FROM dnrank)
SELECT doc_id, round(sum(1.0 / ({RRF_K} + rank)), 6) AS rrf_score,
       count(*) AS n_lists
FROM unioned GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id LIMIT {TOP_N}
"""


def incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 index maintenance demonstrated inside one corpus: the same
    deterministic hash split as ``incremental_dedup`` plays 4/5 of the
    docs as the already-indexed day-1 corpus and 1/5 as today's batch;
    each side's (tok, doc_id, tf) postings build independently and merge
    through ``pipeline.incremental.merge_postings`` — the literal
    delta-merge the day-2 job (`jobs/curate_job.py --incremental`) runs —
    then roll up to per-term df / total tf.  The oracle is the direct
    aggregation over ALL documents: merge ≡ full recompute is exactly the
    maintenance contract."""
    from ..pipeline.incremental import merge_postings
    from .dedup import _incr_split_expr
    t = _tokens(spark, sf_dir)
    split = _incr_split_expr()
    day1 = (t.filter(split != 0).groupBy("tok", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf")))
    batch = (t.filter(split == 0).groupBy("tok", "doc_id")
             .agg(F.count(F.lit(1)).alias("tf")))
    return (merge_postings(day1, batch)
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.sum("tf").alias("tf_total"))
            .filter(F.col("df") >= 3)
            .orderBy("tok"))


INCREMENTAL_POSTINGS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents)
SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS tf_total
FROM toks GROUP BY tok HAVING count(DISTINCT doc_id) >= 3 ORDER BY tok
"""


QUERIES = {
    "build_postings": (build_postings, BUILD_POSTINGS_SQL),
    "incremental_postings": (incremental_postings,
                             INCREMENTAL_POSTINGS_SQL),
    "rrf_fusion": (rrf_fusion, _rrf_fusion_sql()),
    "term_idf_weights": (term_idf_weights, TERM_IDF_SQL),
    "sql_retrieval": (sql_retrieval, SQL_RETRIEVAL_TEXT),
    "fulltext_topn": (fulltext_topn, FULLTEXT_TOPN_SQL),
    "bm25_topn": (bm25_topn, BM25_TOPN_SQL),
    "hybrid_fusion": (hybrid_fusion, HYBRID_FUSION_SQL),
    "doc_agg_counts": (doc_agg_counts, DOC_AGG_SQL),
    "rerank_fusion": (rerank_fusion, _rerank_fusion_sql()),
    "rerank_rank_features": (rerank_rank_features,
                             _rerank_rank_features_sql()),
    "retrieval_pipeline": (retrieval_pipeline, _retrieval_pipeline_sql()),
    "insert_citations": (insert_citations_q, _insert_citations_sql()),
}
