"""Tag-feature scoring — the reference's knowledge-base tagging math
(`/root/reference/rag/nlp/search.py:446-484`) re-expressed relationally.

Reference shape: ``all_tags_in_portion`` aggregates the corpus's ``tag_kwd``
counts into smoothed portions ``(c + 1) / (total + S)`` (S = 1000);
``tag_content`` full-text-searches the corpus with the document's own
keywords, aggregates the tag counts of the MATCHED docs, scores every tag
``round(0.1 · (c + 1) / (cnt + S) / portion)`` and keeps the top-3 with
score > 0 as the doc's ``tag_feas`` rank-features (consumed by the rerank
tag-cosine, `search.py:247-272` — see ``rerank_rank_features``);
``tag_query`` does the same for a question string with ``max(1, score)``.

Deterministic re-expression over the documents table:

* tag vocabulary  = ``src:<source>``, ``lang:<lang>`` (the two attributes
  ``rerank_rank_features`` already treats as the doc-side ``tag_feas`` map
  of conf/mapping.json:141-155) plus ``kw:<top-1 TF-IDF keyword>`` — the
  high-cardinality family a real ``tag_kwd`` field has.
* the match_txt search slot (an ES query in the reference) → docs sharing
  ≥ 1 top-3 TF-IDF keyword with the subject doc (``tag_content``), or
  containing ≥ 1 compiled question term (``tag_query`` — min_match 0.0,
  exactly the reference's query compile via ``FulltextQueryer``).
* scoring is INTEGER-EXACT and read out in PER-MILLE units: with
  N = (c+1)·(T+S) and D = 10·(cnt+S)·(C+1), the reference's
  ``0.1·(c+1)/(cnt+S) / ((C+1)/(T+S))`` becomes
  ``(2·1000·N + D) div (2D)`` (half-up; Python's round() is half-to-even
  — exact .5 ties are the only divergence).  The reference rounds to unit
  steps because its corpora are ES-scale (cnt ≫ S); at bench scale unit
  rounding truncates everything to 0, so the published unit is 1/1000 —
  same formula, scaled readout.  No float ever enters an aggregate, so
  Spark and DuckDB hash identically.

Spark shape at 100 TB: the tag relation is 3 rows/doc and every aggregate
over it is map-side combinable; the corpus prior (one row per distinct
tag) broadcasts.  The ``tag_content`` match join is keyed on the keyword
term — candidate volume is Σ_term topkw_df², the ``minhash_lsh_pairs``
collision shape, bounded because TF-IDF top-3 keywords are distinctive by
construction (the >80%-df gate plus top-3-per-doc cap); a deployment adds
a per-term candidate cap (salted top-K, as in the domain-caps operator) if
a pathological term survives.  N·1000 products stay < 2^63 up to ~10^8
docs per tenant; beyond that the readout scales down or the gate runs on
the cross-multiplied comparison first, as in ``operators/graphrag.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import memo, read_documents

S = 1000           # smoothing — search.py:446,458 default
TOPN_TAGS = 3      # search.py:458 topn_tags
SCALE = 10         # the 0.1 factor, folded into the integer denominator
UNIT = 1000        # per-mille readout (see module docstring)


def _tags(spark, sf_dir) -> DataFrame:
    """(doc_id, tag): the tag_kwd stand-in, 3 rows/doc (memoized — every
    query in this module reads it at least twice)."""

    def build():
        d = read_documents(spark, sf_dir)
        kw = (relation(spark, "tfidf_keywords", sf_dir)
              .filter(F.col("rank") == 1)
              .select("doc_id", F.concat(F.lit("kw:"), "term").alias("tag")))
        return (d.select("doc_id",
                         F.concat(F.lit("src:"), "source").alias("tag"))
                .unionByName(d.select(
                    "doc_id", F.concat(F.lit("lang:"), "lang").alias("tag")))
                .unionByName(kw))
    return memo("tagging_tags", spark, sf_dir, build)


def _kw_subquery() -> str:
    from .textstats import TFIDF_KEYWORDS_SQL
    body = TFIDF_KEYWORDS_SQL.strip()
    assert body.startswith("WITH ")
    return body


def _tags_cte() -> str:
    return f"""
kwq AS MATERIALIZED (SELECT doc_id, term, rank FROM ({_kw_subquery()})),
tags AS MATERIALIZED (
  SELECT doc_id, 'src:' || source AS tag FROM documents
  UNION ALL
  SELECT doc_id, 'lang:' || lang AS tag FROM documents
  UNION ALL
  SELECT doc_id, 'kw:' || term AS tag FROM kwq WHERE rank = 1),
prior AS MATERIALIZED (
  SELECT tag, CAST(count(*) AS BIGINT) AS c FROM tags GROUP BY tag),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tags)"""


def _prior(spark, sf_dir) -> DataFrame:
    """(tag, c, t) corpus counts + grand total — the ``all_tags``
    aggregation (one tiny relation, broadcast below)."""
    tags = _tags(spark, sf_dir)
    prior = tags.groupBy("tag").agg(F.count(F.lit(1)).alias("c"))
    total = tags.count()
    return prior.withColumn("t", F.lit(total).cast("bigint"))


def all_tags_portion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tag prior — ``all_tags_in_portion`` (search.py:452-456):
    portion = (c + 1) / (total + S), published in exact parts-per-billion
    (floor division of exact integers)."""
    p = _prior(spark, sf_dir)
    out = p.select(
        "tag", "c",
        F.expr(f"(c + 1) * 1000000000L div (t + {S})").alias("portion_ppb"))
    from ..session import ordered_once
    return ordered_once(out, "tag")


def _all_tags_portion_sql() -> str:
    return f"""
WITH {_tags_cte().lstrip()}
SELECT tag, c,
       CAST((c + 1) * 1000000000 // (t + {S}) AS BIGINT) AS portion_ppb
FROM prior, tot
ORDER BY tag
"""


def _score_expr(c: str, cnt: str, cc: str, t: str, div: str) -> str:
    """round(UNIT · 0.1·(c+1)/(cnt+S) / ((C+1)/(T+S))) as pure bigint
    math: (2·UNIT·N + D) div (2D) with N=(c+1)(T+S), D=10(cnt+S)(C+1).
    ``div`` is Spark's ``div`` or DuckDB's ``//`` (identical on positive
    bigints)."""
    n = f"(({c} + 1) * ({t} + {S}))"
    d = f"({SCALE} * ({cnt} + {S}) * ({cc} + 1))"
    return f"(2 * {UNIT} * {n} + {d}) {div} (2 * {d})"


def _tag_content_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted tag_content relation (production shape; the sort in
    ``tag_content`` is driver-compare presentation only).

    c(doc, tag) = |{m : m shares ≥1 top-3 keyword with doc AND m has
    tag}| is computed by INCLUSION-EXCLUSION over the doc's ≤3 terms —
    Σ n1(tᵢ, tag) − Σ n2(tᵢ<tⱼ, tag) + n3(t₁<t₂<t₃, tag) — instead of
    materializing the distinct (doc, match) pair relation.  The pair
    relation is Σ_term topkw_df² rows (7.4M at sf0.1 because the
    synthetic vocabulary is small; arbitrarily large under hot keywords
    at corpus scale); the n1/n2/n3 relations are ≤ 3·|tags-per-doc|·|kw|
    aggregates that broadcast, so the whole operator is map-side-
    combinable groupBys plus broadcast joins — no wide distinct, no
    pair shuffle.  The DuckDB oracle keeps the naive pair formulation;
    both are exact, so the hashes agree."""
    kw = (relation(spark, "tfidf_keywords", sf_dir).select("doc_id", "term")
          .localCheckpoint())  # tiny (3 rows/doc); reused by 4 joins
    tags = _tags(spark, sf_dir)
    # n1: per (term, tag), docs having the term in top-3 and the tag
    n1 = (kw.join(tags, "doc_id")
          .groupBy("term", "tag").agg(F.count(F.lit(1)).alias("n")))
    # per-doc ordered term pairs / triple (<= 3 and <= 1 per doc)
    kwb = kw.select("doc_id", F.col("term").alias("tb"))
    pairs = (kw.join(kwb, "doc_id")
             .filter(F.col("term") < F.col("tb")))
    n2 = (pairs.join(tags, "doc_id")
          .groupBy("term", "tb", "tag").agg(F.count(F.lit(1)).alias("n")))
    kwc = kw.select("doc_id", F.col("term").alias("tc"))
    triples = (pairs.join(kwc, "doc_id")
               .filter(F.col("tb") < F.col("tc")))
    n3 = (triples.join(tags, "doc_id")
          .groupBy("term", "tb", "tc", "tag")
          .agg(F.count(F.lit(1)).alias("n")))
    contrib = (
        kw.join(F.broadcast(n1), "term")
        .select("doc_id", "tag", F.col("n").alias("v"))
        .unionByName(
            pairs.join(F.broadcast(n2), ["term", "tb"])
            .select("doc_id", "tag", (-F.col("n")).alias("v")))
        .unionByName(
            triples.join(F.broadcast(n3), ["term", "tb", "tc"])
            .select("doc_id", "tag", F.col("n").alias("v"))))
    # aggs feeds BOTH the per-doc cnt aggregate and the scored join; a lazy
    # localCheckpoint materializes the contrib union + groupBy once instead
    # of twice (8.0 → 5.9 s cold at sf0.1) and truncates the 6-join lineage
    # the window would otherwise re-plan
    aggs = (contrib.groupBy("doc_id", "tag")
            .agg(F.sum("v").alias("c"))
            .filter(F.col("c") > 0)
            .localCheckpoint(eager=False))
    cnt = aggs.groupBy("doc_id").agg(F.sum("c").alias("cnt"))
    prior = _prior(spark, sf_dir).select("tag", F.col("c").alias("cc"), "t")
    scored = (aggs.join(cnt, "doc_id")
              .join(F.broadcast(prior), "tag")
              .withColumn("score_pm",
                          F.expr(_score_expr("c", "cnt", "cc", "t", "div"))))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_pm"),
                                             F.asc("tag"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") <= TOPN_TAGS) & (F.col("score_pm") > 0))
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    "tag", "score_pm"))


def tag_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document tag_feas — ``tag_content`` (search.py:458-469): match
    the corpus with the doc's own top keywords, aggregate the matched
    docs' tags, score vs the corpus prior, keep the top-3 with
    score > 0.  Scans the ingest-time snapshot table when it exists
    (``tag_features``)."""
    from ..session import ordered_once
    return ordered_once(relation(spark, "tag_features", sf_dir),
                        "doc_id", "rank")


def _tag_content_sql() -> str:
    return f"""
WITH {_tags_cte().lstrip()},
kw AS (SELECT doc_id, term FROM kwq),
matches AS MATERIALIZED (
  SELECT DISTINCT a.doc_id, b.doc_id AS match_id
  FROM kw a JOIN kw b USING (term)),
aggs AS MATERIALIZED (
  SELECT m.doc_id, tg.tag, CAST(count(*) AS BIGINT) AS c
  FROM matches m JOIN tags tg ON tg.doc_id = m.match_id
  GROUP BY m.doc_id, tg.tag),
cnts AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS cnt FROM aggs GROUP BY doc_id),
scored AS (
  SELECT a.doc_id, a.tag,
         CAST({_score_expr('a.c', 'n.cnt', 'p.c', 'tot.t', '//')}
              AS BIGINT) AS score_pm
  FROM aggs a JOIN cnts n USING (doc_id)
       JOIN prior p USING (tag) CROSS JOIN tot),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score_pm DESC, tag ASC) AS INTEGER) AS rank
  FROM scored)
SELECT doc_id, rank, tag, score_pm
FROM ranked WHERE rank <= {TOPN_TAGS} AND score_pm > 0
ORDER BY doc_id, rank
"""


def tag_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-side tag features — ``tag_query`` (search.py:471-484): match
    the corpus with the compiled question terms (min_match 0.0), aggregate
    matched docs' tags, same scoring, ``max(1, score)`` on the kept
    top-3."""
    from .retrieval import _question_terms
    terms = [t for t, _w in _question_terms()]
    d = read_documents(spark, sf_dir)
    toks = (d.filter(F.length(F.trim("text")) > 0)
            .select("doc_id",
                    F.explode(F.split(F.regexp_replace(
                        F.lower(F.trim("text")), r"\s+", " "), " "))
                    .alias("tok")))
    tdf = spark.createDataFrame([(t,) for t in terms], ["tok"])
    matched = toks.join(F.broadcast(tdf), "tok").select("doc_id").distinct()
    tags = _tags(spark, sf_dir)
    aggs = (matched.join(tags, "doc_id")
            .groupBy("tag").agg(F.count(F.lit(1)).alias("c")))
    cnt = aggs.agg(F.sum("c").alias("cnt"))
    prior = _prior(spark, sf_dir).select("tag", F.col("c").alias("cc"), "t")
    scored = (aggs.crossJoin(F.broadcast(cnt))
              .join(F.broadcast(prior), "tag")
              .withColumn("score_pm",
                          F.expr(_score_expr("c", "cnt", "cc", "t", "div"))))
    w = Window.orderBy(F.desc("score_pm"), F.asc("tag"))
    out = (scored.withColumn("rank", F.row_number().over(w))
           .filter((F.col("rank") <= TOPN_TAGS) & (F.col("score_pm") > 0))
           .select(F.col("rank").cast("int").alias("rank"), "tag",
                   F.greatest(F.lit(1).cast("bigint"), F.col("score_pm"))
                   .alias("score_pm")))
    from ..session import ordered_once
    return ordered_once(out, "rank")


def _tag_query_sql() -> str:
    from .retrieval import _question_terms
    values = ", ".join(f"('{t}')" for t, _w in _question_terms())
    return f"""
WITH {_tags_cte().lstrip()},
qterms(tok) AS (VALUES {values}),
toks AS (
  SELECT DISTINCT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)),
                                            '\\s+', ' ', 'g'), ' ')) AS tok
  FROM documents WHERE length(trim(text)) > 0),
matched AS (SELECT DISTINCT doc_id FROM toks JOIN qterms USING (tok)),
aggs AS MATERIALIZED (
  SELECT tg.tag, CAST(count(*) AS BIGINT) AS c
  FROM matched m JOIN tags tg USING (doc_id) GROUP BY tg.tag),
cnts AS (SELECT CAST(sum(c) AS BIGINT) AS cnt FROM aggs),
scored AS (
  SELECT a.tag,
         CAST({_score_expr('a.c', 'n.cnt', 'p.c', 'tot.t', '//')}
              AS BIGINT) AS score_pm
  FROM aggs a CROSS JOIN cnts n JOIN prior p USING (tag) CROSS JOIN tot),
ranked AS (
  SELECT *, CAST(row_number() OVER (
             ORDER BY score_pm DESC, tag ASC) AS INTEGER) AS rank
  FROM scored)
SELECT rank, tag, greatest(1, score_pm) AS score_pm
FROM ranked WHERE rank <= {TOPN_TAGS} AND score_pm > 0
ORDER BY rank
"""


QUERIES = {
    "all_tags_portion": (all_tags_portion, _all_tags_portion_sql()),
    "tag_content": (tag_content, _tag_content_sql()),
    "tag_query": (tag_query, _tag_query_sql()),
}
