"""Text-analysis operators over the ``documents`` table — all pure column
expressions (JVM-side, whole-stage-codegen; no Python in the hot path).

Each operator ships as a (spark_builder, oracle_sql) pair: the builder takes
(spark, sf_dir) and returns a DataFrame; the SQL string is the DuckDB
equivalent the driver runs side-by-side (CORRECTNESS gate).  Float outputs
are rounded to 4 decimals on BOTH sides so the value-hash compare is stable.

Reference analogues: ``is_english``/``is_chinese`` char-class ratios
(rag/nlp/__init__.py:227-248), token counting (rag/utils/__init__.py:77-90),
content quality gates implicit in the chunkers; plus the training-data-
pipeline additions (language-ID, quality scoring, fingerprinting) that a
100 TB corpus pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import read_documents


# ---------------------------------------------------------------- doc_stats
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rollup (metrics analogue, task_executor.py:556)."""
    return (read_documents(spark, sf_dir)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.max("n_chars").alias("max_chars"))
            .orderBy("lang"))


DOC_STATS_SQL = """
SELECT lang,
       count(*)                 AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 4)   AS avg_chars,
       max(n_chars)             AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------------- token_count
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count per document (JVM split, no UDF)."""
    return (read_documents(spark, sf_dir)
            .select("doc_id",
                    F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
                    F.length("text").alias("n_chars_actual"))
            .orderBy("doc_id"))


TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       length(text)                               AS n_chars_actual
FROM documents ORDER BY doc_id
"""


# ------------------------------------------------------------- doc_quality
# Quality scoring: punctuation density, digit ratio, mean word length,
# stopword ratio — the standard web-corpus quality gates (C4/Gopher rules).
_STOPWORDS = "the a an and or of to in is are was for on with as by at"


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_documents(spark, sf_dir)
    n_tok = F.size(F.split(F.trim("text"), r"\s+"))
    n_punct = F.regexp_count("text", F.lit(r"[\.,;:!\?]"))
    n_digit = F.regexp_count("text", F.lit(r"[0-9]"))
    stop_pat = r"\b(" + "|".join(_STOPWORDS.split()) + r")\b"
    n_stop = F.regexp_count(F.lower("text"), F.lit(stop_pat))
    return (d.select(
        "doc_id", "lang",
        n_tok.alias("n_tokens"),
        F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 4).alias("punct_ratio"),
        F.round(n_digit / F.greatest(F.length("text"), F.lit(1)), 4).alias("digit_ratio"),
        F.round(F.length(F.regexp_replace("text", r"\s+", "")) /
                F.greatest(n_tok, F.lit(1)), 4).alias("avg_word_len"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"))
        .orderBy("doc_id"))


DOC_QUALITY_SQL = r"""
SELECT doc_id, lang,
  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
  round(len(regexp_extract_all(text, '[\.,;:!\?]')) * 1.0
        / greatest(length(text), 1), 4)      AS punct_ratio,
  round(len(regexp_extract_all(text, '[0-9]')) * 1.0
        / greatest(length(text), 1), 4)      AS digit_ratio,
  round(length(regexp_replace(text, '\s+', '', 'g')) * 1.0
        / greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS avg_word_len,
  round(len(regexp_extract_all(lower(text), '\b(STOPPAT)\b')) * 1.0
        / greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS stopword_ratio
FROM documents ORDER BY doc_id
""".replace("STOPPAT", "|".join(_STOPWORDS.split()))


# ----------------------------------------------------------------- lang_id
# Heuristic language ID: CJK char ratio → zh; else distinctive-stopword hit
# counts per candidate language (n-gram-class heuristic, SQL-expressible).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "with", "for"],
    "de": ["der", "und", "die", "nicht", "das"],
    "es": ["el", "los", "las", "para", "pero"],
    "fr": ["le", "les", "des", "avec", "pour"],
}


def lang_pred_expr(text_col) -> "F.Column":
    """Detected-language column expression (pure JVM) — shared by the
    ``lang_id`` query and the extract job's ``--wet-lang`` per-language
    WET export (a raw crawl carries no lang column, so detection runs on
    the EXTRACTED text downstream)."""
    low = F.lower(text_col)
    hits = {lg: F.regexp_count(low, F.lit(r"\b(" + "|".join(ws) + r")\b"))
            for lg, ws in _LANG_MARKERS.items()}
    cjk = F.regexp_count(text_col, F.lit(r"[一-鿿]"))
    best = F.greatest(*hits.values())
    pred = (F.when(cjk > F.length(text_col) * 0.2, "zh")
            .when(best == F.lit(0), "unknown"))
    for lg in _LANG_MARKERS:  # ties break in insertion order — same in SQL
        pred = pred.when(hits[lg] == best, lg)
    return pred.otherwise("unknown")


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_documents(spark, sf_dir)
    return (d.select("doc_id", F.col("lang").alias("lang_declared"),
                     lang_pred_expr(F.col("text")).alias("lang_pred"))
            .orderBy("doc_id"))


def _lang_id_sql() -> str:
    hit = {lg: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(ws)})\\b'))"
           for lg, ws in _LANG_MARKERS.items()}
    best = f"greatest({', '.join(hit.values())})"
    whens = "\n    ".join(
        f"WHEN {hit[lg]} = {best} THEN '{lg}'" for lg in _LANG_MARKERS)
    return f"""
SELECT doc_id, lang AS lang_declared,
  CASE
    WHEN len(regexp_extract_all(text, '[一-鿿]')) > length(text) * 0.2 THEN 'zh'
    WHEN {best} = 0 THEN 'unknown'
    {whens}
    ELSE 'unknown'
  END AS lang_pred
FROM documents ORDER BY doc_id
"""


LANG_ID_SQL = _lang_id_sql()


# ------------------------------------------------------------- fingerprint
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 64-bit-class content fingerprint: md5-prefix bigint of
    the whitespace-normalized text (rolling-hash analogue, portable to the
    DuckDB oracle — Spark's xxhash64 seed/serialization is Spark-private)."""
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    return (read_documents(spark, sf_dir)
            .select("doc_id",
                    F.md5(norm).alias("content_md5"),
                    F.conv(F.substring(F.md5(norm), 1, 15), 16, 10)
                     .cast("bigint").alias("fingerprint"))
            .orderBy("doc_id"))


DOC_FINGERPRINT_SQL = r"""
SELECT doc_id,
  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))  AS content_md5,
  ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15))::BIGINT
                                                           AS fingerprint
FROM documents ORDER BY doc_id
"""



# ----------------------------------------------------------- url_canonical
def url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup — the normalization a CC-scale
    pipeline applies before grouping by url: lowercase scheme+host, strip
    default ports, drop tracking params (utm_*/fbclid/gclid) while keeping
    the rest in order, drop fragments, trim trailing slashes.  All pure
    column expressions (regexp chain, no UDF).  Input: deterministic messy
    URLs derived from doc_id (odd docs carry tracking params + fragment +
    explicit :443, even docs are plain http with a trailing slash)."""
    d = read_documents(spark, sf_dir).select("doc_id")
    url = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(F.lit("HTTPS://Host"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".Example.COM:443/Path/"), F.col("doc_id").cast("string"),
                 F.lit("?utm_source=x&id="), F.col("doc_id").cast("string"),
                 F.lit("&utm_campaign=y&ref=keep#frag"))
    ).otherwise(
        F.concat(F.lit("http://host"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".example.com:80/path/"), F.col("doc_id").cast("string"),
                 F.lit("/")))
    c = url
    c = F.regexp_replace(c, r"#.*$", "")                 # fragment
    # lowercase scheme://host[:port] (up to the first path slash)
    c = F.concat(F.lower(F.regexp_extract(c, r"^([^/]*//[^/]*)", 1)),
                 F.regexp_extract(c, r"^[^/]*//[^/]*(.*)$", 1))
    c = F.regexp_replace(c, r"^(https)://([^/:]+):443(/|$)", r"$1://$2$3")
    c = F.regexp_replace(c, r"^(http)://([^/:]+):80(/|$)", r"$1://$2$3")
    c = F.regexp_replace(c, r"(\?|&)(utm_[^=&]*|fbclid|gclid)=[^&]*", r"$1")
    c = F.regexp_replace(c, r"\?&+", "?")               # ?& → ?
    c = F.regexp_replace(c, r"&&+", "&")
    c = F.regexp_replace(c, r"[?&]$", "")                # dangling ? or &
    c = F.regexp_replace(c, r"(.)/$", r"$1")             # trailing slash
    return (d.select("doc_id", url.alias("url"), c.alias("canonical_url"))
            .orderBy("doc_id"))


URL_CANONICAL_SQL = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 1 THEN
           'HTTPS://Host' || (doc_id % 50) || '.Example.COM:443/Path/' ||
           doc_id || '?utm_source=x&id=' || doc_id ||
           '&utm_campaign=y&ref=keep#frag'
         ELSE
           'http://host' || (doc_id % 50) || '.example.com:80/path/' ||
           doc_id || '/'
         END AS url
  FROM documents),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS c FROM d),
s2 AS (SELECT doc_id, url,
              lower(regexp_extract(c, '^([^/]*//[^/]*)', 1)) ||
              regexp_extract(c, '^[^/]*//[^/]*(.*)$', 1) AS c FROM s1),
s3 AS (SELECT doc_id, url,
              regexp_replace(regexp_replace(c,
                '^(https)://([^/:]+):443(/|$)', '\1://\2\3'),
                '^(http)://([^/:]+):80(/|$)', '\1://\2\3') AS c FROM s2),
s4 AS (SELECT doc_id, url,
              regexp_replace(c, '(\?|&)(utm_[^=&]*|fbclid|gclid)=[^&]*',
                             '\1', 'g') AS c FROM s3),
s5 AS (SELECT doc_id, url,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
                '\?&+', '?'), '&&+', '&', 'g'), '[?&]$', ''),
                '(.)/$', '\1') AS c FROM s4)
SELECT doc_id, url, c AS canonical_url FROM s5 ORDER BY doc_id
"""



# ---------------------------------------------------- unigram_logprob
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score — the kenlm-style filter a pretraining
    pipeline runs: mean per-token unigram log-probability under the
    corpus's own add-one-smoothed unigram model.  Two keyed aggs (term
    frequencies, then per-doc mean over a broadcast-joined frequency
    table); gibberish and boilerplate-heavy docs score low.  At 100 TB
    the frequency table is a first-pass job output (a few million rows)
    broadcast to the scoring pass — exactly this plan."""
    t = _tokens_df(spark, sf_dir)
    # a token's corpus count is the sum of its per-language counts, so
    # the materialized per-language LM serves this query too (the re-agg
    # runs over the vocab-sized table, not the token stream)
    freqs = (relation(spark, "lang_unigram_lm", sf_dir)
             .groupBy("tok").agg(F.sum("cnt").alias("cnt")))
    totals = freqs.agg(F.sum("cnt").alias("total"),
                       F.count(F.lit(1)).alias("vocab"))
    scored = (t.join(F.broadcast(freqs), "tok")
              .crossJoin(F.broadcast(totals))
              .select("doc_id",
                      F.log((F.col("cnt") + 1.0) /
                            (F.col("total") + F.col("vocab"))).alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.round(F.avg("lp"), 6).alias("mean_logprob"),
                 F.count(F.lit(1)).alias("n_tokens"))
            .orderBy("doc_id"))


def _tokens_df(spark, sf_dir):
    d = read_documents(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                   " ")
    return d.select("doc_id", F.explode(toks).alias("tok"))


UNIGRAM_LOGPROB_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
freqs AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
totals AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total,
                  CAST(count(*) AS DOUBLE) AS vocab FROM freqs)
SELECT t.doc_id,
       round(avg(ln((f.cnt + 1.0) / (tt.total + tt.vocab))), 6)
         AS mean_logprob,
       count(*) AS n_tokens
FROM toks t JOIN freqs f ON f.tok = t.tok, totals tt
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


def _lang_unigram_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, tok, cnt): the per-language unigram frequency table — the
    LM behind ``ccnet_bucket`` (and, lang-summed, ``unigram_logprob``).
    CCNet ships its per-language KenLM models as frozen files trained
    once (Wenzek et al. 2020): the ``lang_unigram_lm`` table."""
    d = read_documents(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                   " ")
    return (d.select("lang", F.explode(toks).alias("tok"))
            .groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt")))


# ---------------------------------------------------- ccnet_bucket
def ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020): score every doc
    under a per-language LM and split each language into head / middle /
    tail terciles — the pass that decides which third of Common Crawl a
    pretraining mix keeps.  The LM here is the corpus's own add-one
    unigram model per language (the kenlm slot); score = negative mean
    token log-prob, so lower = more fluent = head.

    Determinism: each token's log-prob is rounded to an INTEGER micro-nat
    (ppm) before any summation, so the per-doc score is an integer sum —
    associative, partition-order-independent, and bit-identical between
    Spark's partial aggregation and DuckDB's single-threaded sum.  Ranking
    happens on the integer (nano-nat mean, doc_id) key; the float in the
    output is derived from that integer by one division.  (Ranking on
    round(avg(double),6) was flagged in round-2 ADVICE: summation order
    near a tercile boundary could flip a bucket between engines.)

    Scale: the per-language frequency table is a first-pass job output
    (a few million rows across languages) BROADCAST to the scoring pass;
    scoring is one per-doc agg.  The tercile cut here is exact rank
    arithmetic (row_number over the per-language score order) so the
    DuckDB oracle can replay it bit-for-bit; at 100 TB the cutoffs come
    from a mergeable quantile sketch (see ``quantile_sketch``) computed
    on the score relation, and bucket assignment stays in-row."""
    from pyspark.sql import Window
    d = read_documents(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                   " ")
    t = d.select("doc_id", "lang", F.explode(toks).alias("tok"))
    freqs = relation(spark, "lang_unigram_lm", sf_dir)
    totals = freqs.groupBy("lang").agg(F.sum("cnt").alias("total"),
                                       F.count(F.lit(1)).alias("vocab"))
    lp = F.log((F.col("cnt") + 1.0) / (F.col("total") + F.col("vocab")))
    scored = (t.join(F.broadcast(freqs), ["lang", "tok"])
              .join(F.broadcast(totals), "lang")
              .select("doc_id", "lang",
                      F.round(lp * 1e6, 0).cast("long").alias("lp_ppm")))
    per_doc = (scored.groupBy("doc_id", "lang")
               .agg(F.sum("lp_ppm").alias("sum_ppm"),
                    F.count(F.lit(1)).alias("n_toks"))
               .select("doc_id", "lang",
                       F.expr("((-sum_ppm) * 1000) DIV n_toks")
                        .alias("score_nano"))
               .withColumn("ppl_score",
                           F.col("score_nano").cast("double") / F.lit(1e9)))
    w = Window.partitionBy("lang").orderBy("score_nano", "doc_id")
    n = F.count(F.lit(1)).over(Window.partitionBy("lang"))
    r = F.row_number().over(w)
    return (per_doc
            .select("doc_id", "lang", "ppl_score",
                    F.when(r * 3 <= n, F.lit("head"))
                     .when(r * 3 <= 2 * n, F.lit("middle"))
                     .otherwise(F.lit("tail")).alias("bucket"))
            .orderBy("doc_id"))


CCNET_BUCKET_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
freqs AS (SELECT lang, tok, count(*) AS cnt FROM toks GROUP BY lang, tok),
totals AS (SELECT lang, CAST(sum(cnt) AS DOUBLE) AS total,
                  CAST(count(*) AS DOUBLE) AS vocab
           FROM freqs GROUP BY lang),
per_doc AS (
  SELECT t.doc_id, t.lang,
         ((-sum(CAST(round(ln((f.cnt + 1.0) / (tt.total + tt.vocab)) * 1e6)
                     AS BIGINT))) * 1000) // count(*) AS score_nano
  FROM toks t
  JOIN freqs f ON f.lang = t.lang AND f.tok = t.tok
  JOIN totals tt ON tt.lang = t.lang
  GROUP BY t.doc_id, t.lang),
ranked AS (
  SELECT doc_id, lang,
         CAST(score_nano AS DOUBLE) / 1e9 AS ppl_score,
         row_number() OVER (PARTITION BY lang
                            ORDER BY score_nano, doc_id) AS r,
         count(*) OVER (PARTITION BY lang) AS n
  FROM per_doc)
SELECT doc_id, lang, ppl_score,
       CASE WHEN r * 3 <= n THEN 'head'
            WHEN r * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked ORDER BY doc_id
"""


# ---------------------------------------------------- zipf_histogram
def zipf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency-spectrum profile — the Zipf/Heaps diagnostic run
    before and after every cleaning pass (a healthy web corpus shows a
    long power-law tail; dedup failures and boilerplate floods show up as
    mass piling into high-frequency buckets).  One row per power-of-two
    frequency bucket: vocabulary size, total occurrences, hapax share of
    the bucket's vocab.

    The bucket index is INTEGER-exact (bit-length of the count via base-2
    string conversion, never floor(log2(x)) on a double — exact powers of
    two must not straddle buckets between engines).  Two keyed aggs, both
    map-side combinable; the second input is |vocab| rows."""
    t = _tokens_df(spark, sf_dir)
    freqs = t.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    bucket = (F.length(F.conv(F.col("cnt").cast("string"), 10, 2)) - 1)
    return (freqs.select(bucket.cast("int").alias("log2_bucket"), "cnt")
            .groupBy("log2_bucket")
            .agg(F.count(F.lit(1)).alias("vocab_size"),
                 F.sum("cnt").alias("occurrences"),
                 F.min("cnt").alias("min_count"),
                 F.max("cnt").alias("max_count"))
            .orderBy("log2_bucket"))


ZIPF_HISTOGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
freqs AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
SELECT CAST(length(bin(cnt)) - 1 AS INTEGER) AS log2_bucket,
       count(*) AS vocab_size,
       CAST(sum(cnt) AS BIGINT) AS occurrences,
       min(cnt) AS min_count,
       max(cnt) AS max_count
FROM freqs GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------- readability_scores
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade — the classic readability
    taggers a pretraining mix tags documents with (Dolma ships them as
    quality attributes).  Syllables are the standard vowel-group heuristic:
    one syllable per ``[aeiouy]+`` run, minimum one per word (the
    correction term counts vowel-less words — numerals, initialisms).
    Entirely scan-side column expressions: zero shuffles beyond the
    presentation sort, a free rider on any corpus pass."""
    d = read_documents(spark, sf_dir)
    lowered = F.lower(F.trim("text"))
    words_arr = F.split(lowered, r"\s+")
    n_words = F.greatest(F.size(words_arr), F.lit(1))
    n_sents = F.greatest(F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1))
    vowel_groups = F.regexp_count(lowered, F.lit(r"[aeiouy]+"))
    no_vowel = F.size(F.filter(words_arr,
                               lambda w: ~w.rlike("[aeiouy]")))
    syl = vowel_groups + no_vowel
    wps = n_words.cast("double") / n_sents
    spw = syl.cast("double") / n_words
    return (d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sentences"),
        syl.alias("n_syllables"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4)
         .alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"))
        .orderBy("doc_id"))


READABILITY_SQL = r"""
WITH w AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\s+') AS words,
         greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
           AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
         len(regexp_extract_all(lower(trim(text)), '[aeiouy]+'))
           + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> NOT regexp_matches(x, '[aeiouy]')))
           AS syl
  FROM documents)
SELECT doc_id,
       n_words, n_sents AS n_sentences, syl AS n_syllables,
       round(206.835 - 1.015 * (n_words * 1.0 / n_sents)
                     - 84.6 * (syl * 1.0 / n_words), 4) AS flesch_ease,
       round(0.39 * (n_words * 1.0 / n_sents)
             + 11.8 * (syl * 1.0 / n_words) - 15.59, 4) AS fk_grade
FROM w ORDER BY doc_id
"""


# ----------------------------------------------------------- tfidf_keywords
# Per-document keyword extraction by tf·idf — the deterministic stand-in
# for the reference's LLM auto-keyword enrichment (task_executor.py keyword
# stage; the LLM call is out of scope by contract, the column contract and
# ranking plumbing are real).  Scoring is INTEGER-exact so both engines
# hash identically: score_ppm = tf · 10^6 div df uses reciprocal document
# frequency as the idf term (strictly monotone in tf for fixed df and in
# 1/df for fixed tf; it weighs rarity more steeply than textbook
# tf·ln(N/df), a documented divergence chosen to keep float logs out of
# the cross-engine hash).  Terms on > 80% of docs are dropped (max_df stopword gate —
# the corpus vocabulary is narrow, so the gate sits at the true
# stopword line rather than sklearn's 20-50% conventions).
#
# Scale: one (doc, term) tf agg (map-side combinable), one term-keyed df
# agg over the tf relation (bounded by vocabulary), the df relation joins
# back on the SAME term key (co-partitioned; AQE broadcasts when the
# vocab is small), and the per-doc top-k is a row_number window whose
# partitions are single documents — thousands of rows at worst, no skew.
_KW_TOP_K = 3
_KW_MAX_DF_NUM, _KW_MAX_DF_DEN = 4, 5    # drop terms on > 80% of docs


def _tfidf_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted keyword relation (production shape; the sort in
    ``tfidf_keywords`` is driver-compare presentation only).  Memoized
    (temp-table semantics): the tagging operators read it both as the
    match-keyword relation and as the kw: tag family.  The reference
    computes per-doc keywords at indexing (`rag/svr/task_executor.py`
    keyword step): the ``tfidf_keywords`` table."""
    from .dedup import _memo
    return _memo("tfidf_ranked", spark, sf_dir,
                 lambda: _tfidf_ranked_build(spark, sf_dir))


def _tfidf_ranked_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    d = (read_documents(spark, sf_dir)
         .filter(F.length(F.trim("text")) > 0)
         .select("doc_id",
                 F.explode(F.split(F.regexp_replace(
                     F.lower(F.trim("text")), r"\s+", " "), " "))
                 .alias("term")))
    tf = d.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = tf.agg(F.count_distinct("doc_id").alias("n_docs"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    keep = (df.crossJoin(F.broadcast(n))
            .filter(F.col("df") * _KW_MAX_DF_DEN
                    <= F.col("n_docs") * _KW_MAX_DF_NUM)
            .select("term", "df"))
    scored = (tf.join(keep, "term")
              .withColumn("score_ppm",
                          F.expr("tf * 1000000L div df")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("term").asc())
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _KW_TOP_K)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    "term", "tf", "df", "score_ppm"))


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    return (relation(spark, "tfidf_keywords", sf_dir)
            .transform(_ordered("doc_id", "rank")))


TFIDF_KEYWORDS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)),
                                            '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents WHERE length(trim(text)) > 0),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term),
df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id, t.term, t.tf, f.df,
         CAST(t.tf * 1000000 // f.df AS BIGINT) AS score_ppm
  FROM tf t JOIN df f USING (term) CROSS JOIN n
  WHERE f.df * {_KW_MAX_DF_DEN} <= n.n_docs * {_KW_MAX_DF_NUM}),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY score_ppm DESC, term ASC) AS INTEGER) AS rank
  FROM scored)
SELECT doc_id, rank, term, tf, df, score_ppm
FROM ranked WHERE rank <= {_KW_TOP_K}
ORDER BY doc_id, rank
"""


def auto_questions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stand-in for the reference's auto-question LLM slot
    (`/root/reference/rag/svr/task_executor.py:295-374`: per-chunk
    ``question_proposal`` call → ``question_kwd`` strings →
    ``question_tks`` via rag_tokenizer, indexed at boost 6,
    `rag/nlp/search.py:294-301`).  The slot gets an extractive template
    over the doc's top-2 TF-IDF keywords — same move as
    ``tfidf_keywords`` for the keyword slot; the surrounding dataflow
    (per-doc enrich relation, tokenized twin column) is the real
    deliverable.  ``question_tks`` is the rag_tokenizer output
    transcribed relationally: for pure-ASCII template text the tokenizer
    is whitespace splitting (pinned by the tokenizer test suite), so
    both engines compute it as a column expression."""
    q = F.concat(F.lit("what is "), F.col("term"), F.lit("?"))
    qtks = F.concat(F.lit("what is "), F.col("term"))
    out = (relation(spark, "tfidf_keywords", sf_dir)
           .filter(F.col("rank") <= 2)
           .select("doc_id", F.col("rank").cast("int").alias("rank"),
                   q.alias("question"), qtks.alias("question_tks")))
    from ..session import ordered as _ordered
    return out.transform(_ordered("doc_id", "rank"))


AUTO_QUESTIONS_SQL = f"""
WITH ranked AS ({TFIDF_KEYWORDS_SQL.strip()})
SELECT doc_id, rank,
       'what is ' || term || '?' AS question,
       'what is ' || term AS question_tks
FROM ranked WHERE rank <= 2
ORDER BY doc_id, rank
"""


# ---------------------------------------------------- kn_bigram_logprob
def kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring — one fidelity step up
    from ``unigram_logprob`` toward CCNet's real filter (Wenzek et al.
    2020 score with a 5-gram Kneser-Ney KenLM; ``ccnet_bucket`` holds the
    bucketing logic, this holds the smoothing math at bigram order):

        P(w2|w1) = max(c(w1,w2) − D, 0) / c(w1)
                 + (D · N1+(w1,·) / c(w1)) · N1+(·,w2) / N1+(·,·)

    with absolute discount D = 0.75 and the standard continuation
    probability (distinct left contexts over total bigram types).  The
    model is trained on the corpus itself, so every scored bigram exists
    in the count table — no unseen-context backoff branch is reachable.

    Plan shape (and the 100 TB story):
      * bigram construction is IN-ROW — the token array is zipped with
        its own tail JVM-side before the explode, so pairing costs zero
        shuffles (a window/lag formulation would shuffle the full token
        stream);
      * one groupBy(w1,w2) builds the count table (map-side combinable);
        the context and continuation relations derive from THAT table
        (|bigram types| rows, not |tokens|), as does the scalar type
        count;
      * scoring is a key join of doc-bigrams against the per-bigram-type
        logprob relation — broadcast at bench scale; at 10^12 docs this
        is the standard first-pass-counts → co-keyed scoring join with
        AQE handling skewed function words.

    Determinism: each bigram's logprob is rounded to an INTEGER micro-nat
    before any summation (the ADVICE.md fixed-point rule); per-doc mean
    is integer DIV, so cross-engine aggregation order cannot flip a
    digit."""
    big = _doc_bigrams(spark, sf_dir)
    scored = relation(spark, "kn_bigram_lm", sf_dir)
    return (big.join(F.broadcast(scored), ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.sum("lp_ppm").alias("sum_ppm"),
                 F.count(F.lit(1)).alias("n_bigrams"))
            .select("doc_id",
                    # negate-first (ccnet_bucket pattern): lp_ppm ≤ 0 so
                    # the integer division runs on a NON-NEGATIVE
                    # numerator, where Spark's DIV (truncate) and
                    # DuckDB's // (floor) agree
                    (F.expr("-((-sum_ppm) DIV n_bigrams)").cast("double")
                     / 1e6).alias("mean_logprob"),
                    "n_bigrams")
            .orderBy("doc_id"))


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2): in-row bigram construction — the token array is
    zipped with its own tail JVM-side before the explode, so pairing
    costs zero shuffles."""
    d = read_documents(spark, sf_dir)
    toks = F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                   " ")
    pairs = F.expr(
        "transform(slice(toks, 1, size(toks) - 1),"
        " (x, i) -> struct(x AS w1, toks[i + 1] AS w2))")
    return (d.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= 2)
            .select("doc_id", F.explode(pairs).alias("p"))
            .select("doc_id", F.col("p.w1").alias("w1"),
                    F.col("p.w2").alias("w2")))


def _kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, lp_ppm): the trained Kneser-Ney bigram model — the LM
    analogue of CCNet's shipped KenLM binary, which is trained once and
    distributed as a model FILE, never re-estimated per scoring run:
    the ``kn_bigram_lm`` table.  This estimates the counts from the
    corpus."""
    bg = (_doc_bigrams(spark, sf_dir)
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt")))
    ctx = bg.groupBy("w1").agg(F.sum("cnt").alias("ctx_cnt"),
                               F.count(F.lit(1)).alias("n1_fwd"))
    cont = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_back"))
    types = bg.agg(F.count(F.lit(1)).alias("n_types"))
    # the expression is written with IDENTICAL parenthesization in the
    # DuckDB oracle: same integer inputs + same IEEE op order = same bits
    p = ((F.greatest(F.col("cnt") - 0.75, F.lit(0.0)) / F.col("ctx_cnt"))
         + (0.75 * F.col("n1_fwd") / F.col("ctx_cnt"))
         * (F.col("n1_back") / F.col("n_types")))
    return (bg.join(F.broadcast(ctx), "w1")
            .join(F.broadcast(cont), "w2")
            .crossJoin(F.broadcast(types))
            .select("w1", "w2",
                    F.round(F.log(p) * 1e6, 0).cast("long")
                    .alias("lp_ppm")))


KN_BIGRAM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok,
         generate_subscripts(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), 1) AS ord
  FROM documents),
big AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, tok AS w1,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
    FROM toks)
  WHERE w2 IS NOT NULL),
bg AS (SELECT w1, w2, count(*) AS cnt FROM big GROUP BY w1, w2),
ctx AS (SELECT w1, sum(cnt) AS ctx_cnt, count(*) AS n1_fwd
        FROM bg GROUP BY w1),
cont AS (SELECT w2, count(*) AS n1_back FROM bg GROUP BY w2),
types AS (SELECT count(*) AS n_types FROM bg),
scored AS (
  SELECT b.w1, b.w2,
         CAST(round(ln((greatest(b.cnt - 0.75, 0.0) / c.ctx_cnt)
                       + (0.75 * c.n1_fwd / c.ctx_cnt)
                       * (k.n1_back / t.n_types)) * 1e6)
              AS BIGINT) AS lp_ppm
  FROM bg b
  JOIN ctx c ON c.w1 = b.w1
  JOIN cont k ON k.w2 = b.w2, types t)
SELECT g.doc_id,
       CAST(-((-sum(s.lp_ppm)) // count(*)) AS DOUBLE) / 1e6
         AS mean_logprob,
       count(*) AS n_bigrams
FROM big g JOIN scored s ON s.w1 = g.w1 AND s.w2 = g.w2
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


# ----------------------------------------------------------- corpus_drift
# Cross-snapshot distribution drift — the monitoring statistic a
# continuously-recrawled corpus tracks: smoothed KL divergence between
# the unigram distributions of two crawl snapshots, both directions.
# Snapshot key here is the derivable doc_id parity (at deployment it is
# the crawl-label column riding the scan).  Per-token contributions are
# rounded to INTEGER micro-nats BEFORE summation so the cross-engine sum
# is order-independent (the ccnet_bucket/unigram_logprob determinism
# recipe); smoothing is add-one over the JOINT vocabulary, so every
# token has mass on both sides and no term is infinite.
#
# Scale: one explode → one (tok, snapshot) map-side-combinable agg
# (vocab-bounded), scalar totals broadcast back, one final integer sum.
# No windows, no per-doc state — the whole statistic is two keyed aggs
# at any corpus size.


def corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tokens_df(spark, sf_dir)
    per = (t.withColumn("snap", (F.col("doc_id") % 2).cast("int"))
           .groupBy("tok")
           .agg(F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
                .alias("cnt_a"),
                F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
                .alias("cnt_b")))
    totals = per.agg(F.sum("cnt_a").alias("n_a"),
                     F.sum("cnt_b").alias("n_b"),
                     F.count(F.lit(1)).alias("vocab"))
    j = per.crossJoin(F.broadcast(totals))
    p = (F.col("cnt_a") + 1.0) / (F.col("n_a") + F.col("vocab"))
    q = (F.col("cnt_b") + 1.0) / (F.col("n_b") + F.col("vocab"))
    term_ab = F.round(F.lit(1e6) * p * F.log(p / q), 0).cast("long")
    term_ba = F.round(F.lit(1e6) * q * F.log(q / p), 0).cast("long")
    agg = j.agg(F.sum(term_ab).alias("kl_ab_micronat"),
                F.sum(term_ba).alias("kl_ba_micronat"),
                F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"),
                F.first("vocab").alias("vocab"))
    a_row = agg.select(F.lit("a_to_b").alias("direction"), "n_a", "n_b",
                       "vocab", F.col("kl_ab_micronat").alias("kl_micronat"))
    b_row = agg.select(F.lit("b_to_a").alias("direction"), "n_a", "n_b",
                       "vocab", F.col("kl_ba_micronat").alias("kl_micronat"))
    return a_row.unionByName(b_row).orderBy("direction")


CORPUS_DRIFT_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
  FROM documents),
per AS (
  SELECT tok,
         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
  FROM toks GROUP BY tok),
totals AS (
  SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
         CAST(sum(cnt_b) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS vocab
  FROM per),
terms AS (
  SELECT CAST(round(1e6 * ((cnt_a + 1.0) / (n_a + vocab))
              * ln(((cnt_a + 1.0) / (n_a + vocab))
                   / ((cnt_b + 1.0) / (n_b + vocab))), 0) AS BIGINT) AS t_ab,
         CAST(round(1e6 * ((cnt_b + 1.0) / (n_b + vocab))
              * ln(((cnt_b + 1.0) / (n_b + vocab))
                   / ((cnt_a + 1.0) / (n_a + vocab))), 0) AS BIGINT) AS t_ba,
         n_a, n_b, vocab
  FROM per, totals),
agg AS (
  SELECT CAST(sum(t_ab) AS BIGINT) AS kl_ab,
         CAST(sum(t_ba) AS BIGINT) AS kl_ba,
         any_value(n_a) AS n_a, any_value(n_b) AS n_b,
         any_value(vocab) AS vocab
  FROM terms GROUP BY n_a, n_b, vocab)
SELECT 'a_to_b' AS direction, n_a, n_b, vocab, kl_ab AS kl_micronat FROM agg
UNION ALL
SELECT 'b_to_a' AS direction, n_a, n_b, vocab, kl_ba AS kl_micronat FROM agg
ORDER BY direction
"""


QUERIES = {
    "tfidf_keywords": (tfidf_keywords, TFIDF_KEYWORDS_SQL),
    "corpus_drift": (corpus_drift, CORPUS_DRIFT_SQL),
    "auto_questions": (auto_questions, AUTO_QUESTIONS_SQL),
    "unigram_logprob": (unigram_logprob, UNIGRAM_LOGPROB_SQL),
    "kn_bigram_logprob": (kn_bigram_logprob, KN_BIGRAM_SQL),
    "ccnet_bucket": (ccnet_bucket, CCNET_BUCKET_SQL),
    "zipf_histogram": (zipf_histogram, ZIPF_HISTOGRAM_SQL),
    "readability_scores": (readability_scores, READABILITY_SQL),
    "url_canonical": (url_canonical, URL_CANONICAL_SQL),
    "doc_stats": (doc_stats, DOC_STATS_SQL),
    "token_count": (token_count, TOKEN_COUNT_SQL),
    "doc_quality": (doc_quality, DOC_QUALITY_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
}
