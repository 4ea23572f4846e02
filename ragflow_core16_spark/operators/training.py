"""Training-data assembly operators (beyond the reference's own surface —
the ops a 100 TB pretraining pipeline runs after extraction/dedup).

``sequence_pack``: GPT-style sequence packing — concatenate the corpus in a
deterministic order and cut every SEQ_LEN tokens, documents spanning cut
points.  Fully relational: per-document token counts are a JVM columnar
``aggregate`` over the split-word array (the same piece arithmetic as
``textnorm/tokens.py`` on this corpus), the running offset is one window
cumsum per language stream, and the (document × covered-sequence) fan-out
is an ``explode(sequence(...))`` — no Python, no driver loop, one shuffle
for the window sort.  At 100 TB the language stream would be bucketed by
(lang, doc_id range) so the window never sees a single giant partition;
the cut arithmetic is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import read_documents

SEQ_LEN = 512


# per-document token count as a pure column expression: first word costs
# cost(len), subsequent words cost(len+1) — cost(p) = 1 if p<=5 else
# ceil(p/4.4), a chars/token estimate (~4.4 chars per cl100k token)
_TOK_EXPR = """
aggregate(
  transform(split(text, ' '),
            (w, i) -> CASE WHEN (CASE WHEN i = 0 THEN length(w)
                                      ELSE length(w) + 1 END) <= 5 THEN 1L
                           ELSE CAST(ceil((CASE WHEN i = 0 THEN length(w)
                                                ELSE length(w) + 1 END)
                                          / 4.4D) AS LONG) END),
  0L, (a, x) -> a + x)
"""


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """→ (lang, seq_id, doc_id, tok_in_seq): which training sequences each
    document contributes to, and how many of its tokens land in each."""
    d = (read_documents(spark, sf_dir)
         .select("doc_id", "lang", F.expr(_TOK_EXPR).alias("tok")))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    d = d.withColumn("cum", F.sum("tok").over(w))
    first_seq = F.floor((F.col("cum") - F.col("tok")) / SEQ_LEN)
    last_seq = F.floor((F.col("cum") - 1) / SEQ_LEN)
    d = (d.withColumn("seq_id", F.explode(F.sequence(first_seq, last_seq))))
    contrib = (F.least(F.col("cum"), (F.col("seq_id") + 1) * SEQ_LEN)
               - F.greatest(F.col("cum") - F.col("tok"),
                            F.col("seq_id") * SEQ_LEN))
    return (d.select("lang", F.col("seq_id").cast("long").alias("seq_id"),
                     "doc_id", contrib.cast("long").alias("tok_in_seq"))
            .orderBy("lang", "seq_id", "doc_id"))


SEQUENCE_PACK_SQL = rf"""
WITH toklists AS (
  SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
costs AS (
  SELECT doc_id, lang,
         (SELECT sum(CASE WHEN (CASE WHEN i = 1 THEN length(l[i])
                                     ELSE length(l[i]) + 1 END) <= 5 THEN 1
                          ELSE CAST(ceil((CASE WHEN i = 1 THEN length(l[i])
                                               ELSE length(l[i]) + 1 END)
                                         / 4.4) AS BIGINT) END)
          FROM unnest(generate_series(1, len(l))) AS t(i)) AS tok
  FROM toklists),
cums AS (
  SELECT doc_id, lang, tok,
         sum(tok) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM costs),
spans AS (
  SELECT lang, s AS seq_id, doc_id,
         least(cum, (s + 1) * {SEQ_LEN})
           - greatest(cum - tok, s * {SEQ_LEN}) AS tok_in_seq
  FROM cums,
       LATERAL (SELECT unnest(generate_series(
                  CAST((cum - tok) // {SEQ_LEN} AS BIGINT),
                  CAST((cum - 1) // {SEQ_LEN} AS BIGINT))) AS s) u)
SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(tok_in_seq AS BIGINT) AS tok_in_seq
FROM spans
ORDER BY lang, seq_id, doc_id
"""


# ------------------------------------------------------- repetition_quality
# Gopher-style repetition filters (Rae et al. 2021 §A1.1, public paper):
# fraction of unique words, most-common-word fraction, and the character
# fraction covered by the most common 2-gram.  All JVM columnar: one explode
# + groupBy per n-gram order (map-side partial agg), a row_number window for
# the deterministic arg-max, no Python.  At 100 TB each aggregation is a
# single hash shuffle keyed (doc_id, gram) — bounded by corpus token count,
# and the per-doc cardinality is tiny so AQE coalesces the reduce side.


def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_quality_decisions(spark, sf_dir).orderBy("doc_id")


def repetition_quality_decisions(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """``repetition_quality`` before presentation ordering (composition
    inputs join this — see ``webclean.corpus_keep``)."""
    d = (read_documents(spark, sf_dir)
         .filter(F.length(F.trim("text")) > 0)
         .select("doc_id", F.split("text", " ").alias("w"),
                 F.length("text").alias("nchars")))
    uni = (d.select("doc_id", "nchars", F.size("w").alias("n_words"),
                    F.explode("w").alias("word"))
           .groupBy("doc_id", "nchars", "n_words", "word")
           .agg(F.count(F.lit(1)).alias("cnt")))
    w_top = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.desc("word"))
    per_doc = (uni.groupBy("doc_id", "nchars", "n_words")
               .agg(F.count(F.lit(1)).alias("n_uniq")))
    topw = (uni.withColumn("rn", F.row_number().over(w_top))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("cnt").alias("top_cnt")))
    bi = (d.filter(F.size("w") >= 2)
          .select("doc_id", "nchars", F.explode(F.expr(
              "transform(sequence(1, size(w) - 1),"
              " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
          )).alias("gram"))
          .groupBy("doc_id", "nchars", "gram")
          .agg(F.count(F.lit(1)).alias("cnt")))
    w_big = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.desc("gram"))
    topb = (bi.withColumn("rn", F.row_number().over(w_big))
            .filter(F.col("rn") == 1)
            .select("doc_id",
                    F.round(F.col("cnt") * F.length("gram") /
                            F.col("nchars"), 4).alias("top_bigram_char_frac")))
    uniq_ratio = F.round(F.col("n_uniq") / F.col("n_words"), 4)
    top_word_frac = F.round(F.col("top_cnt") / F.col("n_words"), 4)
    big = F.coalesce(F.col("top_bigram_char_frac"), F.lit(0.0))
    return (per_doc.join(topw, "doc_id").join(topb, "doc_id", "left")
            .select("doc_id", "n_words",
                    uniq_ratio.alias("uniq_word_ratio"),
                    top_word_frac.alias("top_word_frac"),
                    big.alias("top_bigram_char_frac"),
                    ((uniq_ratio >= 0.2) & (top_word_frac <= 0.2) &
                     (big <= 0.2)).alias("gopher_pass")))


REPETITION_QUALITY_SQL = r"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w, length(text) AS nchars
  FROM documents WHERE length(trim(text)) > 0),
uni AS (
  SELECT doc_id, any_value(nchars) AS nchars, any_value(len(w)) AS n_words,
         word, count(*) AS cnt
  FROM (SELECT doc_id, nchars, w, unnest(w) AS word FROM d)
  GROUP BY doc_id, word),
per_doc AS (
  SELECT doc_id, any_value(n_words) AS n_words, count(*) AS n_uniq
  FROM uni GROUP BY doc_id),
topw AS (
  SELECT doc_id, cnt AS top_cnt FROM (
    SELECT doc_id, cnt, row_number() OVER (
      PARTITION BY doc_id ORDER BY cnt DESC, word DESC) AS rn FROM uni)
  WHERE rn = 1),
bi AS (
  SELECT doc_id, any_value(nchars) AS nchars, gram, count(*) AS cnt
  FROM (SELECT doc_id, nchars,
               unnest(list_transform(generate_series(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i + 1])) AS gram
        FROM d WHERE len(w) >= 2)
  GROUP BY doc_id, gram),
topb AS (
  SELECT doc_id, round(cnt * length(gram) * 1.0 / nchars, 4)
           AS top_bigram_char_frac
  FROM (SELECT doc_id, nchars, gram, cnt, row_number() OVER (
          PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn FROM bi)
  WHERE rn = 1)
SELECT p.doc_id, CAST(p.n_words AS INTEGER) AS n_words,
       round(p.n_uniq * 1.0 / p.n_words, 4) AS uniq_word_ratio,
       round(t.top_cnt * 1.0 / p.n_words, 4) AS top_word_frac,
       coalesce(b.top_bigram_char_frac, 0.0) AS top_bigram_char_frac,
       (round(p.n_uniq * 1.0 / p.n_words, 4) >= 0.2
        AND round(t.top_cnt * 1.0 / p.n_words, 4) <= 0.2
        AND coalesce(b.top_bigram_char_frac, 0.0) <= 0.2) AS gopher_pass
FROM per_doc p
JOIN topw t USING (doc_id)
LEFT JOIN topb b USING (doc_id)
ORDER BY p.doc_id
"""


# ------------------------------------------------------------ decontaminate
# Benchmark n-gram decontamination (the published GPT-3 appendix-C / Llama
# recipe: drop or flag training documents sharing long n-grams with an
# evaluation set).  The "benchmark" split here is doc_id % 97 == 0; n = 3 on
# this synthetic corpus (real pipelines use 8-13 — the random-word corpus
# has no 8-gram collisions, and the plumbing is n-independent).
# Scale design: both sides explode to (gram) keys and join on gram — the
# shuffle is bounded by corpus gram count, never |docs|²; at 100 TB the
# benchmark side is tiny and AQE turns the join into a broadcast, making
# the whole operator one map-side pass over the training grams.
_DECON_N = 3
_BENCH_MOD = 97


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontaminate_decisions(spark, sf_dir).orderBy("doc_id")


def decon_gram_rel(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) — every document's decontamination n-grams, over an
    arbitrary (doc_id, text, …) relation (the delta path grams the daily
    batch directly)."""
    n = _DECON_N
    d = (docs.filter(F.length(F.trim("text")) > 0)
         .select("doc_id", F.split("text", " ").alias("w")))
    return (d.filter(F.size("w") >= n)
            .select("doc_id", F.explode(F.expr(
                f"transform(sequence(1, size(w) - {n - 1}),"
                f" i -> array_join(slice(w, i, {n}), ' '))")).alias("gram")))


def decontaminate_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``decontaminate`` before presentation ordering (composition inputs
    join this — see ``webclean.corpus_keep``)."""
    grams = decon_gram_rel(read_documents(spark, sf_dir))
    bench = (grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
             .select("gram").distinct())
    train = (grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
             .select("doc_id", "gram").distinct())
    return (train.join(bench, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_grams")))


def decon_postings(spark: SparkSession,
                   sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The decontamination index of a corpus: (bench, train) postings of
    (doc_id, gram) — the eval split's grams, WITH the owning doc_id so a
    re-crawled eval doc's stale grams can be retired, and every other
    document's.  This is what makes decontamination incrementally
    maintainable (pipeline/incremental.py): the ``clean`` verdict for
    every document is derivable as one gram-key join of the two
    postings — no document text is ever re-grammed at maintenance time.
    Both postings are the same scale class as ``term_postings`` (∝
    corpus tokens); a 100 TB deployment stores xxhash64(gram) on both
    sides instead of the string — the string here keeps the DuckDB
    oracle byte-comparable."""
    grams = decon_gram_rel(read_documents(spark, sf_dir))
    return tuple(grams.filter(split).select("doc_id", "gram").distinct()
                 for split in (F.col("doc_id") % _BENCH_MOD == 0,
                               F.col("doc_id") % _BENCH_MOD != 0))


def _decon_bench_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decon_postings(spark, sf_dir)[0]


def _decon_train_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decon_postings(spark, sf_dir)[1]


def materialize_decon_index(spark: SparkSession, sf_dir: str) -> list[str]:
    """Write the decontamination index tables (idempotent)."""
    from ..pipeline.snapshot_cache import BY_NAME
    return BY_NAME["decon_index"].build(spark, sf_dir)


DECONTAMINATE_SQL = rf"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE length(trim(text)) > 0),
g AS (
  SELECT doc_id, array_to_string(list_slice(l, i, i + {_DECON_N - 1}), ' ')
           AS gram
  FROM w,
       LATERAL (SELECT unnest(generate_series(1, len(l) - {_DECON_N - 1}))
                AS i) u
  WHERE len(l) >= {_DECON_N}),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
train AS (SELECT DISTINCT doc_id, gram FROM g
          WHERE doc_id % {_BENCH_MOD} != 0)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM train t JOIN bench b USING (gram)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


# --------------------------------------------------------------- bpe train
# Distributed BPE vocabulary training (Sennrich's algorithm, the one
# behind GPT-2/tiktoken vocabularies).  The corpus-scale work is exactly
# ONE shuffle: the word histogram (explode → groupBy(word), map-side
# combinable, bounded by |distinct words| ≪ corpus at any scale).  Every
# merge round then runs over that distinct-word table only: adjacent-pair
# counts weighted by word frequency (small shuffle, partial-agg), a
# single-row argmax collect (the same driver-scalar shape as a KMeans
# round), and a JVM ``aggregate`` fold that rewrites the symbol arrays —
# lineage is truncated per round with an eager localCheckpoint so R
# rounds never stack R nested folds into one plan.
#
# The data-dependent per-round argmax cannot ride a recursive CTE (it
# would aggregate over its own recursive term), but the round count is a
# fixed constant, so the oracle UNROLLS: ``_bpe_oracle_sql`` chains one
# (pair-count → one-row argmax → list_reduce merge fold) CTE stage per
# round.  The fold keeps each word's symbol sequence as a
# chr(31)-delimited string whose leading empty split element doubles as
# the reduce accumulator seed; a merge is then literally ``acc || x``
# (the accumulator already ends with sep||left, appending right rewrites
# the last symbol to the merged token in place).
# tests/test_bpe_train.py additionally pins the full merge list against
# an independent pure-Python reference trainer at sf0.001.
BPE_MERGES = 16


def _bpe_oracle_sql(rounds: int = BPE_MERGES) -> str:
    """Unrolled DuckDB equivalent of ``bpe_train`` — one
    (pair-count → argmax → list_reduce fold) CTE stage per merge round.

    Words ride as chr(31)-delimited symbol strings; every multi-referenced
    CTE is MATERIALIZED so the 16-stage chain evaluates linearly instead
    of re-inlining the whole prefix at each reference.  If pairs ever dry
    up mid-chain the argmax CTE goes empty and the CROSS JOIN empties all
    later stages — exactly the Spark loop's ``break``.

    Precondition (oracle only): the U+001F delimiter must not occur in
    document text — true of every fixture corpus (printable text, the
    same convention the mojibake fixtures document).  The Spark side
    needs no such precondition (its fold is over a real array<string>),
    so a corpus with control chars would fail parity loudly, not
    silently."""
    sep = "chr(31)"
    parts = [
        "WITH words AS MATERIALIZED (\n"
        "  SELECT word, CAST(count(*) AS BIGINT) AS freq\n"
        "  FROM (SELECT unnest(string_split(text, ' ')) AS word\n"
        "        FROM documents WHERE length(trim(text)) > 0)\n"
        "  WHERE length(word) > 0 GROUP BY word)",
        "w0 AS MATERIALIZED (\n"
        f"  SELECT freq, {sep} || array_to_string(string_split(word, ''),"
        f" {sep}) AS s\n"
        "  FROM words)",
    ]
    for k in range(rounds):
        parts.append(
            f"p{k} AS (\n"
            "  SELECT lst[i] AS l, lst[i+1] AS r,"
            " CAST(sum(freq) AS BIGINT) AS cnt\n"
            f"  FROM (SELECT freq, string_split(s, {sep}) AS lst"
            f" FROM w{k}) t,\n"
            "       LATERAL (SELECT unnest(generate_series(2, len(lst)"
            " - 1)) AS i) u\n"
            "  GROUP BY 1, 2)")
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT l, r, cnt FROM p{k}"
            " ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)")
        if k + 1 < rounds:
            parts.append(
                f"w{k + 1} AS MATERIALIZED (\n"
                f"  SELECT freq, list_reduce(string_split(s, {sep}),"
                " (acc, x) ->\n"
                f"    CASE WHEN ends_with(acc, {sep} || m.l) AND x = m.r"
                " THEN acc || x\n"
                f"         ELSE acc || {sep} || x END) AS s\n"
                f"  FROM w{k} CROSS JOIN m{k} m)")
    selects = "\n  UNION ALL\n".join(
        f"  SELECT CAST({k} AS INTEGER) AS rank, l AS \"left\","
        f" r AS \"right\", l || r AS merged, cnt AS pair_freq FROM m{k}"
        for k in range(rounds))
    return (",\n".join(parts)
            + "\nSELECT * FROM (\n" + selects + "\n) ORDER BY rank")


def _bpe_merge_expr(left: str, right: str) -> str:
    """Fold that rewrites every left-to-right non-overlapping (left,
    right) adjacency into the merged symbol.  No just-merged flag is
    needed: the merged token equals left||right which can never compare
    equal to ``left`` (right is non-empty)."""
    def q(s: str) -> str:
        # symbols come from corpus text — escape for the SQL literal
        return s.replace("\\", "\\\\").replace("'", "\\'")

    merged = left + right
    return ("aggregate(syms, cast(array() as array<string>), (acc, x) -> "
            f"if(size(acc) > 0 and element_at(acc, -1) = '{q(left)}' "
            f"and x = '{q(right)}', "
            f"concat(slice(acc, 1, size(acc) - 1), array('{q(merged)}')), "
            "concat(acc, array(x))))")


def bpe_train(spark: SparkSession, sf_dir: str,
              rounds: int = BPE_MERGES) -> DataFrame:
    words = (read_documents(spark, sf_dir)
             .filter(F.length(F.trim("text")) > 0)
             .select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.length("word") > 0)
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    w = words.withColumn("syms", F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )).select("freq", "syms").localCheckpoint()
    merges = []
    for rank in range(rounds):
        top = (w.filter(F.size("syms") >= 2)
               .select("freq", F.explode(F.expr(
                   "transform(sequence(1, size(syms) - 1),"
                   " i -> struct(element_at(syms, i) AS l,"
                   "             element_at(syms, i + 1) AS r))"))
                   .alias("p"))
               .groupBy("p.l", "p.r")
               .agg(F.sum("freq").alias("cnt"))
               .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
               .limit(1).collect())
        if not top:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        merges.append((rank, left, right, left + right, cnt))
        w = (w.withColumn("syms", F.expr(_bpe_merge_expr(left, right)))
             .localCheckpoint())
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string,"
                " pair_freq bigint").orderBy("rank")


def bpe_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query wrapper.  With a written merge table
    (``bpe_merges``) this is a scan + rank sort — a tokenizer
    is trained ONCE per corpus snapshot and shipped as a ranks file (the
    repo's own ``textnorm/assets/webspark_bpe.tiktoken`` is exactly such
    an artifact); nobody re-runs the merge loop per query."""
    return relation(spark, "bpe_merges", sf_dir).orderBy("rank")


# ------------------------------------------------------------- dsir
# DSIR-style data selection (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document
# by the affinity of its hashed n-gram feature distribution to a TARGET
# domain (here the doc_id % 97 == 0 split, as in ``decontaminate``).
# Features are unigrams + bigrams hashed into B=1024 buckets via the
# repo's md5→bigint bridge, so the whole statistic is reproducible in
# DuckDB.  The published score is the mean log-ratio
# Σ log(p_target(f)/p_raw(f)); here the ratio Σcnt_t·(N_raw+B) /
# Σcnt_r·(N_t+B) is emitted as an exact integer ppm (staged truncating
# BIGINT divisions — identical in both engines, overflow-safe at 1000×)
# keeping the oracle float-free; ``dsir_keep`` thresholds it at parity.
# On this statistically uniform synthetic corpus every doc scores below
# parity (there IS no distinct target domain) — the score spread, not
# the boolean, is the discriminative output here.
#
# Scale design: the bucket histogram is ONE map-side-combinable shuffle
# collapsing the corpus to 1024 rows; it joins back as a BROADCAST dim,
# so scoring is a single per-doc aggregation riding the scan
# partitioning.  No |docs|-sized shuffle beyond the per-doc groupBy.
_DSIR_B = 1024


def _dsir_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (read_documents(spark, sf_dir)
         .filter(F.length(F.trim("text")) > 0)
         .select("doc_id", F.split("text", " ").alias("w")))
    from .dedup import _md5_bigint
    # single-token docs contribute their unigram only — sequence(1, 0)
    # counts DOWN in Spark, so the bigram arm must be explicitly empty
    return (d.select("doc_id", F.explode(F.expr(
                "concat(w, if(size(w) < 2, array(),"
                " transform(sequence(1, size(w) - 1),"
                " i -> concat(element_at(w, i), ' ',"
                "             element_at(w, i + 1)))))")).alias("gram"))
            .select("doc_id",
                    (_md5_bigint(F.col("gram")) % _DSIR_B).alias("b"),
                    (F.col("doc_id") % _BENCH_MOD == 0).alias("is_t")))


def _dsir_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The B-bucket target/raw histogram — DSIR's trained importance
    model (B rows).  The paper fits it once over the target + raw
    corpora and scores everything with the frozen table."""
    return (_dsir_feats(spark, sf_dir).groupBy("b")
            .agg(F.sum(F.col("is_t").cast("long")).alias("cnt_t"),
                 F.sum((~F.col("is_t")).cast("long")).alias("cnt_r")))


def dsir_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _dsir_feats(spark, sf_dir)
    hist = relation(spark, "dsir_hist", sf_dir)
    totals = hist.agg(F.sum("cnt_t").alias("n_t"),
                      F.sum("cnt_r").alias("n_r"))
    scored = (feats.filter(~F.col("is_t"))
              .join(F.broadcast(hist), "b")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_feats"),
                   F.sum("cnt_t").alias("sum_target_cnt"),
                   F.sum("cnt_r").alias("sum_raw_cnt")))
    # affinity ratio in ppm via two truncating BIGINT divisions — the
    # identical expression in DuckDB truncates identically, and the
    # staged division keeps every intermediate far from int64 overflow
    # even at 1000× corpus size (st·10^6 ≤ ~10^12, then × (n_r + B)
    # only after the first division collapses the magnitude)
    affinity = F.expr(
        f"(sum_target_cnt * 1000000L div sum_raw_cnt)"
        f" * (n_r + {_DSIR_B}) div (n_t + {_DSIR_B})")
    return (scored.crossJoin(F.broadcast(totals))
            .select("doc_id",
                    F.col("n_feats").cast("int").alias("n_feats"),
                    "sum_target_cnt", "sum_raw_cnt",
                    affinity.alias("affinity_ppm"),
                    (affinity >= 1000000).alias("dsir_keep"))
            .orderBy("doc_id"))


def _dsir_sql() -> str:
    from .extract_e2e import _md5i
    _dsir_md5i = _md5i("gram")
    return rf"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE length(trim(text)) > 0),
feats AS (
  SELECT doc_id,
         {_dsir_md5i} % {_DSIR_B} AS b,
         doc_id % {_BENCH_MOD} = 0 AS is_t
  FROM (SELECT doc_id, unnest(l ||
               list_transform(generate_series(1, len(l) - 1),
                              i -> l[i] || ' ' || l[i + 1])) AS gram
        FROM w)),
hist AS (
  SELECT b, CAST(coalesce(sum(CASE WHEN is_t THEN 1 END), 0) AS BIGINT)
              AS cnt_t,
         CAST(coalesce(sum(CASE WHEN NOT is_t THEN 1 END), 0) AS BIGINT)
              AS cnt_r
  FROM feats GROUP BY b),
totals AS (
  SELECT CAST(sum(cnt_t) AS BIGINT) AS n_t,
         CAST(sum(cnt_r) AS BIGINT) AS n_r FROM hist),
scored AS (
  SELECT f.doc_id,
         CAST(count(*) AS INTEGER) AS n_feats,
         CAST(sum(h.cnt_t) AS BIGINT) AS sum_target_cnt,
         CAST(sum(h.cnt_r) AS BIGINT) AS sum_raw_cnt,
         any_value(t.n_t) AS n_t, any_value(t.n_r) AS n_r
  FROM feats f JOIN hist h USING (b) CROSS JOIN totals t
  WHERE NOT f.is_t
  GROUP BY f.doc_id)
SELECT doc_id, n_feats, sum_target_cnt, sum_raw_cnt,
       CAST((sum_target_cnt * 1000000 // sum_raw_cnt)
            * (n_r + {_DSIR_B}) // (n_t + {_DSIR_B}) AS BIGINT)
         AS affinity_ppm,
       (sum_target_cnt * 1000000 // sum_raw_cnt)
         * (n_r + {_DSIR_B}) // (n_t + {_DSIR_B}) >= 1000000 AS dsir_keep
FROM scored ORDER BY doc_id
"""


DSIR_AFFINITY_SQL = _dsir_sql()


# ------------------------------------------------------- capture_drift
# Re-crawl drift analysis — the web-change signal a crawl scheduler feeds
# on (how much did this url change since the last visit decides its
# re-crawl cadence).  Enrichment is closed-form: urls with
# md5i("42:dr:"+doc) % 2 == 0 carry a previous capture whose text is the
# current text minus its first k words (k = 1 + md5i("42:dk:"+doc) % 20);
# drift = word-set Jaccard(latest, previous).  Everything is in-row
# higher-order array arithmetic — zero shuffles beyond the presentation
# sort, so at 10^12 captures this rides the scan for free.
def _drift_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted drift relation — shared by ``capture_drift`` and the
    ``recrawl_schedule`` consumer."""
    md5i = _md5i_col
    d = read_documents(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    words = F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                    " ")
    has_prev = md5i(F.concat(F.lit("42:dr:"), did)) % 2 == 0
    k = (md5i(F.concat(F.lit("42:dk:"), did)) % 20 + 1).cast("int")
    w = d.select("doc_id", words.alias("w"), has_prev.alias("has_prev"),
                 k.alias("k"))
    prev = F.slice("w", F.col("k") + 1,
                   F.greatest(F.size("w") - F.col("k"), F.lit(0)))
    inter = F.size(F.array_intersect("w", prev))
    union = F.size(F.array_union("w", prev))
    jac = F.round(inter / F.greatest(union, F.lit(1)), 4)
    return (w.select(
        "doc_id",
        F.when(F.col("has_prev"), F.lit(2)).otherwise(F.lit(1))
         .alias("n_captures"),
        F.when(F.col("has_prev"), jac).alias("jaccard"),
        F.when(~F.col("has_prev"), F.lit("single"))
         .when(F.col("has_prev") & (jac >= 0.9), F.lit("stable"))
         .when(F.col("has_prev") & (jac >= 0.5), F.lit("minor"))
         .otherwise(F.lit("rewritten")).alias("drift_class")))


def capture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    return _drift_classes(spark, sf_dir).transform(_ordered("doc_id"))


# ------------------------------------------------------ recrawl_schedule
# Crawl-frontier scheduling from the drift signal (Cho & Garcia-Molina
# freshness scheduling + the politeness-queue discipline of
# Heritrix/Nutch): each url's re-crawl interval follows its drift class
# (rewritten 1 d, single 3 d, minor 7 d, stable 30 d), its concrete next
# crawl day gets md5-jitter inside one interval window so a site's urls
# of one class spread instead of thundering in together, and hosts are
# grouped into 16 politeness QUEUES whose per-day load is counted and
# flagged against a daily budget.
#
# Scale: class + interval + day are in-row on top of the drift relation
# (itself in-row); the load report is one (queue, day) map-side-
# combinable count joined back on the SAME (queue, day) key — bounded by
# |queues|·|days|, no skew (jitter flattens the hottest class window).
_RECRAWL_DAYS = {"rewritten": 1, "single": 3, "minor": 7, "stable": 30}
_RECRAWL_QUEUES = 16
_QUEUE_DAILY_BUDGET = 2   # urls a politeness queue may fetch per day


def recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    d = _drift_classes(spark, sf_dir).select("doc_id", "drift_class")
    did = F.col("doc_id").cast("string")
    interval = F.coalesce(
        *[F.when(F.col("drift_class") == c, F.lit(n))
          for c, n in _RECRAWL_DAYS.items()]).cast("int")
    queue = (_md5i_col(F.concat(F.lit("42:rcq:"), did))
             % _RECRAWL_QUEUES).cast("int")
    d = (d.withColumn("interval_days", interval)
         .withColumn("queue", queue)
         .withColumn("next_day",
                     (F.col("interval_days")
                      + _md5i_col(F.concat(F.lit("42:rcj:"), did))
                      % F.col("interval_days")).cast("int"))
         # the drift relation feeds BOTH the load count and the join
         # probe side — checkpoint lazily so the Jaccard work runs once
         .localCheckpoint(eager=False))
    load = (d.groupBy("queue", "next_day")
            .agg(F.count(F.lit(1)).alias("day_load")))
    return (d.join(load, ["queue", "next_day"])
            .select("doc_id", "queue", "drift_class", "interval_days",
                    "next_day", F.col("day_load").cast("int")
                    .alias("day_load"),
                    (F.col("day_load") > _QUEUE_DAILY_BUDGET)
                    .alias("over_budget"))
            .transform(_ordered("doc_id")))


def _recrawl_schedule_sql() -> str:
    from .extract_e2e import _md5i
    days = " ".join(f"WHEN '{c}' THEN {n}"
                    for c, n in _RECRAWL_DAYS.items())
    return f"""
WITH {_drift_cte()},
cls AS (
  SELECT doc_id,
         CASE WHEN NOT has_prev THEN 'single'
              WHEN jac >= 0.9 THEN 'stable'
              WHEN jac >= 0.5 THEN 'minor'
              ELSE 'rewritten' END AS drift_class
  FROM j),
sched AS (
  SELECT doc_id, drift_class,
         CAST(CASE drift_class {days} END AS INTEGER) AS interval_days,
         CAST({_md5i("'42:rcq:' || doc_id")} % {_RECRAWL_QUEUES}
              AS INTEGER) AS queue,
         CAST((CASE drift_class {days} END)
              + {_md5i("'42:rcj:' || doc_id")}
                % (CASE drift_class {days} END) AS INTEGER) AS next_day
  FROM cls),
load AS (
  SELECT queue, next_day, count(*) AS day_load
  FROM sched GROUP BY queue, next_day)
SELECT s.doc_id, s.queue, s.drift_class, s.interval_days, s.next_day,
       CAST(l.day_load AS INTEGER) AS day_load,
       l.day_load > {_QUEUE_DAILY_BUDGET} AS over_budget
FROM sched s JOIN load l USING (queue, next_day)
ORDER BY s.doc_id
"""


def _drift_cte() -> str:
    """Shared DuckDB drift derivation (w + Jaccard CTEs) — ONE definition
    for both ``_capture_drift_sql`` and ``_recrawl_schedule_sql`` so the
    tokenization / previous-capture law / thresholds cannot diverge (the
    Spark twins already share ``_drift_classes``)."""
    from .extract_e2e import _md5i
    return f"""w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
           AS w,
         {_md5i("'42:dr:' || doc_id")} % 2 = 0 AS has_prev,
         CAST({_md5i("'42:dk:' || doc_id")} % 20 + 1 AS INTEGER) AS k
  FROM documents),
j AS (
  SELECT doc_id, has_prev,
         round(len(list_distinct(list_intersect(w, w[k+1:]))) * 1.0 /
               greatest(len(list_distinct(w || w[k+1:])), 1), 4) AS jac
  FROM w)"""


def _capture_drift_sql() -> str:
    return f"""
WITH {_drift_cte()}
SELECT doc_id,
       CASE WHEN has_prev THEN 2 ELSE 1 END AS n_captures,
       CASE WHEN has_prev THEN jac END AS jaccard,
       CASE WHEN NOT has_prev THEN 'single'
            WHEN jac >= 0.9 THEN 'stable'
            WHEN jac >= 0.5 THEN 'minor'
            ELSE 'rewritten' END AS drift_class
FROM j ORDER BY doc_id
"""


# ------------------------------------------------------- mixture_sample
# Training-mix assembly (the Pile / Dolma step): given target mixture
# WEIGHTS per source and the measured token mass per source, find the
# largest corpus scale k at which every source can still supply its share
# (the binding source samples at rate 1.0), derive per-source sampling
# rates, and materialize the kept set by deterministic hash threshold.
# ALL arithmetic is integer ppm (floor division agrees between engines);
# the per-doc keep is md5-threshold so reruns and the oracle reproduce the
# exact same sample.  Shuffle profile: one map-side-combinable agg for the
# source masses (|sources| rows, broadcast back), keep decision in-row.
_MIX_WEIGHTS = {f"src{i}": (i % 5) + 1 for i in range(20)}
_MIX_PPM = 1_000_000


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_documents(spark, sf_dir)
    ntok = F.size(F.split(F.regexp_replace(F.lower(F.trim("text")),
                                           r"\s+", " "), " "))
    w = F.element_at(
        F.create_map(*[F.lit(x) for kv in _MIX_WEIGHTS.items()
                       for x in kv]), F.col("source"))
    docs = d.select("doc_id", "source", ntok.alias("ntok"),
                    w.alias("weight"))
    tot_w = sum(_MIX_WEIGHTS.values())
    src = (docs.groupBy("source", "weight")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("ntok").alias("tokens")))
    # k = max total mixture size every source can still supply its share
    # of: k ≤ T_s·W/w_s for all s.  All divisions are INTEGRAL (`div` /
    # DuckDB `//`) so both engines floor identically — no doubles anywhere.
    # rate_ppm = floor(take·10^6 / tokens) is computed by base-1000 long
    # division (two ×1000 steps) so the intermediate products stay within
    # int64 even at Pile scale: a naive take·10^6 overflows BIGINT past
    # ~9.2e12 tokens per source, where non-ANSI Spark would wrap silently
    # while the oracle errors.
    k = src.selectExpr(f"min(tokens * {tot_w} div weight) AS k")
    rates = (src.crossJoin(F.broadcast(k))
             .selectExpr("source", "weight", "n_docs", "tokens",
                         f"k * weight div {tot_w} AS take")
             .selectExpr("source", "weight", "n_docs", "tokens",
                         "(take * 1000 div tokens) * 1000"
                         " + (take * 1000 % tokens) * 1000 div tokens"
                         " AS rate_ppm"))
    keep = (docs.join(F.broadcast(rates.select("source", "rate_ppm")),
                      "source")
            .filter((_md5i_col(F.concat(F.lit("42:mix:"),
                                        F.col("doc_id").cast("string")))
                     % _MIX_PPM) < F.col("rate_ppm"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("ntok").alias("kept_tokens")))
    return (rates.join(keep, "source", "left")
            .select("source", "weight", "n_docs", "tokens", "rate_ppm",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("kept_tokens", F.lit(0))
                    .alias("kept_tokens"))
            .orderBy("source"))


def _md5i_col(key):
    from .dedup import _md5_bigint
    return _md5_bigint(key)


# ---------------------------------------------------- quality_classifier
# fastText-style linear quality classifier (Joulin et al. 2016) with the
# GPT-3 "Wikipedia-reference" admission lottery (Brown et al. 2020,
# appendix A): score every document with a bag-of-hashed-n-grams linear
# model, keep everything the model calls high-quality, and re-admit
# low-scoring documents stochastically so the kept set is not a hard
# cliff.  The LEARNED weight vector is the external asset (a real
# deployment broadcasts the trained fastText table, |V| ≈ 2^21 floats);
# the stand-in here derives each bucket's weight from the md5 bridge so
# the whole statistic replays in DuckDB — swap `w(b)` for a broadcast
# map lookup and nothing else changes.
#
# All arithmetic is integer "milli" units.  score_sum is the sum of
# per-gram weights in [-1000, 1000]; score_milli = score_sum / n_grams
# truncated TOWARD ZERO on an explicit sign split: Spark `div` truncates
# and the pinned DuckDB's integer `//` also truncates, but `//` is
# DOCUMENTED as flooring division and floors in other DuckDB versions —
# the sign split keeps the oracle law version-independent by never
# dividing a negative numerator.
# The lottery admits a below-parity doc when a deterministic md5 dice
# (‰) falls under 1000 + score_milli — the linear-decay analogue of
# GPT-3's `pareto(9) > 1 - score` draw, reproducible across reruns.
#
# Scale design: ZERO data shuffles — grams, weights, score, and the keep
# decision are one in-row higher-order `aggregate` over the split-word
# array, so the classifier rides the scan partitioning at 10^12 docs
# (the presentation sort is driver-compare-only).
_QC_B = 256  # weight-vector buckets (stand-in for the trained table)
_QC_MD5I = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def _quality_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted classifier relation (the production shape — the sort in
    ``quality_classifier`` is driver-compare presentation only).

    Reads the scan UNspread: the whole classifier is in-row JVM
    expression work riding whole-stage codegen, so its plan stays
    zero-Exchange (pinned by ``test_plan_is_in_row``); the spread
    repartition only pays off for the heavy Python/explode consumers."""
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .filter(F.length(F.trim("text")) > 0)
         .select("doc_id",
                 F.split(F.regexp_replace(F.lower(F.trim("text")),
                                          r"\s+", " "), " ").alias("w")))
    grams = ("concat(w, if(size(w) < 2, array(),"
             " transform(sequence(1, size(w) - 1),"
             " i -> concat(element_at(w, i), ' ',"
             "             element_at(w, i + 1)))))")
    bucket = _QC_MD5I.format(x="g") + f" % {_QC_B}"
    weight = (_QC_MD5I.format(
        x=f"concat('42:qw:', CAST({bucket} AS STRING))") + " % 2001 - 1000")
    scored = d.select(
        "doc_id",
        F.expr("CAST(size(w) * 2 - 1 AS INT)").alias("n_grams"),
        F.expr(f"aggregate({grams}, 0L, (a, g) -> a + ({weight}))")
         .alias("score_sum"))
    score_milli = F.expr(
        "CASE WHEN score_sum >= 0 THEN score_sum div n_grams"
        "     ELSE -((-score_sum) div n_grams) END")
    dice = _md5i_col(F.concat(F.lit("42:qd:"),
                              F.col("doc_id").cast("string"))) % 1000
    return scored.select(
        "doc_id", "n_grams", "score_sum",
        score_milli.alias("score_milli"),
        (F.col("score_sum") >= 0).alias("wiki_like"),
        ((F.col("score_sum") >= 0)
         | (dice < score_milli + 1000)).alias("keep"))


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    return _quality_scored(spark, sf_dir).transform(_ordered("doc_id"))


def _quality_classifier_sql() -> str:
    from .extract_e2e import _md5i
    bucket = _md5i("g") + f" % {_QC_B}"
    weight = _md5i(f"'42:qw:' || ({bucket})") + " % 2001 - 1000"
    dice = _md5i("'42:qd:' || doc_id") + " % 1000"
    return f"""
WITH w AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
           AS w
  FROM documents WHERE length(trim(text)) > 0),
scored AS (
  SELECT doc_id,
         CAST(len(w) * 2 - 1 AS INTEGER) AS n_grams,
         CAST(list_sum(list_transform(
             w || list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i + 1]),
             g -> {weight})) AS BIGINT) AS score_sum
  FROM w),
m AS (
  SELECT doc_id, n_grams, score_sum,
         CAST(CASE WHEN score_sum >= 0 THEN score_sum // n_grams
                   ELSE -((-score_sum) // n_grams) END AS BIGINT)
           AS score_milli
  FROM scored)
SELECT doc_id, n_grams, score_sum, score_milli,
       score_sum >= 0 AS wiki_like,
       score_sum >= 0 OR {dice} < score_milli + 1000 AS keep
FROM m ORDER BY doc_id
"""


def _mixture_sample_sql() -> str:
    from .extract_e2e import _md5i
    _mix_md5i = _md5i("'42:mix:' || d.doc_id")
    tot_w = sum(_MIX_WEIGHTS.values())
    wcase = " ".join(f"WHEN '{s}' THEN {w}"
                     for s, w in _MIX_WEIGHTS.items())
    return f"""
WITH docs AS (
  SELECT doc_id, source,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
           AS ntok,
         CASE source {wcase} END AS weight
  FROM documents),
src AS (
  SELECT source, weight, count(*) AS n_docs,
         CAST(sum(ntok) AS BIGINT) AS tokens
  FROM docs GROUP BY source, weight),
k AS (SELECT CAST(min(tokens * {tot_w} // weight) AS BIGINT) AS k
      FROM src),
takes AS (
  SELECT source, weight, n_docs, tokens,
         CAST(k.k * weight // {tot_w} AS BIGINT) AS take
  FROM src, k),
rates AS (
  SELECT source, weight, n_docs, tokens,
         CAST((take * 1000 // tokens) * 1000
              + (take * 1000 % tokens) * 1000 // tokens
              AS BIGINT) AS rate_ppm
  FROM takes),
keep AS (
  SELECT d.source, count(*) AS n_kept,
         CAST(sum(d.ntok) AS BIGINT) AS kept_tokens
  FROM docs d JOIN rates r ON d.source = r.source
  WHERE {_mix_md5i} % {_MIX_PPM} < r.rate_ppm
  GROUP BY d.source)
SELECT r.source, r.weight, r.n_docs, r.tokens, r.rate_ppm,
       coalesce(k2.n_kept, 0) AS n_kept,
       coalesce(k2.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN keep k2 USING (source)
ORDER BY r.source
"""


# ------------------------------------------------------ token_budget_mix
# The data-card materialization a training run actually ships: HARD
# per-source token budgets (budget_s = weight_s·B/ΣW, integral), filled
# by a deterministic greedy prefix in md5-shuffled order — the
# complement of mixture_sample's Bernoulli RATES.  The prefix rule is
# "admit while the tokens BEFORE this doc are under budget", so each
# source overshoots by at most one document (standard greedy fill) and a
# source whose whole mass fits is marked exhausted.
#
# Scale design: one window cumsum per source partition (keyed shuffle,
# map-side nothing to combine — the cumsum needs the order).  At 10^12
# docs the window becomes a two-stage cutoff exactly like domain_cap: a
# token-weighted quantile sketch of the priority axis locates the budget
# boundary per source, a broadcast cutoff filters in-row, and only the
# boundary band (sketch error × source mass) re-sorts exactly.  The
# window formulation here is provably the same kept-set, which is what
# the oracle checks.
_TBM_BUDGET = 30_000  # total mixture budget in whitespace tokens


def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    d = read_documents(spark, sf_dir)
    ntok = F.size(F.split(F.regexp_replace(F.lower(F.trim("text")),
                                           r"\s+", " "), " "))
    w = F.element_at(
        F.create_map(*[F.lit(x) for kv in _MIX_WEIGHTS.items()
                       for x in kv]), F.col("source"))
    prio = _md5i_col(F.concat(F.lit("42:tbm:"),
                              F.col("doc_id").cast("string")))
    tot_w = sum(_MIX_WEIGHTS.values())
    docs = d.select("doc_id", "source", ntok.alias("ntok"),
                    w.alias("weight"), prio.alias("prio"))
    win = (Window.partitionBy("source").orderBy("prio", "doc_id")
           .rowsBetween(Window.unboundedPreceding, -1))
    cum = docs.withColumn(
        "cum_before", F.coalesce(F.sum("ntok").over(win), F.lit(0)))
    budget = F.expr(f"weight * {_TBM_BUDGET} div {tot_w}")
    kept = (cum.filter(F.col("cum_before") < budget)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("ntok").alias("kept_tokens")))
    totals = (docs.groupBy("source", "weight")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("ntok").alias("tokens")))
    return (totals.join(kept, "source", "left")
            .select("source", "weight", budget.alias("budget_tokens"),
                    "n_docs", "tokens",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("kept_tokens", F.lit(0))
                    .alias("kept_tokens"),
                    (F.coalesce("n_kept", F.lit(0)) == F.col("n_docs"))
                    .alias("exhausted"))
            .orderBy("source"))


def _token_budget_mix_sql() -> str:
    from .extract_e2e import _md5i
    tot_w = sum(_MIX_WEIGHTS.values())
    wcase = " ".join(f"WHEN '{s}' THEN {w}"
                     for s, w in _MIX_WEIGHTS.items())
    prio = _md5i("'42:tbm:' || doc_id")
    return f"""
WITH docs AS (
  SELECT doc_id, source,
         len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
           AS ntok,
         CASE source {wcase} END AS weight,
         {prio} AS prio
  FROM documents),
cum AS (
  SELECT *, coalesce(CAST(sum(ntok) OVER (
           PARTITION BY source ORDER BY prio, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           0) AS cum_before
  FROM docs),
kept AS (
  SELECT source, count(*) AS n_kept,
         CAST(sum(ntok) AS BIGINT) AS kept_tokens
  FROM cum WHERE cum_before < weight * {_TBM_BUDGET} // {tot_w}
  GROUP BY source),
tot AS (
  SELECT source, weight, count(*) AS n_docs,
         CAST(sum(ntok) AS BIGINT) AS tokens
  FROM docs GROUP BY source, weight)
SELECT t.source, t.weight,
       CAST(t.weight * {_TBM_BUDGET} // {tot_w} AS BIGINT) AS budget_tokens,
       t.n_docs, t.tokens,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_tokens, 0) AS kept_tokens,
       coalesce(k.n_kept, 0) = t.n_docs AS exhausted
FROM tot t LEFT JOIN kept k USING (source)
ORDER BY t.source
"""


QUERIES = {
    "capture_drift": (capture_drift, _capture_drift_sql()),
    "recrawl_schedule": (recrawl_schedule, _recrawl_schedule_sql()),
    "mixture_sample": (mixture_sample, _mixture_sample_sql()),
    "token_budget_mix": (token_budget_mix, _token_budget_mix_sql()),
    "sequence_pack": (sequence_pack, SEQUENCE_PACK_SQL),
    "repetition_quality": (repetition_quality, REPETITION_QUALITY_SQL),
    "decontaminate": (decontaminate, DECONTAMINATE_SQL),
    "bpe_train": (bpe_train_q, _bpe_oracle_sql()),
    "dsir_affinity": (dsir_affinity, _dsir_sql()),
    "quality_classifier": (quality_classifier, _quality_classifier_sql()),
}
