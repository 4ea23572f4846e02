"""Web-corpus cleaning operators (beyond the reference's own surface —
the C4 / CCNet-style passes a web-scale pretraining pipeline runs between
extraction and training-data assembly).

The synthetic ``documents`` table is bare lowercase words, so each
operator runs over a CLOSED-FORM "weblines" enrichment derived from
(doc_id, text) alone: the word stream is cut into 10-word lines and
decorated deterministically — shared boilerplate lines, lorem-ipsum
prefixes, PII suffixes (email / IP / phone), "enable javascript" and
curly-brace noise, and terminal periods — with the SAME arithmetic in the
Spark expressions and the DuckDB oracles, so every operator stays
hash-checked end-to-end.  All derivations are pure JVM column
expressions (higher-order functions + posexplode); no Python stage.

Operators:

* ``c4_line_filter`` — the published C4 cleaning recipe: keep a line iff
  it ends in terminal punctuation, has ≥ 5 words, and contains none of
  "javascript" / "lorem ipsum" / "{"; keep a document iff ≥ 3 lines
  survive.  One explode + one groupBy (map-side combinable aggregates).
* ``pii_redact`` — regex PII scrubbing (emails, IPv4s, phone numbers):
  match counts + redaction markers.  Entirely scan-side column
  expressions — zero shuffles beyond the final presentation sort; at
  100 TB this is a free rider on any pass over the corpus.
* ``paragraph_dedup`` — CCNet-style cross-document paragraph dedup: hash
  every line, keep only the corpus-wide FIRST occurrence (min
  (doc_id, line_no) per hash).  First-occurrence election is a
  ``groupBy(hash).agg(min(struct(...)))`` — NOT a row_number window —
  because partial aggregation combines map-side, so the one mega-hot
  boilerplate hash (billions of "subscribe to our newsletter" lines at
  100 TB) is absorbed by combiners instead of funnelling into a single
  window partition.  Shuffle is bounded by |distinct hashes| + the
  join back, both AQE-coalescible.

Scale note: the weblines derivation itself is stateless per-row, so all
three operators inherit the scan's partitioning.  They read the corpus
through ``session.read_documents``, whose ``spread`` widens a corpus of
fewer files than cores (a fixture is one file, so one split) to the core
count and returns one with a file per core as scanned — beyond that the
per-doc groupBys need no repartition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import documents_scan, memo, read_documents

LINE_WORDS = 10
_BOILER = "subscribe to our newsletter follow us on social media"
_LOREM = "lorem ipsum dolor sit amet "

# PII regexes — kept to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): literal classes, bounded repeats, no
# lookaround.
RE_EMAIL = r"[a-z0-9]+@[a-z0-9]+\.[a-z]+"
RE_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
RE_PHONE = r"555-\d{4}"


def weblines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, nlines, line_no, raw, line): the deterministic web-shaped
    line view.  ``raw`` is the post-boilerplate pre-decoration line (the
    dedup target); ``line`` is fully decorated."""
    d = (read_documents(spark, sf_dir)
         .filter(F.length(F.trim("text")) > 0)
         .select("doc_id", F.split("text", " ").alias("w")))
    d = d.withColumn("nlines",
                     F.expr(f"cast(ceil(size(w) / {LINE_WORDS}.0) as int)"))
    lines = d.select(
        "doc_id", "nlines",
        F.posexplode(F.expr(
            f"transform(sequence(0, nlines - 1),"
            f" c -> array_join(slice(w, c * {LINE_WORDS} + 1,"
            f" {LINE_WORDS}), ' '))")).alias("line_no", "chunk"))
    did, ln = F.col("doc_id"), F.col("line_no")
    raw = (F.when((did % 13 == 0) & (did % 53 != 0) & (ln == 0),
                  F.lit(_BOILER))
           .otherwise(F.col("chunk")))
    raw = (F.when((did % 53 == 0) & (ln == 0), F.concat(F.lit(_LOREM), raw))
           .otherwise(raw))
    lines = lines.withColumn("raw", raw)
    pii = (F.when(did % 4 == 0,
                  F.concat(F.lit(" contact user"), did.cast("string"),
                           F.lit("@example.com")))
           .when(did % 4 == 1,
                 F.concat(F.lit(" server 192.168."),
                          (did % 256).cast("string"), F.lit("."),
                          ((did * 7) % 256).cast("string")))
           .when(did % 4 == 2,
                 F.concat(F.lit(" call 555-"),
                          (F.lit(1000) + did % 9000).cast("string")))
           .otherwise(F.lit("")))
    line = F.concat(
        F.col("raw"),
        F.when(ln == did % F.col("nlines"), pii).otherwise(F.lit("")),
        F.when((did + ln) % 7 == 0, F.lit(" enable javascript to view"))
         .otherwise(F.lit("")),
        F.when((did + ln) % 11 == 0, F.lit(" { }")).otherwise(F.lit("")),
        F.when((did + ln) % 3 != 0, F.lit(".")).otherwise(F.lit("")))
    return lines.select("doc_id", "nlines", "line_no", "raw",
                        line.alias("line"))


# one SQL fragment for the same derivation, interpolated by every oracle
WEBLINES_SQL = rf"""
d AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         CAST(ceil(len(string_split(text, ' ')) / {LINE_WORDS}.0) AS INTEGER)
           AS nlines
  FROM documents WHERE length(trim(text)) > 0),
chunks AS (
  SELECT doc_id, nlines, i AS line_no,
         array_to_string(list_slice(w, i * {LINE_WORDS} + 1,
                                    i * {LINE_WORDS} + {LINE_WORDS}), ' ')
           AS chunk
  FROM d, LATERAL (SELECT unnest(generate_series(0, nlines - 1)) AS i) u),
rawl AS (
  SELECT doc_id, nlines, line_no,
         CASE WHEN doc_id % 53 = 0 AND line_no = 0
              THEN '{_LOREM}' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 AND doc_id % 53 != 0 AND line_no = 0
                 THEN '{_BOILER}' ELSE chunk END AS raw
  FROM chunks),
weblines AS (
  SELECT doc_id, nlines, line_no, raw,
         raw
         || CASE WHEN line_no = doc_id % nlines THEN
              CASE doc_id % 4
                WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com'
                WHEN 1 THEN ' server 192.168.'
                            || CAST(doc_id % 256 AS VARCHAR) || '.'
                            || CAST((doc_id * 7) % 256 AS VARCHAR)
                WHEN 2 THEN ' call 555-'
                            || CAST(1000 + doc_id % 9000 AS VARCHAR)
                ELSE '' END
            ELSE '' END
         || CASE WHEN (doc_id + line_no) % 7 = 0
                 THEN ' enable javascript to view' ELSE '' END
         || CASE WHEN (doc_id + line_no) % 11 = 0 THEN ' {{ }}' ELSE '' END
         || CASE WHEN (doc_id + line_no) % 3 != 0 THEN '.' ELSE '' END
           AS line
  FROM rawl)
"""


# ------------------------------------------------------------- c4 filter
def c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_line_decisions(spark, sf_dir).orderBy("doc_id")


def c4_line_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``c4_line_filter`` before presentation ordering (composition inputs
    join this — see ``corpus_keep``)."""
    wl = weblines(spark, sf_dir)
    keep = (F.col("line").endswith(".")
            & (F.size(F.split("line", " ")) >= 5)
            & ~F.col("line").contains("javascript")
            & ~F.col("line").contains("lorem ipsum")
            & ~F.col("line").contains("{"))
    wl = wl.withColumn("keep", keep)
    kept_sorted = F.expr(
        "array_join(transform(array_sort(collect_kept), x -> x.line),"
        " '\n')")
    return (wl.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.col("keep").cast("long")).alias("n_kept"),
                 F.collect_list(
                     F.when(F.col("keep"),
                            F.struct("line_no", "line"))).alias(
                                "collect_kept"))
            .select("doc_id",
                    F.col("n_lines").cast("int").alias("n_lines"),
                    F.col("n_kept").cast("int").alias("n_kept"),
                    (F.col("n_kept") >= 3).alias("c4_pass"),
                    F.md5(kept_sorted).alias("kept_md5")))


C4_LINE_FILTER_SQL = rf"""
WITH {WEBLINES_SQL},
flagged AS (
  SELECT doc_id, line_no, line,
         (line LIKE '%.' AND len(string_split(line, ' ')) >= 5
          AND line NOT LIKE '%javascript%'
          AND line NOT LIKE '%lorem ipsum%'
          AND line NOT LIKE '%{{%') AS keep
  FROM weblines)
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_lines,
       CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS INTEGER)
         AS n_kept,
       coalesce(sum(CASE WHEN keep THEN 1 END), 0) >= 3 AS c4_pass,
       md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                               ORDER BY line_no), '')) AS kept_md5
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------------------ pii redact
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    wl = weblines(spark, sf_dir)
    doc = (wl.groupBy("doc_id")
           .agg(F.expr(
               "array_join(transform(array_sort("
               "collect_list(struct(line_no, line))), x -> x.line), '\n')")
               .alias("text_w")))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text_w", RE_EMAIL, "<EMAIL>"),
            RE_IP, "<IP>"),
        RE_PHONE, "<PHONE>")
    return (doc.select(
                "doc_id",
                F.regexp_count("text_w", F.lit(RE_EMAIL)).cast("int")
                 .alias("n_emails"),
                F.regexp_count("text_w", F.lit(RE_IP)).cast("int")
                 .alias("n_ips"),
                F.regexp_count("text_w", F.lit(RE_PHONE)).cast("int")
                 .alias("n_phones"),
                F.md5(red).alias("redacted_md5"))
            .orderBy("doc_id"))


PII_REDACT_SQL = rf"""
WITH {WEBLINES_SQL},
doc AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY line_no) AS text_w
  FROM weblines GROUP BY doc_id)
SELECT doc_id,
       CAST(len(regexp_extract_all(text_w, '{RE_EMAIL}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(text_w, '{RE_IP}')) AS INTEGER)
         AS n_ips,
       CAST(len(regexp_extract_all(text_w, '{RE_PHONE}')) AS INTEGER)
         AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(
             text_w, '{RE_EMAIL}', '<EMAIL>', 'g'),
             '{RE_IP}', '<IP>', 'g'),
             '{RE_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM doc ORDER BY doc_id
"""


# -------------------------------------------------------- paragraph dedup
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    wl = weblines(spark, sf_dir).withColumn("h", F.md5("raw"))
    first = (wl.groupBy("h")
             .agg(F.min(F.struct("doc_id", "line_no")).alias("first")))
    marked = (wl.join(first, "h")
              .withColumn("is_dup",
                          (F.col("doc_id") != F.col("first.doc_id"))
                          | (F.col("line_no") != F.col("first.line_no"))))
    kept_sorted = F.expr(
        "array_join(transform(array_sort(collect_kept), x -> x.line),"
        " '\n')")
    return (marked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.col("is_dup").cast("long")).alias("n_dup"),
                 F.collect_list(
                     F.when(~F.col("is_dup"),
                            F.struct("line_no", "line"))).alias(
                                "collect_kept"))
            .select("doc_id",
                    F.col("n_lines").cast("int").alias("n_lines"),
                    F.col("n_dup").cast("int").alias("n_dup_lines"),
                    F.md5(kept_sorted).alias("kept_md5"))
            .orderBy("doc_id"))


PARAGRAPH_DEDUP_SQL = rf"""
WITH {WEBLINES_SQL},
hashed AS (SELECT doc_id, line_no, line, md5(raw) AS h FROM weblines),
first_occ AS (
  -- lexicographic min over the row struct: the exact analogue of the
  -- Spark side's min(struct(doc_id, line_no)) at any line count
  SELECT h, min((doc_id, line_no)) AS first_key
  FROM hashed GROUP BY h),
marked AS (
  SELECT x.doc_id, x.line_no, x.line,
         (x.doc_id, x.line_no) != f.first_key AS is_dup
  FROM hashed x JOIN first_occ f USING (h))
SELECT doc_id,
       CAST(count(*) AS INTEGER) AS n_lines,
       CAST(coalesce(sum(CASE WHEN is_dup THEN 1 END), 0) AS INTEGER)
         AS n_dup_lines,
       md5(coalesce(string_agg(CASE WHEN NOT is_dup THEN line END, chr(10)
                               ORDER BY line_no), '')) AS kept_md5
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


# ------------------------------------------------------- corpus keep
def corpus_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final materialization a real pipeline runs: one keep decision
    per document composing the quality gates (Gopher repetition + C4
    line survival), duplicate-cluster survivorship, and benchmark
    decontamination; the eval split itself (doc_id % 97 == 0) is
    excluded.  Each input is the registered operator reused verbatim, so
    the oracle is the literal SQL composition of their oracles.  All
    joins are keyed on doc_id (one co-partitioned shuffle family; at
    100 TB the decontamination side is a vanishing fraction and AQE
    broadcasts it)."""
    return corpus_keep_decisions(spark, sf_dir).orderBy("doc_id")


def corpus_keep_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_keep`` before presentation ordering: the content-gate
    columns of the written decision table (``web_decisions``) when one
    is published, else ``_corpus_keep_computed``."""
    from ..pipeline.snapshot_cache import read_table
    scan = read_table(spark, "web_decisions", sf_dir)
    if scan is not None:
        return scan.select("doc_id", "gopher_pass", "c4_pass",
                           "dedup_kept", "clean", "corpus_keep")
    return _corpus_keep_computed(spark, sf_dir)


def _corpus_keep_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-gate decisions, computed.  Composes the
    UNORDERED component relations (composing the presentation versions
    would run a full range-exchange sort per component that the very next
    join re-partitions away — the round-2 bench showed ``web_keep`` at
    ~2x the sum of its parts from exactly that), and memoizes the dedup
    verdict in the shared per-(session, sf_dir) cache so any later query
    in the same materialization run (``web_keep``, a second
    ``corpus_keep``) reuses the persisted relation instead of re-running
    the LSH chain — the local-mode analogue of writing the decision
    columns once and scanning them thereafter."""
    from .dedup import dedup_keep_decisions
    from .training import (_BENCH_MOD, decontaminate_decisions,
                           repetition_quality_decisions)
    # dedup_keep covers EVERY document, so it anchors the join — quality
    # gates that filtered a doc out (e.g. empty text) left-join to NULL
    # and coalesce to a failing gate, never to a missing verdict
    # Only the dedup verdict is memoized: it is the one component whose
    # recomputation is expensive (the full LSH chain + label propagation);
    # the quality gates are single-shuffle scans whose persist cost would
    # exceed their recompute cost (measured: persisting all four made the
    # cold path ~20% SLOWER while saving nothing the dedup memo doesn't).
    gopher = repetition_quality_decisions(spark, sf_dir).select(
        "doc_id", "gopher_pass")
    c4 = c4_line_decisions(spark, sf_dir).select("doc_id", "c4_pass")
    dk = memo("dedup_keep_decisions", spark, sf_dir,
              lambda: dedup_keep_decisions(spark, sf_dir)
              ).select("doc_id", F.col("kept").alias("dedup_kept"))
    dec = decontaminate_decisions(spark, sf_dir).select(
        "doc_id", "n_shared_grams")
    g = F.coalesce(F.col("gopher_pass"), F.lit(False))
    c = F.coalesce(F.col("c4_pass"), F.lit(False))
    clean = F.coalesce(F.col("n_shared_grams"), F.lit(0)) == 0
    return (dk.join(c4, "doc_id", "left").join(gopher, "doc_id", "left")
            .join(dec, "doc_id", "left")
            .filter(F.col("doc_id") % _BENCH_MOD != 0)
            .select("doc_id", g.alias("gopher_pass"), c.alias("c4_pass"),
                    "dedup_kept", clean.alias("clean"),
                    (g & c & F.col("dedup_kept") & clean)
                    .alias("corpus_keep")))


def _corpus_keep_sql() -> str:
    from .dedup import DEDUP_KEEP_SQL
    from .training import (_BENCH_MOD, DECONTAMINATE_SQL,
                           REPETITION_QUALITY_SQL)
    return f"""
SELECT k.doc_id,
       coalesce(g.gopher_pass, false) AS gopher_pass,
       coalesce(c.c4_pass, false) AS c4_pass,
       k.kept AS dedup_kept,
       coalesce(d.n_shared_grams, 0) = 0 AS clean,
       (coalesce(g.gopher_pass, false) AND coalesce(c.c4_pass, false)
        AND k.kept AND coalesce(d.n_shared_grams, 0) = 0) AS corpus_keep
FROM ({DEDUP_KEEP_SQL}) k
LEFT JOIN ({C4_LINE_FILTER_SQL}) c USING (doc_id)
LEFT JOIN ({REPETITION_QUALITY_SQL}) g USING (doc_id)
LEFT JOIN ({DECONTAMINATE_SQL}) d USING (doc_id)
WHERE k.doc_id % {_BENCH_MOD} != 0
ORDER BY doc_id
"""


# ------------------------------------------------------- domain caps
_CAP_K = 3          # max documents kept per host
_CAP_SALTS = 8      # stage-1 fanout per host


def _md5i_col(key):
    from .dedup import _md5_bigint
    return _md5_bigint(key)


def _robots_sql_md5i(key: str) -> str:
    from .extract_e2e import _md5i
    return _md5i(key)


def _host_sql(doc: str = "doc_id") -> str:
    """DuckDB twin of ``_host_col()`` — the ONE place the synthetic host
    scheme (500 numbers × 4 TLDs) is written as SQL; every oracle that
    derives a host must use this helper so a scheme change cannot leave an
    oracle silently testing a different universe."""
    return ("'host' || lpad(CAST(" + _robots_sql_md5i(f"'42:url:' || {doc}")
            + " % 500 AS VARCHAR), 4, '0') || '.example.' || "
            "(['com','org','net','cn'])[CAST("
            + _robots_sql_md5i(f"'42:tld:' || {doc}")
            + " % 4 AS INTEGER) + 1]")


def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps (the RefinedWeb / Dolma host-balancing
    pass): keep at most K documents per host, chosen by a deterministic
    priority (stand-in for a quality score), so no single crawler-trap or
    SEO-farm domain dominates the training mix.

    Skew design: a plain ``row_number() OVER (PARTITION BY host)`` funnels
    every page of a hot host (millions at 100 TB) into ONE window
    partition.  Instead the top-K is selected in two stages — stage 1
    takes per-(host, salt) top-K (collect_list is bounded at K per salted
    group before any hot key concentrates), stage 2 merges the ≤ K·SALTS
    survivors per host.  The kept SET is provably identical to the window
    formulation, which is exactly what the oracle checks.  Host totals
    come from a separate count agg (map-side combinable)."""
    docs = documents_scan(spark, sf_dir).select("doc_id")
    prio = _md5i_col(F.concat(F.lit("42:prio:"),
                              F.col("doc_id").cast("string")))
    m = docs.select("doc_id", _host_col().alias("host"),
                    prio.alias("prio"))
    stage1 = (m.withColumn("salt", (F.col("doc_id") % _CAP_SALTS))
              .groupBy("host", "salt")
              .agg(F.slice(F.sort_array(F.collect_list(
                  F.struct("prio", "doc_id"))), 1, _CAP_K).alias("top")))
    stage2 = (stage1.select("host", F.explode("top").alias("t"))
              .groupBy("host")
              .agg(F.slice(F.sort_array(F.collect_list("t")), 1, _CAP_K)
                   .alias("top")))
    kept = (stage2.select("host", F.posexplode("top").alias("r", "t"))
            .select("host", (F.col("r") + 1).cast("int").alias("rank"),
                    F.col("t.doc_id").alias("doc_id")))
    totals = m.groupBy("host").agg(F.count(F.lit(1)).cast("int")
                                   .alias("host_docs"))
    return (kept.join(totals, "host")
            .select("host", "host_docs", "rank", "doc_id")
            .orderBy("host", "rank"))


DOMAIN_CAP_SQL = f"""
WITH m AS (
  SELECT doc_id,
    {_host_sql()} AS host,
    ('0x' || substr(md5('42:prio:' || doc_id), 1, 15))::BIGINT AS prio
  FROM documents),
r AS (
  SELECT host, doc_id,
         row_number() OVER (PARTITION BY host ORDER BY prio, doc_id) AS rank,
         count(*) OVER (PARTITION BY host) AS host_docs
  FROM m)
SELECT host, CAST(host_docs AS INTEGER) AS host_docs,
       CAST(rank AS INTEGER) AS rank, doc_id
FROM r WHERE rank <= {_CAP_K}
ORDER BY host, rank
"""


# ------------------------------------------------------------ robots.txt
# RFC 9309 (Robots Exclusion Protocol) politeness filter — the gate every
# Common-Crawl-derived corpus applies before training on a capture.  The
# deterministic robots corpus is synthesized per host (each section path
# may carry a Disallow, optionally softened by a longer Allow exception),
# then the Spark side PARSES the robots.txt text generically and applies
# the real longest-match rule: most-specific (longest) matching path wins,
# Allow beating Disallow on length ties.  The oracle re-derives the
# decision arithmetically from the generator parameters — it never sees
# the robots text — so a parser or precedence bug on the Spark side breaks
# the hash.
#
# Scale design: the rules relation is |hosts|·O(1) rows and BROADCASTS;
# rule parsing happens once per host as higher-order array expressions
# (split → transform → filter), and the per-page decision is a lambda
# filter + sort over that tiny array INSIDE the row — after the broadcast
# hash join there is no |pages|-sized shuffle at all (the presentation
# sort is driver-compare only).
_ROBOTS_SECS = ["news", "blog", "docs", "wiki"]
_ROBOTS_RX = r"^(Allow|Disallow): (/\S*)$"


def _host_col():
    return F.concat(
        F.lit("host"),
        F.lpad((_md5i_col(F.concat(F.lit("42:url:"),
                                   F.col("doc_id").cast("string")))
                % 500).cast("string"), 4, "0"),
        F.lit(".example."),
        F.element_at(F.array(F.lit("com"), F.lit("org"),
                             F.lit("net"), F.lit("cn")),
                     (_md5i_col(F.concat(F.lit("42:tld:"),
                                         F.col("doc_id").cast("string")))
                      % 4).cast("int") + 1))


def _robots_txt_col(host):
    """Deterministic per-host robots.txt: per section, a 1/3-probability
    ``Disallow: /sec/`` line, half of those softened by a one-digit-longer
    ``Allow: /sec/D`` exception (the RFC's longest-match subtlety:
    ``/sec/3`` re-admits /sec/3, /sec/31, /sec/312…)."""
    parts = [F.lit("User-agent: *\n")]
    for sec in _ROBOTS_SECS:
        dis = (_md5i_col(F.concat(F.lit("42:rb:"), host,
                                  F.lit(f":{sec}"))) % 3 == 0)
        has_allow = (_md5i_col(F.concat(F.lit("42:rx:"), host,
                                        F.lit(f":{sec}"))) % 2 == 0)
        digit = (_md5i_col(F.concat(F.lit("42:ra:"), host,
                                    F.lit(f":{sec}"))) % 10).cast("string")
        parts.append(
            F.when(dis, F.concat(
                F.lit(f"Disallow: /{sec}/\n"),
                F.when(has_allow,
                       F.concat(F.lit(f"Allow: /{sec}/"), digit,
                                F.lit("\n"))).otherwise(F.lit(""))))
             .otherwise(F.lit("")))
    return F.concat(*parts)


def robots_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision relation before presentation ordering (plan-audited
    directly: the ``_ordered`` checkpoint would hide the join shape)."""
    # spread: the per-page rule-array filter + sort_array runs row-wise
    # over every page; a single scan split would serialize it on one core.
    # The shuffled relation is the thin doc_id projection, and at real
    # scale (a corpus of at least one file per core) spread is a no-op.
    docs = read_documents(spark, sf_dir).select("doc_id")
    # hosts-distinct branch reads its own UNspread scan: it collapses to
    # |hosts| rows immediately, so parallelising its map side buys nothing
    # and would add a second repartition Exchange to the broadcast branch
    hosts_docs = documents_scan(spark, sf_dir).select("doc_id")
    sec = F.element_at(
        F.array(*[F.lit(s) for s in _ROBOTS_SECS]),
        (_md5i_col(F.concat(F.lit("42:sec:"),
                            F.col("doc_id").cast("string")))
         % 4).cast("int") + 1)
    pages = docs.select(
        "doc_id", _host_col().alias("host"),
        F.concat(F.lit("/"), sec, F.lit("/"),
                 F.col("doc_id").cast("string")).alias("path"))

    # one robots.txt per distinct host, parsed to a rule array in-row
    def parse_line(ln):
        t = F.lower(F.regexp_extract(ln, _ROBOTS_RX, 1))
        p = F.regexp_extract(ln, _ROBOTS_RX, 2)
        return F.struct(F.length(p).alias("l"),
                        (t == "allow").cast("int").alias("a"),
                        t.alias("t"), p.alias("p"))

    hosts = hosts_docs.select(_host_col().alias("host")).distinct()
    robots = hosts.select(
        "host",
        F.filter(F.transform(F.split(_robots_txt_col(F.col("host")), "\n"),
                             parse_line),
                 lambda r: r["t"] != "").alias("rules"))

    j = pages.join(F.broadcast(robots), "host")
    matching = F.filter(F.col("rules"),
                        lambda r: F.col("path").startswith(r["p"]))
    win = F.when(F.size(matching) > 0,
                 F.element_at(F.sort_array(matching, asc=False), 1))
    return j.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("host"),
                 F.col("path")).alias("url"),
        F.coalesce(win["a"] == 1, F.lit(True)).alias("allowed"),
        win["t"].alias("rule_type"),
        win["p"].alias("rule_path"))


def robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    return robots_decisions(spark, sf_dir).transform(_ordered("doc_id"))


def _robots_filter_sql() -> str:
    h = _host_sql()
    s = ("(['news','blog','docs','wiki'])[CAST("
         + _robots_sql_md5i("'42:sec:' || doc_id")
         + " % 4 AS INTEGER) + 1]")
    return f"""
WITH m AS (
  SELECT doc_id, {h} AS host, {s} AS sec FROM documents),
r AS (
  SELECT doc_id, host, sec,
    {_robots_sql_md5i("'42:rb:' || host || ':' || sec")} % 3 = 0 AS dis,
    {_robots_sql_md5i("'42:rx:' || host || ':' || sec")} % 2 = 0 AS hasal,
    CAST({_robots_sql_md5i("'42:ra:' || host || ':' || sec")} % 10
         AS VARCHAR) AS adigit
  FROM m),
d AS (
  SELECT doc_id, host, sec, dis,
         dis AND hasal AND starts_with(CAST(doc_id AS VARCHAR), adigit)
           AS allowed_by_exception,
         adigit
  FROM r)
SELECT doc_id,
       'https://' || host || '/' || sec || '/' || doc_id AS url,
       (NOT dis) OR allowed_by_exception AS allowed,
       CASE WHEN NOT dis THEN NULL
            WHEN allowed_by_exception THEN 'allow'
            ELSE 'disallow' END AS rule_type,
       CASE WHEN NOT dis THEN NULL
            WHEN allowed_by_exception THEN '/' || sec || '/' || adigit
            ELSE '/' || sec || '/' END AS rule_path
FROM d ORDER BY doc_id
"""


# ------------------------------------------------------------- sitemaps
# Sitemap ingestion + crawl-coverage reconciliation: every crawl operation
# consumes per-host sitemap.xml files to find uncaptured urls and to
# measure how much of what it captured the host actually declares.  The
# sitemap corpus is synthesized per host (each page is listed with
# probability 4/5; some pages also contribute a GHOST entry — a declared
# url the crawl never captured), the XML is then parsed with Spark's
# JVM-side ``xpath`` built-in (no Python), and a FULL OUTER join against
# the capture set produces the per-host coverage rollup.  The oracle
# derives every count arithmetically from the generator gates — it never
# sees the XML — so an xpath/namespace/join bug breaks the hash.
#
# Scale design: sitemap assembly is one groupBy(host) over |pages| rows
# (map-side combinable collect bounded per host by the generator); the
# reconciliation join is keyed on url — co-partitioned hash join, the
# honest shape when both sides are crawl-sized; the rollup is one
# map-side-combinable groupBy(host).
def sitemap_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coverage relation before presentation ordering (plan-audited
    directly; the ``_ordered`` checkpoint would hide the join shape)."""
    docs = documents_scan(spark, sf_dir).select("doc_id")
    sec = F.element_at(
        F.array(*[F.lit(s) for s in _ROBOTS_SECS]),
        (_md5i_col(F.concat(F.lit("42:sec:"),
                            F.col("doc_id").cast("string")))
         % 4).cast("int") + 1)
    m = docs.select(
        "doc_id", _host_col().alias("host"),
        F.concat(F.lit("https://"), _host_col(), F.lit("/"), sec,
                 F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
        # '-g' suffix: real capture paths are all-digit ids, so a ghost url
        # is structurally non-colliding at EVERY corpus scale (doc_id +
        # offset would collide once ids cross the offset)
        F.concat(F.lit("https://"), _host_col(), F.lit("/"), sec, F.lit("/"),
                 F.col("doc_id").cast("string"), F.lit("-g"))
            .alias("ghost_url"),
        (_md5i_col(F.concat(F.lit("42:sm:"),
                            F.col("doc_id").cast("string"))) % 5 != 0)
            .alias("listed"),
        (_md5i_col(F.concat(F.lit("42:gh:"),
                            F.col("doc_id").cast("string"))) % 7 == 0)
            .alias("ghost"))
    entries = (m.filter("listed").select("host", F.col("url").alias("loc"))
               .unionAll(m.filter("ghost")
                          .select("host", F.col("ghost_url").alias("loc"))))
    xml = (entries
           .groupBy("host")
           .agg(F.concat(
               F.lit('<?xml version="1.0"?><urlset>'),
               F.array_join(F.array_sort(F.collect_list(
                   F.concat(F.lit("<url><loc>"), F.col("loc"),
                            F.lit("</loc></url>")))), ""),
               F.lit("</urlset>")).alias("xml")))
    locs = (xml.select("host", F.explode(
                F.expr("xpath(xml, '//url/loc/text()')")).alias("loc")))
    captures = m.select(F.col("host").alias("c_host"),
                        F.col("url").alias("c_url"))
    j = captures.join(locs, captures["c_url"] == locs["loc"], "full_outer")
    return (j.groupBy(F.coalesce("c_host", "host").alias("host"))
            .agg(F.count("loc").cast("int").alias("n_listed"),
                 F.count(F.when(F.col("loc").isNotNull()
                                & F.col("c_url").isNotNull(), 1))
                  .cast("int").alias("n_captured_listed"),
                 F.count(F.when(F.col("c_url").isNull(), 1))
                  .cast("int").alias("n_missing"),
                 F.count(F.when(F.col("loc").isNull(), 1))
                  .cast("int").alias("n_unlisted")))


def sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    return sitemap_rollup(spark, sf_dir).transform(_ordered("host"))


def _sitemap_coverage_sql() -> str:
    h = _host_sql()
    return f"""
WITH m AS (
  SELECT doc_id, {h} AS host,
    {_robots_sql_md5i("'42:sm:' || doc_id")} % 5 != 0 AS listed,
    {_robots_sql_md5i("'42:gh:' || doc_id")} % 7 = 0 AS ghost
  FROM documents)
SELECT host,
  CAST(coalesce(sum(CASE WHEN listed THEN 1 END), 0)
       + coalesce(sum(CASE WHEN ghost THEN 1 END), 0) AS INTEGER)
    AS n_listed,
  CAST(coalesce(sum(CASE WHEN listed THEN 1 END), 0) AS INTEGER)
    AS n_captured_listed,
  CAST(coalesce(sum(CASE WHEN ghost THEN 1 END), 0) AS INTEGER)
    AS n_missing,
  CAST(coalesce(sum(CASE WHEN NOT listed THEN 1 END), 0) AS INTEGER)
    AS n_unlisted
FROM m GROUP BY host ORDER BY host
"""


# ------------------------------------------------------------- mojibake
def mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage repair (the ftfy ``fix_text`` pass every web corpus
    runs): recover UTF-8 text that was mis-decoded with a legacy
    single-byte codec upstream.  The repair core is
    ``textnorm/mojibake.py::fix_mojibake`` — sloppy-cp1252 re-encode +
    strict UTF-8 round trip, iterated for double-encoding.

    Oracle by construction: the corpus text is enriched with deterministic
    non-ASCII markers (word i gains "é€" when (doc_id·31+i) % 7 = 0 —
    JVM-columnar, replayed relationally in the oracle), then DAMAGED
    in-operator per doc_id % 3 (latin-1 misdecode / cp1252 misdecode /
    left clean), then repaired.  The driver compares the repaired text
    against the relationally derived enriched original — any repair miss
    is a hash mismatch.

    Scale: enrichment/mode are scan-side column expressions; damage+repair
    is one Arrow-batched stage with no shuffle — a free rider on any
    corpus pass, exactly how the pass deploys at 100 TB."""
    import pandas as pd

    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType, BooleanType)

    from ..textnorm.mojibake import fix_mojibake, sloppy_cp1252_decode

    d = read_documents(spark, sf_dir)
    words = F.split("text", " ")
    enriched = F.concat_ws(" ", F.transform(
        words, lambda w, i: F.when(
            (F.col("doc_id") * 31 + i + 1) % 7 == 0,
            F.concat(w, F.lit("é€"))).otherwise(w)))
    mode = (F.col("doc_id") % 3).cast("int")
    src = d.select("doc_id", mode.alias("m"), enriched.alias("enriched"))

    out_schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("mode", StringType(), False),
        StructField("changed", BooleanType(), False),
        StructField("repaired", StringType(), False),
    ])
    mode_names = {0: "latin1", 1: "cp1252", 2: "clean"}

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, m, s in zip(pdf["doc_id"], pdf["m"],
                                    pdf["enriched"]):
                m = int(m)
                if m == 0:
                    damaged = s.encode("utf-8").decode("latin-1")
                elif m == 1:
                    # sloppy decode: strict cp1252 raises on the five
                    # undefined bytes (0x81 0x8D 0x8F 0x90 0x9D), which
                    # real UTF-8 text hits (e.g. U+018F → C6 8F) — the
                    # upstream-misdecode model must be total
                    damaged = sloppy_cp1252_decode(s.encode("utf-8"))
                else:
                    damaged = s
                repaired = fix_mojibake(damaged)
                rows.append((int(doc_id), mode_names[m],
                             repaired != damaged, repaired))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in out_schema])

    from ..session import ordered as _ordered
    return src.mapInPandas(run, out_schema).transform(_ordered("doc_id"))


MOJIBAKE_REPAIR_SQL = r"""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'latin1' WHEN 1 THEN 'cp1252'
            ELSE 'clean' END AS mode,
       (doc_id % 3 != 2) AND (repaired != text) AS changed,
       repaired
FROM (
  SELECT doc_id, text,
         array_to_string(
           list_transform(string_split(text, ' '),
                          (w, i) -> CASE WHEN (doc_id*31 + i) % 7 = 0
                                         THEN w || 'é€' ELSE w END),
           ' ') AS repaired
  FROM documents)
ORDER BY doc_id
"""


# ------------------------------------------------------- NFC normalize
# Decomposed / compatibility-singleton markers the enrichment injects;
# index arithmetic is replayed verbatim in the oracle.  Each NFC-composes
# to a strictly shorter string, covering the distinct composition paths:
# combining-mark compose, ring compose, Hangul LV+T compose, and the
# U+212B singleton (Angstrom sign -> U+00C5).
_NFC_MARKERS = ["é", "Å", "각", "Å"]


def nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization pass (ftfy's
    ``fix_text`` ends with it) every web corpus runs so that visually
    identical strings hash/dedup identically regardless of how the
    source page encoded them (combining marks vs precomposed, Hangul
    jamo vs syllables, compatibility singletons).

    Oracle by construction: the corpus text is enriched with
    deterministic DECOMPOSED markers (word i gains marker
    ``(doc_id+i) % 4`` when (doc_id·31+i) % 5 = 0 — JVM-columnar,
    replayed relationally), then normalized in one Arrow-batched stage
    (``unicodedata.normalize("NFC", ...)``); the oracle runs DuckDB's
    ``nfc_normalize`` over the identical enrichment.  Two independent
    NFC engines (CPython's unicodedata vs utf8proc) must agree on every
    byte — NFC is stable for assigned codepoints by the Unicode
    composition-stability guarantee.

    Scale: enrichment is scan-side; normalization is a stateless
    mapInPandas with no shuffle — at 100 TB it rides any corpus pass,
    exactly like the mojibake repair above."""
    import pandas as pd
    import unicodedata

    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructField, StructType)

    d = read_documents(spark, sf_dir)
    markers = F.array(*[F.lit(m) for m in _NFC_MARKERS])
    words = F.split("text", " ")
    enriched = F.concat_ws(" ", F.transform(
        words, lambda w, i: F.when(
            (F.col("doc_id") * 31 + i + 1) % 5 == 0,
            F.concat(w, F.element_at(
                markers,
                ((F.col("doc_id") + i + 1) % 4 + 1).cast("int"))))
        .otherwise(w)))
    src = d.select("doc_id", enriched.alias("enriched"))

    out_schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("n_composed", IntegerType(), False),
        StructField("normalized", StringType(), False),
    ])

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, s in zip(pdf["doc_id"], pdf["enriched"]):
                n = unicodedata.normalize("NFC", s)
                rows.append((int(doc_id), len(s) - len(n), n))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in out_schema])

    from ..session import ordered as _ordered
    return src.mapInPandas(run, out_schema).transform(_ordered("doc_id"))


NFC_NORMALIZE_SQL = """
WITH m AS (
  SELECT doc_id,
         array_to_string(
           list_transform(string_split(text, ' '),
             (w, i) -> CASE WHEN (doc_id*31 + i) % 5 = 0
               THEN w || (['e' || chr(769), 'A' || chr(778),
                           chr(4352) || chr(4449) || chr(4520),
                           chr(8491)])[CAST((doc_id + i) % 4 AS INTEGER) + 1]
               ELSE w END),
           ' ') AS enriched
  FROM documents)
SELECT doc_id,
       CAST(length(enriched) - length(nfc_normalize(enriched)) AS INTEGER)
         AS n_composed,
       nfc_normalize(enriched) AS normalized
FROM m
ORDER BY doc_id
"""


# ------------------------------------------------------------ mirror_hosts
# Cross-host mirror detection — the CC-corpus pass that collapses the same
# page served from several domains (www/cdn mirrors, scraped re-hosts, SEO
# clones).  The capture relation is enriched closed-form: every doc has its
# primary capture, and docs with md5i("42:mir:"+doc_id) % 5 == 0 gain a
# second capture of the SAME text on a mirror host.  Detection is one
# groupBy on the content hash with map-side-combinable aggregates
# (count / count distinct host / min url) — no window, so a mega-mirrored
# page (millions of captures at 100 TB) is absorbed by combiners.
def _mirror_captures(spark, sf_dir):
    d = read_documents(spark, sf_dir).select("doc_id", "text")
    base = d.select(
        "doc_id", "text", _host_col().alias("host"),
        F.lit("primary").alias("kind"))
    is_mir = (_md5i_col(F.concat(F.lit("42:mir:"),
                                 F.col("doc_id").cast("string"))) % 5 == 0)
    mirror_host = F.concat(
        F.lit("mirror"),
        F.lpad((_md5i_col(F.concat(F.lit("42:mh:"),
                                   F.col("doc_id").cast("string")))
                % 300).cast("string"), 4, "0"),
        F.lit(".example.org"))
    mir = (d.filter(is_mir)
           .select("doc_id", "text", mirror_host.alias("host"),
                   F.lit("mirror").alias("kind")))
    caps = base.unionByName(mir)
    return caps.select(
        "doc_id", "text", "host", "kind",
        F.concat(F.lit("https://"), F.col("host"), F.lit("/page/"),
                 F.col("doc_id").cast("string")).alias("url"))


def mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    caps = _mirror_captures(spark, sf_dir)
    groups = (caps.groupBy(F.md5("text").alias("content_md5"))
              .agg(F.count(F.lit(1)).alias("n_captures"),
                   F.countDistinct("host").alias("n_hosts"),
                   F.min("url").alias("canonical_url"),
                   F.sort_array(F.collect_set("host")).alias("hosts")))
    return (groups.filter(F.col("n_hosts") > 1)
            .select("content_md5", "n_captures", "n_hosts",
                    "canonical_url",
                    F.array_join("hosts", ",").alias("hosts"))
            .transform(_ordered("canonical_url")))


def _mirror_hosts_sql() -> str:
    h = _host_sql()
    mh = ("'mirror' || lpad(CAST(" + _robots_sql_md5i("'42:mh:' || doc_id")
          + " % 300 AS VARCHAR), 4, '0') || '.example.org'")
    return f"""
WITH caps AS (
  SELECT doc_id, text, {h} AS host FROM documents
  UNION ALL
  SELECT doc_id, text, {mh} AS host FROM documents
  WHERE {_robots_sql_md5i("'42:mir:' || doc_id")} % 5 = 0),
u AS (
  SELECT doc_id, text, host,
         'https://' || host || '/page/' || doc_id AS url
  FROM caps),
g AS (
  SELECT md5(text) AS content_md5, count(*) AS n_captures,
         count(DISTINCT host) AS n_hosts, min(url) AS canonical_url,
         list_aggr(list_sort(list_distinct(list(host))), 'string_agg', ',')
           AS hosts
  FROM u GROUP BY 1)
SELECT content_md5, n_captures, n_hosts, canonical_url, hosts
FROM g WHERE n_hosts > 1 ORDER BY canonical_url
"""


# ---------------------------------------------------------- url_blocklist
# UT1-style URL blocklist gate (the RefinedWeb "curated corpora of
# blocked domains" pass): a literal hostname blocklist (broadcast relation
# — at deployment the 4M-line UT1 dump) plus path-keyword rules.  The
# decision is a broadcast LEFT join + in-row regex — no pages-sized
# shuffle.  The blocked-host set is derived once at import time from the
# same md5 arithmetic on the CLOSED hostname universe (500 numbers × 4
# TLDs), so Spark and the oracle consume the identical literal list and a
# join or precedence bug breaks the hash.
_BLOCK_KW = ["casino", "poker", "torrent"]


def _blocked_hosts() -> list[str]:
    import hashlib

    def md5i(key: str) -> int:
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)

    hosts = [f"host{n:04d}.example.{tld}"
             for n in range(500) for tld in ("com", "org", "net", "cn")]
    return sorted(h for h in hosts if md5i("42:blk:" + h) % 19 == 0)


def url_blocklist_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision relation before presentation ordering (plan-audited
    directly — the ``_ordered`` checkpoint would hide the join shape).
    All-JVM column derivation, so no ``spread()``: the scan's own splits
    are the right parallelism and the page side stays shuffle-free."""
    docs = documents_scan(spark, sf_dir).select("doc_id")
    sec = F.element_at(
        F.array(*[F.lit(s) for s in _ROBOTS_SECS]),
        (_md5i_col(F.concat(F.lit("42:sec:"),
                            F.col("doc_id").cast("string")))
         % 4).cast("int") + 1)
    kw = F.element_at(
        F.array(*([F.lit(k + "-") for k in _BLOCK_KW] + [F.lit("")])),
        (_md5i_col(F.concat(F.lit("42:kw:"),
                            F.col("doc_id").cast("string")))
         % 4).cast("int") + 1)
    pages = docs.select(
        "doc_id", _host_col().alias("host"),
        F.concat(F.lit("/"), sec, F.lit("/"), kw,
                 F.col("doc_id").cast("string")).alias("path"))
    block = spark.createDataFrame([(h,) for h in _blocked_hosts()],
                                  ["bhost"])
    j = pages.join(F.broadcast(block),
                   pages.host == block.bhost, "left")
    path_hit = F.col("path").rlike("|".join(_BLOCK_KW))
    host_hit = F.col("bhost").isNotNull()
    return j.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("host"),
                 F.col("path")).alias("url"),
        (host_hit | path_hit).alias("blocked"),
        F.when(host_hit, F.lit("host"))
         .when(path_hit, F.lit("path")).alias("reason"))


def url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    return (url_blocklist_decisions(spark, sf_dir)
            .transform(_ordered("doc_id")))


def _url_blocklist_sql() -> str:
    h = _host_sql()
    s = ("(['news','blog','docs','wiki'])[CAST("
         + _robots_sql_md5i("'42:sec:' || doc_id")
         + " % 4 AS INTEGER) + 1]")
    kws = [k + "-" for k in _BLOCK_KW] + [""]
    k = ("(['" + "','".join(kws) + "'])[CAST("
         + _robots_sql_md5i("'42:kw:' || doc_id")
         + " % 4 AS INTEGER) + 1]")
    bl = "','".join(_blocked_hosts())
    return f"""
WITH pages AS (
  SELECT doc_id, {h} AS host,
         '/' || {s} || '/' || {k} || doc_id AS path
  FROM documents),
block AS (SELECT unnest(['{bl}']) AS bhost),
j AS (
  SELECT p.doc_id, p.host, p.path, b.bhost
  FROM pages p LEFT JOIN block b ON p.host = b.bhost)
SELECT doc_id, 'https://' || host || path AS url,
       (bhost IS NOT NULL
        OR regexp_matches(path, '{"|".join(_BLOCK_KW)}')) AS blocked,
       CASE WHEN bhost IS NOT NULL THEN 'host'
            WHEN regexp_matches(path, '{"|".join(_BLOCK_KW)}') THEN 'path'
       END AS reason
FROM j ORDER BY doc_id
"""


# ------------------------------------------------------------ meta_robots
# <meta name="robots"> directive gate — the page-level complement to
# robots.txt (CCBot and every index pipeline honor noindex/nofollow at
# processing time, after the fetch).  The head fragment is synthesized
# closed-form per doc, the Spark side PARSES it generically with in-row
# regex (attribute order and casing vary, as in real markup), and the
# oracle re-derives the decision arithmetically — it never sees the
# markup, so a parser or precedence bug breaks the hash.  Zero shuffles
# beyond the presentation sort.
_META_ROBOTS = ["index,follow", "noindex", "nofollow", "noindex,nofollow",
                "none", None]


def meta_robots_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents_scan(spark, sf_dir).select("doc_id")
    did = F.col("doc_id").cast("string")
    pick = (_md5i_col(F.concat(F.lit("42:mrb:"), did)) % 6).cast("int")
    content = F.element_at(
        F.array(*[F.lit(c) for c in _META_ROBOTS]), pick + 1)
    # synthesized head: attribute ORDER flips on a second md5 bit and the
    # name attribute casing varies — the parser must handle both
    flip = _md5i_col(F.concat(F.lit("42:mro:"), did)) % 2 == 0
    name_attr = F.when(flip, F.lit('name="ROBOTS"')) \
                 .otherwise(F.lit('name="robots"'))
    tag = F.when(content.isNull(), F.lit("")).otherwise(
        F.when(flip,
               F.concat(F.lit('<meta content="'), content, F.lit('" '),
                        name_attr, F.lit("/>")))
         .otherwise(F.concat(F.lit("<meta "), name_attr,
                             F.lit(' content="'), content, F.lit('"/>'))))
    head = F.concat(F.lit("<head><title>d</title>"), tag, F.lit("</head>"))
    h = docs.select("doc_id", head.alias("head"))
    # generic parse: find the robots meta (either attribute order), pull
    # its content, lowercase, split on commas
    c1 = F.regexp_extract(
        F.col("head"),
        r'(?i)<meta\s+name="robots"\s+content="([^"]*)"', 1)
    c2 = F.regexp_extract(
        F.col("head"),
        r'(?i)<meta\s+content="([^"]*)"\s+name="robots"', 1)
    raw = F.when(c1 != "", c1).when(c2 != "", c2)
    toks = F.split(F.lower(raw), ",")
    noindex = F.array_contains(toks, "noindex") | \
        F.array_contains(toks, "none")
    nofollow = F.array_contains(toks, "nofollow") | \
        F.array_contains(toks, "none")
    return h.select(
        "doc_id",
        F.coalesce(F.lower(raw), F.lit("")).alias("robots_meta"),
        F.coalesce(~noindex, F.lit(True)).alias("indexable"),
        F.coalesce(~nofollow, F.lit(True)).alias("followable"))


def meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    return (meta_robots_decisions(spark, sf_dir)
            .transform(_ordered("doc_id")))


def _meta_robots_sql() -> str:
    cases = []
    for i, c in enumerate(_META_ROBOTS):
        if c is None:
            continue
        ni = "true" if ("noindex" in c or c == "none") else "false"
        nf = "true" if ("nofollow" in c or c == "none") else "false"
        cases.append(f"WHEN pick = {i} THEN ('{c}', {ni}, {nf})")
    return f"""
WITH m AS (
  SELECT doc_id,
         CAST({_robots_sql_md5i("'42:mrb:' || doc_id")} % 6 AS INTEGER)
           AS pick
  FROM documents),
d AS (
  SELECT doc_id,
         CASE {' '.join(cases)}
              ELSE ('', false, false) END AS t
  FROM m)
SELECT doc_id, t[1] AS robots_meta,
       NOT t[2] AS indexable, NOT t[3] AS followable
FROM d ORDER BY doc_id
"""


# ------------------------------------------------------------ web_keep
def web_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full end-to-end keep decision a Common-Crawl curation run
    materializes: the content gates (``corpus_keep`` = Gopher ∧ C4 ∧
    dedup-survivor ∧ decontaminated, eval split excluded) ANDed with the
    crawl-metadata gates — robots.txt allowance, URL blocklist, and the
    page's own meta-robots noindex directive.  Every input is the
    registered operator reused verbatim, so the oracle is the literal SQL
    composition of their oracles.  All joins key on doc_id (one
    co-partitioned shuffle family); at deployment the metadata gates come
    from crawl-time columns and this becomes a pure scan-side AND.

    Composes the UNORDERED decision relations, with the content gate
    routed through the shared per-(session, sf_dir) memo (see
    ``_corpus_keep_computed``): no component pays a presentation sort
    inside the composition, and a prior ``corpus_keep`` materialization
    in the same run is reused instead of recomputed.

    When a written decision table exists for this corpus snapshot
    (``materialize_web_decisions`` — run by ``jobs/curate_job.py`` at
    snapshot time), the whole query is a SCAN of it: the deployment
    shape at 100 TB, where the dedup chain is computed once per snapshot,
    never per query."""
    return (relation(spark, "web_decisions", sf_dir)
            .select("doc_id",
                    F.col("corpus_keep").alias("content_keep"), "allowed",
                    (~F.col("blocked")).alias("unblocked"), "indexable",
                    "web_keep")
            .orderBy("doc_id"))


def _web_keep_sql() -> str:
    return f"""
SELECT k.doc_id,
       k.corpus_keep AS content_keep,
       r.allowed,
       NOT b.blocked AS unblocked,
       m.indexable,
       (k.corpus_keep AND r.allowed AND NOT b.blocked AND m.indexable)
         AS web_keep
FROM ({_corpus_keep_sql()}) k
JOIN ({_robots_filter_sql()}) r USING (doc_id)
JOIN ({_url_blocklist_sql()}) b USING (doc_id)
JOIN ({_meta_robots_sql()}) m USING (doc_id)
ORDER BY doc_id
"""


def web_decisions_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-document decision relation, computed: content gates
    (``_corpus_keep_computed``) joined with the crawl-metadata gates.
    One row per non-eval document; every component column raw (blocked,
    not unblocked) so both ``web_keep`` and ``corpus_keep`` project from
    it."""
    ck = memo("corpus_keep_decisions", spark, sf_dir,
              lambda: _corpus_keep_computed(spark, sf_dir))
    rb = robots_decisions(spark, sf_dir).select("doc_id", "allowed")
    bl = url_blocklist_decisions(spark, sf_dir).select("doc_id", "blocked")
    mr = meta_robots_decisions(spark, sf_dir).select("doc_id", "indexable")
    return (ck.join(rb, "doc_id").join(bl, "doc_id").join(mr, "doc_id")
            .select("doc_id", "gopher_pass", "c4_pass", "dedup_kept",
                    "clean", "corpus_keep", "allowed", "blocked",
                    "indexable",
                    (F.col("corpus_keep") & F.col("allowed") &
                     ~F.col("blocked") & F.col("indexable"))
                    .alias("web_keep")))


def gate_columns_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document gate columns EXCLUDING the two corpus-global verdicts
    (dedup survivorship and decontamination) — the locally-computable
    decision components (Gopher, C4, robots, blocklist, meta-robots are
    each pure functions of one document).  The delta maintenance path
    (pipeline/incremental.py) computes these for the daily batch ONLY
    and recombines them with the merged dedup labels and decontamination
    postings; the coalesce/anchor semantics here must stay exactly those
    of ``_corpus_keep_computed`` (anchor covers every non-eval document;
    a gate that filtered a doc out left-joins to NULL and coalesces to a
    failing gate)."""
    from .training import _BENCH_MOD, repetition_quality_decisions
    anchor = read_documents(spark, sf_dir).select("doc_id")
    gopher = repetition_quality_decisions(spark, sf_dir).select(
        "doc_id", "gopher_pass")
    c4 = c4_line_decisions(spark, sf_dir).select("doc_id", "c4_pass")
    rb = robots_decisions(spark, sf_dir).select("doc_id", "allowed")
    bl = url_blocklist_decisions(spark, sf_dir).select("doc_id", "blocked")
    mr = meta_robots_decisions(spark, sf_dir).select("doc_id", "indexable")
    g = F.coalesce(F.col("gopher_pass"), F.lit(False))
    c = F.coalesce(F.col("c4_pass"), F.lit(False))
    return (anchor.join(c4, "doc_id", "left").join(gopher, "doc_id", "left")
            .join(rb, "doc_id").join(bl, "doc_id").join(mr, "doc_id")
            .filter(F.col("doc_id") % _BENCH_MOD != 0)
            .select("doc_id", g.alias("gopher_pass"), c.alias("c4_pass"),
                    "allowed", "blocked", "indexable"))


def materialize_web_decisions(spark: SparkSession, sf_dir: str) -> str:
    """Write the decision table for this corpus snapshot (idempotent: an
    existing complete table is left alone).  Returns the table path."""
    from ..pipeline.snapshot_cache import BY_NAME
    return BY_NAME["web_decisions"].build(spark, sf_dir)[0]


_FUNNEL_GATES = ("gopher", "c4", "dedup", "decontam", "robots",
                 "blocklist", "meta_robots")


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gate rejection funnel over the curation decision table — the
    data-quality rollup a deployment dashboard reads after every
    snapshot's curate run: for each gate in pipeline order, how many
    documents fail it outright and how many survive the cumulative
    composition up to and including it.  One scan (or one decision
    computation), ONE aggregation, then a 7-row ``stack`` unpivot — no
    joins, no second pass, any corpus size."""
    d = relation(spark, "web_decisions", sf_dir)
    conds = {
        "gopher": F.col("gopher_pass"), "c4": F.col("c4_pass"),
        "dedup": F.col("dedup_kept"), "decontam": F.col("clean"),
        "robots": F.col("allowed"), "blocklist": ~F.col("blocked"),
        "meta_robots": F.col("indexable"),
    }
    aggs, cum = [], F.lit(True)
    for name in _FUNNEL_GATES:
        aggs.append(F.sum((~conds[name]).cast("long")).alias(f"f_{name}"))
        cum = cum & conds[name]
        aggs.append(F.sum(cum.cast("long")).alias(f"s_{name}"))
    row = d.agg(*aggs)
    stack = "stack(7, " + ", ".join(
        f"{i + 1}, '{n}', f_{n}, s_{n}" for i, n in enumerate(_FUNNEL_GATES)
    ) + ") as (gate_ord, gate, n_fail, n_surviving)"
    return (row.selectExpr(stack)
            .select(F.col("gate_ord").cast("int").alias("gate_ord"),
                    "gate",
                    F.col("n_fail").cast("bigint").alias("n_fail"),
                    F.col("n_surviving").cast("bigint").alias("n_surviving"))
            .orderBy("gate_ord"))


def _curation_funnel_sql() -> str:
    conds = {
        "gopher": "gopher_pass", "c4": "c4_pass", "dedup": "dedup_kept",
        "decontam": "clean", "robots": "allowed",
        "blocklist": "NOT blocked", "meta_robots": "indexable",
    }
    # the oracle recomposes the decision relation from the component
    # oracles (same shape the Spark compute path uses)
    parts, cum = [], []
    for i, n in enumerate(_FUNNEL_GATES):
        cum.append(f"({conds[n]})")
        parts.append(
            f"SELECT {i + 1} AS gate_ord, '{n}' AS gate,\n"
            f"  CAST(sum(CASE WHEN NOT ({conds[n]}) THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_fail,\n"
            f"  CAST(sum(CASE WHEN {' AND '.join(cum)} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_surviving\nFROM rel")
    return f"""
WITH k AS ({_corpus_keep_sql()}),
w AS ({_web_keep_sql()}),
rel AS (
  SELECT k.doc_id, k.gopher_pass, k.c4_pass, k.dedup_kept, k.clean,
         w.allowed, NOT w.unblocked AS blocked, w.indexable
  FROM k JOIN w USING (doc_id))
{' UNION ALL '.join(parts)}
ORDER BY gate_ord
"""


# ------------------------------------------------------ boilerplate_strip
# Site-level template-paragraph removal (the CCNet / FineWeb step per-page
# readability cannot do: a paragraph that looks like content on ONE page
# is template junk when it appears on a third of the site's pages —
# cookie banners, newsletter CTAs, footer blurbs that survive DOM
# heuristics).  A paragraph is boilerplate iff it occurs in ≥ 30% of its
# site's documents (integer math: cnt·10 ≥ n_docs·3).
#
# Enrichment is closed-form: every doc's page is [site banner, body half
# 1, body half 2, rare promo (1 in 11, 5 variants/site)].  The banner is
# identical across the site → always stripped; body halves are unique →
# kept; promo variants sit ~2% → kept.  The ORACLE does not use that
# arithmetic — it recomputes the frequency gate relationally in DuckDB,
# so a body-half collision at some scale cannot desync the engines.
# Frequency = DISTINCT documents carrying the paragraph (intra-doc
# repeats count once, in both engines).
#
# Scale design: one (site, paragraph)-keyed map-side-combinable count,
# the per-site doc counts as a tiny broadcast dim, the boilerplate set
# LEFT ANTI-joined back on the same (site, paragraph) key (no second
# key scheme → co-partitioned with the count's shuffle output), and one
# per-doc re-aggregation with an in-row sorted reassembly.  No window,
# no skew: the hottest (site, para) key is the banner at |site| rows.
_BP_SITES = 16
_BP_FRAC_NUM, _BP_FRAC_DEN = 3, 10   # strip at ≥ 30% site frequency


def _bp_base(spark, sf_dir):
    """Doc-level relation with the paragraph-struct array still in-row
    (one row per document — the site doc counts aggregate this)."""
    d = (read_documents(spark, sf_dir)
         .filter(F.length(F.trim("text")) > 0)
         .select("doc_id",
                 F.split(F.regexp_replace(F.lower(F.trim("text")),
                                          r"\s+", " "), " ").alias("w")))
    did = F.col("doc_id").cast("string")
    site = F.concat(F.lit("site"),
                    (_md5i_col(F.concat(F.lit("42:bph:"), did))
                     % _BP_SITES).cast("string"))
    d = d.withColumn("site", site)
    k = "((size(w) + 1) div 2)"
    banner = "concat('subscribe to ', site, ' newsletter')"
    p1 = f"array_join(slice(w, 1, {k}), ' ')"
    p2 = f"array_join(slice(w, {k} + 1, size(w) - {k}), ' ')"
    has_promo = _md5i_col(F.concat(F.lit("42:bpb:"), did)) % 11 == 0
    promo = F.concat(F.lit("limited promo "), F.col("site"), F.lit(" "),
                     (_md5i_col(F.concat(F.lit("42:bpn:"), did)) % 5)
                     .cast("string"))
    paras = F.expr(
        f"filter(array(struct(0 AS idx, {banner} AS ptext),"
        f"             struct(1 AS idx, {p1} AS ptext),"
        f"             struct(2 AS idx, {p2} AS ptext),"
        f"             struct(3 AS idx, pr AS ptext)),"
        f"       s -> s.ptext IS NOT NULL AND s.ptext <> '')")
    return (d.withColumn("pr", F.when(has_promo, promo))
            .select("doc_id", "site", paras.alias("paras")))


def _bp_explode(base):
    return (base.select("doc_id", "site", F.explode("paras").alias("p"))
            .select("doc_id", "site", F.col("p.idx").alias("idx"),
                    F.col("p.ptext").alias("ptext")))


def _bp_paras(spark, sf_dir):
    return _bp_explode(_bp_base(spark, sf_dir))


def _site_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(site, ptext): paragraphs above the 30% site-frequency gate — the
    corpus-level boilerplate lexicon.  A curation deployment fits this
    once per snapshot (it is a pure function of the corpus) and strips
    against the frozen table."""
    base = _bp_base(spark, sf_dir)
    paras = _bp_explode(base)
    # DISTINCT documents per (site, paragraph) — a doc whose two body
    # halves coincide must count once, or a 6-doc site would strip a
    # paragraph seen in a single document (c=2 ≥ 6·0.3)
    freq = (paras.groupBy("site", "ptext")
            .agg(F.count_distinct("doc_id").alias("c")))
    sites = base.groupBy("site").agg(F.count(F.lit(1)).alias("n_docs"))
    return (freq.join(F.broadcast(sites), "site")
            .filter(F.col("c") * _BP_FRAC_DEN
                    >= F.col("n_docs") * _BP_FRAC_NUM)
            .select("site", "ptext"))


def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    paras = _bp_explode(_bp_base(spark, sf_dir))
    bp = relation(spark, "site_boilerplate", sf_dir)
    kept = paras.join(bp, ["site", "ptext"], "left_anti")
    return (kept.groupBy("doc_id", "site")
            .agg(F.count(F.lit(1)).cast("int").alias("n_kept"),
                 F.expr("array_join(transform("
                        "array_sort(collect_list(struct(idx, ptext))),"
                        " s -> s.ptext), '\n')").alias("kept_text"))
            .transform(_ordered("doc_id")))


def _boilerplate_strip_sql() -> str:
    md5i = _robots_sql_md5i
    return f"""
WITH d AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')
           AS w,
         'site' || CAST({md5i("'42:bph:' || doc_id")} % {_BP_SITES}
                        AS VARCHAR) AS site,
         {md5i("'42:bpb:' || doc_id")} % 11 = 0 AS has_promo,
         CAST({md5i("'42:bpn:' || doc_id")} % 5 AS VARCHAR) AS pvar
  FROM documents WHERE length(trim(text)) > 0),
paras AS (
  SELECT doc_id, site, u.idx AS idx, u.ptext AS ptext
  FROM (SELECT doc_id, site,
               unnest(list_filter(
                 [{{'idx': 0, 'ptext': 'subscribe to ' || site || ' newsletter'}},
                  {{'idx': 1, 'ptext': array_to_string(w[1:(len(w)+1)//2], ' ')}},
                  {{'idx': 2, 'ptext': array_to_string(w[(len(w)+1)//2+1:], ' ')}},
                  {{'idx': 3, 'ptext': CASE WHEN has_promo THEN
                      'limited promo ' || site || ' ' || pvar END}}],
                 s -> s.ptext IS NOT NULL AND s.ptext <> '')) AS u
        FROM d)),
freq AS (
  SELECT site, ptext, count(DISTINCT doc_id) AS c
  FROM paras GROUP BY site, ptext),
sites AS (
  SELECT site, count(*) AS n_docs FROM d GROUP BY site),
bp AS (
  SELECT site, ptext FROM freq JOIN sites USING (site)
  WHERE c * {_BP_FRAC_DEN} >= n_docs * {_BP_FRAC_NUM}),
kept AS (
  SELECT p.* FROM paras p ANTI JOIN bp b
  ON p.site = b.site AND p.ptext = b.ptext)
SELECT doc_id, site, CAST(count(*) AS INTEGER) AS n_kept,
       string_agg(ptext, chr(10) ORDER BY idx, ptext) AS kept_text
FROM kept GROUP BY doc_id, site ORDER BY doc_id
"""


# --------------------------------------------------------- url_templates
# URL-pattern mining (the crawl-trap detector every frontier runs: fold
# variable parts of the path — digit runs, long hex runs — into
# placeholders, count urls per (host, template), and flag the shapes
# that mark infinite url spaces: calendar paths and session-id urls).
# Enrichment is closed-form on the page-generator url scheme: docs with
# md5i(42:trap:doc) % 5 == 0 grow a /2024/{m}/{dd} calendar suffix,
# % 7 == 0 a ;jsessionid={16-hex} matrix param, % 3 == 0 a ?page={n}
# query — so the template census has every shape to find.
#
# Scale: template folding is two in-row regexp_replace passes (hex ≥ 8
# first, then digit runs); the census is ONE (host, template) map-side-
# combinable count.  No window, no join — at 10^12 urls this is a scan
# plus one bounded shuffle (|hosts|·|templates| keys).
_TRAP_MIN_D = 3   # ≥3 {d} segments ⇒ calendar-shaped url space

# Hex run of length ≥ 8 that contains AT LEAST ONE a-f letter (round-2
# ADVICE: a bare [0-9a-f]{8,} also swallowed pure-digit runs — large
# doc_ids, 8-digit dates — turning {d} segments into {hex} and silently
# undercounting calendar-trap digit segments).  No lookahead (DuckDB's
# RE2 has none): enumerate the position p ∈ 0..7+ of the FIRST letter
# with enough hex tail to reach total length 8; a greedy [0-9a-f]* then
# extends each alternative to the end of the run.  Pure-digit runs match
# no alternative and fall through to the [0-9]+ → {d} pass.
_HEX_RUN_RE = ("(?:[a-f][0-9a-f]{7}"
               "|[0-9][a-f][0-9a-f]{6}"
               "|[0-9]{2}[a-f][0-9a-f]{5}"
               "|[0-9]{3}[a-f][0-9a-f]{4}"
               "|[0-9]{4}[a-f][0-9a-f]{3}"
               "|[0-9]{5}[a-f][0-9a-f]{2}"
               "|[0-9]{6}[a-f][0-9a-f]"
               "|[0-9]{7}[0-9]*[a-f])[0-9a-f]*")


def url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    d = read_documents(spark, sf_dir).select("doc_id")
    did = F.col("doc_id").cast("string")
    md5i = _md5i_col
    sec = F.element_at(F.array(F.lit("news"), F.lit("blog"),
                               F.lit("docs"), F.lit("wiki")),
                       (md5i(F.concat(F.lit("42:sec:"), did)) % 4)
                       .cast("int") + 1)
    cal = F.when(md5i(F.concat(F.lit("42:trap:"), did)) % 5 == 0,
                 F.concat(F.lit("/2024/"),
                          (md5i(F.concat(F.lit("42:trm:"), did)) % 12 + 1)
                          .cast("string"),
                          F.lit("/"),
                          (md5i(F.concat(F.lit("42:trd:"), did)) % 28 + 1)
                          .cast("string"))).otherwise(F.lit(""))
    sess = F.when(md5i(F.concat(F.lit("42:sess:"), did)) % 7 == 0,
                  F.concat(F.lit(";jsessionid="),
                           F.substring(F.md5(F.concat(F.lit("42:sid:"),
                                                      did)), 1, 16))
                  ).otherwise(F.lit(""))
    page = F.when(md5i(F.concat(F.lit("42:page:"), did)) % 3 == 0,
                  F.concat(F.lit("?page="),
                           (md5i(F.concat(F.lit("42:pgn:"), did)) % 40 + 2)
                           .cast("string"))).otherwise(F.lit(""))
    path = F.concat(F.lit("/"), sec, F.lit("/"), did, cal, sess, page)
    tmpl = F.regexp_replace(
        F.regexp_replace(path, _HEX_RUN_RE, "{hex}"),
        r"[0-9]+", "{d}")
    t = d.select(_host_col().alias("host"), tmpl.alias("template"))
    n_d = F.size(F.split(F.col("template"), r"\{d\}")) - 1
    is_trap = (F.col("template").contains(";jsessionid={hex}")
               | F.col("template").contains(";jsessionid={d}")
               | (n_d >= _TRAP_MIN_D))
    return (t.groupBy("host", "template")
            .agg(F.count(F.lit(1)).cast("int").alias("n_urls"))
            .withColumn("is_trap", is_trap)
            .transform(_ordered("host", "template")))


def _url_templates_sql() -> str:
    md5i = _robots_sql_md5i
    return f"""
WITH u AS (
  SELECT doc_id,
         {_host_sql()} AS host,
         '/' || (['news','blog','docs','wiki'])[
             CAST({md5i("'42:sec:' || doc_id")} % 4 AS INTEGER) + 1]
         || '/' || doc_id
         || CASE WHEN {md5i("'42:trap:' || doc_id")} % 5 = 0 THEN
              '/2024/' || CAST({md5i("'42:trm:' || doc_id")} % 12 + 1
                               AS VARCHAR)
              || '/' || CAST({md5i("'42:trd:' || doc_id")} % 28 + 1
                             AS VARCHAR)
            ELSE '' END
         || CASE WHEN {md5i("'42:sess:' || doc_id")} % 7 = 0 THEN
              ';jsessionid=' || substr(md5('42:sid:' || doc_id), 1, 16)
            ELSE '' END
         || CASE WHEN {md5i("'42:page:' || doc_id")} % 3 = 0 THEN
              '?page=' || CAST({md5i("'42:pgn:' || doc_id")} % 40 + 2
                               AS VARCHAR)
            ELSE '' END AS path
  FROM documents),
t AS (
  SELECT host,
         regexp_replace(regexp_replace(path, '{_HEX_RUN_RE}', '{{hex}}',
                                       'g'),
                        '[0-9]+', '{{d}}', 'g') AS template
  FROM u)
SELECT host, template, CAST(count(*) AS INTEGER) AS n_urls,
       contains(template, ';jsessionid={{hex}}')
         OR contains(template, ';jsessionid={{d}}')
         OR len(string_split(template, '{{d}}')) - 1 >= {_TRAP_MIN_D}
         AS is_trap
FROM t GROUP BY host, template
ORDER BY host, template
"""


QUERIES = {
    "c4_line_filter": (c4_line_filter, C4_LINE_FILTER_SQL),
    "boilerplate_strip": (boilerplate_strip, _boilerplate_strip_sql()),
    "url_templates": (url_templates, _url_templates_sql()),
    "mirror_hosts": (mirror_hosts, _mirror_hosts_sql()),
    "url_blocklist": (url_blocklist, _url_blocklist_sql()),
    "meta_robots": (meta_robots, _meta_robots_sql()),
    "web_keep": (web_keep, _web_keep_sql()),
    "mojibake_repair": (mojibake_repair, MOJIBAKE_REPAIR_SQL),
    "nfc_normalize": (nfc_normalize, NFC_NORMALIZE_SQL),
    "pii_redact": (pii_redact, PII_REDACT_SQL),
    "paragraph_dedup": (paragraph_dedup, PARAGRAPH_DEDUP_SQL),
    "corpus_keep": (corpus_keep, _corpus_keep_sql()),
    "curation_funnel": (curation_funnel, _curation_funnel_sql()),
    "domain_cap": (domain_cap, DOMAIN_CAP_SQL),
    "robots_filter": (robots_filter, _robots_filter_sql()),
    "sitemap_coverage": (sitemap_coverage, _sitemap_coverage_sql()),
}
