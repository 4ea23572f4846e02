"""End-to-end HTML extraction queries with DuckDB oracles.

The flagship path (synthetic Common-Crawl pages → decode → readability →
html-text → sections → naive_merge chunks; reference
``deepdoc/parser/html_parser.py:30-50`` + ``rag/app/naive.py:435-476``) is
exercised over ``pages_from_documents``, whose every output-reaching choice
is md5-derived (``datagen/pages.py::doc_page_fields``).  That makes the
full pipeline output — url, title, per-chunk text and token counts —
relationally derivable from ``documents.parquet`` alone:

  * url / title words / paragraph widths: the DuckDB md5-int bridge
    ``('0x' || substr(md5(key),1,15))::BIGINT`` replays the generator;
  * paragraph text: window cumsum of md5 widths → word-range slices with
    comma injection at in-paragraph positions 5, 14, 23, …;
  * token counts: EXACT byte-level BPE (the engine's default counter)
    transcribed relationally — per-word piece costs evaluated through the
    real encoder at SQL-build time into VALUES relations
    (``sql_shared.bpe_cost``), ``+1`` per comma piece and final period
    (class-pure vocab: every punctuation byte is its own token, so the
    old ``,.``-fusion correction is exactly zero);
  * chunk packing: the close-late recursive CTE (one section per
    iteration), identical to the TXT template oracle;
  * book template: the bullet scan finds no category on this corpus, so
    packing equals naive_merge; the per-chunk token RECOUNT fuses the last
    title word with the first body word (sections concatenate without a
    separator), a closed-form cost delta on chunk 0;
  * one template: sections join with ``\\n``; ``.\\n`` fuses into the period
    piece (no delta) and the single title→body newline costs +1.

Validated by the simulator workflow (FIXTURES.md §6): a Python twin using
only SQL-expressible ops matches the real pipeline on every sf0.01 and
sf0.1 document before transcription to SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import ordered as _ordered

_SEED = 42
_DELIM = "\n!?。；！？"

# must mirror datagen/pages.py::_EN_WORDS exactly (39 words)
_EN_WORDS_SQL = ("['the','quick','brown','fox','jumps','over','lazy','dog',"
                 "'data','spark','engine','query','market','report','supply',"
                 "'demand','price','index','growth','policy','analysis',"
                 "'model','system','value','stream','batch','table','column',"
                 "'filter','merge','sort','window','network','science',"
                 "'research','public','record','history','culture']")


def _md5i(key_expr: str) -> str:
    """DuckDB twin of datagen/pages.py::_md5i (60-bit md5 prefix)."""
    return f"('0x' || substr(md5({key_expr}), 1, 15))::BIGINT"


def _pages(spark, sf_dir):
    from ..datagen.pages import pages_from_documents
    return pages_from_documents(spark, sf_dir, seed=_SEED)


def q_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.extract import extract_pages
    return (extract_pages(_pages(spark, sf_dir))
            .select("url", "lang", "status", "title", "n_sections",
                    "n_chunks", "n_tokens")
            .transform(_ordered("url")))


def q_extract_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.extract import chunks_table, extract_pages
    return (chunks_table(extract_pages(_pages(spark, sf_dir)))
            .select("url", "chunk_seq", "chunk_text", "token_cnt")
            .transform(_ordered("url", "chunk_seq")))


def q_extract_hostile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial-markup robustness, oracle-pinned to the CLEAN pages
    derivation: ``hostile_pages_from_documents`` wraps the same derivable
    title/paragraphs in hostile constructs (markup inside comments, CDATA
    script bodies, tables-in-tables link farms, definition-list navs,
    entity soup, inline SVG, mis-nested/unquoted/duplicate-attribute
    tags — see ``datagen/pages.py::hostile_page``), and the oracle is
    LITERALLY ``EXTRACT_PAGES_SQL``: under readability-0.8.1 semantics
    none of it may move a single output byte, so any parser wobble breaks
    the value hash."""
    from ..datagen.pages import hostile_pages_from_documents
    from ..operators.extract import extract_pages
    return (extract_pages(hostile_pages_from_documents(spark, sf_dir,
                                                       seed=_SEED))
            .select("url", "lang", "status", "title", "n_sections",
                    "n_chunks", "n_tokens")
            .transform(_ordered("url")))


def q_extract_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND extraction strategy (JusText/Boilerpipe-style link
    density + context promotion, ``html/density.py``) over the SAME clean
    pages, pinned to the SAME readability-derivation oracle
    (``EXTRACT_PAGES_SQL``): on this corpus the two public algorithms
    must agree byte-for-byte, so a wobble in either strategy — or any
    drift between them — breaks the value hash.  Where they genuinely
    differ (link-heavy long blocks, orphan shorts) is pinned by
    ``tests/test_html_density.py``."""
    from ..operators.extract import extract_pages
    return (extract_pages(_pages(spark, sf_dir), strategy="density")
            .select("url", "lang", "status", "title", "n_sections",
                    "n_chunks", "n_tokens")
            .transform(_ordered("url")))


def q_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl collapse then extraction: every url carries 1-3 captures
    (``captures_from_documents``); keep ONLY the newest before parsing.

    Plan shape at 10^12 pages: ``groupBy(url).agg(max_by(html, warc_ts))``
    is one keyed shuffle with map-side partial aggregation — each mapper
    forwards at most one candidate per url — and the EXPENSIVE stage (the
    Python extraction UDF) then runs on |urls| winners, not |captures|
    rows.  The window-function alternative (row_number over url ordered by
    warc_ts, filter rk=1) shuffles every capture AND sorts inside each
    partition before it can discard losers; max_by never materializes an
    ordering.  The oracle is the single-capture pages oracle plus the
    replayed capture count — byte parity proves no stale capture leaked
    through the collapse."""
    from ..datagen.pages import captures_from_documents
    from ..operators.extract import extract_pages
    caps = captures_from_documents(spark, sf_dir, seed=_SEED)
    from pyspark.sql import functions as F
    latest = (caps.groupBy("url")
              .agg(F.max_by(F.struct("warc_ts", "html", "text", "lang"),
                            "warc_ts").alias("s"))
              .select("url", "s.warc_ts", "s.html", "s.text", "s.lang"))
    # the count branch prunes to (url) — on a real parquet/Iceberg source
    # this scan never reads the html column
    n_caps = (caps.groupBy("url")
              .agg(F.count(F.lit(1)).alias("n_captures")))
    ext = extract_pages(latest)
    return (ext.join(n_caps, "url")
            .select("url", F.col("n_captures").cast("integer")
                    .alias("n_captures"),
                    "lang", "status", "title", "n_sections", "n_chunks",
                    "n_tokens")
            .transform(_ordered("url")))


def q_extract_book(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.extract import extract_pages
    return (extract_pages(_pages(spark, sf_dir), template="book")
            .select("url", "status", "n_chunks", "n_tokens")
            .transform(_ordered("url")))


def q_extract_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.extract import extract_pages
    return (extract_pages(_pages(spark, sf_dir), template="one")
            .select("url", "status", "n_chunks", "n_tokens")
            .transform(_ordered("url")))


# --------------------------------------------------------------- oracles

# shared derivation: documents → (meta, title, sections, close-late pack)
# exact-BPE cost relations, evaluated through the engine's own encoder at
# SQL-build time (sql_shared.bpe_cost): wc = body-word piece costs (bare /
# space-prefixed), tc = title-word costs (space + Capitalized)
_WC_CTE = "wc(w, bare_c, sp_c) AS (VALUES ('a', 1, 1), ('agg', 1, 1), ('batch', 1, 1), ('big', 2, 1), ('column', 1, 1), ('customer', 2, 1), ('data', 1, 1), ('dup', 1, 1), ('fast', 2, 1), ('filter', 1, 1), ('group', 1, 1), ('hash', 1, 1), ('join', 1, 1), ('key', 1, 1), ('line', 1, 1), ('merge', 1, 1), ('order', 1, 1), ('part', 1, 1), ('query', 1, 1), ('row', 1, 1), ('scan', 1, 1), ('slow', 2, 2), ('small', 1, 1), ('sort', 1, 1), ('spark', 1, 1), ('stream', 1, 1), ('table', 1, 1), ('the', 1, 1), ('value', 1, 1), ('vector', 1, 1), ('window', 1, 1), ('empty', 3, 1), ('document', 1, 1), ('body', 2, 1))"
_TC_CTE = "tc(w, cap_c) AS (VALUES ('the', 1), ('quick', 4), ('brown', 3), ('fox', 3), ('jumps', 4), ('over', 2), ('lazy', 4), ('dog', 3), ('data', 1), ('spark', 1), ('engine', 2), ('query', 1), ('market', 3), ('report', 2), ('supply', 3), ('demand', 3), ('price', 2), ('index', 1), ('growth', 3), ('policy', 4), ('analysis', 3), ('model', 4), ('system', 3), ('value', 1), ('stream', 2), ('batch', 1), ('table', 1), ('column', 1), ('filter', 1), ('merge', 2), ('sort', 1), ('window', 1), ('network', 3), ('science', 3), ('research', 4), ('public', 3), ('record', 3), ('history', 3), ('culture', 3))"

_PREFIX = rf"""
WITH RECURSIVE {_WC_CTE},
{_TC_CTE},
sized AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text)) > 0 THEN string_split(text, ' ')
              ELSE CAST([] AS VARCHAR[]) END AS l
  FROM documents),
docn AS (SELECT doc_id, lang, l, len(l) AS n FROM sized),
meta AS (
  SELECT doc_id, lang, n,
    'https://host' ||
      lpad(CAST({_md5i(f"'{_SEED}:url:' || doc_id")} % 500 AS VARCHAR),
           4, '0') ||
      '.example.' ||
      (['com','org','net','cn'])[
        CAST({_md5i(f"'{_SEED}:tld:' || doc_id")} % 4 AS INTEGER) + 1] ||
      '/' ||
      (['news','blog','docs','wiki'])[
        CAST({_md5i(f"'{_SEED}:sec:' || doc_id")} % 4 AS INTEGER) + 1] ||
      '/' || doc_id AS url,
    2 + {_md5i(f"'{_SEED}:ntw:' || doc_id")} % 4 AS ntw
  FROM docn),
titlew AS (
  SELECT m.doc_id, j,
         ({_EN_WORDS_SQL})[
           CAST({_md5i(f"'{_SEED}:tw:' || m.doc_id || ':' || j")} % 39
                AS INTEGER) + 1] AS w
  FROM meta m,
       LATERAL (SELECT unnest(generate_series(0, m.ntw - 1)) AS j) u),
title AS (
  SELECT t.doc_id,
         'Document ' || t.doc_id || ' ' ||
           string_agg(upper(substr(t.w, 1, 1)) || substr(t.w, 2), ' '
                      ORDER BY j) AS title,
         1 + 1
           + CAST(ceil(length(CAST(t.doc_id AS VARCHAR)) / 3.0) AS BIGINT)
           + sum(c.cap_c) AS tcost,
         arg_max(t.w, j) AS last_tw
  FROM titlew t JOIN tc c ON c.w = t.w GROUP BY t.doc_id),
pidx AS (
  SELECT doc_id, p,
         25 + {_md5i(f"'{_SEED}:k:' || doc_id || ':' || p")} % 36 AS k
  FROM docn,
       LATERAL (SELECT unnest(generate_series(
                  0, CAST(ceil(n / 25.0) AS BIGINT))) AS p) u
  WHERE n > 0),
poff AS (
  SELECT doc_id, p, k,
         1 + coalesce(sum(k) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM pidx),
pkept AS (
  SELECT o.doc_id, o.p, o.s, least(o.k, d.n - o.s + 1) AS keff
  FROM poff o JOIN docn d ON d.doc_id = o.doc_id
  WHERE o.s <= d.n),
words AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS wi FROM docn),
pwords AS (
  SELECT k.doc_id, k.p, w.wi - k.s AS j, w.w
  FROM pkept k JOIN words w
    ON w.doc_id = k.doc_id AND w.wi >= k.s AND w.wi < k.s + k.keff),
paras AS (
  SELECT pw.doc_id, pw.p,
    string_agg(pw.w || CASE WHEN pw.j >= 5 AND (pw.j - 5) % 9 = 0 THEN ','
                         ELSE '' END, ' ' ORDER BY pw.j) || '.' AS ptext,
    sum(CASE WHEN pw.j = 0 THEN c.bare_c ELSE c.sp_c END)
      + CASE WHEN max(pw.j) + 1 <= 5 THEN 0
             ELSE (max(pw.j) + 1 - 6) // 9 + 1 END
      + 1 AS pcost,
    arg_min(pw.w, pw.j) AS first_w
  FROM pwords pw JOIN wc c ON c.w = pw.w GROUP BY pw.doc_id, pw.p),
paras_all AS (
  SELECT doc_id, p, ptext, pcost, first_w FROM paras
  UNION ALL
  SELECT doc_id, 0, 'empty document body.', 6, 'empty'
  FROM docn WHERE n = 0),
sections AS (
  SELECT doc_id, 0 AS sec, title AS stext, tcost AS scost FROM title
  UNION ALL
  SELECT doc_id, p + 1, ptext, pcost FROM paras_all),
pack AS (
  SELECT doc_id, sec, stext, scost, 0 AS chunk_seq, scost AS run
  FROM sections WHERE sec = 0
  UNION ALL
  SELECT s.doc_id, s.sec, s.stext, s.scost,
         CASE WHEN p.run > 128 THEN p.chunk_seq + 1 ELSE p.chunk_seq END,
         CASE WHEN p.run > 128 THEN s.scost ELSE p.run + s.scost END
  FROM pack p JOIN sections s
    ON s.doc_id = p.doc_id AND s.sec = p.sec + 1),
perdoc AS (
  SELECT doc_id, count(*) AS n_sections, sum(scost) AS tot,
         max(chunk_seq) + 1 AS n_chunks
  FROM pack GROUP BY doc_id)
"""

EXTRACT_PAGES_SQL = _PREFIX + """
SELECT m.url, m.lang, 'ok' AS status, t.title,
       CAST(d.n_sections AS INTEGER) AS n_sections,
       CAST(d.n_chunks AS INTEGER) AS n_chunks,
       CAST(d.tot AS INTEGER) AS n_tokens
FROM perdoc d
JOIN meta m USING (doc_id)
JOIN title t USING (doc_id)
ORDER BY m.url
"""

EXTRACT_CHUNKS_SQL = _PREFIX + """
, chunks AS (
  SELECT doc_id, chunk_seq,
         string_agg(stext, '' ORDER BY sec) AS chunk_text,
         sum(scost) AS token_cnt
  FROM pack GROUP BY doc_id, chunk_seq)
SELECT m.url, CAST(c.chunk_seq AS INTEGER) AS chunk_seq, c.chunk_text,
       CAST(c.token_cnt AS INTEGER) AS token_cnt
FROM chunks c JOIN meta m USING (doc_id)
ORDER BY m.url, c.chunk_seq
"""

# book: packing identical (no bullet category fires on this corpus); the
# per-chunk recount fuses ' LastTitleword' + 'firstbodyword' into ONE letter
# piece on chunk 0 — an exact-BPE lookup (fc).  Every later in-chunk
# boundary fuses '.' onto a bare word: 1 + bare(word) under the class-pure
# vocab, i.e. a zero delta.
EXTRACT_BOOK_SQL = _PREFIX + f"""
, firstw AS (
  SELECT doc_id, arg_min(first_w, p) AS first_w FROM paras_all
  GROUP BY doc_id),
fc(tw, fw, c) AS (VALUES
    ('the', 'a', 2), ('the', 'agg', 2), ('the', 'batch', 2), ('the', 'big', 3), ('the', 'column', 2), ('the', 'customer', 3), ('the', 'data', 3), ('the', 'dup', 2), ('the', 'fast', 3), ('the', 'filter', 2), ('the', 'group', 2), ('the', 'hash', 2), ('the', 'join', 2), ('the', 'key', 2), ('the', 'line', 2), ('the', 'merge', 2), ('the', 'order', 2), ('the', 'part', 2), ('the', 'query', 2), ('the', 'row', 3), ('the', 'scan', 2), ('the', 'slow', 3), ('the', 'small', 2), ('the', 'sort', 2), ('the', 'spark', 2), ('the', 'stream', 2), ('the', 'table', 2), ('the', 'the', 2), ('the', 'value', 2), ('the', 'vector', 2), ('the', 'window', 2), ('the', 'empty', 4),
    ('quick', 'a', 5), ('quick', 'agg', 5), ('quick', 'batch', 5), ('quick', 'big', 6), ('quick', 'column', 5), ('quick', 'customer', 6), ('quick', 'data', 5), ('quick', 'dup', 5), ('quick', 'fast', 6), ('quick', 'filter', 5), ('quick', 'group', 5), ('quick', 'hash', 5), ('quick', 'join', 5), ('quick', 'key', 5), ('quick', 'line', 5), ('quick', 'merge', 5), ('quick', 'order', 5), ('quick', 'part', 5), ('quick', 'query', 5), ('quick', 'row', 5), ('quick', 'scan', 5), ('quick', 'slow', 6), ('quick', 'small', 5), ('quick', 'sort', 5), ('quick', 'spark', 5), ('quick', 'stream', 5), ('quick', 'table', 5), ('quick', 'the', 5), ('quick', 'value', 5), ('quick', 'vector', 5), ('quick', 'window', 5), ('quick', 'empty', 6),
    ('brown', 'a', 3), ('brown', 'agg', 4), ('brown', 'batch', 4), ('brown', 'big', 5), ('brown', 'column', 4), ('brown', 'customer', 5), ('brown', 'data', 4), ('brown', 'dup', 4), ('brown', 'fast', 5), ('brown', 'filter', 4), ('brown', 'group', 4), ('brown', 'hash', 4), ('brown', 'join', 4), ('brown', 'key', 4), ('brown', 'line', 4), ('brown', 'merge', 4), ('brown', 'order', 4), ('brown', 'part', 4), ('brown', 'query', 4), ('brown', 'row', 4), ('brown', 'scan', 4), ('brown', 'slow', 5), ('brown', 'small', 4), ('brown', 'sort', 4), ('brown', 'spark', 4), ('brown', 'stream', 4), ('brown', 'table', 4), ('brown', 'the', 4), ('brown', 'value', 4), ('brown', 'vector', 4), ('brown', 'window', 4), ('brown', 'empty', 5),
    ('fox', 'a', 4), ('fox', 'agg', 4), ('fox', 'batch', 4), ('fox', 'big', 5), ('fox', 'column', 4), ('fox', 'customer', 5), ('fox', 'data', 4), ('fox', 'dup', 4), ('fox', 'fast', 5), ('fox', 'filter', 4), ('fox', 'group', 4), ('fox', 'hash', 4), ('fox', 'join', 4), ('fox', 'key', 4), ('fox', 'line', 4), ('fox', 'merge', 4), ('fox', 'order', 4), ('fox', 'part', 4), ('fox', 'query', 4), ('fox', 'row', 4), ('fox', 'scan', 4), ('fox', 'slow', 5), ('fox', 'small', 4), ('fox', 'sort', 4), ('fox', 'spark', 4), ('fox', 'stream', 4), ('fox', 'table', 4), ('fox', 'the', 4), ('fox', 'value', 4), ('fox', 'vector', 4), ('fox', 'window', 4), ('fox', 'empty', 5),
    ('jumps', 'a', 5), ('jumps', 'agg', 5), ('jumps', 'batch', 5), ('jumps', 'big', 6), ('jumps', 'column', 5), ('jumps', 'customer', 6), ('jumps', 'data', 5), ('jumps', 'dup', 5), ('jumps', 'fast', 6), ('jumps', 'filter', 5), ('jumps', 'group', 5), ('jumps', 'hash', 5), ('jumps', 'join', 5), ('jumps', 'key', 5), ('jumps', 'line', 5), ('jumps', 'merge', 5), ('jumps', 'order', 5), ('jumps', 'part', 5), ('jumps', 'query', 5), ('jumps', 'row', 5), ('jumps', 'scan', 5), ('jumps', 'slow', 5), ('jumps', 'small', 5), ('jumps', 'sort', 5), ('jumps', 'spark', 5), ('jumps', 'stream', 5), ('jumps', 'table', 4), ('jumps', 'the', 5), ('jumps', 'value', 6), ('jumps', 'vector', 5), ('jumps', 'window', 5), ('jumps', 'empty', 6),
    ('over', 'a', 3), ('over', 'agg', 3), ('over', 'batch', 3), ('over', 'big', 4), ('over', 'column', 3), ('over', 'customer', 4), ('over', 'data', 3), ('over', 'dup', 3), ('over', 'fast', 4), ('over', 'filter', 3), ('over', 'group', 3), ('over', 'hash', 3), ('over', 'join', 3), ('over', 'key', 3), ('over', 'line', 3), ('over', 'merge', 3), ('over', 'order', 3), ('over', 'part', 3), ('over', 'query', 3), ('over', 'row', 3), ('over', 'scan', 3), ('over', 'slow', 3), ('over', 'small', 3), ('over', 'sort', 3), ('over', 'spark', 3), ('over', 'stream', 3), ('over', 'table', 3), ('over', 'the', 3), ('over', 'value', 3), ('over', 'vector', 3), ('over', 'window', 3), ('over', 'empty', 5),
    ('lazy', 'a', 5), ('lazy', 'agg', 5), ('lazy', 'batch', 5), ('lazy', 'big', 6), ('lazy', 'column', 5), ('lazy', 'customer', 6), ('lazy', 'data', 5), ('lazy', 'dup', 5), ('lazy', 'fast', 6), ('lazy', 'filter', 5), ('lazy', 'group', 5), ('lazy', 'hash', 5), ('lazy', 'join', 5), ('lazy', 'key', 5), ('lazy', 'line', 5), ('lazy', 'merge', 5), ('lazy', 'order', 5), ('lazy', 'part', 5), ('lazy', 'query', 5), ('lazy', 'row', 5), ('lazy', 'scan', 5), ('lazy', 'slow', 6), ('lazy', 'small', 5), ('lazy', 'sort', 5), ('lazy', 'spark', 5), ('lazy', 'stream', 5), ('lazy', 'table', 5), ('lazy', 'the', 5), ('lazy', 'value', 5), ('lazy', 'vector', 5), ('lazy', 'window', 5), ('lazy', 'empty', 7),
    ('dog', 'a', 4), ('dog', 'agg', 4), ('dog', 'batch', 4), ('dog', 'big', 4), ('dog', 'column', 4), ('dog', 'customer', 5), ('dog', 'data', 4), ('dog', 'dup', 4), ('dog', 'fast', 5), ('dog', 'filter', 4), ('dog', 'group', 4), ('dog', 'hash', 4), ('dog', 'join', 4), ('dog', 'key', 4), ('dog', 'line', 4), ('dog', 'merge', 4), ('dog', 'order', 4), ('dog', 'part', 4), ('dog', 'query', 4), ('dog', 'row', 4), ('dog', 'scan', 4), ('dog', 'slow', 5), ('dog', 'small', 4), ('dog', 'sort', 4), ('dog', 'spark', 4), ('dog', 'stream', 4), ('dog', 'table', 4), ('dog', 'the', 4), ('dog', 'value', 4), ('dog', 'vector', 4), ('dog', 'window', 4), ('dog', 'empty', 5),
    ('data', 'a', 2), ('data', 'agg', 2), ('data', 'batch', 4), ('data', 'big', 4), ('data', 'column', 5), ('data', 'customer', 5), ('data', 'data', 3), ('data', 'dup', 4), ('data', 'fast', 3), ('data', 'filter', 2), ('data', 'group', 4), ('data', 'hash', 2), ('data', 'join', 2), ('data', 'key', 2), ('data', 'line', 4), ('data', 'merge', 4), ('data', 'order', 2), ('data', 'part', 5), ('data', 'query', 2), ('data', 'row', 4), ('data', 'scan', 4), ('data', 'slow', 4), ('data', 'small', 4), ('data', 'sort', 4), ('data', 'spark', 4), ('data', 'stream', 2), ('data', 'table', 4), ('data', 'the', 4), ('data', 'value', 2), ('data', 'vector', 2), ('data', 'window', 2), ('data', 'empty', 4),
    ('spark', 'a', 2), ('spark', 'agg', 2), ('spark', 'batch', 2), ('spark', 'big', 3), ('spark', 'column', 2), ('spark', 'customer', 3), ('spark', 'data', 2), ('spark', 'dup', 2), ('spark', 'fast', 3), ('spark', 'filter', 2), ('spark', 'group', 2), ('spark', 'hash', 2), ('spark', 'join', 2), ('spark', 'key', 2), ('spark', 'line', 2), ('spark', 'merge', 2), ('spark', 'order', 2), ('spark', 'part', 2), ('spark', 'query', 2), ('spark', 'row', 2), ('spark', 'scan', 2), ('spark', 'slow', 3), ('spark', 'small', 2), ('spark', 'sort', 2), ('spark', 'spark', 2), ('spark', 'stream', 2), ('spark', 'table', 2), ('spark', 'the', 2), ('spark', 'value', 2), ('spark', 'vector', 2), ('spark', 'window', 2), ('spark', 'empty', 5),
    ('engine', 'a', 3), ('engine', 'agg', 3), ('engine', 'batch', 3), ('engine', 'big', 4), ('engine', 'column', 5), ('engine', 'customer', 5), ('engine', 'data', 4), ('engine', 'dup', 3), ('engine', 'fast', 4), ('engine', 'filter', 3), ('engine', 'group', 3), ('engine', 'hash', 3), ('engine', 'join', 3), ('engine', 'key', 3), ('engine', 'line', 3), ('engine', 'merge', 3), ('engine', 'order', 3), ('engine', 'part', 3), ('engine', 'query', 3), ('engine', 'row', 4), ('engine', 'scan', 3), ('engine', 'slow', 3), ('engine', 'small', 3), ('engine', 'sort', 3), ('engine', 'spark', 3), ('engine', 'stream', 4), ('engine', 'table', 4), ('engine', 'the', 4), ('engine', 'value', 4), ('engine', 'vector', 4), ('engine', 'window', 3), ('engine', 'empty', 5),
    ('query', 'a', 2), ('query', 'agg', 2), ('query', 'batch', 2), ('query', 'big', 3), ('query', 'column', 2), ('query', 'customer', 3), ('query', 'data', 2), ('query', 'dup', 2), ('query', 'fast', 3), ('query', 'filter', 2), ('query', 'group', 2), ('query', 'hash', 2), ('query', 'join', 2), ('query', 'key', 2), ('query', 'line', 2), ('query', 'merge', 2), ('query', 'order', 2), ('query', 'part', 2), ('query', 'query', 2), ('query', 'row', 2), ('query', 'scan', 2), ('query', 'slow', 3), ('query', 'small', 2), ('query', 'sort', 2), ('query', 'spark', 2), ('query', 'stream', 2), ('query', 'table', 2), ('query', 'the', 2), ('query', 'value', 2), ('query', 'vector', 2), ('query', 'window', 2), ('query', 'empty', 4),
    ('market', 'a', 3), ('market', 'agg', 4), ('market', 'batch', 4), ('market', 'big', 5), ('market', 'column', 4), ('market', 'customer', 5), ('market', 'data', 4), ('market', 'dup', 4), ('market', 'fast', 5), ('market', 'filter', 4), ('market', 'group', 4), ('market', 'hash', 4), ('market', 'join', 4), ('market', 'key', 4), ('market', 'line', 4), ('market', 'merge', 4), ('market', 'order', 4), ('market', 'part', 4), ('market', 'query', 4), ('market', 'row', 4), ('market', 'scan', 4), ('market', 'slow', 5), ('market', 'small', 4), ('market', 'sort', 4), ('market', 'spark', 4), ('market', 'stream', 4), ('market', 'table', 4), ('market', 'the', 4), ('market', 'value', 4), ('market', 'vector', 4), ('market', 'window', 4), ('market', 'empty', 6),
    ('report', 'a', 3), ('report', 'agg', 3), ('report', 'batch', 3), ('report', 'big', 4), ('report', 'column', 3), ('report', 'customer', 4), ('report', 'data', 3), ('report', 'dup', 3), ('report', 'fast', 4), ('report', 'filter', 3), ('report', 'group', 3), ('report', 'hash', 3), ('report', 'join', 3), ('report', 'key', 3), ('report', 'line', 3), ('report', 'merge', 3), ('report', 'order', 3), ('report', 'part', 3), ('report', 'query', 3), ('report', 'row', 3), ('report', 'scan', 3), ('report', 'slow', 3), ('report', 'small', 3), ('report', 'sort', 3), ('report', 'spark', 3), ('report', 'stream', 3), ('report', 'table', 3), ('report', 'the', 3), ('report', 'value', 3), ('report', 'vector', 3), ('report', 'window', 3), ('report', 'empty', 5),
    ('supply', 'a', 4), ('supply', 'agg', 4), ('supply', 'batch', 4), ('supply', 'big', 5), ('supply', 'column', 4), ('supply', 'customer', 5), ('supply', 'data', 4), ('supply', 'dup', 4), ('supply', 'fast', 5), ('supply', 'filter', 4), ('supply', 'group', 4), ('supply', 'hash', 4), ('supply', 'join', 4), ('supply', 'key', 4), ('supply', 'line', 4), ('supply', 'merge', 4), ('supply', 'order', 4), ('supply', 'part', 4), ('supply', 'query', 4), ('supply', 'row', 4), ('supply', 'scan', 4), ('supply', 'slow', 5), ('supply', 'small', 4), ('supply', 'sort', 4), ('supply', 'spark', 4), ('supply', 'stream', 4), ('supply', 'table', 4), ('supply', 'the', 4), ('supply', 'value', 4), ('supply', 'vector', 4), ('supply', 'window', 4), ('supply', 'empty', 6),
    ('demand', 'a', 4), ('demand', 'agg', 4), ('demand', 'batch', 4), ('demand', 'big', 5), ('demand', 'column', 4), ('demand', 'customer', 5), ('demand', 'data', 4), ('demand', 'dup', 4), ('demand', 'fast', 5), ('demand', 'filter', 4), ('demand', 'group', 4), ('demand', 'hash', 4), ('demand', 'join', 4), ('demand', 'key', 4), ('demand', 'line', 4), ('demand', 'merge', 4), ('demand', 'order', 4), ('demand', 'part', 4), ('demand', 'query', 4), ('demand', 'row', 4), ('demand', 'scan', 4), ('demand', 'slow', 4), ('demand', 'small', 4), ('demand', 'sort', 4), ('demand', 'spark', 4), ('demand', 'stream', 4), ('demand', 'table', 4), ('demand', 'the', 4), ('demand', 'value', 4), ('demand', 'vector', 4), ('demand', 'window', 4), ('demand', 'empty', 5),
    ('price', 'a', 3), ('price', 'agg', 3), ('price', 'batch', 3), ('price', 'big', 4), ('price', 'column', 5), ('price', 'customer', 5), ('price', 'data', 4), ('price', 'dup', 3), ('price', 'fast', 4), ('price', 'filter', 3), ('price', 'group', 3), ('price', 'hash', 3), ('price', 'join', 3), ('price', 'key', 3), ('price', 'line', 3), ('price', 'merge', 3), ('price', 'order', 3), ('price', 'part', 3), ('price', 'query', 3), ('price', 'row', 4), ('price', 'scan', 4), ('price', 'slow', 4), ('price', 'small', 4), ('price', 'sort', 4), ('price', 'spark', 4), ('price', 'stream', 3), ('price', 'table', 4), ('price', 'the', 4), ('price', 'value', 3), ('price', 'vector', 3), ('price', 'window', 3), ('price', 'empty', 5),
    ('index', 'a', 2), ('index', 'agg', 2), ('index', 'batch', 2), ('index', 'big', 3), ('index', 'column', 2), ('index', 'customer', 3), ('index', 'data', 2), ('index', 'dup', 2), ('index', 'fast', 3), ('index', 'filter', 2), ('index', 'group', 2), ('index', 'hash', 2), ('index', 'join', 2), ('index', 'key', 2), ('index', 'line', 2), ('index', 'merge', 2), ('index', 'order', 2), ('index', 'part', 2), ('index', 'query', 2), ('index', 'row', 2), ('index', 'scan', 2), ('index', 'slow', 3), ('index', 'small', 2), ('index', 'sort', 2), ('index', 'spark', 2), ('index', 'stream', 2), ('index', 'table', 4), ('index', 'the', 4), ('index', 'value', 2), ('index', 'vector', 2), ('index', 'window', 2), ('index', 'empty', 4),
    ('growth', 'a', 4), ('growth', 'agg', 4), ('growth', 'batch', 4), ('growth', 'big', 5), ('growth', 'column', 4), ('growth', 'customer', 5), ('growth', 'data', 4), ('growth', 'dup', 4), ('growth', 'fast', 5), ('growth', 'filter', 4), ('growth', 'group', 4), ('growth', 'hash', 4), ('growth', 'join', 4), ('growth', 'key', 4), ('growth', 'line', 4), ('growth', 'merge', 4), ('growth', 'order', 4), ('growth', 'part', 4), ('growth', 'query', 4), ('growth', 'row', 4), ('growth', 'scan', 4), ('growth', 'slow', 5), ('growth', 'small', 4), ('growth', 'sort', 4), ('growth', 'spark', 4), ('growth', 'stream', 4), ('growth', 'table', 4), ('growth', 'the', 4), ('growth', 'value', 4), ('growth', 'vector', 4), ('growth', 'window', 4), ('growth', 'empty', 5),
    ('policy', 'a', 5), ('policy', 'agg', 5), ('policy', 'batch', 5), ('policy', 'big', 6), ('policy', 'column', 5), ('policy', 'customer', 6), ('policy', 'data', 5), ('policy', 'dup', 5), ('policy', 'fast', 6), ('policy', 'filter', 5), ('policy', 'group', 5), ('policy', 'hash', 5), ('policy', 'join', 5), ('policy', 'key', 5), ('policy', 'line', 5), ('policy', 'merge', 5), ('policy', 'order', 5), ('policy', 'part', 5), ('policy', 'query', 5), ('policy', 'row', 5), ('policy', 'scan', 5), ('policy', 'slow', 6), ('policy', 'small', 5), ('policy', 'sort', 5), ('policy', 'spark', 5), ('policy', 'stream', 5), ('policy', 'table', 5), ('policy', 'the', 5), ('policy', 'value', 5), ('policy', 'vector', 5), ('policy', 'window', 5), ('policy', 'empty', 7),
    ('analysis', 'a', 4), ('analysis', 'agg', 4), ('analysis', 'batch', 4), ('analysis', 'big', 5), ('analysis', 'column', 4), ('analysis', 'customer', 5), ('analysis', 'data', 4), ('analysis', 'dup', 4), ('analysis', 'fast', 5), ('analysis', 'filter', 4), ('analysis', 'group', 4), ('analysis', 'hash', 4), ('analysis', 'join', 4), ('analysis', 'key', 4), ('analysis', 'line', 4), ('analysis', 'merge', 4), ('analysis', 'order', 4), ('analysis', 'part', 4), ('analysis', 'query', 4), ('analysis', 'row', 4), ('analysis', 'scan', 4), ('analysis', 'slow', 5), ('analysis', 'small', 4), ('analysis', 'sort', 4), ('analysis', 'spark', 4), ('analysis', 'stream', 4), ('analysis', 'table', 4), ('analysis', 'the', 5), ('analysis', 'value', 4), ('analysis', 'vector', 4), ('analysis', 'window', 4), ('analysis', 'empty', 6),
    ('model', 'a', 4), ('model', 'agg', 5), ('model', 'batch', 5), ('model', 'big', 6), ('model', 'column', 5), ('model', 'customer', 6), ('model', 'data', 5), ('model', 'dup', 5), ('model', 'fast', 6), ('model', 'filter', 5), ('model', 'group', 5), ('model', 'hash', 5), ('model', 'join', 5), ('model', 'key', 5), ('model', 'line', 5), ('model', 'merge', 5), ('model', 'order', 5), ('model', 'part', 5), ('model', 'query', 5), ('model', 'row', 5), ('model', 'scan', 5), ('model', 'slow', 5), ('model', 'small', 5), ('model', 'sort', 5), ('model', 'spark', 5), ('model', 'stream', 5), ('model', 'table', 5), ('model', 'the', 5), ('model', 'value', 5), ('model', 'vector', 5), ('model', 'window', 5), ('model', 'empty', 6),
    ('system', 'a', 4), ('system', 'agg', 4), ('system', 'batch', 5), ('system', 'big', 5), ('system', 'column', 4), ('system', 'customer', 5), ('system', 'data', 5), ('system', 'dup', 5), ('system', 'fast', 5), ('system', 'filter', 4), ('system', 'group', 4), ('system', 'hash', 4), ('system', 'join', 4), ('system', 'key', 4), ('system', 'line', 4), ('system', 'merge', 4), ('system', 'order', 4), ('system', 'part', 4), ('system', 'query', 4), ('system', 'row', 4), ('system', 'scan', 5), ('system', 'slow', 5), ('system', 'small', 4), ('system', 'sort', 4), ('system', 'spark', 4), ('system', 'stream', 4), ('system', 'table', 4), ('system', 'the', 4), ('system', 'value', 4), ('system', 'vector', 4), ('system', 'window', 4), ('system', 'empty', 6),
    ('value', 'a', 2), ('value', 'agg', 2), ('value', 'batch', 2), ('value', 'big', 3), ('value', 'column', 5), ('value', 'customer', 5), ('value', 'data', 4), ('value', 'dup', 3), ('value', 'fast', 3), ('value', 'filter', 2), ('value', 'group', 2), ('value', 'hash', 2), ('value', 'join', 2), ('value', 'key', 2), ('value', 'line', 2), ('value', 'merge', 2), ('value', 'order', 2), ('value', 'part', 2), ('value', 'query', 2), ('value', 'row', 4), ('value', 'scan', 3), ('value', 'slow', 3), ('value', 'small', 3), ('value', 'sort', 3), ('value', 'spark', 3), ('value', 'stream', 4), ('value', 'table', 4), ('value', 'the', 4), ('value', 'value', 4), ('value', 'vector', 4), ('value', 'window', 2), ('value', 'empty', 4),
    ('stream', 'a', 3), ('stream', 'agg', 3), ('stream', 'batch', 3), ('stream', 'big', 4), ('stream', 'column', 3), ('stream', 'customer', 4), ('stream', 'data', 3), ('stream', 'dup', 3), ('stream', 'fast', 4), ('stream', 'filter', 3), ('stream', 'group', 3), ('stream', 'hash', 3), ('stream', 'join', 3), ('stream', 'key', 3), ('stream', 'line', 3), ('stream', 'merge', 3), ('stream', 'order', 3), ('stream', 'part', 3), ('stream', 'query', 3), ('stream', 'row', 3), ('stream', 'scan', 3), ('stream', 'slow', 4), ('stream', 'small', 3), ('stream', 'sort', 3), ('stream', 'spark', 3), ('stream', 'stream', 3), ('stream', 'table', 3), ('stream', 'the', 3), ('stream', 'value', 3), ('stream', 'vector', 3), ('stream', 'window', 3), ('stream', 'empty', 5),
    ('batch', 'a', 2), ('batch', 'agg', 2), ('batch', 'batch', 2), ('batch', 'big', 3), ('batch', 'column', 2), ('batch', 'customer', 3), ('batch', 'data', 2), ('batch', 'dup', 2), ('batch', 'fast', 3), ('batch', 'filter', 2), ('batch', 'group', 2), ('batch', 'hash', 2), ('batch', 'join', 2), ('batch', 'key', 2), ('batch', 'line', 2), ('batch', 'merge', 2), ('batch', 'order', 2), ('batch', 'part', 2), ('batch', 'query', 2), ('batch', 'row', 2), ('batch', 'scan', 2), ('batch', 'slow', 3), ('batch', 'small', 2), ('batch', 'sort', 2), ('batch', 'spark', 2), ('batch', 'stream', 2), ('batch', 'table', 2), ('batch', 'the', 2), ('batch', 'value', 2), ('batch', 'vector', 2), ('batch', 'window', 2), ('batch', 'empty', 6),
    ('table', 'a', 2), ('table', 'agg', 2), ('table', 'batch', 2), ('table', 'big', 3), ('table', 'column', 2), ('table', 'customer', 3), ('table', 'data', 2), ('table', 'dup', 2), ('table', 'fast', 3), ('table', 'filter', 2), ('table', 'group', 2), ('table', 'hash', 2), ('table', 'join', 2), ('table', 'key', 2), ('table', 'line', 2), ('table', 'merge', 2), ('table', 'order', 2), ('table', 'part', 2), ('table', 'query', 2), ('table', 'row', 5), ('table', 'scan', 2), ('table', 'slow', 3), ('table', 'small', 2), ('table', 'sort', 2), ('table', 'spark', 2), ('table', 'stream', 2), ('table', 'table', 2), ('table', 'the', 2), ('table', 'value', 2), ('table', 'vector', 2), ('table', 'window', 2), ('table', 'empty', 4),
    ('column', 'a', 2), ('column', 'agg', 2), ('column', 'batch', 2), ('column', 'big', 3), ('column', 'column', 2), ('column', 'customer', 3), ('column', 'data', 2), ('column', 'dup', 2), ('column', 'fast', 3), ('column', 'filter', 2), ('column', 'group', 2), ('column', 'hash', 2), ('column', 'join', 2), ('column', 'key', 2), ('column', 'line', 2), ('column', 'merge', 2), ('column', 'order', 2), ('column', 'part', 2), ('column', 'query', 2), ('column', 'row', 2), ('column', 'scan', 2), ('column', 'slow', 3), ('column', 'small', 2), ('column', 'sort', 2), ('column', 'spark', 2), ('column', 'stream', 2), ('column', 'table', 4), ('column', 'the', 4), ('column', 'value', 2), ('column', 'vector', 2), ('column', 'window', 2), ('column', 'empty', 4),
    ('filter', 'a', 2), ('filter', 'agg', 2), ('filter', 'batch', 2), ('filter', 'big', 3), ('filter', 'column', 2), ('filter', 'customer', 3), ('filter', 'data', 2), ('filter', 'dup', 2), ('filter', 'fast', 3), ('filter', 'filter', 2), ('filter', 'group', 2), ('filter', 'hash', 2), ('filter', 'join', 2), ('filter', 'key', 2), ('filter', 'line', 2), ('filter', 'merge', 2), ('filter', 'order', 2), ('filter', 'part', 2), ('filter', 'query', 2), ('filter', 'row', 2), ('filter', 'scan', 2), ('filter', 'slow', 3), ('filter', 'small', 2), ('filter', 'sort', 2), ('filter', 'spark', 2), ('filter', 'stream', 2), ('filter', 'table', 2), ('filter', 'the', 2), ('filter', 'value', 2), ('filter', 'vector', 2), ('filter', 'window', 2), ('filter', 'empty', 4),
    ('merge', 'a', 3), ('merge', 'agg', 3), ('merge', 'batch', 3), ('merge', 'big', 4), ('merge', 'column', 5), ('merge', 'customer', 5), ('merge', 'data', 4), ('merge', 'dup', 3), ('merge', 'fast', 4), ('merge', 'filter', 3), ('merge', 'group', 3), ('merge', 'hash', 3), ('merge', 'join', 3), ('merge', 'key', 3), ('merge', 'line', 3), ('merge', 'merge', 3), ('merge', 'order', 3), ('merge', 'part', 3), ('merge', 'query', 3), ('merge', 'row', 4), ('merge', 'scan', 4), ('merge', 'slow', 4), ('merge', 'small', 4), ('merge', 'sort', 4), ('merge', 'spark', 4), ('merge', 'stream', 3), ('merge', 'table', 4), ('merge', 'the', 4), ('merge', 'value', 3), ('merge', 'vector', 3), ('merge', 'window', 3), ('merge', 'empty', 5),
    ('sort', 'a', 2), ('sort', 'agg', 2), ('sort', 'batch', 2), ('sort', 'big', 3), ('sort', 'column', 2), ('sort', 'customer', 3), ('sort', 'data', 2), ('sort', 'dup', 2), ('sort', 'fast', 3), ('sort', 'filter', 2), ('sort', 'group', 2), ('sort', 'hash', 3), ('sort', 'join', 2), ('sort', 'key', 2), ('sort', 'line', 2), ('sort', 'merge', 2), ('sort', 'order', 2), ('sort', 'part', 2), ('sort', 'query', 2), ('sort', 'row', 2), ('sort', 'scan', 3), ('sort', 'slow', 3), ('sort', 'small', 3), ('sort', 'sort', 3), ('sort', 'spark', 3), ('sort', 'stream', 2), ('sort', 'table', 2), ('sort', 'the', 2), ('sort', 'value', 2), ('sort', 'vector', 2), ('sort', 'window', 2), ('sort', 'empty', 5),
    ('window', 'a', 2), ('window', 'agg', 2), ('window', 'batch', 2), ('window', 'big', 3), ('window', 'column', 2), ('window', 'customer', 3), ('window', 'data', 2), ('window', 'dup', 2), ('window', 'fast', 3), ('window', 'filter', 2), ('window', 'group', 2), ('window', 'hash', 2), ('window', 'join', 2), ('window', 'key', 2), ('window', 'line', 2), ('window', 'merge', 2), ('window', 'order', 2), ('window', 'part', 2), ('window', 'query', 2), ('window', 'row', 2), ('window', 'scan', 2), ('window', 'slow', 3), ('window', 'small', 2), ('window', 'sort', 2), ('window', 'spark', 2), ('window', 'stream', 2), ('window', 'table', 2), ('window', 'the', 2), ('window', 'value', 2), ('window', 'vector', 2), ('window', 'window', 2), ('window', 'empty', 4),
    ('network', 'a', 4), ('network', 'agg', 4), ('network', 'batch', 4), ('network', 'big', 5), ('network', 'column', 4), ('network', 'customer', 5), ('network', 'data', 4), ('network', 'dup', 4), ('network', 'fast', 5), ('network', 'filter', 4), ('network', 'group', 4), ('network', 'hash', 4), ('network', 'join', 4), ('network', 'key', 4), ('network', 'line', 4), ('network', 'merge', 4), ('network', 'order', 4), ('network', 'part', 4), ('network', 'query', 4), ('network', 'row', 4), ('network', 'scan', 6), ('network', 'slow', 6), ('network', 'small', 6), ('network', 'sort', 6), ('network', 'spark', 6), ('network', 'stream', 4), ('network', 'table', 4), ('network', 'the', 4), ('network', 'value', 4), ('network', 'vector', 4), ('network', 'window', 4), ('network', 'empty', 7),
    ('science', 'a', 4), ('science', 'agg', 4), ('science', 'batch', 4), ('science', 'big', 5), ('science', 'column', 7), ('science', 'customer', 7), ('science', 'data', 4), ('science', 'dup', 4), ('science', 'fast', 5), ('science', 'filter', 4), ('science', 'group', 4), ('science', 'hash', 4), ('science', 'join', 4), ('science', 'key', 4), ('science', 'line', 4), ('science', 'merge', 4), ('science', 'order', 4), ('science', 'part', 4), ('science', 'query', 4), ('science', 'row', 5), ('science', 'scan', 4), ('science', 'slow', 4), ('science', 'small', 4), ('science', 'sort', 4), ('science', 'spark', 4), ('science', 'stream', 4), ('science', 'table', 6), ('science', 'the', 6), ('science', 'value', 4), ('science', 'vector', 4), ('science', 'window', 4), ('science', 'empty', 6),
    ('research', 'a', 5), ('research', 'agg', 5), ('research', 'batch', 5), ('research', 'big', 6), ('research', 'column', 5), ('research', 'customer', 6), ('research', 'data', 5), ('research', 'dup', 5), ('research', 'fast', 6), ('research', 'filter', 5), ('research', 'group', 5), ('research', 'hash', 5), ('research', 'join', 5), ('research', 'key', 5), ('research', 'line', 5), ('research', 'merge', 5), ('research', 'order', 5), ('research', 'part', 5), ('research', 'query', 5), ('research', 'row', 5), ('research', 'scan', 5), ('research', 'slow', 6), ('research', 'small', 5), ('research', 'sort', 5), ('research', 'spark', 5), ('research', 'stream', 5), ('research', 'table', 5), ('research', 'the', 5), ('research', 'value', 5), ('research', 'vector', 5), ('research', 'window', 5), ('research', 'empty', 7),
    ('public', 'a', 4), ('public', 'agg', 4), ('public', 'batch', 4), ('public', 'big', 5), ('public', 'column', 4), ('public', 'customer', 5), ('public', 'data', 4), ('public', 'dup', 4), ('public', 'fast', 5), ('public', 'filter', 4), ('public', 'group', 4), ('public', 'hash', 5), ('public', 'join', 4), ('public', 'key', 4), ('public', 'line', 4), ('public', 'merge', 4), ('public', 'order', 4), ('public', 'part', 4), ('public', 'query', 4), ('public', 'row', 4), ('public', 'scan', 4), ('public', 'slow', 5), ('public', 'small', 4), ('public', 'sort', 4), ('public', 'spark', 4), ('public', 'stream', 4), ('public', 'table', 5), ('public', 'the', 5), ('public', 'value', 4), ('public', 'vector', 4), ('public', 'window', 4), ('public', 'empty', 5),
    ('record', 'a', 4), ('record', 'agg', 4), ('record', 'batch', 4), ('record', 'big', 5), ('record', 'column', 4), ('record', 'customer', 5), ('record', 'data', 4), ('record', 'dup', 4), ('record', 'fast', 5), ('record', 'filter', 4), ('record', 'group', 4), ('record', 'hash', 4), ('record', 'join', 4), ('record', 'key', 4), ('record', 'line', 4), ('record', 'merge', 4), ('record', 'order', 4), ('record', 'part', 4), ('record', 'query', 4), ('record', 'row', 4), ('record', 'scan', 4), ('record', 'slow', 4), ('record', 'small', 4), ('record', 'sort', 4), ('record', 'spark', 4), ('record', 'stream', 4), ('record', 'table', 4), ('record', 'the', 4), ('record', 'value', 4), ('record', 'vector', 4), ('record', 'window', 4), ('record', 'empty', 6),
    ('history', 'a', 4), ('history', 'agg', 4), ('history', 'batch', 4), ('history', 'big', 5), ('history', 'column', 4), ('history', 'customer', 5), ('history', 'data', 4), ('history', 'dup', 4), ('history', 'fast', 5), ('history', 'filter', 4), ('history', 'group', 4), ('history', 'hash', 4), ('history', 'join', 4), ('history', 'key', 4), ('history', 'line', 4), ('history', 'merge', 4), ('history', 'order', 4), ('history', 'part', 4), ('history', 'query', 4), ('history', 'row', 4), ('history', 'scan', 4), ('history', 'slow', 5), ('history', 'small', 4), ('history', 'sort', 4), ('history', 'spark', 4), ('history', 'stream', 4), ('history', 'table', 4), ('history', 'the', 4), ('history', 'value', 4), ('history', 'vector', 4), ('history', 'window', 4), ('history', 'empty', 6),
    ('culture', 'a', 4), ('culture', 'agg', 4), ('culture', 'batch', 4), ('culture', 'big', 5), ('culture', 'column', 4), ('culture', 'customer', 5), ('culture', 'data', 4), ('culture', 'dup', 4), ('culture', 'fast', 5), ('culture', 'filter', 4), ('culture', 'group', 4), ('culture', 'hash', 4), ('culture', 'join', 4), ('culture', 'key', 4), ('culture', 'line', 4), ('culture', 'merge', 4), ('culture', 'order', 4), ('culture', 'part', 4), ('culture', 'query', 4), ('culture', 'row', 6), ('culture', 'scan', 4), ('culture', 'slow', 5), ('culture', 'small', 4), ('culture', 'sort', 4), ('culture', 'spark', 4), ('culture', 'stream', 4), ('culture', 'table', 4), ('culture', 'the', 4), ('culture', 'value', 4), ('culture', 'vector', 4), ('culture', 'window', 4), ('culture', 'empty', 6))
SELECT m.url, 'ok' AS status,
       CAST(d.n_chunks AS INTEGER) AS n_chunks,
       CAST(d.tot + f.c - c2.cap_c - w2.bare_c AS INTEGER) AS n_tokens
FROM perdoc d
JOIN meta m USING (doc_id)
JOIN title t USING (doc_id)
JOIN firstw fw2 USING (doc_id)
JOIN fc f ON f.tw = t.last_tw AND f.fw = fw2.first_w
JOIN tc c2 ON c2.w = t.last_tw
JOIN wc w2 ON w2.w = fw2.first_w
ORDER BY m.url
"""

# one: single '\n'-joined chunk; '.\n' fuses into the period piece, the one
# title→body newline is an extra 1-token piece.
EXTRACT_ONE_SQL = _PREFIX + """
SELECT m.url, 'ok' AS status, 1 AS n_chunks,
       CAST(d.tot + d.n_sections - 1 AS INTEGER) AS n_tokens
FROM perdoc d JOIN meta m USING (doc_id)
ORDER BY m.url
"""

LATEST_CAPTURE_SQL = _PREFIX + f"""
SELECT m.url,
       CAST(1 + {_md5i(f"'{_SEED}:ncap:' || m.doc_id")} % 3 AS INTEGER)
         AS n_captures,
       m.lang, 'ok' AS status, t.title,
       CAST(d.n_sections AS INTEGER) AS n_sections,
       CAST(d.n_chunks AS INTEGER) AS n_chunks,
       CAST(d.tot AS INTEGER) AS n_tokens
FROM perdoc d
JOIN meta m USING (doc_id)
JOIN title t USING (doc_id)
ORDER BY m.url
"""

QUERIES = {
    "extract_pages_e2e": (q_extract_pages, EXTRACT_PAGES_SQL),
    "extract_hostile_e2e": (q_extract_hostile, EXTRACT_PAGES_SQL),
    "extract_density_e2e": (q_extract_density, EXTRACT_PAGES_SQL),
    "latest_capture_extract": (q_latest_capture, LATEST_CAPTURE_SQL),
    "extract_chunks_e2e": (q_extract_chunks, EXTRACT_CHUNKS_SQL),
    "extract_book_template": (q_extract_book, EXTRACT_BOOK_SQL),
    "extract_one_template": (q_extract_one, EXTRACT_ONE_SQL),
}
