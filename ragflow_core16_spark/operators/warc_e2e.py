"""WARC-source e2e queries with DuckDB oracles.

The corpus is the same md5-derivable page set as ``pages_from_documents``,
re-containered as member-gzip WARC files (``sources/warc.py``).  Two
checks:

  * ``warc_records`` — record-level framing parse: per response record the
    target URI, the WARC-Date (re-derived from the header STRING, proving
    the header was parsed, not passed through), the HTTP status and the
    shard/sequence position.  The oracle replays the sharding
    (``file_id = doc_id % 32``, records in doc_id order) and the
    md5-derived url/ts relationally.
  * ``warc_extract_e2e`` — the full chain: WARC bytes → gzip-member walk →
    HTTP payload → decode → readability → sections → naive_merge.  Its
    oracle is the pages-route extraction oracle (minus the lang column a
    crawl doesn't carry): matching it proves the WARC container round-trip
    is byte-exact, because one flipped payload byte changes extracted text,
    token costs and the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ordered as _ordered
from .extract_e2e import _PREFIX, _SEED, _md5i

_N_FILES = 32


def _files(spark: SparkSession, sf_dir: str):
    from ..sources.warc import warc_files_from_documents
    return warc_files_from_documents(spark, sf_dir, seed=_SEED,
                                     n_files=_N_FILES)


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.warc import warc_records_df
    return (warc_records_df(_files(spark, sf_dir))
            .select("file_id", "rec_seq", "url", "ts_micros", "http_status",
                    "content_type")
            .transform(_ordered("url")))


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.extract import extract_pages
    from ..sources.warc import pages_from_warc
    return (extract_pages(pages_from_warc(_files(spark, sf_dir)))
            .select("url", "status", "title", "n_sections", "n_chunks",
                    "n_tokens")
            .transform(_ordered("url")))



def _url_ts_meta_cte(ts_alias: str = "ts_micros") -> str:
    """Shared synthetic url/ts derivation for this module's oracles — ONE
    statement of the generator's url law (webclean has `_host_sql` for
    the same reason: a scheme change must break every oracle loudly, not
    leave one silently testing a different universe)."""
    return f"""meta AS (
  SELECT doc_id,
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
    {_md5i(f"'{_SEED}:ts:' || doc_id")} % (730::BIGINT * 86400 * 1000000)
      AS {ts_alias}
  FROM documents"""


WARC_RECORDS_SQL = f"""
WITH {_url_ts_meta_cte()})
SELECT CAST(doc_id % {_N_FILES} AS INTEGER) AS file_id,
       CAST(row_number() OVER (PARTITION BY doc_id % {_N_FILES}
                               ORDER BY doc_id) - 1 AS INTEGER) AS rec_seq,
       url, ts_micros,
       200 AS http_status,
       'text/html' AS content_type
FROM meta
ORDER BY url
"""

WARC_EXTRACT_SQL = _PREFIX + """
SELECT m.url, 'ok' AS status, t.title,
       CAST(d.n_sections AS INTEGER) AS n_sections,
       CAST(d.n_chunks AS INTEGER) AS n_chunks,
       CAST(d.tot AS INTEGER) AS n_tokens
FROM perdoc d
JOIN meta m USING (doc_id)
JOIN title t USING (doc_id)
ORDER BY m.url
"""

def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC → extract → WET write → WET parse: the full crawl-curation
    container loop.  The final text comes back out of the *re-parsed* WET
    bytes, so a hash match against the relational section derivation proves
    both containers (response and conversion records, member-gzip framing,
    WARC-Date round-trip) are byte-exact end to end."""
    from ..operators.extract import extract_pages
    from ..sources.warc import (pages_from_warc, text_from_wet,
                                wet_files_from_extracted)
    ext = extract_pages(pages_from_warc(_files(spark, sf_dir)))
    wet = wet_files_from_extracted(ext, n_files=_N_FILES)
    return (text_from_wet(wet)
            .select("url", "ts_micros", "wet_text")
            .transform(_ordered("url")))


# WET text = '\n'.join(sections) — exactly the sections CTE of the shared
# extraction oracle, title first (sec 0), paragraphs in order.
WET_ROUNDTRIP_SQL = _PREFIX + f"""
, wet AS (
  SELECT doc_id, string_agg(stext, chr(10) ORDER BY sec) AS wet_text
  FROM sections GROUP BY doc_id)
SELECT m.url,
       {_md5i(f"'{_SEED}:ts:' || m.doc_id")}
         % (730::BIGINT * 86400 * 1000000) AS ts_micros,
       w.wet_text
FROM wet w JOIN meta m USING (doc_id)
ORDER BY m.url
"""

def _outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded absolute outlinks from the raw page html — the WAT
    metadata product (Common Crawl's third container besides WARC/WET):
    per page, every absolute ``href`` in document order.  Entirely
    JVM-columnar: decode → ``regexp_extract_all`` → ``posexplode`` — the
    link harvest rides the scan with zero Python stages and zero
    shuffles, exactly how a WAT pass deploys at crawl scale.

    The generator plants 0-3 md5-derived absolute cross-host links per
    page (``datagen/pages.py::related_links_html``); rng boilerplate
    links (nav/ads/footer) are all relative, so the absolute-scheme
    filter selects exactly the oracle-derivable set."""
    from ..datagen.pages import pages_from_documents
    p = pages_from_documents(spark, sf_dir, seed=_SEED)
    links = F.regexp_extract_all(
        F.col("html").cast("string"),
        F.lit(r'href="(https?://[^"]+)"'), F.lit(1))
    return (p.select(
                F.regexp_extract("url", r"/(\d+)$", 1)
                 .cast("long").alias("doc_id"),
                F.regexp_extract("url", r"^https://([^/]+)/", 1)
                 .alias("src_host"),
                F.posexplode(links).alias("link_seq", "target_url"))
            .withColumn("target_host",
                        F.regexp_extract("target_url",
                                         r"^https://([^/]+)/", 1)))


def q_wat_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_outlinks(spark, sf_dir)
            .select("doc_id", "link_seq", "target_url", "target_host")
            .transform(_ordered("doc_id", "link_seq")))


def q_host_outdegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link graph rollup over the harvested outlinks: one
    groupBy (map-side combinable count + distinct) — the seed
    aggregation for webgraph ranking jobs."""
    return (_outlinks(spark, sf_dir)
            .groupBy("src_host")
            .agg(F.count(F.lit(1)).cast("int").alias("n_links"),
                 F.countDistinct("target_host").cast("int")
                  .alias("n_target_hosts"))
            .transform(_ordered("src_host")))


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TARGET inlink aggregation — the anchor-text signal web search
    has indexed since the webgraph era (inlink counts + the words other
    pages use to describe a target).  The Spark side parses (href, text)
    PAIRS out of the raw html with one ``regexp_extract_all`` over the
    full anchor element plus a ``transform`` re-extract per element (all
    JVM; the oracle never parses html, it derives both fields from the
    generator parameters).  Aggregation is ONE map-side-combinable
    groupBy(target_url); the anchor-term set is bounded per target, so a
    popular target (millions of inlinks at crawl scale) partial-aggs
    safely — no skewed unbounded collect."""
    from ..datagen.pages import pages_from_documents
    p = pages_from_documents(spark, sf_dir, seed=_SEED)
    rx = r'<a href="(https?://[^"]+)">([^<]*)</a>'
    full = F.regexp_extract_all(F.col("html").cast("string"),
                                F.lit(rx), F.lit(0))
    pairs = F.transform(full, lambda a: F.struct(
        F.regexp_extract(a, rx, 1).alias("href"),
        F.regexp_extract(a, rx, 2).alias("text")))
    return (p.select(F.explode(pairs).alias("l"))
            .groupBy(F.col("l.href").alias("target_url"))
            .agg(F.count(F.lit(1)).cast("int").alias("n_inlinks"),
                 F.array_join(F.array_sort(F.collect_set("l.text")), "|")
                  .alias("anchor_terms"))
            .transform(_ordered("target_url")))


def _links_cte() -> str:
    """Shared oracle derivation of the planted absolute links."""
    lh = _md5i(f"'{_SEED}:lh:' || doc_id || ':' || j")
    lt = _md5i(f"'{_SEED}:lt:' || doc_id || ':' || j")
    ls = _md5i(f"'{_SEED}:ls:' || doc_id || ':' || j")
    ld = _md5i(f"'{_SEED}:ld:' || doc_id || ':' || j")
    return f"""
nl AS (
  SELECT doc_id, CAST({_md5i(f"'{_SEED}:nl:' || doc_id")} % 4 AS INTEGER)
           AS n
  FROM documents),
links AS (
  SELECT doc_id, CAST(j AS INTEGER) AS link_seq,
    'host' || lpad(CAST({lh} % 500 AS VARCHAR), 4, '0') || '.example.' ||
      (['com','org','net','cn'])[CAST({lt} % 4 AS INTEGER) + 1]
      AS target_host,
    '/' || (['news','blog','docs','wiki'])[CAST({ls} % 4 AS INTEGER) + 1]
      || '/' || CAST({ld} % 100000 AS VARCHAR) AS target_path
  FROM nl, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS j) u
  WHERE n > 0)
"""


WAT_OUTLINKS_SQL = f"""
WITH {_links_cte()}
SELECT doc_id, link_seq,
       'https://' || target_host || target_path AS target_url,
       target_host
FROM links
ORDER BY doc_id, link_seq
"""

# anchor text is 'related {j}' at link position j (datagen/pages.py::
# related_links_html) — the oracle derives it from the position, never
# from the markup the Spark side parses
ANCHOR_TEXTS_SQL = f"""
WITH {_links_cte()}
SELECT 'https://' || target_host || target_path AS target_url,
       CAST(count(*) AS INTEGER) AS n_inlinks,
       array_to_string(list_sort(list_distinct(
           list('related ' || link_seq))), '|') AS anchor_terms
FROM links
GROUP BY target_url
ORDER BY target_url
"""

HOST_OUTDEGREE_SQL = f"""
WITH {_links_cte()},
src AS (
  SELECT l.doc_id, l.target_host,
    'host' || lpad(CAST({_md5i(f"'{_SEED}:url:' || l.doc_id")} % 500
                        AS VARCHAR), 4, '0') || '.example.' ||
      (['com','org','net','cn'])[
        CAST({_md5i(f"'{_SEED}:tld:' || l.doc_id")} % 4 AS INTEGER) + 1]
      AS src_host
  FROM links l)
SELECT src_host, CAST(count(*) AS INTEGER) AS n_links,
       CAST(count(DISTINCT target_host) AS INTEGER) AS n_target_hosts
FROM src
GROUP BY src_host
ORDER BY src_host
"""


# micros from the synthetic corpus epoch (sources/warc._EPOCH) to the Unix
# epoch — ts_micros columns count from the former, timestamp rendering
# needs the latter; derived, not hardcoded, so the two stay in lockstep.
def _epoch_micros() -> int:
    from ..sources.warc import _EPOCH
    return int(_EPOCH.value // 1000)


_EPOCH_2024_MICROS = _epoch_micros()


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX(J) capture index (sources/cdx.py): the SURT-sorted per-capture
    table Common Crawl ships beside every WARC shard set.  The oracle
    re-derives the SURT key directly from the generator's url COMPONENTS
    (``tld,example,hostNNNN)/sec/doc_id``) — independent of the Spark
    side's generic url→SURT expression, so a parse bug in either direction
    breaks the hash.  offset/length/digest are the non-relational random-
    access fields; they are proven by seek-and-reparse unit tests
    (tests/test_warc.py) rather than the SQL oracle."""
    from ..sources.cdx import cdx_entries_df, surt_expr
    e = cdx_entries_df(_files(spark, sf_dir))
    return (e.select(
                surt_expr(F.col("url")).alias("surt"),
                F.date_format(
                    F.timestamp_micros(F.col("ts_micros")
                                       + F.lit(_EPOCH_2024_MICROS)),
                    "yyyyMMddHHmmss").alias("ts14"),
                "url",
                F.col("content_type").alias("mime"),
                "http_status", "file_id", "rec_seq")
            .transform(_ordered("surt", "ts14", "url")))


CDX_INDEX_SQL = f"""
WITH meta AS (
  SELECT doc_id,
    lpad(CAST({_md5i(f"'{_SEED}:url:' || doc_id")} % 500 AS VARCHAR),
         4, '0') AS h4,
    (['com','org','net','cn'])[
      CAST({_md5i(f"'{_SEED}:tld:' || doc_id")} % 4 AS INTEGER) + 1] AS tld,
    (['news','blog','docs','wiki'])[
      CAST({_md5i(f"'{_SEED}:sec:' || doc_id")} % 4 AS INTEGER) + 1] AS sec,
    {_md5i(f"'{_SEED}:ts:' || doc_id")} % (730::BIGINT * 86400 * 1000000)
      AS ts_micros
  FROM documents)
SELECT tld || ',example,host' || h4 || ')/' || sec || '/' || doc_id AS surt,
       strftime(TIMESTAMP '2024-01-01'
                + to_microseconds(CAST(ts_micros AS BIGINT)),
                '%Y%m%d%H%M%S') AS ts14,
       'https://host' || h4 || '.example.' || tld || '/' || sec || '/'
         || doc_id AS url,
       'text/html' AS mime,
       200 AS http_status,
       CAST(doc_id % {_N_FILES} AS INTEGER) AS file_id,
       CAST(row_number() OVER (PARTITION BY doc_id % {_N_FILES}
                               ORDER BY doc_id) - 1 AS INTEGER) AS rec_seq
FROM meta
ORDER BY surt, ts14, url
"""


def q_warc_revisits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revisit-record resolution (WARC 1.1 §6.7.2 identical-payload-digest,
    the Common-Crawl crawl-time dedup): a quarter of the docs carry a
    second capture stored as a ``revisit`` record; the operator joins each
    back to its referred-to ``response`` and verifies the RECORDED digest
    against a sha1-b32 computed from the original's actual payload bytes.
    The oracle knows every outcome arithmetically from the generator gates
    (rv %4 selects revisited docs, rvbad %7 injects drifted digests) and
    never sees the container — a digest_match=true row therefore proves the
    join hydrated the right record and hashed the right bytes."""
    from ..sources.warc import resolve_revisits, warc_files_from_documents
    files = warc_files_from_documents(spark, sf_dir, seed=_SEED,
                                      n_files=_N_FILES, revisits=True)
    return resolve_revisits(files).transform(_ordered("url"))


_DAY_MICROS = 86400 * 1_000_000

WARC_REVISITS_SQL = f"""
WITH {_url_ts_meta_cte("orig_ts")}
  WHERE {_md5i(f"'{_SEED}:rv:' || doc_id")} % 4 = 0)
SELECT url,
       orig_ts + {_DAY_MICROS} AS ts_micros,
       orig_ts AS orig_ts_micros,
       TRUE AS orig_found,
       NOT ({_md5i(f"'{_SEED}:rvbad:' || doc_id")} % 7 = 0) AS digest_match
FROM meta
ORDER BY url
"""


QUERIES = {
    "warc_records": (q_warc_records, WARC_RECORDS_SQL),
    "warc_revisits": (q_warc_revisits, WARC_REVISITS_SQL),
    "cdx_index": (q_cdx_index, CDX_INDEX_SQL),
    "warc_extract_e2e": (q_warc_extract, WARC_EXTRACT_SQL),
    "wet_roundtrip_e2e": (q_wet_roundtrip, WET_ROUNDTRIP_SQL),
    "wat_outlinks": (q_wat_outlinks, WAT_OUTLINKS_SQL),
    "host_outdegree": (q_host_outdegree, HOST_OUTDEGREE_SQL),
    "anchor_texts": (q_anchor_texts, ANCHOR_TEXTS_SQL),
}
