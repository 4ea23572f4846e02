"""Deterministic synthetic Common-Crawl-style ``pages`` table.

Schema per BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)

Generation follows FIXTURES.md §1 exactly: Zipf(1.5) host skew over 500
hosts, nav/ads/footer boilerplate around a main article, 20% embedded
tables, ~10% malformed-HTML variants, 5% bullet-structured content, mixed
encodings (utf-8 90% / gbk 5% / latin-1 3% / cp1251 2%).

Determinism & scale: every row is a pure function of ``doc_id`` (each row
seeds its own ``random.Random(seed ^ doc_id)``), so generation is
embarrassingly parallel and *partition-independent* — the same doc_id yields
the same bytes on a 1-core laptop or a 1000-executor cluster.  Spark-side
generation = ``spark.range(n)`` → ``mapInPandas`` (Arrow-batched), no
driver-side materialization.

Body text comes from the driver's ``documents.parquet`` word distribution
(TESTDATA.md) when a source df is given, else from a built-in word pool.
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, LongType, StringType, StructField,
                               StructType, TimestampType)

from ..session import documents_scan

PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("html", BinaryType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
])

_EN_WORDS = ("the quick brown fox jumps over lazy dog data spark engine query "
             "market report supply demand price index growth policy analysis "
             "model system value stream batch table column filter merge sort "
             "window network science research public record history culture").split()
_ZH_SENTS = [
    "数据处理引擎在大规模集群上运行良好。",
    "市场对新产品的需求持续增长，供应链保持稳定。",
    "研究人员分析了多个数据集，得出了可靠的结论！",
    "系统的吞吐量在扩容之后明显提升；延迟保持稳定。",
    "政策调整对行业格局产生了深远影响？",
]
_TLDS = ("com", "org", "net", "cn")
_N_HOSTS = 500

# EN bullet blocks for the 5% structured pages (drives book/laws chunkers)
_EN_BULLETS = ["Chapter I General Provisions", "Section 1 Scope of Application",
               "Article 1 Purpose and Basis", "Article 2 Definitions",
               "Chapter II Implementation", "Article 3 Responsibilities"]
_ZH_BULLETS = ["第一章 总则", "第一条 为了规范相关行为，制定本办法。",
               "第二条 本办法适用于相关机构。", "第二章 监督管理",
               "第三条 主管部门依法履行职责。"]


def _zipf_host(rng: random.Random) -> int:
    # inverse-CDF Zipf(a=1.5) over _N_HOSTS, deterministic given rng
    u = rng.random()
    # accept-reject free approximation: weight ∝ rank^-1.5
    total = sum((i + 1) ** -1.5 for i in range(_N_HOSTS))
    acc = 0.0
    target = u * total
    for i in range(_N_HOSTS):
        acc += (i + 1) ** -1.5
        if acc >= target:
            return i
    return _N_HOSTS - 1


def _paragraph(rng: random.Random, lang: str) -> str:
    if lang == "zh":
        return "".join(rng.choice(_ZH_SENTS) for _ in range(rng.randint(2, 6)))
    n = rng.randint(30, 120)
    words = [rng.choice(_EN_WORDS) for _ in range(n)]
    # sprinkle commas/periods so readability's comma scoring has signal
    for i in range(6, n, 9):
        words[i] += ","
    return (" ".join(words)).capitalize() + "."


def generate_page(doc_id: int, seed: int = 42, size_mult: int = 1,
                  force_host: int | None = None
                  ) -> tuple[str, pd.Timestamp, bytes, str, str]:
    rng = random.Random(seed * 1_000_003 ^ doc_id)
    host = _zipf_host(rng)
    if force_host is not None:
        host = force_host
    tld = rng.choice(_TLDS)
    section = rng.choice(("news", "blog", "docs", "wiki"))
    url = f"https://host{host:04d}.example.{tld}/{section}/{doc_id}"

    r = rng.random()
    lang = "en" if r < 0.7 else ("zh" if r < 0.9 else "mixed")
    enc_r = rng.random()
    encoding = ("utf-8" if enc_r < 0.90 else
                "gbk" if enc_r < 0.95 else
                "latin-1" if enc_r < 0.98 else "cp1251")
    if lang != "en" and encoding in ("latin-1", "cp1251"):
        encoding = "utf-8"  # CJK не encodable in single-byte codecs

    ts = pd.Timestamp("2024-01-01") + pd.Timedelta(
        microseconds=rng.randrange(int(730 * 86400 * 1e6)))

    title = f"Document {doc_id} " + " ".join(
        rng.choice(_EN_WORDS) for _ in range(rng.randint(2, 5))).title()

    n_paras = rng.randint(3, 12) * max(1, size_mult)
    para_lang = "zh" if lang == "zh" else ("zh" if (lang == "mixed" and rng.random() < 0.5) else "en")
    paras = [_paragraph(rng, para_lang if lang == "mixed" and i % 2 else
                        ("zh" if lang == "zh" else "en"))
             for i in range(n_paras)]

    body_parts = [f"<p>{p}</p>" for p in paras]
    if rng.random() < 0.05:  # bullet-structured pages
        bullets = _ZH_BULLETS if para_lang == "zh" else _EN_BULLETS
        body_parts = [f"<p>{b}</p>" for b in bullets] + body_parts
    if rng.random() < 0.20:  # embedded table
        rows = "".join(
            f"<tr><td>item {i}</td><td>{rng.randint(1, 999)}</td></tr>"
            for i in range(rng.randint(3, 10)))
        body_parts.insert(rng.randrange(len(body_parts) + 1),
                          f"<table><tr><th>name</th><th>count</th></tr>{rows}</table>")

    nav = "".join(f'<a href="/{w}">{w}</a> ' for w in
                  rng.sample(_EN_WORDS, rng.randint(8, 20)))
    ads = "".join(f'<div class="ad">Sale! <a href="/buy{i}">buy now</a></div>'
                  for i in range(rng.randint(1, 3)))
    footer = ('<div class="footer">Copyright 2024 host%04d '
              '<a href="/privacy">Privacy</a> <a href="/terms">Terms</a></div>' % host)

    html = (f"<html><head><title>{title}</title></head><body>"
            f'<div class="nav">{nav}</div>{ads}'
            f'<div class="content">{"".join(body_parts)}</div>'
            f"{footer}</body></html>")
    if rng.random() < 0.10:  # malformed variants
        kind = rng.randrange(3)
        if kind == 0:
            html = html.replace("</p>", "", 2)
        elif kind == 1:
            html = html.replace("</body></html>", "</div></p>")
        else:
            html = html.replace('<div class="content">', "<div class=content><p>")

    ground_truth = "\n".join(paras)
    return url, ts, html.encode(encoding, errors="ignore"), ground_truth, lang


def pages_df(spark: SparkSession, n_rows: int, seed: int = 42,
             partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInPandas."""
    base = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = [generate_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return base.mapInPandas(gen, PAGES_SCHEMA)


def skewed_pages_df(spark: SparkSession, n_rows: int, seed: int = 42,
                    hot_doc_frac: float = 0.02, hot_scale: int = 12,
                    partitions: int | None = None) -> DataFrame:
    """Crawl-ordered corpus with ONE engineered hot host.

    The first ``ceil(n * hot_doc_frac)`` doc_ids belong to ``host0000``
    with ``hot_scale``× article bodies — at the defaults that host carries
    ≈20% of corpus bytes from 2% of documents.  Because doc_ids are
    CONTIGUOUS and ``spark.range`` splits by id range, the hot host's
    giant pages land together in the LEADING partitions: exactly the
    byte-skewed input layout a per-host crawl dump (or a host-sorted
    parquet write) hands the extraction stage.  Deterministic given
    (seed, n_rows) like ``pages_df``; the skew A/B in
    ``tools/scaling.py skew`` runs extraction over this layout with and
    without ``pipeline.partitioning.repartition_by_size``."""
    n_hot = max(1, int(n_rows * hot_doc_frac))
    base = spark.range(0, n_rows, 1,
                       partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            rows = [generate_page(int(i), seed, size_mult=hot_scale,
                                  force_host=0)
                    if int(i) < n_hot else generate_page(int(i), seed)
                    for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return base.mapInPandas(gen, PAGES_SCHEMA)


_SECTIONS = ("news", "blog", "docs", "wiki")


def _md5i(key: str) -> int:
    """60-bit integer from md5 — SQL-bridgeable: the DuckDB twin is
    ``('0x' || substr(md5(key), 1, 15))::BIGINT``.  Every choice that
    reaches the extraction OUTPUT (url, title, paragraph wrap, malformed
    kind) is keyed through this so the e2e queries admit DuckDB oracles;
    boilerplate that readability strips (nav/ads/footer) may stay rng."""
    import hashlib
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


def doc_page_fields(doc_id: int, text: str, seed: int = 42):
    """The SQL-derivable page fields for one document: (url, ts, title,
    paragraph list).  Pure function of (seed, doc_id, text) built only from
    md5 arithmetic + slicing — the oracle SQL re-derives exactly this."""
    host = _md5i(f"{seed}:url:{doc_id}") % _N_HOSTS
    tld = _TLDS[_md5i(f"{seed}:tld:{doc_id}") % len(_TLDS)]
    sec = _SECTIONS[_md5i(f"{seed}:sec:{doc_id}") % len(_SECTIONS)]
    url = f"https://host{host:04d}.example.{tld}/{sec}/{doc_id}"
    ts = pd.Timestamp("2024-01-01") + pd.Timedelta(
        microseconds=_md5i(f"{seed}:ts:{doc_id}") % (730 * 86400 * 1_000_000))
    ntw = 2 + _md5i(f"{seed}:ntw:{doc_id}") % 4
    tws = [_EN_WORDS[_md5i(f"{seed}:tw:{doc_id}:{j}") % len(_EN_WORDS)]
           for j in range(ntw)]
    title = f"Document {doc_id} " + " ".join(
        w[:1].upper() + w[1:] for w in tws)
    paras = _wrap_text_paragraphs(text, doc_id, seed)
    return url, ts, title, paras


def related_links_html(doc_id: int, seed: int = 42) -> str:
    """Outlink boilerplate: 0-3 ABSOLUTE cross-host links, every field
    md5-derived so the WAT-style outlink queries admit DuckDB oracles
    (`operators/warc_e2e.py::wat_outlinks`).  The block is all-link
    boilerplate (link density 1.0) so readability strips it exactly like
    the nav — extracted text is unchanged by its presence.  Absolute
    scheme distinguishes these from the rng nav/ad/footer links, which
    stay relative; an href-scheme filter therefore selects exactly the
    derivable set."""
    nl = _md5i(f"{seed}:nl:{doc_id}") % 4
    links = []
    for j in range(nl):
        lh = _md5i(f"{seed}:lh:{doc_id}:{j}") % _N_HOSTS
        lt = _TLDS[_md5i(f"{seed}:lt:{doc_id}:{j}") % len(_TLDS)]
        ls = _SECTIONS[_md5i(f"{seed}:ls:{doc_id}:{j}") % len(_SECTIONS)]
        ld = _md5i(f"{seed}:ld:{doc_id}:{j}") % 100000
        links.append(
            f'<a href="https://host{lh:04d}.example.{lt}/{ls}/{ld}">'
            f"related {j}</a>")
    if not links:
        return ""
    return f'<div class="related">{" ".join(links)}</div>'


def document_page(doc_id: int, text: str, seed: int = 42):
    """One synthetic page for a documents.parquet row: ``(url, ts,
    html_bytes)``.  Shared by ``pages_from_documents`` and the WARC writer
    (``sources/warc.py``) so both containers carry byte-identical pages.
    Every output-reaching choice is md5-derived (``doc_page_fields``);
    boilerplate that readability strips (nav/ads/footer) may stay rng."""
    url, ts, title, paras = doc_page_fields(doc_id, text or "", seed)
    rng = random.Random(seed ^ (doc_id * 7919))  # boilerplate only
    nav = "".join(f'<a href="/{w}">{w}</a> ' for w in
                  rng.sample(_EN_WORDS, rng.randint(8, 20)))
    ads = "".join(
        f'<div class="ad">Sale! <a href="/buy{i}">buy now</a></div>'
        for i in range(rng.randint(1, 3)))
    related = related_links_html(doc_id, seed)
    footer = ('<div class="footer">Copyright 2024 '
              '<a href="/privacy">Privacy</a> '
              '<a href="/terms">Terms</a></div>')
    body = "".join(f"<p>{p}</p>" for p in paras)
    mal = _md5i(f"{seed}:mal:{doc_id}") % 100
    content_open = '<div class="content">'
    tail = f"{footer}</body></html>"
    if mal < 10 and mal % 3 == 1:
        tail = f"{footer}</div></p>"          # truncated close
    elif mal < 10 and mal % 3 == 2:
        content_open = "<div class=content><p>"  # unquoted + stray
    html_s = (f"<html><head><title>{title}</title></head><body>"
              f'<div class="nav">{nav}</div>{ads}{related}'
              f"{content_open}{body}</div>{tail}")
    return url, ts, html_s.encode("utf-8")


def pages_from_documents(spark: SparkSession, sf_dir: str,
                         seed: int = 42) -> DataFrame:
    """Build pages keyed 1:1 to the driver's documents.parquet doc_ids, with
    the document text as article body (FIXTURES.md §4: documents doubles as a
    body source).  Deterministic per (seed, doc_id) with every
    output-reaching choice md5-derived (see ``doc_page_fields``) so the
    extraction e2e queries are DuckDB-oracle-checkable; ~10% of pages get a
    malformed-HTML mutation (unclosed tags / unquoted attrs) that the
    extractor must survive without changing the extracted text."""
    docs = documents_scan(spark, sf_dir)

    def gen(batches):
        for pdf in batches:
            out = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                url, ts, html = document_page(int(doc_id), text, seed)
                out.append((url, ts, html, text, lang))
            yield pd.DataFrame(out, columns=["url", "warc_ts", "html", "text", "lang"])

    return docs.select("doc_id", "text", "lang").mapInPandas(gen, PAGES_SCHEMA)


def hostile_page(doc_id: int, text: str, seed: int = 42):
    """Adversarial-markup twin of ``document_page``: SAME derivable title
    and paragraphs (``doc_page_fields``), wrapped in hostile real-world
    constructs the extractor must survive WITHOUT changing one output
    byte — the e2e oracle is therefore literally the clean-pages oracle:

      * an HTML comment containing markup (``<!-- <p>fake…</p> -->``);
      * a CDATA-wrapped script body carrying fake paragraphs;
      * a tables-in-tables link farm (link density 1 → stripped, as
        readability-0.8.1 kills link-heavy blocks);
      * a definition list of nav links (boilerplate, stripped);
      * entity soup and a 'read more' teaser in an ad div (unlikely
        class → stripped before scoring);
      * inline SVG with no text content inside the article;
      * mis-nesting in the article itself: an unclosed ``<b>`` in one
        paragraph, a stray ``</i>`` in another, unquoted attributes on
        the content div, duplicate attributes on a ``<p>``.

    Every hostile block is either outside the winning candidate or
    text-free inside it, so 0.8.1 semantics leave the extraction output
    byte-identical to the clean page's."""
    url, ts, title, paras = doc_page_fields(doc_id, text or "", seed)
    # deterministic per-paragraph mutation choice (md5-keyed like every
    # output-reaching choice — but none of these REACH the output)
    ps = []
    for i, p in enumerate(paras):
        kind = _md5i(f"{seed}:hk:{doc_id}:{i}") % 4
        if kind == 0:
            # unclosed <b> mid-paragraph (0.8.1 text extraction is
            # tag-insensitive for inline elements)
            half = len(p) // 2
            sp = p.rfind(" ", 0, half)
            if sp > 0:
                p = p[:sp] + " <b>" + p[sp + 1:]
        elif kind == 1:
            p = p + "</i>"                     # stray close tag
            ps.append(f"<p data-x=1 data-x=2>{p}</p>")
            continue
        elif kind == 2:
            ps.append(f"<p class=txt>{p}</p>"  # unquoted attr + comment
                      f"<!-- <p>fake paragraph {i} should never "
                      f"surface</p> -->")
            continue
        ps.append(f"<p>{p}</p>")
    body = "".join(ps)
    farm = ("<table><tr><td><table><tr><td>"
            + "".join(f'<a href="/t{j}">trap {j}</a> ' for j in range(12))
            + "</td></tr></table></td></tr></table>")
    dl = ("<dl><dt>Nav</dt>"
          + "".join(f'<dd><a href="/d{j}">link {j}</a></dd>'
                    for j in range(6)) + "</dl>")
    ad = ('<div class="ad">&amp;&lt;&gt;&#65;&nbsp;'
          '<a href="/more">read&nbsp;more&hellip;</a></div>')
    script = ('<script>/*<![CDATA[*/ var fake = "<p>cdata paragraph '
              'must not leak</p>"; /*]]>*/</script>')
    svg = ('<svg viewBox="0 0 10 10"><path d="M0 0L10 10"/>'
           '<circle cx=5 cy=5 r=2/></svg>')
    html_s = (f"<html><head><title>{title}</title>{script}</head><body>"
              f'<div class="nav">{dl}</div>{farm}{ad}'
              f"<div class=content id=main>{svg}{body}</div>"
              f"</body></html>")
    return url, ts, html_s.encode("utf-8")


def hostile_pages_from_documents(spark: SparkSession, sf_dir: str,
                                 seed: int = 42) -> DataFrame:
    """Adversarial-markup pages keyed 1:1 to documents.parquet — the
    extraction output must be byte-identical to ``pages_from_documents``'s
    (see ``hostile_page``)."""
    docs = documents_scan(spark, sf_dir)

    def gen(batches):
        for pdf in batches:
            out = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"],
                                          pdf["lang"]):
                url, ts, html = hostile_page(int(doc_id), text, seed)
                out.append((url, ts, html, text, lang))
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "html", "text", "lang"])

    return docs.select("doc_id", "text", "lang").mapInPandas(gen,
                                                             PAGES_SCHEMA)


def captures_from_documents(spark: SparkSession, sf_dir: str,
                            seed: int = 42) -> DataFrame:
    """Re-crawl corpus: every url appears ``1 + md5i(f"{seed}:ncap:{doc}")
    % 3`` times.  The LATEST capture (max warc_ts) is byte-identical to the
    ``pages_from_documents`` page; earlier captures are stale decoys
    (valid but different pages, warc_ts = latest − c days).  A correct
    latest-capture collapse must therefore reproduce the single-capture
    extraction output exactly — any decoy leaking through changes text,
    counts and hashes.  Capture counts are md5-derived so oracles can
    replay them."""
    real = pages_from_documents(spark, sf_dir, seed)
    docs = documents_scan(spark, sf_dir)

    def gen(batches):
        for pdf in batches:
            out = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"],
                                          pdf["lang"]):
                doc_id = int(doc_id)
                url, ts, _title, _paras = doc_page_fields(
                    doc_id, text or "", seed)
                n_cap = 1 + _md5i(f"{seed}:ncap:{doc_id}") % 3
                for c in range(1, n_cap):
                    html_s = (f"<html><head><title>Stale {doc_id} rev {c}"
                              f"</title></head><body>"
                              f'<div class="content"><p>stale capture {c} '
                              f"of document {doc_id}.</p></div>"
                              f"</body></html>")
                    out.append((url, ts - pd.Timedelta(days=c),
                                html_s.encode("utf-8"),
                                f"stale capture {c} of document {doc_id}.",
                                lang))
            yield pd.DataFrame(
                out, columns=["url", "warc_ts", "html", "text", "lang"])

    decoys = docs.select("doc_id", "text", "lang").mapInPandas(
        gen, PAGES_SCHEMA)
    return real.unionByName(decoys)


def _wrap_text_paragraphs(text: str, doc_id: int, seed: int = 42) -> list[str]:
    """Paragraph wrap with md5-derived widths: paragraph ``p`` takes
    ``25 + md5i(f"{seed}:k:{doc_id}:{p}") % 36`` words (a pure function of
    (doc_id, p), so the oracle derives offsets with a window cumsum, no
    recursion); commas at in-paragraph positions 5, 14, 23, …; trailing
    period."""
    words = text.split()
    if not words:
        return ["empty document body."]
    paras, i, p = [], 0, 0
    while i < len(words):
        k = 25 + _md5i(f"{seed}:k:{doc_id}:{p}") % 36
        chunk = words[i:i + k]
        for j in range(5, len(chunk), 9):
            chunk[j] += ","
        paras.append(" ".join(chunk) + ".")
        i += k
        p += 1
    return paras
