"""The flagship extraction operator: pages → extracted(+chunks).

Spark-first re-expression of the reference ingestion path
(``rag/svr/task_executor.py:217-376`` build_chunks → naive chunker HTML route
``rag/app/naive.py:435-476``): one Arrow-batched ``mapInArrow`` pass per
page performing decode → boilerplate-strip → sections → naive_merge →
chunk ids, emitting the extracted text plus a ``chunks`` array column.

Scale design (100 TB / 10^12 rows):
  * The operator is embarrassingly parallel per row — no shuffle at all in
    the extraction stage itself.  The only shuffles in the full pipeline are
    the size rebalance before it (``pipeline/partitioning.py``: an AQE
    rebalance that sizes its partitions from its own map statistics, in
    the same query as the extraction write, so the input is read once)
    and the ``metrics_table`` rollup over the committed rows.
  * Oversize guard (reference DOC_MAXIMUM_SIZE=128 MB,
    ``rag/svr/task_executor.py:218-220`` / ``rag/settings.py:55``) is a
    JVM-side ``length(html)`` predicate evaluated before any Python sees the
    bytes — oversized rows become status='oversize' rows without crossing
    the Arrow boundary with their payload.
  * Per-row try/except: parse failures yield status='error' rows, never task
    aborts (a single bad page must not kill a 10-hour job).
  * Arrow-native framing (``mapInArrow``): ``url``, ``warc_ts`` and
    ``lang`` go back out as the input arrays, only ``url``, ``html``,
    ``lang`` and ``nbytes`` become Python objects, and the other columns
    are built per batch from the schema's Arrow form — no pandas frame
    on either side.  Chunk ids are hashed once per batch.
  * Arrow batches are capped via spark.sql.execution.arrow.maxRecordsPerBatch
    (set in session.py) so a run of multi-MB pages can't balloon one batch.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (ArrayType, IntegerType, LongType, StringType,
                               StructField, StructType, TimestampType)

from ..chunkers.naive import naive_merge_with_counts
from ..html.parser import HtmlParser
from ..textnorm.codec import find_codec
from ..textnorm.xxh64 import xxh64_hex_batch, xxh64_hexdigest

DOC_MAXIMUM_SIZE = 128 * 1024 * 1024  # rag/settings.py:55

CHUNK_STRUCT = StructType([
    StructField("chunk_id", StringType(), False),
    StructField("chunk_seq", IntegerType(), False),
    StructField("chunk_text", StringType(), False),
    StructField("content_ltks", StringType(), True),
    StructField("content_sm_ltks", StringType(), True),
    StructField("token_cnt", IntegerType(), False),
])

EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("lang", StringType(), True),
    StructField("status", StringType(), False),   # ok | error | oversize | empty
    StructField("error", StringType(), True),
    StructField("title", StringType(), True),
    StructField("extracted_text", StringType(), True),
    StructField("codec", StringType(), True),
    StructField("n_sections", IntegerType(), False),
    StructField("n_chunks", IntegerType(), False),
    StructField("n_tokens", IntegerType(), False),
    StructField("bytes_in", LongType(), False),
    StructField("chunks", ArrayType(CHUNK_STRUCT), True),
])


def _extract_one(url, warc_ts, html, lang, chunk_token_num, delimiter,
                 template: str = "naive", defer_ids: bool = False,
                 strategy: str = "readability"):
    nbytes = len(html) if html is not None else 0
    base = dict(url=url, warc_ts=warc_ts, lang=lang, error=None, title=None,
                extracted_text=None, codec=None, n_sections=0, n_chunks=0,
                n_tokens=0, bytes_in=nbytes, chunks=[])
    if not html:
        return {**base, "status": "empty"}
    try:
        codec = find_codec(bytes(html))
        txt = bytes(html).decode(codec, errors="ignore")
        if strategy == "density":
            # JusText/Boilerpipe-style link-density strategy — same
            # section contract as parser_txt (html/density.py)
            from ..html.density import density_sections
            sections = density_sections(txt)
        else:
            sections = HtmlParser.parser_txt(txt)
        title = sections[0] if sections else None
        # naive.py:437-439 — drop empty sections, tag ""
        sections = [(s, "") for s in sections if s]
        # north-rule invariant: the per-url extracted text
        extracted_text = "\n".join(s for s, _ in sections)
        if template == "naive":
            cks, tk_nums = naive_merge_with_counts(sections, chunk_token_num,
                                                   delimiter)
        else:
            from ..chunkers.templates import SECTION_TEMPLATES
            from ..textnorm.tokens import num_tokens_from_string
            cks = SECTION_TEMPLATES[template](
                [s for s, _ in sections], lang=lang or "Chinese",
                chunk_token_num=chunk_token_num, delimiter=delimiter)
            tk_nums = [num_tokens_from_string(c) for c in cks]
        from ..textnorm.rag_tokenizer import (fine_grained_tokenize,
                                              tokenize as rag_tokenize)
        chunks = []
        for i, (ck, tcnt) in enumerate(zip(cks, tk_nums)):
            # chunk-doc assembly (rag/nlp/__init__.py:251-255): index
            # columns from the tokenizer; id = xxh64(content + doc key)
            # hexdigest (rag/svr/task_executor.py:266)
            ltks = rag_tokenize(ck)
            chunks.append({
                # defer_ids: the Arrow-batch caller hashes every chunk id
                # of the batch in one vectorized pass (xxh64_hex_batch)
                "chunk_id": None if defer_ids else xxh64_hexdigest(ck + url),
                "chunk_seq": i,
                "chunk_text": ck,
                "content_ltks": ltks,
                "content_sm_ltks": fine_grained_tokenize(ltks),
                "token_cnt": tcnt,
            })
        return {**base, "status": "ok", "title": title, "codec": codec,
                "extracted_text": extracted_text,
                "n_sections": len(sections), "n_chunks": len(chunks),
                "n_tokens": sum(c["token_cnt"] for c in chunks),
                "chunks": chunks}
    except Exception as e:  # failure row, never a task abort
        return {**base, "status": "error", "error": f"{type(e).__name__}: {e}"}


def extract_pages(pages: DataFrame, chunk_token_num: int = 128,
                  delimiter: str = "\n!?。；！？",
                  max_bytes: int = DOC_MAXIMUM_SIZE,
                  template: str = "naive",
                  strategy: str = "readability") -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → EXTRACTED_SCHEMA rows.

    The ``length(html) <= max_bytes`` guard is evaluated JVM-side in the
    same single pass: oversized rows ship a NULL payload (plus their byte
    count) through Arrow instead of the bytes — one scan, no union branch
    re-reading the source (a second branch would re-scan 100 TB just to
    count the handful of oversized rows)."""
    guarded = pages.select(
        "url", "warc_ts", "lang",
        F.when(F.length("html") <= F.lit(max_bytes), F.col("html"))
         .alias("html"),
        F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("nbytes"))

    schema = to_arrow_schema(EXTRACTED_SCHEMA)
    passed = schema.names[:3]       # url, warc_ts, lang: the input arrays
    computed = list(schema)[3:]     # the rest: built from the rows

    def run(batches):
        for batch in batches:
            rows = []
            pending = []  # (chunk dict, id payload) — batch-hashed below
            # lang only reaches a section template; url keys the chunk ids
            for u, h, l, nb in zip(*(batch.column(name).to_pylist() for name
                                     in ("url", "html", "lang", "nbytes"))):
                if h is None and nb > max_bytes:
                    rows.append(dict(
                        status="oversize", error=None, title=None,
                        extracted_text=None, codec=None, n_sections=0,
                        n_chunks=0, n_tokens=0, bytes_in=nb, chunks=None))
                else:
                    r = _extract_one(u, None, h, l, chunk_token_num,
                                     delimiter, template, defer_ids=True,
                                     strategy=strategy)
                    for c in r["chunks"] or ():
                        pending.append((c, (c["chunk_text"] + u)
                                        .encode("utf-8")))
                    rows.append(r)
            if pending:
                hexes = xxh64_hex_batch([p[1] for p in pending])
                for (c, _payload), hx in zip(pending, hexes):
                    c["chunk_id"] = hx
            cols = [batch.column(name) for name in passed]
            cols += [pa.array([r[f.name] for r in rows], type=f.type)
                     for f in computed]
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return guarded.mapInArrow(run, EXTRACTED_SCHEMA)


def chunks_table(extracted: DataFrame) -> DataFrame:
    """Explode the chunks array into the flat chunk table
    (url, chunk_id, chunk_seq, chunk_text, token_cnt)."""
    return (extracted
            .filter(F.col("status") == "ok")
            .select("url", "warc_ts", "lang",
                    F.explode("chunks").alias("c"))
            .select("url", "warc_ts", "lang",
                    F.col("c.chunk_id").alias("chunk_id"),
                    F.col("c.chunk_seq").alias("chunk_seq"),
                    F.col("c.chunk_text").alias("chunk_text"),
                    F.col("c.content_ltks").alias("content_ltks"),
                    F.col("c.content_sm_ltks").alias("content_sm_ltks"),
                    F.col("c.token_cnt").alias("token_cnt")))


def rollup_columns() -> list:
    """The counters over extracted rows, aliased ``n_rows, n_ok,
    n_error, n_oversize, bytes_in, chunks_out, tokens_out`` — shared by
    ``metrics_table`` and the run summary."""
    def n_status(s):
        return F.sum(F.when(F.col("status") == s, 1).otherwise(0))
    return [F.count(F.lit(1)).alias("n_rows"),
            n_status("ok").alias("n_ok"),
            n_status("error").alias("n_error"),
            n_status("oversize").alias("n_oversize"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("n_chunks").alias("chunks_out"),
            F.sum("n_tokens").alias("tokens_out")]


def metrics_table(extracted: DataFrame) -> DataFrame:
    """Per-(run, spark-partition) rollup of committed extracted rows
    (run_id, part_id, n_rows, n_ok, n_error, n_oversize, bytes_in,
    chunks_out, tokens_out)."""
    return extracted.groupBy("run_id", "part_id").agg(*rollup_columns())
