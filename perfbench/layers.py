"""Driver-side, single-core views of the extraction UDF's layers.

The extraction operator runs its layers inside Python workers, where the
benchmark cannot see them without instrumenting the package.  Instead the
benchmark calls the same public functions itself, in the order
``operators.extract._extract_one`` calls them, on a sample of the
workload's own pages, with a span around each call.  The composed result
must equal ``_extract_one`` byte for byte, so the breakdown is known to
describe the code path the job runs.
"""

from __future__ import annotations

import statistics
import time

from ragflow_core16_spark.chunkers.naive import naive_merge_with_counts
from ragflow_core16_spark.html.dom import parse_html
from ragflow_core16_spark.html.readability import Document
from ragflow_core16_spark.html.textify import extract_text_from_node
from ragflow_core16_spark.operators.extract import _extract_one
from ragflow_core16_spark.textnorm.codec import find_codec
from ragflow_core16_spark.textnorm.rag_tokenizer import (
    fine_grained_tokenize, tokenize as rag_tokenize)
from ragflow_core16_spark.textnorm.xxh64 import xxh64_hex_batch

CHUNK_TOKENS = 128
DELIMITER = "\n!?。；！？"
BATCH = 64  # the session's Arrow record cap: chunk ids are hashed per batch

#: fields of an extracted row that the sample check compares
ROW_FIELDS = ("url", "lang", "status", "error", "title", "extracted_text",
              "codec", "n_sections", "n_chunks", "n_tokens", "bytes_in")
CHUNK_FIELDS = ("chunk_id", "chunk_seq", "chunk_text", "content_ltks",
                "content_sm_ltks", "token_cnt")


def reference_row(page) -> dict:
    """``_extract_one`` with scalar chunk ids, as plain comparable data."""
    url, ts, html, lang = page
    r = _extract_one(url, ts, html, lang, CHUNK_TOKENS, DELIMITER)
    return canonical(r)


def canonical(r) -> dict:
    out = {k: r[k] for k in ROW_FIELDS}
    out["chunks"] = [{k: c[k] for k in CHUNK_FIELDS}
                     for c in (r["chunks"] or [])]
    return out


def decompose(pages, tracer) -> tuple[list[dict], dict]:
    """Run the extraction layers on ``pages`` [(url, ts, html, lang)] with
    one span per layer call; returns (rows, per-layer totals)."""
    rows: list[dict] = []
    tot = dict.fromkeys(("codec", "dom", "readability", "textify",
                         "chunkers", "rag_tokenizer", "fine", "xxh64"), 0.0)
    cnt = {"docs": 0, "bytes": 0, "chunks": 0, "tokens": 0, "ids": 0}
    pc = time.perf_counter

    for b in range(0, len(pages), BATCH):
        pending = []
        for url, _ts, html, lang in pages[b:b + BATCH]:
            base = {"url": url, "lang": lang, "error": None, "title": None,
                    "extracted_text": None, "codec": None, "n_sections": 0,
                    "n_chunks": 0, "n_tokens": 0,
                    "bytes_in": len(html) if html is not None else 0,
                    "chunks": []}
            if not html:
                rows.append({**base, "status": "empty"})
                continue
            cnt["docs"] += 1
            cnt["bytes"] += len(html)
            with tracer.span("textnorm.codec"):
                t0 = pc()
                raw = bytes(html)
                codec = find_codec(raw)
                txt = raw.decode(codec, errors="ignore")
                tot["codec"] += pc() - t0
            with tracer.span("html.parse_html"):
                t0 = pc()
                parse_html(txt)
                t_parse = pc() - t0
                tot["dom"] += t_parse
            with tracer.span("html.readability.summary_node"):
                t0 = pc()
                doc = Document(txt)
                article = doc.summary_node()
                # summary_node parses the page itself: its own cost is
                # the call minus one parse of the same text
                tot["readability"] += max(0.0, pc() - t0 - t_parse)
            with tracer.span("html.textify"):
                t0 = pc()
                content = extract_text_from_node(article)
                sections = f"{doc.title()}\n{content}".split("\n")
                tot["textify"] += pc() - t0
            title = sections[0] if sections else None
            sections = [(s, "") for s in sections if s]
            with tracer.span("chunkers.naive_merge"):
                t0 = pc()
                cks, tk_nums = naive_merge_with_counts(
                    sections, CHUNK_TOKENS, DELIMITER)
                tot["chunkers"] += pc() - t0
            chunks = []
            for i, (ck, tcnt) in enumerate(zip(cks, tk_nums)):
                with tracer.span("textnorm.rag_tokenizer.tokenize"):
                    t0 = pc()
                    ltks = rag_tokenize(ck)
                    tot["rag_tokenizer"] += pc() - t0
                with tracer.span("textnorm.rag_tokenizer.fine"):
                    t0 = pc()
                    sm = fine_grained_tokenize(ltks)
                    tot["fine"] += pc() - t0
                c = {"chunk_id": None, "chunk_seq": i, "chunk_text": ck,
                     "content_ltks": ltks, "content_sm_ltks": sm,
                     "token_cnt": tcnt}
                chunks.append(c)
                pending.append((c, (ck + url).encode("utf-8")))
            cnt["chunks"] += len(chunks)
            cnt["tokens"] += sum(tk_nums)
            rows.append({**base, "status": "ok", "title": title,
                         "codec": codec,
                         "extracted_text": "\n".join(s for s, _ in sections),
                         "n_sections": len(sections),
                         "n_chunks": len(chunks),
                         "n_tokens": sum(c["token_cnt"] for c in chunks),
                         "chunks": chunks})
        if pending:
            with tracer.span("textnorm.xxh64.hex_batch"):
                t0 = pc()
                hexes = xxh64_hex_batch([p for _, p in pending])
                tot["xxh64"] += pc() - t0
            for (c, _), hx in zip(pending, hexes):
                c["chunk_id"] = hx
            cnt["ids"] += len(pending)

    layers = {
        "codec.busy_s": tot["codec"],
        "html.dom.busy_s": tot["dom"],
        "html.readability.busy_s": tot["readability"],
        "html.textify.busy_s": tot["textify"],
        "html.docs": cnt["docs"], "html.bytes": cnt["bytes"],
        "chunkers.busy_s": tot["chunkers"],
        "chunkers.chunks": cnt["chunks"], "chunkers.tokens": cnt["tokens"],
        "rag_tokenizer.busy_s": tot["rag_tokenizer"],
        "rag_tokenizer.fine_busy_s": tot["fine"],
        "xxh64.busy_s": tot["xxh64"], "xxh64.ids": cnt["ids"],
    }
    return rows, layers


def calibrate(pages, reps: int = 3) -> float:
    """Single-core in-process ``_extract_one`` docs/s over a fixed page set
    (the median of ``reps`` passes): a host speed reading to hold results
    from different machines against."""
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for url, ts, html, lang in pages:
            _extract_one(url, ts, html, lang, CHUNK_TOKENS, DELIMITER)
        rates.append(len(pages) / (time.perf_counter() - t0))
    return statistics.median(rates)
