"""PDF extraction operator (staged DeepDOC path, SURVEY.md §7.2 S6).

Route: pdf binary → native reader (``pdf/plain.py``) → line boxes →
rule-based vertical merge (``_naive_vertical_merge`` path, the book/laws
PDF mode) → TOC-page filter → sections → naive_merge chunks.

The ONNX-model stages (OCR, YOLO layout, TSR tagging) are runtime-download
models even in the reference (pdf_parser.py:88-93); here the model-free
geometry pipeline runs on born-digital text boxes from the reader.  The
construct_table stage is exercised separately on tagged grids (pdf/tsr.py).

Spark shape: identical to the HTML path — one mapInPandas, no shuffle,
per-row failure capture.  The rows-only driver check builds deterministic
PDFs from documents.text.
"""

from __future__ import annotations

import re
import statistics

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

from ..session import ordered as _ordered
from ..session import read_documents

from ..chunkers.naive import naive_merge_with_counts
from ..pdf.boxops import filter_forpages, naive_vertical_merge
from ..pdf.plain import build_pdf, extract_pdf_boxes
from ..textnorm.xxh64 import xxh64_hexdigest


def _spread_docs(spark, sf_dir):
    return read_documents(spark, sf_dir).select("doc_id", "text")


PDF_CHUNKS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("status", StringType(), False),
    StructField("n_pages", IntegerType(), False),
    StructField("n_boxes", IntegerType(), False),
    StructField("chunk_seq", IntegerType(), False),
    StructField("chunk_id", StringType(), True),
    StructField("chunk_text", StringType(), True),
    StructField("token_cnt", IntegerType(), False),
])


def _page_stats(boxes: list[dict], n_pages: int) -> tuple[list, list]:
    """Per-page median line height and per-char width lists — the
    mean-height convention every merge stage keys its thresholds on."""
    import statistics as _st
    heights = [b["bottom"] - b["top"] for b in boxes]
    widths = [(b["x1"] - b["x0"]) / max(len(b["text"]), 1) for b in boxes]
    return ([_st.median(heights)] * n_pages, [_st.median(widths)] * n_pages)


def pdf_to_sections(pdf: bytes, is_english: bool = True,
                    merge: str = "naive") -> tuple[list[str], int, int]:
    """→ (sections, n_pages, n_boxes): reader → vertical merge → TOC filter.

    ``merge``: 'naive' = rule-only vertical merge (the reference's book/laws
    PDF route, pdf_parser.py:421-470); 'concat' = scored downward concat
    (the naive-mode route, pdf_parser.py:472-579 — XGB model when deployed,
    deterministic rule scorer otherwise)."""
    boxes = extract_pdf_boxes(pdf)
    if not boxes:
        return [], 0, 0
    n_boxes = len(boxes)
    pages = max(b["page_number"] for b in boxes)
    mean_h, mean_w = _page_stats(boxes, pages)
    if merge == "concat":
        from ..pdf.concat import concat_downward
        for b in boxes:
            b.setdefault("layout_type", "text")
            b.setdefault("layoutno", f"text-{b['page_number']}")
        boxes = concat_downward(boxes, mean_h, mean_w)
    else:
        boxes = naive_vertical_merge(boxes, mean_h, mean_w, is_english,
                                     mean_h[0])
    boxes = filter_forpages(boxes, pages)
    return [b["text"] for b in boxes if b["text"].strip()], pages, n_boxes


def pdf_chunks_df(pdfs: DataFrame, chunk_token_num: int = 128,
                  delimiter: str = "\n!?。；！？",
                  merge: str = "naive") -> DataFrame:
    """pdfs(doc_id, pdf binary) → chunk rows; failures become status rows."""

    def run(batches):
        for pdf_batch in batches:
            out = []
            for doc_id, blob in zip(pdf_batch["doc_id"], pdf_batch["pdf"]):
                doc_id = int(doc_id)
                try:
                    sections, n_pages, n_boxes = pdf_to_sections(
                        bytes(blob), merge=merge)
                    cks, tknums = naive_merge_with_counts(
                        [(s, "") for s in sections], chunk_token_num, delimiter)
                    if not sections:
                        out.append((doc_id, "empty", 0, 0, 0, None, None, 0))
                        continue
                    for i, (ck, tn) in enumerate(zip(cks, tknums)):
                        out.append((doc_id, "ok", n_pages, n_boxes, i,
                                    xxh64_hexdigest(ck + str(doc_id)), ck, tn))
                except Exception:
                    out.append((doc_id, "error", 0, 0, 0, None, None, 0))
            yield pd.DataFrame(out, columns=[f.name for f in PDF_CHUNKS_SCHEMA])

    return pdfs.mapInPandas(run, PDF_CHUNKS_SCHEMA)


def _synth_pdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → deterministic multi-page PDFs via the native
    writer (40 lines of 10 words per page)."""
    docs = _spread_docs(spark, sf_dir)

    def gen(batches):
        for pdf_b in batches:
            rows = []
            for doc_id, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                words = (text or "").split()
                lines, page, pages = [], [], []
                for i in range(0, len(words), 10):
                    page.append(" ".join(words[i:i + 10]) + ".")
                    if len(page) == 40:
                        pages.append(page)
                        page = []
                if page:
                    pages.append(page)
                rows.append((int(doc_id), build_pdf(pages or [["empty"]])))
            yield pd.DataFrame(rows, columns=["doc_id", "pdf"])

    return docs.mapInPandas(gen, "doc_id long, pdf binary")


def pdf_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: documents.text → deterministic multi-page PDFs (native
    writer) → full native extraction → chunks.  Rows-only check; the unit
    tests assert byte-level round-trip fidelity."""
    pdfs = _synth_pdfs(spark, sf_dir)
    return (pdf_chunks_df(pdfs)
            .select("doc_id", "status", "n_pages", "chunk_seq", "chunk_text",
                    "token_cnt")
            .transform(_ordered("doc_id", "chunk_seq")))


def pdf_concat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: same PDFs through the scored downward-concat route
    (the reference's naive PDF mode, pdf_parser.py:472-579)."""
    pdfs = _synth_pdfs(spark, sf_dir)
    return (pdf_chunks_df(pdfs, merge="concat")
            .select("doc_id", "status", "n_pages", "chunk_seq", "chunk_text",
                    "token_cnt")
            .transform(_ordered("doc_id", "chunk_seq")))


# ------------------------------------------------------------ presentation
PRESENTATION_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("status", StringType(), False),
    StructField("page_num", IntegerType(), False),
    StructField("chunk_text", StringType(), True),
    StructField("token_cnt", IntegerType(), False),
])

_GARBAGE_RE = re.compile(r"[0-9.,%/-]+$")


def _presentation_garbage(txt: str) -> bool:
    """Slide-box garbage rule (reference rag/app/presentation.py:57-62)."""
    t = txt.lower().strip()
    return bool(_GARBAGE_RE.match(t)) or len(t) < 3


def presentation_pages_df(pdfs: DataFrame) -> DataFrame:
    """pdfs(doc_id, pdf binary) → ONE chunk per page: boxes grouped by
    page_number, garbage boxes dropped, remainder joined by newline
    (reference rag/app/presentation.py:64-82,120-126: every page is a
    chunk, ``page_num_int=[pn+1]``)."""
    from ..textnorm.tokens import num_tokens_from_string

    def run(batches):
        for pdf_batch in batches:
            out = []
            for doc_id, blob in zip(pdf_batch["doc_id"], pdf_batch["pdf"]):
                doc_id = int(doc_id)
                try:
                    boxes = extract_pdf_boxes(bytes(blob))
                    if not boxes:
                        out.append((doc_id, "empty", 0, None, 0))
                        continue
                    n_pages = max(b["page_number"] for b in boxes)
                    for pn in range(1, n_pages + 1):
                        lines = "\n".join(
                            b["text"] for b in boxes
                            if b["page_number"] == pn
                            and not _presentation_garbage(b["text"]))
                        out.append((doc_id, "ok", pn, lines,
                                    num_tokens_from_string(lines)))
                except Exception:
                    out.append((doc_id, "error", 0, None, 0))
            yield pd.DataFrame(out, columns=[f.name
                                             for f in PRESENTATION_SCHEMA])

    return pdfs.mapInPandas(run, PRESENTATION_SCHEMA)


def presentation_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: deterministic multi-page PDFs → page-per-chunk
    presentation mode.  Rows-only check."""
    pdfs = _synth_pdfs(spark, sf_dir)
    return (presentation_pages_df(pdfs)
            .select("doc_id", "status", "page_num", "token_cnt")
            .transform(_ordered("doc_id", "page_num")))


# ---------------------------------------------------------------- qa (pdf)
def qa_pdf_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic FAQ PDFs (numbered questions + answer
    lines, 24pt leading) → box-driven Q&A pairing (question-bullet election
    + x0/top heuristics, rag/app/qa.py:79-170) → "Question:\\tAnswer:"
    chunks."""
    from ..chunkers.qa import qa_from_pdf_boxes

    docs = _spread_docs(spark, sf_dir)

    def run(batches):
        for pdf_b in batches:
            out = []
            for doc_id, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                lines = [f"FAQ Document {doc_id}"]
                q = 0
                for i in range(0, len(words), 12):
                    q += 1
                    lines.append(
                        f"{q}. What about {' '.join(words[i:i + 4])}?")
                    lines.append(" ".join(words[i + 4:i + 12]) + ".")
                try:
                    blob = build_pdf([lines], leading=24)
                    cks = qa_from_pdf_boxes(extract_pdf_boxes(blob))
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("chunk_seq", IntegerType(), False),
        StructField("chunk_text", StringType(), False),
    ])
    return (docs.mapInPandas(run, schema)
            .transform(_ordered("doc_id", "chunk_seq")))


# ------------------------------------------------------- two-column paper
PAPER_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("status", StringType(), False),
    StructField("is_abstract", IntegerType(), False),
    StructField("chunk_seq", IntegerType(), False),
    StructField("chunk_text", StringType(), True),
])

_ABSTRACT_RE = re.compile(r"(abstract|摘要)")


def _synth_two_col_pdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → deterministic TWO-COLUMN papers (positioned native
    writer): a title line, an abstract paragraph, then body lines filling
    the left column top-to-bottom and continuing in the right column —
    the reading-order challenge ``sort_X_by_page`` exists to solve."""
    docs = _spread_docs(spark, sf_dir)

    def gen(batches):
        from ..pdf.plain import build_pdf_positioned
        for pdf_b in batches:
            rows = []
            for doc_id, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                doc_id = int(doc_id)
                words = (text or "empty").split()
                head = [(72, 740, f"Document {doc_id} Study"),
                        (72, 720, "abstract " + " ".join(words[:20]))]
                body = [" ".join(words[i:i + 5]) + "."
                        for i in range(20, len(words), 5)]
                pages, cur, slot = [], list(head), 0
                for ln in body:
                    col, row = divmod(slot, 30)
                    if col > 1:
                        pages.append(cur)
                        cur, slot = [], 0
                        col, row = 0, 0
                    x = 72 if col == 0 else 320
                    cur.append((x, 680 - 16 * row, ln))
                    slot += 1
                if cur:
                    pages.append(cur)
                rows.append((doc_id, build_pdf_positioned(pages)))
            yield pd.DataFrame(rows, columns=["doc_id", "pdf"])

    return docs.mapInPandas(gen, "doc_id long, pdf binary")


def paper_pdf_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column paper route (reference rag/app/paper.py:64-121,186-208):
    column detection (median box width < page_width/2) → ``sort_X_by_page``
    reading-order reorder → whitespace squash → abstract election from the
    first 32 boxes (>32 words or >64 chars rule) → pivot merge
    (``paper_merge``).  Rows-only check; reorder correctness is asserted in
    tests/test_pdf.py."""
    from ..chunkers.paper import paper_merge
    from ..pdf.boxops import sort_X_by_page
    from ..pdf.geometry import sort_Y_firstly

    pdfs = _synth_two_col_pdfs(spark, sf_dir)

    def run(batches):
        for pdf_b in batches:
            out = []
            for doc_id, blob in zip(pdf_b["doc_id"], pdf_b["pdf"]):
                doc_id = int(doc_id)
                try:
                    boxes = extract_pdf_boxes(bytes(blob))
                    if not boxes:
                        out.append((doc_id, "empty", 0, 0, None))
                        continue
                    # the reference pipeline hands boxes over Y-sorted
                    # (columns interleaved); reproduce that state, then
                    # let sort_X_by_page restore column reading order
                    hs = [b["bottom"] - b["top"] for b in boxes]
                    boxes = sort_Y_firstly(boxes, statistics.median(hs) / 2)
                    widths = [b["x1"] - b["x0"] for b in boxes]
                    column_width = statistics.median(widths)
                    if column_width < 612 / 2:
                        boxes = sort_X_by_page(boxes, column_width / 2)
                    for b in boxes:
                        b["text"] = re.sub(r"([\t 　]|　){2,}", " ",
                                           b["text"].strip())
                    abstr, abs_idx = None, set()
                    for i, b in enumerate(boxes[:32]):
                        txt = b["text"].lower().strip()
                        if _ABSTRACT_RE.match(txt):
                            if len(txt.split()) > 32 or len(txt) > 64:
                                abstr, abs_idx = b["text"], {i}
                            elif i + 1 < len(boxes):
                                # bare 'Abstract' heading: the reference
                                # (rag/app/paper.py:114-117) falls back to
                                # the NEXT box under the same length rule
                                nxt = boxes[i + 1]["text"].lower().strip()
                                if len(nxt.split()) > 32 or len(nxt) > 64:
                                    abstr = boxes[i + 1]["text"]
                                    abs_idx = {i, i + 1}
                            break
                    if abstr is not None:
                        out.append((doc_id, "ok", 1, 0, abstr))
                    secs = [b["text"] for i, b in enumerate(boxes)
                            if b["text"] and i not in abs_idx]
                    for i, ck in enumerate(paper_merge(secs)):
                        out.append((doc_id, "ok", 0, i + 1, ck))
                except Exception:
                    out.append((doc_id, "error", 0, 0, None))
            yield pd.DataFrame(out, columns=[f.name for f in PAPER_SCHEMA])

    return (pdfs.mapInPandas(run, PAPER_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


# ----------------------------------------------------------------- oracles
#
# The synthetic PDFs round-trip bytes exactly through the native writer +
# reader (asserted in tests/test_pdf.py), so each box is one written line
# and the oracles re-derive the extraction output relationally.  Token
# arithmetic notes (exact BPE over the class-pure shipped vocabulary):
# a trailing '.' is 1 token standalone, and a '.'-onto-word fusion at a
# concatenation boundary costs exactly 1 + bare(word) — so page/chunk
# token counts are exact sums of per-line counts.

# exact-BPE word costs (bare / space-prefixed), evaluated through the
# engine's own default encoder at SQL-build time (sql_shared.bpe_cost)
_WC_CTE = "wc(w, bare_c, sp_c) AS (VALUES ('a', 1, 1), ('agg', 1, 1), ('batch', 1, 1), ('big', 2, 1), ('column', 1, 1), ('customer', 2, 1), ('data', 1, 1), ('dup', 1, 1), ('fast', 2, 1), ('filter', 1, 1), ('group', 1, 1), ('hash', 1, 1), ('join', 1, 1), ('key', 1, 1), ('line', 1, 1), ('merge', 1, 1), ('order', 1, 1), ('part', 1, 1), ('query', 1, 1), ('row', 1, 1), ('scan', 1, 1), ('slow', 2, 2), ('small', 1, 1), ('sort', 1, 1), ('spark', 1, 1), ('stream', 1, 1), ('table', 1, 1), ('the', 1, 1), ('value', 1, 1), ('vector', 1, 1), ('window', 1, 1))"


# 10-word '.'-terminated lines; 40 lines per page; naive vertical merge
# keeps '.'-terminated lines separate, so sections == lines; greedy
# close-late pack at 128 concatenates section texts with no separator and
# reports the running token sums (naive_merge_with_counts).
PDF_TEMPLATE_SQL = rf"""
WITH RECURSIVE toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
{_WC_CTE},
words AS (
  SELECT doc_id, n, unnest(l) AS w, generate_subscripts(l, 1) AS wi
  FROM toklists),
lines AS (
  SELECT doc_id, CAST((wi-1) // 10 AS BIGINT) AS ln,
         string_agg(words.w, ' ' ORDER BY wi) || '.' AS txt,
         sum(CASE WHEN (wi-1) % 10 = 0 THEN c.bare_c ELSE c.sp_c END)
           + 1 AS tok
  FROM words JOIN wc c ON c.w = words.w
  GROUP BY doc_id, (wi-1) // 10),
pack AS (
  SELECT doc_id, ln, txt, tok, 0 AS cseq, tok AS run
  FROM lines WHERE ln = 0
  UNION ALL
  SELECT l.doc_id, l.ln, l.txt, l.tok,
         CASE WHEN p.run > 128 THEN p.cseq + 1 ELSE p.cseq END,
         CASE WHEN p.run > 128 THEN l.tok ELSE p.run + l.tok END
  FROM pack p JOIN lines l ON l.doc_id = p.doc_id AND l.ln = p.ln + 1)
SELECT p.doc_id, 'ok' AS status,
       CAST(ceil(ceil(t.n/10.0)/40.0) AS INTEGER) AS n_pages,
       CAST(p.cseq AS INTEGER) AS chunk_seq,
       string_agg(p.txt, '' ORDER BY p.ln) AS chunk_text,
       CAST(sum(p.tok) AS INTEGER) AS token_cnt
FROM pack p JOIN toklists t ON t.doc_id = p.doc_id
GROUP BY p.doc_id, p.cseq, t.n
ORDER BY p.doc_id, chunk_seq
"""

# Downward-concat route: within one page every '.'-terminated line merges
# into a single space-joined section (one chunk per ≤40-line document at
# oracle scale; every sf0.01 document fits one page).
PDF_CONCAT_SQL = rf"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
{_WC_CTE},
words AS (
  SELECT doc_id, n, unnest(l) AS w, generate_subscripts(l, 1) AS wi
  FROM toklists)
SELECT doc_id, 'ok' AS status, 1 AS n_pages, 0 AS chunk_seq,
       string_agg(
         CASE WHEN wi = 1 THEN words.w ELSE ' ' || words.w END ||
         CASE WHEN wi % 10 = 0 OR wi = n THEN '.' ELSE '' END,
         '' ORDER BY wi) AS chunk_text,
       CAST(sum(
         CASE WHEN wi = 1 THEN c.bare_c ELSE c.sp_c END
         + CASE WHEN wi % 10 = 0 OR wi = n THEN 1 ELSE 0 END)
         AS INTEGER) AS token_cnt
FROM words JOIN wc c ON c.w = words.w
GROUP BY doc_id, n
ORDER BY doc_id
"""

# Presentation mode: one chunk per page, token_cnt recounted on the
# newline-joined page text: each '.\n' join is a 2-byte punctuation piece
# (2 tokens) vs the 1-token per-line period, so the page count is
# Σ per-line counts + (lines_on_page - 1).
PRESENTATION_SQL = rf"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
{_WC_CTE},
words AS (
  SELECT doc_id, n, unnest(l) AS w, generate_subscripts(l, 1) AS wi
  FROM toklists),
lines AS (
  -- slide garbage rule (presentation.py:57-62): drop boxes under 3 chars
  -- (a 1-char word + '.'); the numeric-only rule never fires on alpha text
  SELECT doc_id, CAST((wi-1) // 10 AS BIGINT) AS ln,
         sum(CASE WHEN (wi-1) % 10 = 0 THEN c.bare_c ELSE c.sp_c END)
           + 1 AS tok
  FROM words JOIN wc c ON c.w = words.w
  GROUP BY doc_id, (wi-1) // 10
  HAVING length(string_agg(words.w, ' ')) + 1 >= 3)
SELECT doc_id, 'ok' AS status,
       CAST(ln // 40 + 1 AS INTEGER) AS page_num,
       CAST(sum(tok) + count(*) - 1 AS INTEGER) AS token_cnt
FROM lines
GROUP BY doc_id, ln // 40
ORDER BY doc_id, page_num
"""

from .sql_shared import RM_PREFIX_SQL as _QA_RM_PREFIX

# FAQ PDFs: question k covers words 12(k-1)+1..+4, the answer the next 8
# words with a trailing '.'; empty tails keep the bare '.' line.
QA_PDF_SQL = rf"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
pairs AS (
  SELECT doc_id, CAST((i-1) // 12 AS INTEGER) AS chunk_seq,
         ((i-1) // 12 + 1) || '. What about ' ||
           array_to_string(list_slice(l, i, least(i+3, n)), ' ') || '?' AS q,
         coalesce(array_to_string(list_slice(l, i+4, least(i+11, n)), ' '),
                  '') || '.' AS a
  FROM toklists,
       LATERAL (SELECT unnest(generate_series(1, n, 12)) AS i) u)
SELECT doc_id, chunk_seq,
       'Question: ' || regexp_replace(q, '{_QA_RM_PREFIX}', '', 'i')
       || chr(9) ||
       'Answer: ' || regexp_replace(a, '{_QA_RM_PREFIX}', '', 'i')
         AS chunk_text
FROM pairs
ORDER BY doc_id, chunk_seq
"""

# Two-column paper route: the abstract box is elected when its text
# ('abstract ' + first ≤20 words) exceeds 64 chars (the ≤21-word count
# never exceeds 32); the remaining boxes — title then 5-word body lines in
# restored reading order — fuse into one pivot-merge chunk (no numbered
# headings → bullet family -1 → single group).
PAPER_PDF_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
abst AS (
  SELECT doc_id, n,
         'abstract ' || array_to_string(list_slice(l, 1, least(20, n)), ' ')
           AS atxt
  FROM toklists),
elected AS (
  SELECT doc_id, n, atxt, length(atxt) > 64 AS has_abs FROM abst),
body AS (
  SELECT t.doc_id,
         string_agg(
           array_to_string(list_slice(t.l, 21 + (b-1)*5,
                                      least(20 + b*5, t.n)), ' ') || '.',
           chr(10) ORDER BY b) AS btxt
  FROM toklists t,
       LATERAL (SELECT unnest(generate_series(
                  1, CAST(ceil(greatest(t.n - 20, 0)/5.0) AS BIGINT))) AS b) u
  WHERE t.n > 20
  GROUP BY t.doc_id),
absrows AS (
  SELECT doc_id, 'ok' AS status, 1 AS is_abstract, 0 AS chunk_seq,
         atxt AS chunk_text
  FROM elected WHERE has_abs),
bodyrows AS (
  SELECT e.doc_id, 'ok' AS status, 0 AS is_abstract, 1 AS chunk_seq,
         'Document ' || e.doc_id || ' Study' ||
         CASE WHEN NOT e.has_abs THEN chr(10) || e.atxt ELSE '' END ||
         CASE WHEN b.btxt IS NOT NULL THEN chr(10) || b.btxt ELSE '' END
           AS chunk_text
  FROM elected e LEFT JOIN body b ON b.doc_id = e.doc_id)
SELECT doc_id, status, is_abstract, chunk_seq, chunk_text FROM absrows
UNION ALL
SELECT doc_id, status, is_abstract, chunk_seq, chunk_text FROM bodyrows
ORDER BY doc_id, chunk_seq
"""


# -------------------------------------------------- table/figure extraction
TABLEFIG_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("seq", IntegerType(), False),
    StructField("content", StringType(), False),
])


def pdf_table_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_extract_table_figure`` end-to-end (pdf_parser.py:656-867): a
    deterministic layout-tagged box stream per document — body text lines,
    a table caption, a CROSS-PAGE tagged grid (header + 2..5 numeric rows
    split over two pages within the 23·mean-height merge window), a figure
    with its caption — through grouping, cross-page merge, nearest-caption
    attach and ``construct_table`` HTML.  Emits text/table/figure rows;
    the DuckDB oracle re-derives all three streams relationally."""
    from ..pdf.tablefig import extract_table_figure

    docs = _spread_docs(spark, sf_dir)

    def run(batches):
        for pdf_b in batches:
            out = []
            for doc_id, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                if not words:
                    continue

                def mk(x0, top, x1, bottom, txt, page=1, lt="text", ln="x"):
                    return {"x0": x0, "top": top, "x1": x1, "bottom": bottom,
                            "text": txt, "page_number": page,
                            "layout_type": lt, "layoutno": ln}

                boxes = []
                for i in range(0, len(words), 8):
                    boxes.append(mk(72, 80 + 14 * (i // 8), 400,
                                    92 + 14 * (i // 8),
                                    " ".join(words[i:i + 8]) + ".",
                                    ln=f"x{i // 8}"))
                boxes.append(mk(72, 750, 160, 762,
                                f"summary table for doc {doc_id}",
                                lt="table caption", ln="cap0"))
                cols = [72, 150, 228]
                for c in range(3):
                    boxes.append(mk(cols[c], 770, cols[c] + 60, 782,
                                    f"c{c + 1}", lt="table", ln="t0"))
                nrows = 2 + doc_id % 4
                for r in range(nrows):
                    page = 1 if r < 2 else 2
                    top = 790 + 20 * r if r < 2 else 830 + 20 * (r - 2)
                    for c in range(3):
                        boxes.append(mk(cols[c], top, cols[c] + 60, top + 12,
                                        str(100 * (c + 1) + r), page=page,
                                        lt="table", ln="t0"))
                boxes.append(mk(72, 930, 220, 942,
                                "figure " + " ".join(words[:4]), page=2,
                                lt="figure", ln="f0"))
                boxes.append(mk(72, 950, 200, 962,
                                f"figure caption for doc {doc_id}", page=2,
                                lt="figure caption", ln="fc0"))
                try:
                    rem, res = extract_table_figure(
                        boxes, [12.0, 12.0], return_html=True)
                    for i, b in enumerate(rem):
                        out.append((doc_id, "text", i, b["text"]))
                    for i, r in enumerate(res):
                        out.append((doc_id, r["type"], i, r["content"]))
                except Exception:
                    out.append((doc_id, "error", 0, ""))
            yield pd.DataFrame(out, columns=[f.name for f in TABLEFIG_SCHEMA])

    return (docs.mapInPandas(run, TABLEFIG_SCHEMA)
            .transform(_ordered("doc_id", "kind", "seq")))


LAYOUT_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("seq", IntegerType(), False),
    StructField("layout_type", StringType(), False),
    StructField("content", StringType(), False),
])

_PAGE_W, _PAGE_H = 612.0, 792.0


def pdf_layout_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_layouts_rec`` end-to-end (layout_recognizer.py:60-157 glue +
    rule-based region proposer): a deterministic 2-page box stream per
    document — running head repeated on both pages (garbage region AND
    corpus-wide repeat kill set: a mid-page stray copy survives tagging
    but dies to the Counter), a first-page title, ``¶``-prefixed body
    lines (prefix defeats accidental caption-regex anchors in corpus
    words), a ``Figure 1`` caption, a ``1 / 2`` page marker (garbage
    regex), and a page-2 References section (heading + entries → all
    dropped as reference-region garbage).  Survivors with their assigned
    ``layout_type`` are the oracle-derivable output."""
    from ..pdf.layout import layouts_rec

    docs = _spread_docs(spark, sf_dir)

    def run(batches):
        for pdf_b in batches:
            out = []
            for doc_id, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                if not words:
                    continue

                def mk(x0, top, x1, bottom, txt):
                    return {"x0": x0, "top": top, "x1": x1,
                            "bottom": bottom, "text": txt}

                head = f"running head {doc_id}"
                p1 = [mk(72, 20, 300, 32, head),
                      mk(72, 100, 400, 112, f"Synthetic Report {doc_id}")]
                for k in range(0, len(words), 8):
                    p1.append(mk(72, 160 + 18 * (k // 8), 540,
                                 172 + 18 * (k // 8),
                                 "¶ " + " ".join(words[k:k + 8])))
                p1.append(mk(72, 700, 300, 712,
                             f"Figure 1 overview for doc {doc_id}"))
                p1.append(mk(280, 760, 332, 772, "1 / 2"))
                p2 = [mk(72, 20, 300, 32, head),
                      mk(72, 150, 400, 162, head),  # stray mid-page copy
                      mk(72, 600, 200, 612, "References"),
                      mk(72, 630, 400, 642, f"[1] source {doc_id}"),
                      mk(72, 648, 400, 660, f"[2] archive {doc_id}")]
                try:
                    boxes, _lts = layouts_rec([p1, p2], _PAGE_W, _PAGE_H)
                    for i, b in enumerate(boxes):
                        out.append((doc_id, i, b.get("layout_type", ""),
                                    b["text"]))
                except Exception:
                    out.append((doc_id, 0, "error", ""))
            yield pd.DataFrame(out, columns=[f.name for f in LAYOUT_SCHEMA])

    return (docs.mapInPandas(run, LAYOUT_SCHEMA)
            .transform(_ordered("doc_id", "seq")))


def pdf_deepdoc_sections(pdf: bytes) -> tuple[list[str], list[dict]]:
    """Full naive-mode DeepDOC route over REAL pdf bytes — the reference's
    stage order (pdf_parser.py naive ``__call__``): reader → `_layouts_rec`
    (rule proposer + tagging glue) → `_text_merge` → `_concat_downward` →
    `_filter_forpages` → `_extract_table_figure`.  Returns
    ``(sections, tables)``: surviving merged text blocks in reading order
    and the popped table/figure results.

    This is the library path a user of the reference's naive PDF mode
    calls; the per-stage driver queries (`pdf_layout_template`,
    `pdf_concat_template`, `pdf_table_template`, `pdf_layout_table_e2e`)
    pin each stage against a DuckDB oracle separately."""
    import statistics

    from ..pdf.boxops import filter_forpages, text_merge
    from ..pdf.concat import concat_downward
    from ..pdf.geometry import sort_Y_firstly
    from ..pdf.layout import layouts_rec
    from ..pdf.plain import PAGE_HEIGHT
    from ..pdf.tablefig import extract_table_figure

    raw = extract_pdf_boxes(pdf)
    if not raw:
        return [], []
    n_pages = max(b["page_number"] for b in raw)
    # reading-order sort per page BEFORE tagging: content streams may
    # emit lines in any order (the reference sorts OCR boxes the same
    # way before _layouts_rec); downstream merges walk list order
    med_h = statistics.median(b["bottom"] - b["top"] for b in raw)
    pages = [[] for _ in range(n_pages)]
    for b in raw:
        pages[b["page_number"] - 1].append(b)
    pages = [sort_Y_firstly(p, med_h / 2) for p in pages]
    boxes, _lts = layouts_rec(pages, 612.0, PAGE_HEIGHT)
    if not boxes:
        return [], []
    mean_h, mean_w = _page_stats(boxes, n_pages)
    boxes = text_merge(boxes, mean_h)
    boxes = concat_downward(boxes, mean_h, mean_w)
    boxes = filter_forpages(boxes, n_pages)
    remaining, tables = extract_table_figure(boxes, mean_h,
                                             return_html=True)
    return [b["text"] for b in remaining if b["text"].strip()], tables


def pdf_layout_table_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed rule-path chain ``_layouts_rec → _extract_table_figure``
    (pdf_parser.py:526-533 then :656-867): the box stream arrives
    UNTAGGED — the rule proposer detects the title, body column, table
    caption and cell grid, the tagging glue drops the running head and
    page marker, and the popped table grid renders through
    ``construct_table`` with its caption attached.  Output = surviving
    text rows + the table HTML, all oracle-derivable."""
    from ..pdf.layout import layouts_rec
    from ..pdf.tablefig import extract_table_figure

    docs = _spread_docs(spark, sf_dir)

    def run(batches):
        for pdf_b in batches:
            out = []
            for doc_id, text in zip(pdf_b["doc_id"], pdf_b["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                if not words:
                    continue

                def mk(x0, top, x1, bottom, txt):
                    return {"x0": x0, "top": top, "x1": x1,
                            "bottom": bottom, "text": txt,
                            "page_number": 1}

                p1 = [mk(72, 20, 300, 32, f"running head {doc_id}"),
                      mk(72, 100, 400, 112, f"Synthetic Report {doc_id}")]
                for k in range(0, len(words), 8):
                    p1.append(mk(72, 160 + 18 * (k // 8), 540,
                                 172 + 18 * (k // 8),
                                 "¶ " + " ".join(words[k:k + 8])))
                p1.append(mk(72, 500, 260, 512,
                             f"Table 1 summary for doc {doc_id}"))
                cols = [72, 150, 228]
                for c in range(3):
                    p1.append(mk(cols[c], 524, cols[c] + 60, 536,
                                 f"c{c + 1}"))
                for r in range(2 + doc_id % 4):
                    for c in range(3):
                        p1.append(mk(cols[c], 544 + 20 * r,
                                     cols[c] + 60, 556 + 20 * r,
                                     str(100 * (c + 1) + r)))
                p1.append(mk(280, 760, 332, 772, "1 / 1"))
                try:
                    boxes, _lts = layouts_rec([p1], _PAGE_W, _PAGE_H)
                    rem, res = extract_table_figure(
                        boxes, [12.0], return_html=True)
                    for i, b in enumerate(rem):
                        out.append((doc_id, "text", i, b["text"]))
                    for i, r in enumerate(res):
                        out.append((doc_id, r["type"], i, r["content"]))
                except Exception:
                    out.append((doc_id, "error", 0, ""))
            yield pd.DataFrame(out, columns=[f.name for f in TABLEFIG_SCHEMA])

    return (docs.mapInPandas(run, TABLEFIG_SCHEMA)
            .transform(_ordered("doc_id", "kind", "seq")))


PDF_LAYOUT_TABLE_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
title AS (
  SELECT doc_id, 'text' AS kind, 0 AS seq,
         'Synthetic Report ' || doc_id AS content FROM toklists),
body AS (
  SELECT doc_id, 'text' AS kind, CAST((i-1) // 8 + 1 AS INTEGER) AS seq,
         '¶ ' || array_to_string(list_slice(l, i, least(i+7, n)), ' ')
           AS content
  FROM toklists, LATERAL (SELECT unnest(generate_series(1, n, 8)) AS i) u),
tbl AS (
  SELECT t.doc_id, 'table' AS kind, 0 AS seq,
         '<table><caption>Table 1 summary for doc ' || t.doc_id
         || '</caption>' || chr(10)
         || '<tr><th  >c1</th><th  >c2</th><th  >c3</th></tr>' || chr(10)
         || string_agg('<tr><td  >' || (100 + r) || '</td><td  >'
                       || (200 + r) || '</td><td  >' || (300 + r)
                       || '</td></tr>', chr(10) ORDER BY r)
         || chr(10) || '</table>' AS content
  FROM toklists t,
       LATERAL (SELECT unnest(generate_series(0, 1 + t.doc_id % 4)) AS r) u
  GROUP BY t.doc_id)
SELECT doc_id, kind, seq, content FROM title
UNION ALL SELECT doc_id, kind, seq, content FROM body
UNION ALL SELECT doc_id, kind, seq, content FROM tbl
ORDER BY doc_id, kind, seq
"""


PDF_LAYOUT_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
title AS (
  SELECT doc_id, 0 AS seq, 'title' AS layout_type,
         'Synthetic Report ' || doc_id AS content FROM toklists),
body AS (
  SELECT doc_id, CAST((i-1) // 8 + 1 AS INTEGER) AS seq,
         'text' AS layout_type,
         '¶ ' || array_to_string(list_slice(l, i, least(i+7, n)), ' ')
           AS content
  FROM toklists, LATERAL (SELECT unnest(generate_series(1, n, 8)) AS i) u),
figcap AS (
  SELECT doc_id, CAST((n + 7) // 8 + 1 AS INTEGER) AS seq,
         'figure caption' AS layout_type,
         'Figure 1 overview for doc ' || doc_id AS content FROM toklists)
SELECT doc_id, seq, layout_type, content FROM title
UNION ALL SELECT doc_id, seq, layout_type, content FROM body
UNION ALL SELECT doc_id, seq, layout_type, content FROM figcap
ORDER BY doc_id, seq
"""


PDF_TABLE_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
textrows AS (
  SELECT doc_id, 'text' AS kind, CAST((i-1) // 8 AS INTEGER) AS seq,
         array_to_string(list_slice(l, i, least(i+7, n)), ' ') || '.' AS content
  FROM toklists, LATERAL (SELECT unnest(generate_series(1, n, 8)) AS i) u),
figrows AS (
  SELECT doc_id, 'figure' AS kind, 0 AS seq,
         'figure caption for doc ' || doc_id || chr(10) ||
         'figure ' || array_to_string(list_slice(l, 1, least(4, n)), ' ')
           AS content
  FROM toklists),
tblrows AS (
  SELECT t.doc_id, 'table' AS kind, 1 AS seq,
         '<table><caption>summary table for doc ' || t.doc_id
         || '</caption>' || chr(10)
         || '<tr><th  >c1</th><th  >c2</th><th  >c3</th></tr>' || chr(10)
         || string_agg('<tr><td  >' || (100 + r) || '</td><td  >'
                       || (200 + r) || '</td><td  >' || (300 + r)
                       || '</td></tr>', chr(10) ORDER BY r)
         || chr(10) || '</table>' AS content
  FROM toklists t,
       LATERAL (SELECT unnest(generate_series(0, 1 + t.doc_id % 4)) AS r) u
  GROUP BY t.doc_id)
SELECT doc_id, kind, seq, content FROM textrows
UNION ALL SELECT doc_id, kind, seq, content FROM figrows
UNION ALL SELECT doc_id, kind, seq, content FROM tblrows
ORDER BY doc_id, kind, seq
"""


QUERIES = {
    "pdf_template": (pdf_template, PDF_TEMPLATE_SQL),
    "pdf_table_template": (pdf_table_template, PDF_TABLE_SQL),
    "pdf_layout_template": (pdf_layout_template, PDF_LAYOUT_SQL),
    "pdf_layout_table_e2e": (pdf_layout_table_e2e, PDF_LAYOUT_TABLE_SQL),
    "pdf_concat_template": (pdf_concat_template, PDF_CONCAT_SQL),
    "paper_pdf_template": (paper_pdf_template, PAPER_PDF_SQL),
    "presentation_template": (presentation_template, PRESENTATION_SQL),
    "qa_pdf_template": (qa_pdf_template, QA_PDF_SQL),
}
