"""Office-format template queries: docx / xlsx / pptx end-to-end.

Each query synthesizes deterministic OOXML binaries from documents.text
inside the Arrow batch (native writers — the same bytes on every run), then
drives the native parser + chunker path:

  * docx  — paragraphs+styles+tables → sections → naive_merge, composed
            table lines as standalone chunks (reference naive.py docx route
            + deepdoc/parser/docx_parser.py).  Rows-only check.
  * xlsx  — sheet rows → "hdr：val; …" lines (excel_parser.py:106-128).
            The synthesis is per-word relational, so it IS DuckDB-oracle
            checked (line assembly reproduced in SQL).
  * pptx  — slides → page-per-chunk presentation mode (ppt_parser.py +
            rag/app/presentation.py:110-126).  Rows-only check.

Spark shape for all three: narrow select → one mapInPandas → orderBy for
the driver compare.  No shuffle besides the final sort.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

from ..session import ordered as _ordered
from ..session import read_documents

CHUNKS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("chunk_seq", IntegerType(), False),
    StructField("chunk_text", StringType(), False),
])


# ------------------------------------------------------------------- docx
def docx_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic .docx (styled headings, body paragraphs,
    one summary table) → native parse → naive_merge chunks + composed table
    lines (reference rag/app/naive.py docx route: sections from paragraphs,
    tables as standalone chunks)."""
    from ..chunkers.naive import naive_merge
    from ..parsers.ooxml import build_docx, docx_parse

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                paras = [(f"Document {doc_id}", "Heading1")]
                for i in range(0, len(words), 14):
                    if i and (i // 14) % 4 == 0:
                        paras.append((f"Part {i // 56 + 1}", "Heading2"))
                    paras.append((" ".join(words[i:i + 14]) + ".", "Normal"))
                table = [["metric", "value"],
                         ["words", str(len(words))],
                         ["doc", str(doc_id)]]
                try:
                    blob = build_docx(paras, tables=[table],
                                      page_break_every=8)
                    secs, tbls = docx_parse(blob)
                    # style names are routing metadata, not position tags —
                    # chunk with empty tags (the reference's docx route
                    # likewise never appends style names to chunk text)
                    cks = naive_merge(
                        [(t, "") for t, _s in secs if t.strip()], 128,
                        "\n!?。；！？")
                    cks = [c for c in cks if c]
                    for lines in tbls:
                        cks.extend(lines)
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    return (read_documents(spark, sf_dir).select("doc_id", "text")
            .mapInPandas(run, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


# ------------------------------------------------------------------- xlsx
XLSX_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("row_num", IntegerType(), False),
    StructField("line", StringType(), False),
])


def xlsx_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic .xlsx (headers c1..c4, 4 words per row)
    → native workbook parse → "hdr：val; …" row lines
    (excel_parser.py:106-128).  Oracle-checked: the line assembly is
    reproduced relationally in DuckDB."""
    from ..parsers.ooxml import build_xlsx, excel_lines
    d = (read_documents(spark, sf_dir).select("doc_id", "text")
         .filter(F.length(F.trim("text")) > 0))

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                if not words:
                    continue
                rows: list[list] = [["c1", "c2", "c3", "c4"]]
                for i in range(0, len(words), 4):
                    rows.append(list(words[i:i + 4]))
                try:
                    blob = build_xlsx([("Sheet1", rows)])
                    lines = excel_lines(blob)
                except Exception:
                    lines = []
                out.extend((doc_id, i, ln) for i, ln in enumerate(lines))
            yield pd.DataFrame(out, columns=["doc_id", "row_num", "line"])

    return (d.mapInPandas(run, XLSX_SCHEMA)
            .transform(_ordered("doc_id", "row_num")))


XLSX_TEMPLATE_SQL = r"""
WITH toklists AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS l
  FROM documents
  WHERE length(trim(text)) > 0),
pieces AS (
  SELECT doc_id,
         CAST((i - 1) // 4 AS INTEGER) AS row_num,
         list_slice(l, i, least(i + 3, len(l))) AS ws
  FROM toklists, LATERAL (SELECT unnest(generate_series(1, len(l), 4)) AS i) u),
cells AS (
  SELECT doc_id, row_num, j, 'c' || j || '：' || ws[j] AS cell
  FROM pieces, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS j) v)
SELECT doc_id, row_num, string_agg(cell, '; ' ORDER BY j) AS line
FROM cells
GROUP BY doc_id, row_num
ORDER BY doc_id, row_num
"""


# -------------------------------------------------------------- qa (xlsx)
QA_XLSX_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("pair_num", IntegerType(), False),
    StructField("chunk_text", StringType(), False),
])


def qa_xlsx_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic 2-col Q&A .xlsx (rows of 3-word question
    + 6-word answer) → native workbook parse → ``Question: q\\tAnswer: a``
    pairs (reference rag/app/qa.py:36-75 Excel route + beAdoc:292-301).
    Oracle-checked: the pair assembly incl. the rmPrefix strip is
    reproduced relationally in DuckDB."""
    from ..chunkers.qa import qa_from_xlsx
    from ..parsers.ooxml import build_xlsx
    d = (read_documents(spark, sf_dir).select("doc_id", "text")
         .filter(F.length(F.trim("text")) > 0))

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                rows = []
                for i in range(0, len(words) - 8, 9):
                    rows.append([" ".join(words[i:i + 3]),
                                 " ".join(words[i + 3:i + 9])])
                if not rows:
                    continue
                try:
                    pairs = qa_from_xlsx(build_xlsx([("QA", rows)]))
                except Exception:
                    pairs = []
                out.extend((doc_id, i, p) for i, p in enumerate(pairs))
            yield pd.DataFrame(out, columns=[f.name for f in QA_XLSX_SCHEMA])

    return (d.mapInPandas(run, QA_XLSX_SCHEMA)
            .transform(_ordered("doc_id", "pair_num")))


from .sql_shared import RM_PREFIX_SQL as _RM_PREFIX_SQL
# exact-BPE word costs (bare / space-prefixed), evaluated through the
# engine's own default encoder at SQL-build time (sql_shared.bpe_cost)
_WC_CTE = "wc(w, bare_c, sp_c) AS (VALUES ('a', 1, 1), ('agg', 1, 1), ('batch', 1, 1), ('big', 2, 1), ('column', 1, 1), ('customer', 2, 1), ('data', 1, 1), ('dup', 1, 1), ('fast', 2, 1), ('filter', 1, 1), ('group', 1, 1), ('hash', 1, 1), ('join', 1, 1), ('key', 1, 1), ('line', 1, 1), ('merge', 1, 1), ('order', 1, 1), ('part', 1, 1), ('query', 1, 1), ('row', 1, 1), ('scan', 1, 1), ('slow', 2, 2), ('small', 1, 1), ('sort', 1, 1), ('spark', 1, 1), ('stream', 1, 1), ('table', 1, 1), ('the', 1, 1), ('value', 1, 1), ('vector', 1, 1), ('window', 1, 1))"

QA_XLSX_SQL = rf"""
WITH toklists AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS l
  FROM documents
  WHERE length(trim(text)) > 0),
pairs AS (
  SELECT doc_id,
         CAST((i - 1) // 9 AS INTEGER) AS pair_num,
         array_to_string(list_slice(l, i, i + 2), ' ') AS q,
         array_to_string(list_slice(l, i + 3, i + 8), ' ') AS a
  FROM toklists,
       LATERAL (SELECT unnest(generate_series(1, len(l) - 8, 9)) AS i) u)
SELECT doc_id, pair_num,
       'Question: ' || regexp_replace(trim(q), '{_RM_PREFIX_SQL}', '', 'i')
       || chr(9) ||
       'Answer: '   || regexp_replace(trim(a), '{_RM_PREFIX_SQL}', '', 'i')
         AS chunk_text
FROM pairs
ORDER BY doc_id, pair_num
"""


PPTX_TEMPLATE_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '),
                     x -> x != '') AS l
  FROM documents),
sized AS (SELECT doc_id, l, len(l) AS n FROM docs),
body AS (
  SELECT doc_id, CAST(s AS INTEGER) AS slide_num,
    'Doc ' || doc_id || ' — slide ' || s || chr(10) ||
    '.' || array_to_string(list_slice(l, (s-1)*24+1, least((s-1)*24+8, n)), ' ') ||
    CASE WHEN n > (s-1)*24+8 THEN chr(10) || '  .' ||
         array_to_string(list_slice(l, (s-1)*24+9, least((s-1)*24+16, n)), ' ')
         ELSE '' END ||
    CASE WHEN n > (s-1)*24+16 THEN chr(10) || '  .' ||
         array_to_string(list_slice(l, (s-1)*24+17, least((s-1)*24+24, n)), ' ')
         ELSE '' END AS chunk_text
  FROM sized,
       LATERAL (SELECT unnest(generate_series(1, CAST(ceil(n/24.0) AS BIGINT))) AS s) u
  WHERE n > 0),
tbl AS (
  SELECT doc_id,
         CAST(CASE WHEN n = 0 THEN 1
              ELSE CAST(ceil(n/24.0) AS INTEGER) + 1 END AS INTEGER) AS slide_num,
         'metric: words; value: ' || n AS chunk_text
  FROM sized)
SELECT doc_id, slide_num, chunk_text FROM body
UNION ALL SELECT doc_id, slide_num, chunk_text FROM tbl
ORDER BY doc_id, slide_num
"""


# ------------------------------------------------------------------- pptx
PPTX_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("slide_num", IntegerType(), False),
    StructField("chunk_text", StringType(), False),
])


def pptx_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic .pptx (title shape + bulleted body per
    slide, 24 words each, final summary-table slide) → native slide-text
    extraction → one chunk per slide (presentation mode,
    rag/app/presentation.py:110-126)."""
    from ..parsers.ooxml import build_pptx, pptx_slides
    d = read_documents(spark, sf_dir).select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                slides = []
                for s, i in enumerate(range(0, len(words), 24)):
                    grp = words[i:i + 24]
                    bullets = [(" ".join(grp[k:k + 8]), min(k // 8, 1), True)
                               for k in range(0, len(grp), 8)]
                    slides.append([
                        {"top": 0, "left": 0,
                         "paras": [(f"Doc {doc_id} — slide {s + 1}", 0,
                                    False)]},
                        {"top": 914400, "left": 0, "paras": bullets},
                    ])
                slides.append([{"top": 0, "left": 0,
                                "table": [["metric", "value"],
                                          ["words", str(len(words))]]}])
                try:
                    blob = build_pptx(slides)
                    txts = pptx_slides(blob)
                except Exception:
                    txts = []
                out.extend((doc_id, i + 1, t)
                           for i, t in enumerate(txts) if t)
            yield pd.DataFrame(out, columns=["doc_id", "slide_num",
                                             "chunk_text"])

    return (d.mapInPandas(run, PPTX_SCHEMA)
            .transform(_ordered("doc_id", "slide_num")))


# ----------------------------------------------------------------- manual
def manual_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic .docx with "Heading 1"/"Heading 2" styled
    sections → question-stack chunking (manual mode, rag/app/manual.py:
    107-150) + colspan-merged table HTML chunks."""
    from ..chunkers.manual import docx_table_html, manual_docx_chunks
    from ..parsers.ooxml import build_docx, docx_parse

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                paras = [(f"Manual {doc_id}", "Heading 1")]
                for i in range(0, len(words), 12):
                    k = i // 12
                    if k % 3 == 0:
                        paras.append((f"Topic {k // 3 + 1}", "Heading 2"))
                    paras.append((" ".join(words[i:i + 12]) + ".", "Normal"))
                table = [["spec", "spec", "value"],
                         ["words", "words", str(len(words))]]
                try:
                    blob = build_docx(paras, tables=[table])
                    secs, _tbls = docx_parse(blob)
                    cks = manual_docx_chunks(secs)
                    from ..parsers.ooxml import docx_table_grids
                    cks += [docx_table_html(g)
                            for g in docx_table_grids(blob)]
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks) if c)
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    return (read_documents(spark, sf_dir).select("doc_id", "text")
            .mapInPandas(run, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


# ------------------------------------------------------------- laws (docx)
def laws_docx_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic statute-style .docx (heading hierarchy +
    numbered articles) → laws level-tree sections (rag/app/laws.py:57-100)
    → hierarchical chunk per parent node."""
    from ..chunkers.manual import laws_docx_sections
    from ..parsers.ooxml import build_docx, docx_parse

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                paras = [(f"Statute {doc_id}", "Heading 1")]
                for i in range(0, len(words), 10):
                    k = i // 10
                    if k % 4 == 0:
                        paras.append((f"Chapter {k // 4 + 1}", "Heading 2"))
                    paras.append(
                        (f"Article {k + 1}. " + " ".join(words[i:i + 10]),
                         "Normal"))
                try:
                    blob = build_docx(paras)
                    secs, _t = docx_parse(blob)
                    cks = laws_docx_sections(secs)
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    return (read_documents(spark, sf_dir).select("doc_id", "text")
            .mapInPandas(run, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


# --------------------------------------------------------- xlsx html mode
def xlsx_html_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same synthetic workbooks through the Excel HTML mode
    (excel_parser.py:73-104): <table> chunks of ≤chunk_rows data rows with
    the header row repeated and the sheet name as <caption>."""
    from ..parsers.ooxml import build_xlsx, excel_html
    d = (read_documents(spark, sf_dir).select("doc_id", "text")
         .filter(F.length(F.trim("text")) > 0))

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                if not words:
                    continue
                rows: list[list] = [["c1", "c2", "c3", "c4"]]
                for i in range(0, len(words), 4):
                    rows.append(list(words[i:i + 4]))
                try:
                    blob = build_xlsx([("Sheet1", rows)])
                    cks = excel_html(blob, chunk_rows=8)
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    return (d.mapInPandas(run, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


# --------------------------------------------------------------- qa (docx)
def qa_docx_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic FAQ .docx (Heading questions + body
    answers) → docx Q&A route (rag/app/qa.py:200-239) →
    "Question: …\\tAnswer: …" chunks."""
    from ..chunkers.qa import qa_from_docx
    from ..parsers.ooxml import build_docx, docx_parse

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                paras = []
                for i in range(0, len(words), 10):
                    k = i // 10
                    if k % 2 == 0:
                        paras.append(
                            ("What about " + " ".join(words[i:i + 3]) + "?",
                             "Heading 1"))
                    paras.append((" ".join(words[i:i + 10]) + ".", "Normal"))
                try:
                    blob = build_docx(paras)
                    secs, _t = docx_parse(blob)
                    cks = qa_from_docx(secs, eng=True)
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    return (read_documents(spark, sf_dir).select("doc_id", "text")
            .mapInPandas(run, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


# Docx: the parsed section stream is exactly the synthesized paragraph list
# (native writer → native reader round trip), so the oracle re-derives the
# sections (Heading1 'Document N' + 14-word body lines + 'Part p' every 4th
# body line) and replays the greedy close-late packer; the composed table
# line is one trailing chunk.  Token arithmetic as in templates.py.
DOCX_TEMPLATE_SQL = rf"""
WITH RECURSIVE toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
{_WC_CTE},
words AS (
  SELECT doc_id, n, unnest(l) AS w, generate_subscripts(l, 1) AS wi
  FROM toklists),
blines AS (
  SELECT doc_id, CAST((wi-1) // 14 AS BIGINT) AS bl,
         string_agg(words.w, ' ' ORDER BY wi) || '.' AS txt,
         sum(CASE WHEN (wi-1) % 14 = 0 THEN c.bare_c ELSE c.sp_c END)
           + 1 AS tok
  FROM words JOIN wc c ON c.w = words.w
  GROUP BY doc_id, (wi-1) // 14),
secs AS (
  -- heading tok = bpe('Document') + 1 (space piece) + ceil(digits/3) id
  -- pieces: the pre-tokenizer splits digit runs into <=3-digit pieces, so
  -- 4-digit doc_ids (sf0.1+) cost one more token than at sf0.01
  SELECT doc_id, 0 AS seq, 'Document ' || doc_id AS txt,
         2 + (length(CAST(doc_id AS VARCHAR)) + 2) // 3 AS tok
  FROM toklists
  UNION ALL
  SELECT doc_id, 1 + bl + bl // 4 AS seq, txt, tok FROM blines
  UNION ALL
  SELECT t.doc_id, 5 * p AS seq, 'Part ' || (p + 1) AS txt, 4 AS tok
  FROM (SELECT doc_id, CAST(ceil(n/14.0) AS BIGINT) AS nb FROM toklists) t,
       LATERAL (SELECT unnest(generate_series(1, (t.nb - 1) // 4)) AS p) u),
pack AS (
  SELECT doc_id, seq, txt, tok, 0 AS cseq, tok AS run
  FROM secs WHERE seq = 0
  UNION ALL
  SELECT s.doc_id, s.seq, s.txt, s.tok,
         CASE WHEN p.run > 128 THEN p.cseq + 1 ELSE p.cseq END,
         CASE WHEN p.run > 128 THEN s.tok ELSE p.run + s.tok END
  FROM pack p JOIN secs s ON s.doc_id = p.doc_id AND s.seq = p.seq + 1),
packed AS (
  SELECT doc_id, CAST(cseq AS INTEGER) AS chunk_seq,
         string_agg(txt, '' ORDER BY seq) AS chunk_text
  FROM pack GROUP BY doc_id, cseq),
tblck AS (
  SELECT p.doc_id, CAST(max(p.chunk_seq) + 1 AS INTEGER) AS chunk_seq,
         'metric: words;value: ' || any_value(t.n) || chr(10) ||
         'metric: doc;value: ' || p.doc_id AS chunk_text
  FROM packed p JOIN toklists t ON t.doc_id = p.doc_id
  GROUP BY p.doc_id)
SELECT doc_id, chunk_seq, chunk_text FROM packed
UNION ALL SELECT doc_id, chunk_seq, chunk_text FROM tblck
ORDER BY doc_id, chunk_seq
"""


# Excel HTML mode: <table> chunks of ≤8 data rows, header row repeated,
# sheet name as <caption>, partial last row padded to 4 <td> cells, one
# trailing newline per chunk (excel_parser.py:73-104).
XLSX_HTML_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
rows_ AS (
  SELECT doc_id, CAST(r AS BIGINT) AS r,
         '<tr>' ||
         '<td>' || coalesce(l[(r-1)*4 + 1], '') || '</td>' ||
         '<td>' || coalesce(l[(r-1)*4 + 2], '') || '</td>' ||
         '<td>' || coalesce(l[(r-1)*4 + 3], '') || '</td>' ||
         '<td>' || coalesce(l[(r-1)*4 + 4], '') || '</td>' ||
         '</tr>' AS row_html
  FROM toklists,
       LATERAL (SELECT unnest(generate_series(
                  1, CAST(ceil(n/4.0) AS BIGINT))) AS r) u),
grps AS (
  -- (len(rows)-1)//chunk_rows + 1 chunks: a trailing header-only chunk
  -- appears when the data row count is an exact multiple of 8
  SELECT doc_id, CAST(g AS INTEGER) AS chunk_seq
  FROM (SELECT doc_id, CAST(ceil(n/4.0) AS BIGINT) AS nd FROM toklists) t,
       LATERAL (SELECT unnest(generate_series(0, nd // 8)) AS g) u)
SELECT g.doc_id, g.chunk_seq,
       '<table><caption>Sheet1</caption>'
       || '<tr><th>c1</th><th>c2</th><th>c3</th><th>c4</th></tr>'
       || coalesce(string_agg(r.row_html, '' ORDER BY r.r), '')
       || '</table>' || chr(10) AS chunk_text
FROM grps g LEFT JOIN rows_ r
  ON r.doc_id = g.doc_id AND (r.r - 1) // 8 = g.chunk_seq
GROUP BY g.doc_id, g.chunk_seq
ORDER BY g.doc_id, g.chunk_seq
"""


# Docx Q&A route: every even 10-word group carries a Heading question over
# its first 3 words; the answer is that group's body line plus the odd
# follower (joined by newline), through the qa_text prefix strip.
QA_DOCX_SQL = rf"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
pairs AS (
  SELECT doc_id, CAST(k AS BIGINT) AS k,
         'What about ' ||
         array_to_string(list_slice(l, k*20 + 1, least(k*20 + 3, n)), ' ')
         || '?' AS q,
         array_to_string(list_slice(l, k*20 + 1, least(k*20 + 10, n)), ' ')
         || '.' ||
         CASE WHEN n > k*20 + 10 THEN
           chr(10) ||
           array_to_string(list_slice(l, k*20 + 11, least(k*20 + 20, n)), ' ')
           || '.'
         ELSE '' END AS a
  FROM toklists,
       LATERAL (SELECT unnest(generate_series(
                  0, CAST(ceil(n/20.0) AS BIGINT) - 1)) AS k) u)
SELECT doc_id, CAST(k AS INTEGER) AS chunk_seq,
       'Question: ' || regexp_replace(q, '{_RM_PREFIX_SQL}', '', 'i')
       || chr(9) ||
       'Answer: ' || regexp_replace(a, '{_RM_PREFIX_SQL}', '', 'i')
         AS chunk_text
FROM pairs
ORDER BY doc_id, chunk_seq
"""


# Manual route: one chunk per Topic — the question-stack path 'Manual N\n
# Topic k' + blank line + the topic's three 12-word body lines — plus the
# colspan-merged table HTML.  Laws route: hierarchical level tree — chunk 0
# is the H1 with its H2 children, then one chunk per chapter with its four
# 'Article i.' sections.
MANUAL_TEMPLATE_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
sized AS (SELECT doc_id, l, n, CAST(ceil(n/12.0) AS BIGINT) AS nl
          FROM toklists),
topics AS (
  SELECT doc_id, CAST(k - 1 AS INTEGER) AS chunk_seq,
         'Manual ' || doc_id || chr(10) || 'Topic ' || k
         || chr(10) || chr(10) ||
         (SELECT string_agg(
            array_to_string(list_slice(l, i*12 + 1, least(i*12 + 12, n)),
                            ' ') || '.', chr(10) ORDER BY i)
          FROM unnest(generate_series(3*(k-1), least(3*k, nl) - 1)) AS t(i))
           AS chunk_text
  FROM sized,
       LATERAL (SELECT unnest(generate_series(
                  1, CAST(ceil(nl/3.0) AS BIGINT))) AS k) u),
tbl AS (
  SELECT doc_id,
         CAST(ceil(CAST(ceil(n/12.0) AS BIGINT)/3.0) AS INTEGER) AS chunk_seq,
         '<table><tr><td colspan=''2''>spec</td><td>value</td></tr>' ||
         '<tr><td colspan=''2''>words</td><td>' || n ||
         '</td></tr></table>' AS chunk_text
  FROM sized)
SELECT doc_id, chunk_seq, chunk_text FROM topics
UNION ALL SELECT doc_id, chunk_seq, chunk_text FROM tbl
ORDER BY doc_id, chunk_seq
"""

LAWS_DOCX_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
sized AS (SELECT doc_id, l, n, CAST(ceil(n/10.0) AS BIGINT) AS nl,
                 CAST(ceil(ceil(n/10.0)/4.0) AS BIGINT) AS nc
          FROM toklists),
head AS (
  SELECT doc_id, 0 AS chunk_seq,
         'Statute ' || doc_id || chr(10) ||
         (SELECT string_agg('Chapter ' || c, chr(10) ORDER BY c)
          FROM unnest(generate_series(1, nc)) AS t(c)) AS chunk_text
  FROM sized),
chapters AS (
  SELECT doc_id, CAST(c AS INTEGER) AS chunk_seq,
         'Chapter ' || c || chr(10) ||
         (SELECT string_agg(
            'Article ' || (i + 1) || '. ' ||
            array_to_string(list_slice(l, i*10 + 1, least(i*10 + 10, n)),
                            ' '), chr(10) ORDER BY i)
          FROM unnest(generate_series(4*(c-1), least(4*c, nl) - 1)) AS t(i))
           AS chunk_text
  FROM sized, LATERAL (SELECT unnest(generate_series(1, nc)) AS c) u)
SELECT doc_id, chunk_seq, chunk_text FROM head
UNION ALL SELECT doc_id, chunk_seq, chunk_text FROM chapters
ORDER BY doc_id, chunk_seq
"""


# ----------------------------------------------------------------- legacy .doc
def doc_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → legacy Word 97 binaries via the native CFB writer →
    native piece-table extraction (parsers/doc.py — replaces the
    reference's Tika subprocess route) → line sections → naive_merge.
    The 12-word '.'-terminated lines make the output byte-identical to the
    txt route, so the oracle is TXT_TEMPLATE_SQL reused verbatim."""
    from ..chunkers.naive import naive_merge
    from ..parsers.doc import build_doc, doc_lines

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                if not words:
                    continue
                body = "\n".join(" ".join(words[i:i + 12]) + "."
                                  for i in range(0, len(words), 12))
                try:
                    lines = doc_lines(build_doc(body))
                    cks = [c for c in naive_merge(
                        [(ln, "") for ln in lines], 128, "\n!?。；！？") if c]
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    return (read_documents(spark, sf_dir).select("doc_id", "text")
            .mapInPandas(run, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))



from .templates import TXT_TEMPLATE_SQL as _TXT_TEMPLATE_SQL

QUERIES = {
    "doc_template": (doc_template, _TXT_TEMPLATE_SQL),
    "docx_template": (docx_template, DOCX_TEMPLATE_SQL),
    "xlsx_template": (xlsx_template, XLSX_TEMPLATE_SQL),
    "qa_xlsx_template": (qa_xlsx_template, QA_XLSX_SQL),
    "pptx_template": (pptx_template, PPTX_TEMPLATE_SQL),
    "manual_template": (manual_template, MANUAL_TEMPLATE_SQL),
    "laws_docx_template": (laws_docx_template, LAWS_DOCX_SQL),
    "qa_docx_template": (qa_docx_template, QA_DOCX_SQL),
    "xlsx_html_template": (xlsx_html_template, XLSX_HTML_SQL),
}
