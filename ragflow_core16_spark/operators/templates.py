"""Spark-side chunk-template queries, each with a DuckDB oracle: the
synthetic corpus (single-space lowercase ASCII words) makes the token
counter exact SQL arithmetic and the greedy close-late packer a recursive
CTE, so even the packed templates hash-compare against SQL derivations.

Each query exercises one chunk template end-to-end over deterministic inputs
derived from the driver tables:

  * txt/markdown/json — documents.text re-framed as that format;
  * qa — synthetic two-column Q&A built from document sentences;
  * table — per-user TSV blobs assembled from the events table (realistic:
    semi-structured blob → typed-row chunks);
  * email — documents.text re-framed as multipart .eml (MIME headers +
    text/plain + text/html parts) through the stdlib-MIME + HTML-strip path;
  * tag — two-column content/tags TSV (DuckDB-oracle-backed: the txt-tag
    path is per-line relational, so it IS SQL-expressible);
  * paper — numbered-heading sections through the title-frequency pivot
    merge.

All are one mapInPandas/applyInPandas pass after narrow column selects; the
only shuffle is the events groupBy(user_id).
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


from .sql_shared import RM_PREFIX_SQL as _RM_PREFIX_SQL


def _template_query(template_fn):
    def make(spark: SparkSession, sf_dir: str, to_text) -> DataFrame:
        d = read_documents(spark, sf_dir).select("doc_id", "text", "lang")

        def run(batches):
            for pdf in batches:
                out = []
                for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"],
                                              pdf["lang"]):
                    body = to_text(int(doc_id), text or "")
                    try:
                        cks = template_fn(body)
                    except Exception:
                        cks = []
                    out.extend((int(doc_id), i, c)
                               for i, c in enumerate(cks) if c)
                yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                                 "chunk_text"])

        return (d.mapInPandas(run, CHUNKS_SCHEMA)
                .transform(_ordered("doc_id", "chunk_seq")))
    return make


def txt_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..chunkers.templates import chunk_txt
    mk = _template_query(lambda t: chunk_txt(t, 128))
    # sentence-ify: every 12 words get a '. ' so the delimiter set has work
    def to_text(doc_id, text):
        words = text.split()
        return "\n".join(" ".join(words[i:i + 12]) + "."
                         for i in range(0, len(words), 12))
    return mk(spark, sf_dir, to_text)


def markdown_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..chunkers.templates import chunk_markdown

    def to_text(doc_id, text):
        words = text.split()
        paras = [" ".join(words[i:i + 20]) for i in range(0, len(words), 20)]
        md = [f"# Document {doc_id}"]
        for i, p in enumerate(paras):
            if i % 3 == 0 and i:
                md.append(f"## Part {i // 3}")
            md.append(p)
        # one deterministic pipe table per doc
        md.append("")
        md.append("| key | value |")
        md.append("| --- | --- |")
        md.append(f"| doc | {doc_id} |")
        md.append(f"| words | {len(words)} |")
        md.append("")
        return "\n".join(md)

    mk = _template_query(lambda t: chunk_markdown(t, 128))
    return mk(spark, sf_dir, to_text)


def json_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    from ..chunkers.templates import chunk_json

    def to_text(doc_id, text):
        words = text.split()
        obj = {
            "doc_id": doc_id,
            "meta": {"n_words": len(words), "lang": "x"},
            "paragraphs": [" ".join(words[i:i + 15])
                           for i in range(0, len(words), 15)],
        }
        return _json.dumps(obj, ensure_ascii=False)

    mk = _template_query(lambda t: chunk_json(t, 256))
    return mk(spark, sf_dir, to_text)


def qa_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..chunkers.templates import chunk_qa_text

    def to_text(doc_id, text):
        words = text.split()
        lines = []
        for i in range(0, min(len(words), 60), 12):
            q = "What about " + " ".join(words[i:i + 4]) + "?"
            a = " ".join(words[i + 4:i + 12]) or "nothing"
            lines.append(f"{q}\t{a}")
        return "\n".join(lines)

    mk = _template_query(lambda t: chunk_qa_text(t, "txt", "English"))
    return mk(spark, sf_dir, to_text)


def qa_md_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown Q&A route (rag/app/qa.py:415-447): heading-stack pairing
    with the answer body RENDERED to HTML (the reference pipes it through
    ``markdown(..., extensions=['tables'])``; here the native subset
    renderer).  Per 16 words: one ``# What about …?`` heading + two 6-word
    body lines → one pair with a ``<p>…</p>`` answer."""
    from ..chunkers.templates import chunk_qa_text

    def to_text(doc_id, text):
        words = text.split()
        md = []
        for i in range(0, len(words), 16):
            md.append("# What about " + " ".join(words[i:i + 4]) + "?")
            if words[i + 4:i + 10]:
                md.append(" ".join(words[i + 4:i + 10]))
            if words[i + 10:i + 16]:
                md.append(" ".join(words[i + 10:i + 16]))
        return "\n".join(md)

    mk = _template_query(lambda t: chunk_qa_text(t, "md", "English"))
    return mk(spark, sf_dir, to_text)


QA_MD_SQL = rf"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
pairs AS (
  SELECT doc_id, CAST((i-1) // 16 AS INTEGER) AS chunk_seq,
         'What about ' ||
           array_to_string(list_slice(l, i, least(i+3, n)), ' ') || '?' AS q,
         array_to_string(list_slice(l, i+4, least(i+9, n)), ' ') AS b1,
         coalesce(array_to_string(list_slice(l, i+10, least(i+15, n)), ' '),
                  '') AS b2
  FROM toklists,
       LATERAL (SELECT unnest(generate_series(1, n, 16)) AS i) u
  WHERE i + 4 <= n)
SELECT doc_id, chunk_seq,
       'Question: ' || regexp_replace(q, '{_RM_PREFIX_SQL}', '', 'i')
       || chr(9) || 'Answer: <p>' || b1 ||
       CASE WHEN b2 != '' THEN chr(10) || b2 ELSE '' END || '</p>'
         AS chunk_text
FROM pairs
ORDER BY doc_id, chunk_seq
"""


def table_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → per-user TSV blob → table template → typed row chunks.
    groupBy(user_id) is the single shuffle; blob assembly + parsing are
    within-group (applyInPandas)."""
    from ..chunkers.templates import chunk_table_text
    e = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "event_id", "ts", "event_type", "value")

    def per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        uid = int(pdf["user_id"].iloc[0])
        lines = ["event_id\tevent_type\twhen\tvalue"]
        lines += [f"{r.event_id}\t{r.event_type}\t{r.ts}\t{round(r.value, 4)}"
                  for r in pdf.itertuples()]
        cks = chunk_table_text("\n".join(lines))
        return pd.DataFrame(
            [(uid, i, c) for i, c in enumerate(cks)],
            columns=["doc_id", "chunk_seq", "chunk_text"])

    return (e.groupBy("user_id").applyInPandas(per_user, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


def email_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → deterministic multipart .eml (headers + text/plain
    + text/html alternative parts) → MIME parse → TxtParser + HtmlParser
    sections → naive_merge chunks (reference rag/app/email.py:29-88)."""
    from ..chunkers.email_t import chunk_email
    d = read_documents(spark, sf_dir).select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                half = len(words) // 2
                plain = "\n".join(" ".join(words[i:i + 12]) + "."
                                  for i in range(0, half, 12))
                paras = "".join(f"<p>{' '.join(words[i:i + 12])}.</p>"
                                for i in range(half, len(words), 12))
                html = (f"<html><head><title>Doc {doc_id}</title></head>"
                        f"<body><article>{paras}</article></body></html>")
                raw = ("From: sender-%d@example.com\r\n"
                       "To: corpus@example.com\r\n"
                       "Subject: Document %d\r\n"
                       "MIME-Version: 1.0\r\n"
                       'Content-Type: multipart/alternative; boundary="B"\r\n'
                       "\r\n--B\r\n"
                       "Content-Type: text/plain; charset=utf-8\r\n\r\n"
                       "%s\r\n--B\r\n"
                       "Content-Type: text/html; charset=utf-8\r\n\r\n"
                       "%s\r\n--B--\r\n" % (doc_id, doc_id, plain, html)
                       ).encode("utf-8")
                try:
                    cks = chunk_email(raw)
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    return (d.mapInPandas(run, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


TAG_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("row_num", IntegerType(), False),
    StructField("content", StringType(), False),
    StructField("tag_kwd", StringType(), False),
])


def tag_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → two-column TSV "content<TAB>tagA, tagB.x" lines →
    tag chunker (delimiter election, content accumulation, tag_kwd
    normalization; reference rag/app/tag.py:62-91).  Every synthetic line is
    well-formed under TAB, so the oracle reproduces the rows in SQL."""
    from ..chunkers.tag import chunk_tag_txt
    d = read_documents(spark, sf_dir).select("doc_id", "text") \
        .filter(F.length(F.trim("text")) > 0)

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                words = (text or "").split()
                if not words:
                    continue
                lines = []
                for i in range(0, len(words), 8):
                    content = " ".join(words[i:i + 8])
                    tags = "t%d, t%d.x" % (i % 3, (i // 8) % 5)
                    lines.append(f"{content}\t{tags}")
                for content, tags, row_num in chunk_tag_txt("\n".join(lines)):
                    out.append((doc_id, row_num, content, ",".join(tags)))
            yield pd.DataFrame(out, columns=["doc_id", "row_num", "content",
                                             "tag_kwd"])

    return (d.mapInPandas(run, TAG_SCHEMA)
            .transform(_ordered("doc_id", "row_num")))


TAG_TEMPLATE_SQL = r"""
WITH toklists AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ') AS l
  FROM documents
  WHERE length(trim(text)) > 0),
lines AS (
  SELECT doc_id,
         CAST((i - 1) // 8 AS INTEGER) AS row_num,
         array_to_string(list_slice(l, i, least(i + 7, len(l))), ' ') AS piece,
         (i - 1) % 3 AS k1,
         ((i - 1) // 8) % 5 AS k2
  FROM toklists, LATERAL (SELECT unnest(generate_series(1, len(l), 8)) AS i) u)
SELECT doc_id, row_num,
       chr(10) || piece AS content,
       't' || k1 || ',' || 't' || k2 || '_x' AS tag_kwd
FROM lines
ORDER BY doc_id, row_num
"""


def paper_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthetic paper sections (title, abstract, numbered
    headings every few paragraphs) → title-frequency pivot merge
    (reference rag/app/paper.py:186-208)."""
    from ..chunkers.paper import paper_merge

    def to_sections(doc_id, text):
        words = text.split()
        secs = [f"Document {doc_id}: A Study", "Abstract",
                " ".join(words[:24]) or "empty"]
        paras = [" ".join(words[i:i + 16])
                 for i in range(24, len(words), 16)]
        for i, p in enumerate(paras):
            if i % 3 == 0:
                secs.append("%d. Section %d" % (i // 3 + 1, i // 3 + 1))
            secs.append(p)
        return secs

    d = read_documents(spark, sf_dir).select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                try:
                    cks = paper_merge(to_sections(doc_id, text or ""))
                except Exception:
                    cks = []
                out.extend((doc_id, i, c) for i, c in enumerate(cks))
            yield pd.DataFrame(out, columns=["doc_id", "chunk_seq",
                                             "chunk_text"])

    return (d.mapInPandas(run, CHUNKS_SCHEMA)
            .transform(_ordered("doc_id", "chunk_seq")))


def resume_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → deterministic structured-resume JSON fixtures → the
    resume chunk-assembly stage (reference rag/app/resume.py:94-170; the
    remote parse service is the documented stub).  Output: one typed doc
    row per resume with the assembled content block."""
    import json as _json
    from ..chunkers.resume_t import parse_resume, resume_to_doc
    d = read_documents(spark, sf_dir).select("doc_id", "text", "lang")

    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("name_kwd", StringType(), True),
        StructField("age_int", IntegerType(), True),
        StructField("n_fields", IntegerType(), False),
        StructField("content", StringType(), False),
    ])

    def run(batches):
        for pdf in batches:
            out = []
            for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"],
                                          pdf["lang"]):
                doc_id = int(doc_id)
                words = (text or "").split() or ["x"]
                fixture = {
                    "name_kwd": f"Person {doc_id}",
                    "gender_kwd": "男" if doc_id % 2 else "女",
                    "age_int": 22 + doc_id % 40,
                    "position_name_tks": " ".join(words[:3]),
                    "phone_kwd": f"1380000{doc_id % 10000:04d}",
                    "email_tks": f"p{doc_id} @ example . com",
                    "work_exp_flt": round((doc_id % 30) / 2.0, 1),
                    "corporation_name_tks": " ".join(words[3:6]),
                    "school_name_tks": [" ".join(words[6:8]) or "u"],
                    "degree_kwd": ["本科"] if doc_id % 3 else ["本科", "硕士"],
                    "edu_end_int": 2000 + doc_id % 25,
                }
                try:
                    doc = resume_to_doc(
                        parse_resume(_json.dumps(fixture).encode()),
                        f"resume-{doc_id}.json")
                    out.append((doc_id, doc.get("name_kwd"),
                                int(doc.get("age_int", 0)),
                                sum(1 for k in doc if k.endswith(
                                    ("_kwd", "_int", "_tks", "_flt", "_dt"))),
                                doc["content_with_weight"]))
                except Exception:
                    pass
            yield pd.DataFrame(out, columns=["doc_id", "name_kwd", "age_int",
                                             "n_fields", "content"])

    return (d.mapInPandas(run, schema)
            .transform(_ordered("doc_id")))


# --------------------------------------------------------------- oracles
#
# The synthetic corpus (documents.text = single-space-separated lowercase
# ASCII words from a fixed pool) makes the BPE token counter
# (textnorm/tokens.py) exact SQL arithmetic: each word piece costs its
# bare or space-prefixed count (the ``wc`` relation below) and a trailing
# '.' costs 1.  The greedy close-late packer
# (naive_merge, rag/nlp/__init__.py:510-541) is a linear scan with
# reset-on-threshold — expressed as a recursive CTE that advances every
# document one section per iteration.

# shared SQL fragments
_WORDS_CTE = r"""
toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
  WHERE length(trim(text)) > 0),
words AS (
  SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS wi
  FROM toklists)"""

# exact-BPE word costs (bare / space-prefixed), evaluated through the
# engine's own default encoder at SQL-build time (sql_shared.bpe_cost)
_WC_CTE = "wc(w, bare_c, sp_c) AS (VALUES ('a', 1, 1), ('agg', 1, 1), ('batch', 1, 1), ('big', 2, 1), ('column', 1, 1), ('customer', 2, 1), ('data', 1, 1), ('dup', 1, 1), ('fast', 2, 1), ('filter', 1, 1), ('group', 1, 1), ('hash', 1, 1), ('join', 1, 1), ('key', 1, 1), ('line', 1, 1), ('merge', 1, 1), ('order', 1, 1), ('part', 1, 1), ('query', 1, 1), ('row', 1, 1), ('scan', 1, 1), ('slow', 2, 2), ('small', 1, 1), ('sort', 1, 1), ('spark', 1, 1), ('stream', 1, 1), ('table', 1, 1), ('the', 1, 1), ('value', 1, 1), ('vector', 1, 1), ('window', 1, 1))"


TXT_TEMPLATE_SQL = rf"""
WITH RECURSIVE {_WORDS_CTE},
{_WC_CTE},
lines AS (
  SELECT doc_id, CAST((wi-1) // 12 AS INTEGER) AS line_num,
         string_agg(words.w, ' ' ORDER BY wi) || '.' AS line_text,
         sum(CASE WHEN (wi-1) % 12 = 0 THEN c.bare_c ELSE c.sp_c END)
           + 1 AS tok
  FROM words JOIN wc c ON c.w = words.w
  GROUP BY doc_id, (wi-1) // 12),
pack AS (
  SELECT doc_id, line_num, line_text, tok, 0 AS chunk_seq, tok AS run
  FROM lines WHERE line_num = 0
  UNION ALL
  SELECT l.doc_id, l.line_num, l.line_text, l.tok,
         CASE WHEN p.run > 128 THEN p.chunk_seq + 1 ELSE p.chunk_seq END,
         CASE WHEN p.run > 128 THEN l.tok ELSE p.run + l.tok END
  FROM pack p JOIN lines l
    ON l.doc_id = p.doc_id AND l.line_num = p.line_num + 1)
SELECT doc_id, CAST(chunk_seq AS INTEGER) AS chunk_seq,
       string_agg(line_text, '' ORDER BY line_num) AS chunk_text
FROM pack GROUP BY doc_id, chunk_seq
ORDER BY doc_id, chunk_seq
"""



QA_TEMPLATE_SQL = rf"""
WITH {_WORDS_CTE},
sized AS (SELECT doc_id, l, len(l) AS n FROM toklists),
pairs AS (
  SELECT doc_id, CAST((i-1) // 12 AS INTEGER) AS chunk_seq,
         'What about ' || array_to_string(list_slice(l, i, least(i+3, n)), ' ')
           || '?' AS q,
         coalesce(array_to_string(list_slice(l, i+4, least(i+11, n)), ' '),
                  '') AS a_raw
  FROM sized,
       LATERAL (SELECT unnest(generate_series(1, least(n, 60), 12)) AS i) u)
SELECT doc_id, chunk_seq,
       'Question: ' ||
         regexp_replace(q, '{_RM_PREFIX_SQL}', '', 'i') || chr(9) ||
       'Answer: ' ||
         regexp_replace(CASE WHEN a_raw = '' THEN 'nothing' ELSE a_raw END,
                        '{_RM_PREFIX_SQL}', '', 'i') AS chunk_text
FROM pairs
ORDER BY doc_id, chunk_seq
"""


PAPER_TEMPLATE_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sized AS (SELECT doc_id, l, len(l) AS n FROM toklists),
head AS (
  SELECT doc_id, 0 AS chunk_seq,
         'Document ' || doc_id || ': A Study' || chr(10) || 'Abstract' ||
         chr(10) ||
         CASE WHEN n = 0 THEN 'empty'
              ELSE array_to_string(list_slice(l, 1, least(24, n)), ' ') END
           AS chunk_text
  FROM sized),
body AS (
  SELECT doc_id, CAST(k AS INTEGER) AS chunk_seq,
         k || '. Section ' || k || chr(10) ||
         (SELECT string_agg(
                   array_to_string(
                     list_slice(l, 25 + (k-1)*48 + (pj-1)*16,
                                least(24 + (k-1)*48 + pj*16, n)), ' '),
                   chr(10) ORDER BY pj)
          FROM unnest(generate_series(
                 1, least(3, CAST(ceil((n - 24 - (k-1)*48)/16.0) AS BIGINT))))
               AS t(pj)) AS chunk_text
  FROM sized,
       LATERAL (SELECT unnest(generate_series(
                  1, CAST(ceil(greatest(n - 24, 0)/48.0) AS BIGINT))) AS k) u
  WHERE n > 24)
SELECT doc_id, chunk_seq, chunk_text FROM head
UNION ALL SELECT doc_id, chunk_seq, chunk_text FROM body
ORDER BY doc_id, chunk_seq
"""


TABLE_TEMPLATE_SQL = r"""
WITH typed AS (
  SELECT user_id, event_id, event_type,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS when_s,
         CAST(value AS VARCHAR) AS val_s,
         regexp_matches(CAST(value AS VARCHAR),
                        '^[+-]?[0-9]{0,19}(\.0+)?$') AS val_int
  FROM events),
vote AS (
  -- column_data_type per user's value column: int wins ties (dict order)
  SELECT user_id,
         count(*) FILTER (val_int) >= count(*) FILTER (NOT val_int) AS as_int
  FROM typed GROUP BY user_id),
rendered AS (
  SELECT t.user_id AS doc_id,
         CAST(row_number() OVER (PARTITION BY t.user_id ORDER BY t.event_id)
              - 1 AS INTEGER) AS chunk_seq,
         'event_id:' || t.event_id ||
         '; event_type:' || t.event_type ||
         '; when:' || t.when_s ||
         '; value:' ||
         CASE WHEN v.as_int THEN CAST(CAST(trunc(CAST(t.val_s AS DOUBLE))
                                           AS BIGINT) AS VARCHAR)
              ELSE t.val_s END AS chunk_text
  FROM typed t JOIN vote v ON v.user_id = t.user_id)
SELECT doc_id, chunk_seq, chunk_text FROM rendered
ORDER BY doc_id, chunk_seq
"""


RESUME_TEMPLATE_SQL = r"""
WITH toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
f AS (
  SELECT doc_id,
         'Person ' || doc_id AS name_kwd,
         CAST(22 + doc_id % 40 AS INTEGER) AS age_int,
         CASE WHEN doc_id % 2 = 1 THEN '男' ELSE '女' END AS gender,
         '1380000' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS phone,
         'p' || doc_id || '@example . com' AS email,
         array_to_string(list_slice(l, 1, 3), ' ') AS position,
         doc_id % 30 AS we2,
         array_to_string(list_slice(l, 4, 6), ' ') AS corp,
         array_to_string(list_slice(l, 7, least(8, len(l))), ' ') AS school,
         CASE WHEN doc_id % 3 = 0 THEN '本科 硕士' ELSE '本科' END AS degree,
         2000 + doc_id % 25 AS edu_end
  FROM toklists)
SELECT doc_id, name_kwd, age_int, CAST(12 AS INTEGER) AS n_fields,
       '姓名/名字: ' || name_kwd || chr(10) ||
       '性别: ' || gender || chr(10) ||
       '年龄/岁/年纪: ' || age_int || chr(10) ||
       '电话/手机/微信: ' || phone || chr(10) ||
       'email/e-mail/邮箱: ' || email || chr(10) ||
       '职位/职能/岗位/职责: ' || position || chr(10) ||
       CASE WHEN we2 = 0 THEN ''
            ELSE '工作年限/工作年份/N年经验/毕业了多少年: ' ||
                 (we2 // 2) || '.' || CASE WHEN we2 % 2 = 0 THEN '0'
                                          ELSE '5' END || chr(10) END ||
       '最近就职(上班)的公司/上一家公司: ' || corp || chr(10) ||
       '过往学历: ' || degree || chr(10) ||
       '学校/毕业院校: ' || school || chr(10) ||
       '毕业年份: ' || edu_end AS content
FROM f
ORDER BY doc_id
"""


# Email: two chained greedy packs — TxtParser.parser_txt over
# [5 header lines split on ';' + plain-payload lines] (pass 1), then
# naive_merge over [pass-1 chunks + HTML title + <p> sections] (pass 2).
# Header token counts are exact-BPE constants evaluated at SQL-build time
# (digit runs still cost ceil(len/3)); pass 2 RECOUNTS each pass-1 chunk,
# whose headers concatenated without separator — the two letter-letter
# junction fusions ('com'+'To', 'com'+'Subject') carry encoder-derived
# deltas, every other junction is punct/digit-separated and exactly zero
# under the class-pure vocabulary.
EMAIL_TEMPLATE_SQL = rf"""
WITH RECURSIVE toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
{_WC_CTE},
words AS (
  SELECT doc_id, n, n // 2 AS half, unnest(l) AS w,
         generate_subscripts(l, 1) AS wi
  FROM toklists),
plines AS (
  SELECT doc_id, CAST((wi-1) // 12 AS BIGINT) AS ln,
         string_agg(words.w, ' ' ORDER BY wi) || '.' AS txt,
         sum(CASE WHEN (wi-1) % 12 = 0 THEN c.bare_c ELSE c.sp_c END) + 1 AS tok
  -- lines start at word 1, 13, 25… while the START is within the plain
  -- half, but each line slices 12 words from the FULL word list (the
  -- builder's words[i:i+12] is not capped at half)
  FROM words JOIN wc c ON c.w = words.w
  WHERE ((wi-1) // 12) * 12 + 1 <= half
  GROUP BY doc_id, (wi-1) // 12),
s1 AS (
  SELECT d.doc_id, h.seq,
         CASE h.seq
           WHEN 0 THEN 'From: sender-' || d.doc_id || '@example.com'
           WHEN 1 THEN 'To: corpus@example.com'
           WHEN 2 THEN 'Subject: Document ' || d.doc_id
           WHEN 3 THEN 'MIME-Version: 1.0'
           WHEN 4 THEN 'Content-Type: multipart/alternative'
           ELSE ' boundary="B"' END AS txt,
         -- seq 0 and 2 carry the doc_id digit run: the pre-tokenizer
         -- splits it into ceil(digits/3) pieces, so the sf0.01-fitted
         -- constants gain one token per extra 3-digit group (4+ digit
         -- ids at sf0.1+)
         h.tok + CASE WHEN h.seq IN (0, 2)
                      THEN (length(CAST(d.doc_id AS VARCHAR)) + 2) // 3 - 1
                      ELSE 0 END AS tok
  FROM (SELECT DISTINCT doc_id FROM toklists) d,
       (VALUES (0, 12), (1, 7), (2, 8), (3, 12), (4, 10), (5, 5)) h(seq, tok)
  UNION ALL
  SELECT doc_id, 6 + ln, txt, tok FROM plines),
pack1 AS (
  SELECT doc_id, seq, txt, tok, 0 AS cseq, tok AS run
  FROM s1 WHERE seq = 0
  UNION ALL
  SELECT s.doc_id, s.seq, s.txt, s.tok,
         CASE WHEN p.run > 128 THEN p.cseq + 1 ELSE p.cseq END,
         CASE WHEN p.run > 128 THEN s.tok ELSE p.run + s.tok END
  FROM pack1 p JOIN s1 s ON s.doc_id = p.doc_id AND s.seq = p.seq + 1),
c1 AS (
  SELECT doc_id, cseq,
         string_agg(txt, '' ORDER BY seq) AS txt,
         sum(tok) + CASE WHEN cseq = 0 THEN 0 ELSE 0 END AS tok
  FROM pack1 GROUP BY doc_id, cseq),
hparas AS (
  SELECT doc_id, CAST((wi - half - 1) // 12 AS BIGINT) AS ln,
         string_agg(words.w, ' ' ORDER BY wi) || '.' AS txt,
         sum(CASE WHEN (wi-half-1) % 12 = 0 THEN c.bare_c ELSE c.sp_c END) + 1 AS tok
  FROM words JOIN wc c ON c.w = words.w
  WHERE wi > half GROUP BY doc_id, (wi - half - 1) // 12),
s2raw AS (
  SELECT doc_id, 0 AS ph, cseq AS k, txt, tok FROM c1
  UNION ALL
  SELECT doc_id, 1 AS ph, 0 AS k, 'Doc ' || doc_id AS txt,
         2 + (length(CAST(doc_id AS VARCHAR)) + 2) // 3 AS tok
  FROM toklists
  UNION ALL
  SELECT doc_id, 2 AS ph, ln AS k, txt, tok FROM hparas),
s2 AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY ph, k) - 1 AS seq,
         txt, tok
  FROM s2raw),
pack2 AS (
  SELECT doc_id, seq, txt, tok, 0 AS cseq, tok AS run
  FROM s2 WHERE seq = 0
  UNION ALL
  SELECT s.doc_id, s.seq, s.txt, s.tok,
         CASE WHEN p.run > 128 THEN p.cseq + 1 ELSE p.cseq END,
         CASE WHEN p.run > 128 THEN s.tok ELSE p.run + s.tok END
  FROM pack2 p JOIN s2 s ON s.doc_id = p.doc_id AND s.seq = p.seq + 1)
SELECT doc_id, CAST(cseq AS INTEGER) AS chunk_seq,
       string_agg(txt, '' ORDER BY seq) AS chunk_text
FROM pack2 GROUP BY doc_id, cseq
ORDER BY doc_id, chunk_seq
"""


# Markdown: the sectioner fuses each heading with every following line
# until the next heading (the '#'-absorb rule applies repeatedly), so
# sections are per-heading blocks; the last block carries the two blank
# lines left behind by the extracted pipe table ('\n\n' = one piece of
# 2 newline bytes = 2 tokens under the class-pure vocabulary).  The
# rendered <table> html is one trailing chunk.
MARKDOWN_TEMPLATE_SQL = rf"""
WITH RECURSIVE toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
{_WC_CTE},
words AS (
  SELECT doc_id, n, unnest(l) AS w, generate_subscripts(l, 1) AS wi
  FROM toklists),
paras AS (
  SELECT doc_id, CAST((wi-1) // 20 AS BIGINT) AS pi,
         string_agg(words.w, ' ' ORDER BY wi) AS txt,
         sum(CASE WHEN (wi-1) % 20 = 0 THEN c.bare_c ELSE c.sp_c END) AS ptok
  FROM words JOIN wc c ON c.w = words.w
  GROUP BY doc_id, (wi-1) // 20),
grps AS (
  SELECT doc_id, pi // 3 AS g,
         string_agg(chr(10) || txt, '' ORDER BY pi) AS body,
         sum(1 + ptok) AS btok,
         max(max(pi // 3)) OVER (PARTITION BY doc_id) AS glast
  FROM paras GROUP BY doc_id, pi // 3),
secs AS (
  SELECT doc_id, g AS seq,
         CASE WHEN g = 0 THEN '# Document ' || doc_id
              ELSE '## Part ' || g END || body ||
         CASE WHEN g = glast THEN chr(10) || chr(10) ELSE '' END AS txt,
         CASE WHEN g = 0 THEN 5 - 1
                + (length(CAST(doc_id AS VARCHAR)) + 2) // 3
              ELSE 6 END + btok +
         CASE WHEN g = glast THEN 2 ELSE 0 END AS tok
  FROM grps),
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
         '<table><thead><tr><th>key</th><th>value</th></tr></thead><tbody>'
         || '<tr><td>doc</td><td>' || p.doc_id || '</td></tr>'
         || '<tr><td>words</td><td>' || any_value(t.n)
         || '</td></tr></tbody></table>' AS chunk_text
  FROM packed p JOIN toklists t ON t.doc_id = p.doc_id GROUP BY p.doc_id)
SELECT doc_id, chunk_seq, chunk_text FROM packed
UNION ALL SELECT doc_id, chunk_seq, chunk_text FROM tblck
ORDER BY doc_id, chunk_seq
"""


# JSON: the LangChain-style splitter packs (key, paragraph) subtrees by
# SERIALIZED CHAR SIZE (budget 2×256, floor 56): adding paragraph k to a
# chunk costs 24+len(key)+len(text) chars when it opens the "paragraphs"
# object, 8+len(key)+len(text) when appended; a subtree whose entry size
# 8+dk+L >= 512 - current closes the chunk.  The resulting JSON strings
# then go through the 256-token greedy merge; their token counts follow
# skeleton constants solved from two encoder probes (single- and
# two-entry JSON shapes): per-entry skeleton S2=8, later-chunk base
# 8, chunk-0 base 45 (+digit-group corrections for doc_id and
# n_words), each entry's first word fused with its opening quote
# (1 + bare cost — exact under the class-pure vocabulary).
JSON_TEMPLATE_SQL = rf"""
WITH RECURSIVE toklists AS (
  SELECT doc_id, string_split(text, ' ') AS l, len(string_split(text, ' ')) AS n
  FROM documents WHERE length(trim(text)) > 0),
{_WC_CTE},
words AS (
  SELECT doc_id, n, unnest(l) AS w, generate_subscripts(l, 1) AS wi
  FROM toklists),
paras AS (
  SELECT doc_id, CAST((wi-1) // 15 AS BIGINT) AS k,
         string_agg(words.w, ' ' ORDER BY wi) AS txt,
         sum(CASE WHEN (wi-1) % 15 = 0 THEN 1 + c.bare_c ELSE c.sp_c END)
           AS ptok,
         length(string_agg(words.w, ' ' ORDER BY wi)) AS plen,
         length(CAST((wi-1) // 15 AS VARCHAR)) AS dk
  FROM words JOIN wc c ON c.w = words.w
  GROUP BY doc_id, (wi-1) // 15),
base AS (
  SELECT doc_id, 48 + length(CAST(doc_id AS VARCHAR)) +
         length(CAST(n AS VARCHAR)) AS b
  FROM toklists),
cpack AS (
  SELECT p.doc_id, p.k, p.txt, p.ptok, 0 AS cj,
         b.b + 24 + p.dk + p.plen AS s
  FROM paras p JOIN base b ON b.doc_id = p.doc_id WHERE p.k = 0
  UNION ALL
  SELECT q.doc_id, q.k, q.txt, q.ptok,
         CASE WHEN 8 + q.dk + q.plen < 512 - c.s THEN c.cj ELSE c.cj + 1 END,
         CASE WHEN 8 + q.dk + q.plen < 512 - c.s THEN c.s + 8 + q.dk + q.plen
              ELSE 24 + q.dk + q.plen END
  FROM cpack c JOIN paras q ON q.doc_id = c.doc_id AND q.k = c.k + 1),
jchunks AS (
  SELECT doc_id, cj,
         CASE WHEN cj = 0 THEN
           '{{"doc_id": ' || doc_id || ', "meta": {{"n_words": ' ||
           any_value(n) || ', "lang": "x"}}, "paragraphs": {{'
         ELSE '{{"paragraphs": {{' END ||
         string_agg('"' || k || '": "' || txt || '"', ', ' ORDER BY k)
         || '}}}}' AS txt,
         CASE WHEN cj = 0 THEN 45
                + (length(CAST(doc_id AS VARCHAR)) + 2) // 3 - 1
                + (length(CAST(any_value(n) AS VARCHAR)) + 2) // 3 - 1
              ELSE 8 END + sum(8 + ptok) AS tok
  FROM (SELECT c.*, t.n FROM cpack c JOIN toklists t ON t.doc_id = c.doc_id)
  GROUP BY doc_id, cj),
pack AS (
  SELECT doc_id, cj AS seq, txt, tok, 0 AS cseq, tok AS run
  FROM jchunks WHERE cj = 0
  UNION ALL
  SELECT s.doc_id, s.cj, s.txt, s.tok,
         CASE WHEN p.run > 256 THEN p.cseq + 1 ELSE p.cseq END,
         CASE WHEN p.run > 256 THEN s.tok ELSE p.run + s.tok END
  FROM pack p JOIN jchunks s ON s.doc_id = p.doc_id AND s.cj = p.seq + 1)
SELECT doc_id, CAST(cseq AS INTEGER) AS chunk_seq,
       string_agg(txt, '' ORDER BY seq) AS chunk_text
FROM pack GROUP BY doc_id, cseq
ORDER BY doc_id, chunk_seq
"""


QUERIES = {
    "txt_template": (txt_template, TXT_TEMPLATE_SQL),
    "markdown_template": (markdown_template, MARKDOWN_TEMPLATE_SQL),
    "json_template": (json_template, JSON_TEMPLATE_SQL),
    "qa_template": (qa_template, QA_TEMPLATE_SQL),
    "qa_md_template": (qa_md_template, QA_MD_SQL),
    "table_template": (table_template, TABLE_TEMPLATE_SQL),
    "email_template": (email_template, EMAIL_TEMPLATE_SQL),
    "tag_template": (tag_template, TAG_TEMPLATE_SQL),
    "paper_template": (paper_template, PAPER_TEMPLATE_SQL),
    "resume_template": (resume_template, RESUME_TEMPLATE_SQL),
}
