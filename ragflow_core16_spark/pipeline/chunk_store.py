"""Chunk-management surface — the reference's chunk CRUD API re-expressed
as table operations.

Reference behaviors (black-box tested in ``sdk/python/test/test_http_api/
test_chunk_management_within_dataset/`` and exercised by
``sdk/python/test/test_sdk_api/t_chunk.py``):

  * list chunks    — paginated, optional keyword filter
                     (``api/apps/chunk_app.py`` list: match on content)
  * add chunk      — id = xxh64(content + doc key), ``content_ltks`` +
                     ``content_sm_ltks`` from the tokenizer, important_kwd
                     (``api/apps/chunk_app.py`` create ≈
                     rag/nlp/__init__.py:251-255 assembly)
  * update chunk   — same id recompute when content changes
  * delete chunks  — by chunk id set

Store = a ``pipeline/snapshots.py`` ``SnapshotTable`` holding the flat
chunk rows that ``operators.extract.chunks_table`` derives from an
extraction snapshot table.  Add is ``commit_append``, delete is the
copy-on-write ``commit_delete`` (Iceberg's ``DELETE FROM``): each is one
atomic commit, so a failed write leaves the store at its last version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..textnorm.rag_tokenizer import fine_grained_tokenize, tokenize
from ..textnorm.tokens import num_tokens_from_string
from ..textnorm.xxh64 import xxh64_hexdigest
from .snapshots import SnapshotTable


def chunk_row(url: str, chunk_text: str, chunk_seq: int = 0,
              warc_ts=None, lang: str | None = None) -> dict:
    """Assemble one chunk record with id/tokenizer-column parity to the
    extraction UDF (chunk id = xxh64 hexdigest of content + doc key,
    task_executor.py:266).  ``token_cnt`` is recomputed from the whole
    text — an API-added chunk has no section structure, so it can differ
    by the per-section-sum count the extraction pipeline stores (the
    reference's create-chunk API likewise re-derives everything from the
    submitted content)."""
    ltks = tokenize(chunk_text)
    return {
        "url": url, "warc_ts": warc_ts, "lang": lang,
        "chunk_id": xxh64_hexdigest(chunk_text + url),
        "chunk_seq": chunk_seq,
        "chunk_text": chunk_text,
        "content_ltks": ltks,
        "content_sm_ltks": fine_grained_tokenize(ltks),
        "token_cnt": num_tokens_from_string(chunk_text),
    }


def list_chunks(spark: SparkSession, store: str, url: str | None = None,
                keywords: str | None = None, page: int = 1,
                page_size: int = 30) -> DataFrame:
    """Paginated chunk listing with optional content keyword filter —
    deterministic order (url, chunk_seq, chunk_id)."""
    from pyspark.sql import Window
    df = SnapshotTable(spark, store).read()
    if url is not None:
        df = df.filter(F.col("url") == url)
    if keywords:
        df = df.filter(F.col("chunk_text").contains(keywords))
    w = Window.orderBy("url", "chunk_seq", "chunk_id")
    return (df.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") > (page - 1) * page_size) &
                    (F.col("rn") <= page * page_size))
            .drop("rn"))


def add_chunks(spark: SparkSession, store: str, rows: list) -> None:
    """Append chunk records (list of dicts from ``chunk_row``)."""
    t = SnapshotTable(spark, store)
    schema = t.read().schema
    data = [tuple(r.get(c) for c in schema.names) for r in rows]
    t.commit_append(spark.createDataFrame(data, schema=schema))


def delete_chunks(spark: SparkSession, store: str, chunk_ids: list) -> int:
    """Delete by id set (one ``commit_delete``).  Returns rows removed."""
    if not chunk_ids:
        return 0
    t = SnapshotTable(spark, store)
    hit = F.col("chunk_id").isin(list(chunk_ids))
    removed = t.read().filter(hit).count()
    if removed:
        t.commit_delete(hit)
    return removed


def update_chunk(spark: SparkSession, store: str, chunk_id: str,
                 new_text: str) -> str:
    """Replace a chunk's content: recompute id/tokens like the reference's
    update path; returns the new chunk id.  The new row lands before the
    old one goes, so a crash in between leaves both, never neither."""
    df = SnapshotTable(spark, store).read()
    old = df.filter(F.col("chunk_id") == chunk_id).collect()
    if not old:
        raise KeyError(chunk_id)
    o = old[0].asDict()
    new = chunk_row(o["url"], new_text, o["chunk_seq"], o.get("warc_ts"),
                    o.get("lang"))
    if new["chunk_id"] != chunk_id:     # else the content is unchanged
        add_chunks(spark, store, [new])
        delete_chunks(spark, store, [chunk_id])
    return new["chunk_id"]
