"""Structured Streaming twin of the day-2 index maintenance: a documents
landing zone drives the curation/dedup/retrieval snapshot tables through
the SAME delta merges as ``jobs/curate_job.py --incremental``.

A continuous ingest drops parquet files of new documents into a landing
directory; each micro-batch plays the role of a daily batch.  The sink
(``foreachBatch``) maintains a chain of corpus VERSIONS under a state
directory — every version's ``documents.parquet`` is built by
HARD-LINKING the previous version's part files plus the batch's files
(metadata-only snapshot composition, the single-filesystem analogue of
an Iceberg snapshot manifest: no document byte is ever copied), and the
snapshot tables for the new version come from
``pipeline.incremental.incremental_update`` — so the streamed state is
byte-comparable to a batch build over the same corpus by construction,
which the replay test asserts.

Exactly-once design (the ``run_warc_to_cdx_stream`` contract):
  * File discovery state is the stream checkpoint — a landing file joins
    exactly one micro-batch even across restarts.
  * Batch application is idempotent per batch_id: the batch's document
    copy is written once (skipped when its ``_SUCCESS`` exists — a
    rewrite would change mtimes and orphan the fingerprint-keyed
    tables), every table write is a ``materialize`` snapshot commit
    (published tables are never rebuilt), and a version is published by
    writing its ``_complete`` marker LAST, so a crash mid-apply replays
    into the identical end state.
  * The serving version is the newest complete one
    (``latest_version``); a query session points
    ``RAG_CURATION_DIR``-routed operators at it by reading the version's
    corpus dir like any sf_dir.
  * A micro-batch that RE-DELIVERS ids already in the corpus (a re-crawl
    feed) becomes an upsert day: the surviving previous rows are
    rewritten once into a compacted corpus (hard links cannot drop rows
    — a lakehouse format would take delete vectors instead) and the
    delta runs with ``allow_recrawl=True``, retiring the stale index
    rows.  On a replay after a mid-apply crash the compaction rewrite
    changes the version fingerprint, so the replay simply rebuilds under
    the fresh fingerprint and converges; the crashed attempt's tables
    are unreferenced garbage.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

#: the documents-table schema (streaming file sources require it stated)
DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", LongType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
    StructField("n_chars", LongType(), True),
])


def _link_tree(src_docs: str, dst_docs: str) -> None:
    """Hard-link every data file of ``src_docs`` into ``dst_docs`` —
    snapshot composition without copying bytes.  Links share mtime with
    the source file, so the composed corpus fingerprint is stable across
    replays.  Existing links are left alone (idempotent)."""
    os.makedirs(dst_docs, exist_ok=True)
    for name in os.listdir(src_docs):
        if name.startswith(("_", ".")):
            continue
        dst = os.path.join(dst_docs, name)
        if not os.path.exists(dst):
            os.link(os.path.join(src_docs, name), dst)


def _apply_batch(spark: SparkSession, batch_df: DataFrame, batch_id: int,
                 state_dir: str) -> None:
    from ..pipeline.incremental import incremental_update
    from ..pipeline.snapshot_cache import (DELTA_FAMILIES,
                                           materialize_families, read_table)
    vdir = os.path.join(state_dir, "versions", f"v{batch_id:05d}")
    # a replayed batch whose version is complete is applied already
    if (os.path.exists(os.path.join(vdir, "_complete"))
            or batch_df.isEmpty()):
        return
    # 1. the batch's own document copy (write once; a replay reuses it)
    bdocs = os.path.join(state_dir, "batches", f"b{batch_id:05d}",
                         "documents.parquet")
    if not os.path.exists(os.path.join(bdocs, "_SUCCESS")):
        batch_df.write.mode("overwrite").parquet(bdocs)
    bdir = os.path.dirname(bdocs)
    # 2. compose the new corpus version from the previous one + the batch
    prev = _latest_complete(state_dir, before=batch_id)
    vdocs = os.path.join(vdir, "documents.parquet")
    if prev is None:
        _link_tree(bdocs, vdocs)
        materialize_families(spark, vdir, DELTA_FAMILIES)
    else:
        # a crawl feed may RE-DELIVER ids it crawled before; detect via
        # the previous version's per-doc stats (no document scan)
        prev_ids = read_table(spark, "doc_stats", prev).select("doc_id")
        batch_ids = (spark.read.parquet(bdocs).select("doc_id")
                     .join(prev_ids, "doc_id"))
        recrawl = not batch_ids.isEmpty()
        if recrawl:
            # upsert day: the new version's corpus must be COMPACTED
            # (old rows of re-delivered ids dropped), which a hard-link
            # composition cannot express — rewrite the surviving prev
            # rows once, then link the batch files in.  A lakehouse
            # format takes delete vectors instead; this is the plain-
            # parquet equivalent, paid only on re-delivery days.
            surv = (spark.read.parquet(
                        os.path.join(prev, "documents.parquet"))
                    .join(spark.read.parquet(bdocs).select("doc_id"),
                          "doc_id", "anti"))
            surv.write.mode("overwrite").parquet(vdocs)
            _link_tree(bdocs, vdocs)
            incremental_update(spark, prev, bdir, vdir,
                               allow_recrawl=True)
        else:
            _link_tree(bdocs, vdocs)
            _link_tree(os.path.join(prev, "documents.parquet"), vdocs)
            incremental_update(spark, prev, bdir, vdir)
    # 3. publish: the marker LAST
    open(os.path.join(vdir, "_complete"), "w").close()


def _latest_complete(state_dir: str, before: int | None = None
                     ) -> str | None:
    """The complete version with the highest batch id (below ``before``,
    if given).  Ids compare as integers — ``v100000`` follows ``v99999``
    — and entries that are not ``v<int>`` (a stray temp dir) are
    skipped."""
    vroot = os.path.join(state_dir, "versions")
    if not os.path.isdir(vroot):
        return None
    done = [(int(v[1:]), v) for v in os.listdir(vroot)
            if v.startswith("v") and v[1:].isdecimal()
            and (before is None or int(v[1:]) < before)
            and os.path.exists(os.path.join(vroot, v, "_complete"))]
    return os.path.join(vroot, max(done)[1]) if done else None


def latest_version(state_dir: str) -> str | None:
    """The serving corpus-version dir (usable as an sf_dir): the newest
    complete version, or None."""
    return _latest_complete(state_dir)


def run_curation_index_stream(spark: SparkSession, input_dir: str,
                              state_dir: str, checkpoint_dir: str,
                              once: bool = True,
                              max_files_per_trigger: int = 8):
    """Documents landing zone → versioned snapshot-table chain.  With
    ``once`` (availableNow) this drains the zone and stops — the cron
    shape; a live deployment runs it continuously."""
    docs = (spark.readStream
            .schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _apply_batch(spark, batch_df, batch_id, state_dir)

    writer = (docs.writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
