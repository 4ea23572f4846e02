"""End-to-end extraction job: pages → one snapshot-versioned extracted table.

Replaces the reference's Redis-queue / progress / ack machinery
(``rag/svr/task_executor.py:141-210,619-649``) with Spark scheduling plus
one transactional output table (SURVEY.md §3.1 Spark equivalent): a
``SnapshotTable`` (``pipeline/snapshots.py``) holding one row per page
(EXTRACTED_SCHEMA, incl. the chunks array, plus ``run_id`` and
``part_id``).  Everything else is derived on read from the committed
rows (the run summary alone is observed on the write itself, not read
back):

  * the flat chunk table — ``operators.extract.chunks_table``;
  * per-(run, spark-partition) counters — ``operators.extract.metrics_table``,
    the analogue of the reference's progress messages + per-doc counts;
  * provenance — each committed row's ``run_id``/``part_id`` plus the
    manifest chain (``SnapshotTable.versions`` / ``as_of``).

Each run is ONE Spark query and ONE atomic manifest commit.  The query
is the write: input (anti-joined on resume) → size rebalance
(``pipeline/partitioning.py``, an AQE rebalance that needs the
``session.DEFAULT_CONF`` AQE settings) → extraction → parquet files, with
the run summary observed on it; no job runs before it, so the input
lineage (at scale a WARC parse) executes once.  The commit is the
resume marker: a rerun with ``resume=True`` anti-joins the input against
the committed urls, so only not-yet-extracted pages are processed, and a
rerun over a committed table with none left publishes no version — the
write observed no rows, so its empty files are deleted before the
commit.  A crash before the commit leaves the table at its previous
snapshot plus vacuumable orphan files; the rerun re-extracts exactly the
uncommitted pages (deterministic bytes, same chunk ids).
``resume=False`` re-extracts every input page as one ``commit_upsert``
on url: no url is held twice, and committed urls outside the input stay.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages, rollup_columns
from .partitioning import repartition_by_size
from .snapshots import SnapshotTable


def run_extraction_snapshotted(spark: SparkSession, pages: DataFrame,
                               table_dir: str, run_id: str | None = None,
                               resume: bool = True,
                               chunk_token_num: int = 128,
                               delimiter: str = "\n!?。；！？") -> dict:
    """Run (or resume) extraction into the snapshot table at
    ``table_dir``; returns the run summary."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    table = SnapshotTable(spark, table_dir)
    if resume and table.current_version() > 0:
        pages = pages.join(table.read().select("url"), "url", "left_anti")
    # the summary is observed on the write itself, the pass's one query:
    # the observe node runs in the write's result stage, after the size
    # rebalance's exchange, and only successful task attempts are merged,
    # so a retried task counts once.  ``obs.get`` is read only once the
    # write returned: a write that raised publishes no metrics, and
    # ``get`` would wait for them.
    obs = Observation()
    extracted = (extract_pages(repartition_by_size(pages), chunk_token_num,
                               delimiter)
                 .withColumn("run_id", F.lit(run_id))
                 .withColumn("part_id", F.spark_partition_id())
                 .observe(obs, *rollup_columns()))

    def nothing_new() -> bool:
        # the write saw no rows and a snapshot is committed: publish no
        # version (a no-op resume leaves the table as it was; a new table
        # still gets its first, empty, readable version)
        return obs.get["n_rows"] == 0 and table.current_version() > 0

    version = (table.commit_append(extracted, discard_if=nothing_new)
               if resume else
               table.commit_upsert(extracted, "url", discard_if=nothing_new))
    # sums over no rows are NULL: an empty pass reports zeros
    row = {k: v or 0 for k, v in obs.get.items()}
    return {"run_id": run_id, "version": version,
            "wall_sec": time.time() - t0, "rows": row["n_rows"],
            "ok": row["n_ok"], "error": row["n_error"],
            "bytes_in": row["bytes_in"], "chunks": row["chunks_out"]}
