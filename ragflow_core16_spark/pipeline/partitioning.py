"""Size-targeted repartitioning of the extraction input.

North-rule requirement: "explicit partition / shuffle / skew handling …
size-targeted repartitioning by (url-hash, warc_ts), salting of skewed
hosts".  The extraction stage is embarrassingly parallel per row, so the
skew that matters is *byte-size* skew (a few giant pages / hot hosts
serializing into one task), not key skew in a join (SURVEY.md §4.2).
Key skew in a host- or source-keyed aggregation is salted where it
arises: ``webclean.domain_cap``'s two-stage top-K and
``relational.salted_source_agg``'s 16-way fan-out.

Strategy: ``repartition_by_size`` is an adaptive (AQE) rebalance on
(xxhash64(url), warc_ts).  It adds no job of its own: the shuffle's map
side runs inside the consuming query, and AQE sizes the reduce side from
that shuffle's own map statistics — what the input actually produced,
after any filter or resume anti-join upstream, not an estimate made
before it.

  * Hashing on (url, warc_ts) spreads any single hot host across
    partitions because url already contains the per-doc path; adding
    warc_ts guards against url-duplicate hot keys (recrawls of one url
    land in different partitions).  The rebalance hint takes column
    names only, so the url hash is projected as a key column and dropped
    after the exchange.
  * Partition size follows ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    (default 64 MB; ``extract_job --target-partition-mb`` sets it).  At
    scale a partition over it is split along its map outputs by the
    rebalance skew rule (``OptimizeSkewInRebalancePartitions``), so no
    partition count is computed or clamped here.  Small partitions are
    coalesced toward the smaller of the advisory size and total shuffle
    bytes / default parallelism (never below
    ``coalescePartitions.minPartitionSize``), by compressed bytes: a small
    input can run on fewer partitions than cores.  The shuffle starts
    from ``spark.sql.shuffle.partitions`` reducers; a deployment sets that
    (or ``coalescePartitions.initialPartitionNum``) to its cluster.
  * All of this needs AQE, which ``session.DEFAULT_CONF`` turns on;
    without it the hint is a plain hash repartition into
    ``spark.sql.shuffle.partitions`` partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_URL_HASH = "_url_hash"


def repartition_by_size(pages: DataFrame) -> DataFrame:
    """``pages`` rebalanced by (xxhash64(url), warc_ts) into partitions of
    about the advisory partition size; lazy, runs no job."""
    return (pages.withColumn(_URL_HASH, F.xxhash64("url"))
            .hint("rebalance", _URL_HASH, "warc_ts")
            .drop(_URL_HASH))
