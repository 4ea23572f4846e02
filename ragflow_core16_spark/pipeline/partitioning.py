"""Size-targeted repartitioning of the extraction input.

North-rule requirement: "explicit partition / shuffle / skew handling …
size-targeted repartitioning by (url-hash, warc_ts), salting of skewed
hosts".  The extraction stage is embarrassingly parallel per row, so the
skew that matters is *byte-size* skew (a few giant pages / hot hosts
serializing into one task), not key skew in a join (SURVEY.md §4.2).
Key skew in a host- or source-keyed aggregation is salted where it
arises: ``webclean.domain_cap``'s two-stage top-K and
``relational.salted_source_agg``'s 16-way fan-out.

Strategy:
  * ``repartition_by_size``: one JVM-side pre-pass
    ``agg(count, sum(length(html)))`` — no Python, but it reads the html
    bytes to measure them and re-runs whatever plan feeds ``pages`` (on
    resume, the anti-join against the committed urls) — then
    ``repartition(n, xxhash64(url), warc_ts)`` with
    ``n = clamp(total_bytes / target_partition_bytes)``.  Hashing on
    (url, warc_ts) spreads any single hot host across partitions because
    url already contains the per-doc path; adding warc_ts guards against
    url-duplicate hot keys (recrawls of one url land in different
    partitions).  An empty input comes back as the same object, so a
    caller can skip its downstream work without counting again.
  * At 100 TB with 128 MB targets this yields ~800k partitions — beyond
    the default scheduler comfort zone, so the clamp caps at
    ``MAX_PARTITIONS`` and AQE coalescing handles the low end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PARTITIONS = 1 << 20


def repartition_by_size(pages: DataFrame,
                        target_partition_bytes: int = 64 * 1024 * 1024
                        ) -> DataFrame:
    """Repartition so each partition carries ≈target bytes of html
    payload; returns ``pages`` itself when the pre-pass counts no rows."""
    stats = pages.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("html")), F.lit(0)).alias("total_bytes"),
    ).collect()[0]
    if stats["n"] == 0:
        return pages
    n_parts = int(max(1, min(MAX_PARTITIONS,
                             (stats["total_bytes"] + target_partition_bytes
                              - 1) // target_partition_bytes)))
    # default parallelism floor so small inputs still use the whole cluster
    sc_default = pages.sparkSession.sparkContext.defaultParallelism
    n_parts = max(n_parts, min(sc_default, int(stats["n"]) or 1))
    return pages.repartition(n_parts, F.xxhash64("url"), F.col("warc_ts"))
