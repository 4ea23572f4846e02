"""Size-targeted repartitioning + host-skew salting.

North-rule requirement: "explicit partition / shuffle / skew handling …
size-targeted repartitioning by (url-hash, warc_ts), salting of skewed
hosts".  The extraction stage is embarrassingly parallel per row, so the
skew that matters is *byte-size* skew (a few giant pages / hot hosts
serializing into one task), not key skew in a join (SURVEY.md §4.2).

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
    the default scheduler comfort zone, so the clamp caps at ``max_partitions``
    and AQE coalescing handles the low end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repartition_by_size(pages: DataFrame,
                        target_partition_bytes: int = 64 * 1024 * 1024,
                        min_partitions: int = 1,
                        max_partitions: int = 1 << 20) -> DataFrame:
    """Repartition so each partition carries ≈target bytes of html
    payload; returns ``pages`` itself when the pre-pass counts no rows."""
    stats = pages.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("html")), F.lit(0)).alias("total_bytes"),
    ).collect()[0]
    if stats["n"] == 0:
        return pages
    n_parts = int(max(min_partitions,
                      min(max_partitions,
                          (stats["total_bytes"] + target_partition_bytes - 1)
                          // target_partition_bytes)))
    # default parallelism floor so small inputs still use the whole cluster
    sc_default = pages.sparkSession.sparkContext.defaultParallelism
    n_parts = max(n_parts, min(sc_default, int(stats["n"]) or 1))
    return pages.repartition(n_parts, F.xxhash64("url"), F.col("warc_ts"))


def host_of(url_col):
    """Extract host from url (pure column expr, codegen-friendly)."""
    return F.regexp_extract(url_col, r"^[a-z]+://([^/]+)/", 1)


def salted_host_key(pages: DataFrame, skew_bytes_threshold: int,
                    salt_buckets: int = 16) -> DataFrame:
    """Attach a ``host_key`` column for host-level aggregations: hosts whose
    cumulative html bytes exceed the threshold get a salt suffix so a
    downstream groupBy(host_key) cannot concentrate a hot host in one task.
    (Used by host-level metrics rollups, not by the extraction map itself.)
    """
    host = host_of(F.col("url"))
    hot = (pages
           .groupBy(host.alias("host"))
           .agg(F.sum(F.length("html")).alias("b"))
           .filter(F.col("b") > skew_bytes_threshold)
           .select("host", F.lit(True).alias("is_hot")))
    return (pages
            .withColumn("host", host)
            .join(F.broadcast(hot), "host", "left")
            .withColumn(
                "host_key",
                F.when(F.col("is_hot"),
                       F.concat_ws("#", F.col("host"),
                                   (F.xxhash64("url") % salt_buckets).cast("string")))
                .otherwise(F.col("host")))
            .drop("is_hot"))
