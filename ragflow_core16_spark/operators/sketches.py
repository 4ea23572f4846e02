"""Cardinality sketches for web-scale profiling — integer-exact HyperLogLog.

At 10^12 rows ``count(DISTINCT …)`` is a full shuffle of every distinct
key; the HLL sketch replaces it with a 64-register byte array that merges
with ``max`` — partial aggregation does all the work map-side and the
shuffle carries ≤ 64 tiny rows per group.  This implementation keeps every
step in integer arithmetic so the DuckDB oracle reproduces it bit-for-bit:

  * hash      — the repo's md5→bigint bridge (15 hex digits = 60 bits),
  * register  — low 6 bits (m = 64), payload w = high 54 bits,
  * rho(w)    — unrolled 54-branch CASE (no float log2),
  * harmonic  — Σ 2^(-M) is scaled by 2^40: every term 2^(40-min(M,40)) is
                a BIGINT, so the sum S is exact,
  * estimate  — alpha_64·m²·2^40/S evaluated as one truncating BIGINT
                division (alpha_64 = 0.709 carried as 709/1000),
  * linear counting — the small-range correction m·ln(m/V) is a 64-entry
                precomputed integer table (V = empty registers).

The same expression text runs on Spark (``F.expr``) and DuckDB, so the
sketch is deterministic across engines — the oracle check IS the estimate.
Standard HLL per Flajolet et al. 2007; the 2^40 scaling trick keeps the
harmonic mean rational.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import documents_scan

M_REGISTERS = 64          # 2^6 registers
W_BITS = 54               # 60-bit bridge hash minus 6 register bits
RHO_CAP = 40              # cap so 2^(RHO_CAP - M) stays a positive BIGINT
ALPHA_NUM, ALPHA_DEN = 709, 1000   # alpha_64 = 0.709


def _rho_case(w: str) -> str:
    """Unrolled integer CASE computing rho = leading-zero count of the
    54-bit payload + 1 (identical text for Spark SQL and DuckDB)."""
    branches = " ".join(
        f"WHEN {w} >= {1 << k} THEN {W_BITS - k}"
        for k in range(W_BITS - 1, -1, -1))
    return f"CASE {branches} ELSE {W_BITS + 1} END"


def _linear_count_case(v: str) -> str:
    """Small-range (linear counting) table: floor(m·ln(m/V)) for V=1..m."""
    branches = " ".join(
        f"WHEN {v} = {V} THEN "
        f"{int(math.floor(M_REGISTERS * math.log(M_REGISTERS / V)))}"
        for V in range(1, M_REGISTERS + 1))
    return f"CASE {branches} END"


def hll_registers(df: DataFrame, key_col: str,
                  group_cols: list[str]) -> DataFrame:
    """The mergeable half of the sketch: (group, reg) → max rho.

    This is the state a streaming job carries between micro-batches and
    what executors exchange: register maxes merge with ``max`` (max of
    maxes), so partial register tables from any partitioning of the input
    — batches, days, executors — combine losslessly.  Shared by the batch
    query below and ``streaming/sketches_stream.py``."""
    from .dedup import _md5_bigint
    h = _md5_bigint(F.col(key_col).cast("string"))
    # integer div/mod only — h is a 60-bit value, float division would
    # lose low bits above 2^53.  Working columns carry a __hll_ prefix so
    # they can never shadow a caller's group column (e.g. a window `w`).
    return (df.select(*group_cols, h.alias("__hll_h"))
            .withColumn("reg", F.expr(f"__hll_h % {M_REGISTERS}"))
            .withColumn("__hll_w", F.expr(f"__hll_h div {M_REGISTERS}"))
            .withColumn("__hll_rho", F.expr(_rho_case("__hll_w")))
            .groupBy(*group_cols, "reg")
            .agg(F.max("__hll_rho").alias("m_rho")))


def hll_estimate_from_registers(regs: DataFrame,
                                group_cols: list[str]) -> DataFrame:
    """Finalize a register table (possibly a union of partial tables —
    re-merged here with one more max) into per-group estimates."""
    regs = (regs.groupBy(*group_cols, "reg")
            .agg(F.max("m_rho").alias("m_rho")))
    term = F.expr(f"CAST(pow(2, {RHO_CAP} - least(m_rho, {RHO_CAP})) "
                  f"AS BIGINT)")
    per_type = (regs.groupBy(*group_cols)
                .agg(F.sum(term).alias("s_present"),
                     F.count(F.lit(1)).alias("n_regs")))
    v = (F.lit(M_REGISTERS) - F.col("n_regs")).cast("bigint")
    s = (F.col("s_present")
         + v * F.lit(1 << RHO_CAP).cast("bigint")).cast("bigint")
    raw = F.expr(
        f"CAST({ALPHA_NUM} * {M_REGISTERS * M_REGISTERS} AS BIGINT) "
        f"* CAST({1 << RHO_CAP} AS BIGINT) DIV (CAST({ALPHA_DEN} AS BIGINT)"
        f" * s)")
    lc = F.expr(_linear_count_case("v"))
    est = F.when((v > 0) & (raw <= int(2.5 * M_REGISTERS)), lc).otherwise(raw)
    return (per_type.withColumn("v", v).withColumn("s", s)
            .withColumn("raw", raw)
            .select(*group_cols, F.col("n_regs").cast("bigint")
                    .alias("n_registers"),
                    est.cast("bigint").alias("hll_estimate")))


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-user estimate per event_type, next to the exact count.

    Plan shape: ONE groupBy (event_type, register) with a max — partial agg
    collapses each map partition to ≤ 64·|groups| rows before the shuffle —
    then a 64-row-per-group rollup.  The exact count (for the accuracy
    column) is the expensive path the sketch replaces."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    sketch = hll_estimate_from_registers(
        hll_registers(e, "user_id", ["event_type"]), ["event_type"])
    exact = (e.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return (sketch.join(exact, "event_type")
            .withColumn("err_permille",
                        F.expr("abs(hll_estimate - exact_distinct) * 1000 "
                               "div exact_distinct"))
            .orderBy("event_type"))


def _hll_sql() -> str:
    rho = _rho_case("w")
    lc = _linear_count_case("v")
    return f"""
WITH hashed AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events),
regs AS (
  SELECT event_type, h % {M_REGISTERS} AS reg,
         max({rho.replace('w', f'(h // {M_REGISTERS})')}) AS m_rho
  FROM hashed GROUP BY 1, 2),
per_type AS (
  SELECT event_type,
         CAST(sum(CAST(pow(2, {RHO_CAP} - least(m_rho, {RHO_CAP}))
                       AS BIGINT)) AS BIGINT) AS s_present,
         count(*) AS n_regs
  FROM regs GROUP BY event_type),
est AS (
  SELECT event_type, n_regs,
         CAST({M_REGISTERS} - n_regs AS BIGINT) AS v,
         s_present + CAST({M_REGISTERS} - n_regs AS BIGINT)
           * CAST({1 << RHO_CAP} AS BIGINT) AS s
  FROM per_type),
scored AS (
  SELECT event_type, n_regs, v,
         CAST({ALPHA_NUM} * {M_REGISTERS * M_REGISTERS} AS BIGINT)
           * CAST({1 << RHO_CAP} AS BIGINT)
           // (CAST({ALPHA_DEN} AS BIGINT) * s) AS raw
  FROM est),
sk AS (
  SELECT event_type, CAST(n_regs AS BIGINT) AS n_registers,
         CAST(CASE WHEN v > 0 AND raw <= {int(2.5 * M_REGISTERS)}
                   THEN {lc} ELSE raw END AS BIGINT) AS hll_estimate
  FROM scored),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type)
SELECT sk.event_type, sk.n_registers, sk.hll_estimate, exact.exact_distinct,
       abs(sk.hll_estimate - exact.exact_distinct) * 1000
         // exact.exact_distinct AS err_permille
FROM sk JOIN exact ON sk.event_type = exact.event_type
ORDER BY sk.event_type
"""


# ------------------------------------------------------ count-min sketch
#
# Heavy-hitter counting without a per-key shuffle: the sketch is a DEPTH×
# WIDTH integer grid; every row of the stream increments one bucket per
# depth row (bucket = seeded-md5(key) mod WIDTH) and the per-key estimate
# is the MIN over its DEPTH buckets (Cormode & Muthukrishnan 2005).  All
# arithmetic is integer (md5→bigint bridge, mod, min), so the DuckDB
# oracle reproduces the sketch bit-for-bit — including the overestimates
# that collisions cause (150 keys into 64 buckets guarantees some).
#
# Plan shape at 10^12 rows: the (depth, bucket) expansion multiplies the
# stream DEPTH× but partial aggregation collapses each map partition to
# ≤ DEPTH·WIDTH rows before the shuffle, so the exchange carries a few
# hundred rows per partition regardless of input size — the whole point
# of sketching vs the exact per-key groupBy it stands next to.
CMS_DEPTH = 4
CMS_WIDTH = 64


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heavy hitters by CMS estimate next to their exact counts.

    Stages: (1) sketch build — one stack() expansion + groupBy(depth,
    bucket) count; (2) estimate — the distinct-key relation re-derives its
    DEPTH buckets as column expressions, joins the ≤ DEPTH·WIDTH-row
    sketch BROADCAST, min over depth rows; (3) deterministic top-20 by
    (estimate DESC, user_id).  The exact count column is the expensive
    path the sketch replaces (kept for the accuracy columns)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    key = F.col("user_id").cast("string")

    from .dedup import _md5_bigint

    def bucket(r: int):
        return _md5_bigint(F.concat_ws("#", key, F.lit(str(r)))) % CMS_WIDTH

    pairs = ", ".join(f"{r}, b{r}" for r in range(CMS_DEPTH))
    stream = e.select(*[bucket(r).alias(f"b{r}") for r in range(CMS_DEPTH)])
    sketch = (stream.selectExpr(
        f"stack({CMS_DEPTH}, {pairs}) as (depth, bucket)")
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt")))

    keys = (e.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("exact_count")))
    key_buckets = (keys.select(
        "user_id", "exact_count",
        *[bucket(r).alias(f"b{r}") for r in range(CMS_DEPTH)])
        .selectExpr("user_id", "exact_count",
                    f"stack({CMS_DEPTH}, {pairs}) as (depth, bucket)"))
    est = (key_buckets.join(F.broadcast(sketch), ["depth", "bucket"])
           .groupBy("user_id", "exact_count")
           .agg(F.min("cnt").alias("cms_estimate")))
    from pyspark.sql.window import Window
    w = Window.orderBy(F.desc("cms_estimate"), F.asc("user_id"))
    return (est.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 20)
            .select("user_id", "cms_estimate", "exact_count",
                    (F.col("cms_estimate") - F.col("exact_count"))
                    .alias("overcount"), "rk")
            .orderBy("rk"))


def _cms_sql() -> str:
    def bucket(key: str, r: int) -> str:
        return (f"('0x' || substr(md5({key} || '#' || '{r}'), 1, 15))"
                f"::BIGINT % {CMS_WIDTH}")

    stream_rows = " UNION ALL ".join(
        f"SELECT {r} AS depth, {bucket('CAST(user_id AS VARCHAR)', r)} "
        f"AS bucket FROM events" for r in range(CMS_DEPTH))
    key_rows = " UNION ALL ".join(
        f"SELECT user_id, exact_count, {r} AS depth, "
        f"{bucket('CAST(user_id AS VARCHAR)', r)} AS bucket FROM keys"
        for r in range(CMS_DEPTH))
    return f"""
WITH sketch AS (
  SELECT depth, bucket, count(*) AS cnt
  FROM ({stream_rows}) GROUP BY depth, bucket),
keys AS (
  SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id),
key_buckets AS ({key_rows}),
est AS (
  SELECT k.user_id, k.exact_count, min(s.cnt) AS cms_estimate
  FROM key_buckets k JOIN sketch s
    ON k.depth = s.depth AND k.bucket = s.bucket
  GROUP BY k.user_id, k.exact_count),
ranked AS (
  SELECT user_id, cms_estimate, exact_count,
         cms_estimate - exact_count AS overcount,
         row_number() OVER (ORDER BY cms_estimate DESC, user_id) AS rk
  FROM est)
SELECT user_id, cms_estimate, exact_count, overcount, rk
FROM ranked WHERE rk <= 20 ORDER BY rk
"""


# --------------------------------------------------- DDSketch quantiles
#
# Rank queries (p50/p90/p99) without a global sort: values map to
# relative-error buckets — octave e = floor(log2(v)) plus 3 mantissa bits,
# so each bucket spans [m·2^(e-3), (m+1)·2^(e-3)) and the reported lower
# bound under-estimates the true quantile by < 12.5% (DDSketch, Masson et
# al. VLDB 2019, with the power-of-2 gamma that keeps every step in
# integer arithmetic — no float log).  Bucket counts merge with SUM, the
# same mergeability that makes HLL registers streaming/partition-safe:
# partial sketches from any split of the input combine losslessly.
#
# Plan shape at 10^12 rows: ONE groupBy (group, bucket) with a count —
# partial agg collapses each map partition to ≤ ~16·8 rows per group
# before the shuffle — then a window cumsum over that tiny bucket relation
# picks the quantile buckets.  The exact path it replaces (per-group rank
# over every row) is kept for the accuracy columns.
Q_EBITS = 16          # value < 2^16 after ×100 scaling
Q_MBITS = 3           # mantissa sub-buckets per octave → rel. err < 1/8


def _q_scale(v: str) -> str:
    """double → positive BIGINT, identical on both engines: floor() first
    (exactly representable), then cast (Spark truncates, DuckDB rounds —
    irrelevant after floor)."""
    return f"CAST(floor({v} * 100) AS BIGINT) + 1"


def _q_octave(x: str) -> str:
    """Unrolled integer floor(log2(x)) for x in [1, 2^Q_EBITS)."""
    branches = " ".join(
        f"WHEN {x} >= {1 << k} THEN {k}"
        for k in range(Q_EBITS - 1, 0, -1))
    return f"CASE {branches} ELSE 0 END"


def _q_lower(e: str, x: str) -> str:
    """Bucket lower bound: v < 2^(Q_MBITS) octaves are exact (bucket = v);
    above, round v down to a multiple of 2^(e - Q_MBITS)."""
    return (f"CASE WHEN {e} < {Q_MBITS} THEN {x} "
            f"ELSE ({x} div pow2e) * pow2e END")


def quantile_buckets(df: DataFrame, value_col: str,
                     group_cols: list[str]) -> DataFrame:
    """The mergeable half: (group, bucket lower bound) → count."""
    x = _q_scale(value_col)
    e = _q_octave("__q_x")
    return (df.selectExpr(*group_cols, f"{x} AS __q_x")
            .selectExpr(*group_cols, "__q_x", f"{e} AS __q_e")
            .selectExpr(*group_cols, "__q_x", "__q_e",
                        f"CAST(pow(2, greatest(__q_e - {Q_MBITS}, 0)) "
                        f"AS BIGINT) AS pow2e")
            .selectExpr(*group_cols,
                        _q_lower("__q_e", "__q_x") + " AS bucket_lo")
            .groupBy(*group_cols, "bucket_lo")
            .agg(F.count(F.lit(1)).alias("cnt")))


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of events.value per event_type: sketch lower bounds
    next to the exact rank values (both on the ×100 integer scale)."""
    from pyspark.sql.window import Window
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    buckets = quantile_buckets(e, "value", ["event_type"])
    w = (Window.partitionBy("event_type").orderBy("bucket_lo")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (buckets.withColumn("cum", F.sum("cnt").over(w))
           .withColumn("n", F.sum("cnt").over(
               Window.partitionBy("event_type"))))
    picks = []
    for name, pm in (("p50", 500), ("p90", 900), ("p99", 990)):
        rank = F.expr(f"({pm} * n + 999) div 1000")
        picks.append(
            cum.filter(F.col("cum") >= rank)
            .groupBy("event_type")
            .agg(F.min("bucket_lo").alias(f"{name}_sketch")))
    exact_src = e.selectExpr("event_type",
                             _q_scale("value") + " AS x")
    rw = Window.partitionBy("event_type").orderBy("x")
    ranked = (exact_src.withColumn("rk", F.row_number().over(rw))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy("event_type"))))
    exacts = []
    for name, pm in (("p50", 500), ("p90", 900), ("p99", 990)):
        exacts.append(
            ranked.filter(F.col("rk") == F.expr(
                f"({pm} * n + 999) div 1000"))
            .select("event_type", F.col("x").alias(f"{name}_exact")))
    out = picks[0]
    for d in picks[1:] + exacts:
        out = out.join(d, "event_type")
    return out.select(
        "event_type", "p50_sketch", "p50_exact", "p90_sketch", "p90_exact",
        "p99_sketch", "p99_exact").orderBy("event_type")


def _quantile_sql() -> str:
    x = _q_scale("value")
    e = _q_octave("x")
    qcols_s, qcols_e, joins = [], [], []
    for name, pm in (("p50", 500), ("p90", 900), ("p99", 990)):
        qcols_s.append(
            f"{name}_s AS (SELECT event_type, min(bucket_lo) AS "
            f"{name}_sketch FROM cum WHERE cum >= ({pm} * n + 999) "
            f"// 1000 GROUP BY event_type)")
        qcols_e.append(
            f"{name}_e AS (SELECT event_type, x AS {name}_exact FROM "
            f"ranked WHERE rk = ({pm} * n + 999) // 1000)")
        joins.append(f"JOIN {name}_e USING (event_type)")
        if name != "p50":
            joins.append(f"JOIN {name}_s USING (event_type)")
    return f"""
WITH scaled AS (SELECT event_type, {x} AS x FROM events),
oct AS (SELECT event_type, x, {e} AS e FROM scaled),
pw AS (SELECT event_type, x, e,
              CAST(pow(2, greatest(e - {Q_MBITS}, 0)) AS BIGINT) AS pow2e
       FROM oct),
buckets AS (
  SELECT event_type, {_q_lower('e', 'x').replace(' div ', ' // ')}
         AS bucket_lo, count(*) AS cnt
  FROM pw GROUP BY 1, 2),
cum AS (
  SELECT event_type, bucket_lo, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket_lo
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM buckets),
ranked AS (
  SELECT event_type, x, row_number() OVER (PARTITION BY event_type
           ORDER BY x) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM scaled),
{', '.join(qcols_s)},
{', '.join(qcols_e)}
SELECT event_type, p50_sketch, p50_exact, p90_sketch, p90_exact,
       p99_sketch, p99_exact
FROM p50_s {' '.join(joins)}
ORDER BY event_type
"""


# ----------------------------------------------------------- Bloom filter
#
# Mergeable seen-URL membership sketch for incremental crawls: yesterday's
# corpus compresses to an m-bit array (here 2 KiB; GBs at 10^12 urls —
# still a broadcast or a 512-row bucket join, vs shuffling the full url
# set for an anti-join).  Words merge with bit_or, so partial blooms from
# any partitioning — batches, days, executors — combine losslessly, the
# same contract as the HLL registers above.  No false negatives by
# construction (property-tested); false positives are DETERMINISTIC given
# the hash family, so the whole probe table is oracle-checkable.
# 32-bit words keep every mask in the portable positive-int range (a
# 1<<63 mask would overflow DuckDB's signed shift).
BLOOM_BITS = 1 << 14
BLOOM_WORD = 32
BLOOM_K = 4


def _bloom_url(doc_id):
    return F.concat(F.lit("https://example.com/doc/"),
                    F.col(doc_id).cast("string"))


def _bloom_pos(url: Column, k: int) -> Column:
    from .dedup import _md5_bigint
    return _md5_bigint(F.concat(url, F.lit(f"#{k}"))) % BLOOM_BITS


def bloom_build(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """(word, bits): the filter as a 512-row relation — bit_or-mergeable."""
    pos = urls.select(F.explode(F.array(
        *[_bloom_pos(F.col(url_col), k) for k in range(BLOOM_K)]))
        .alias("pos"))
    return (pos.select(F.expr(f"pos div {BLOOM_WORD}").alias("word"),
                       F.expr(f"shiftleft(1L, CAST(pos % {BLOOM_WORD} "
                              f"AS INT))").alias("mask"))
            .groupBy("word").agg(F.expr("bit_or(mask)").alias("bits")))


def bloom_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe today's batch against yesterday's Bloom: yesterday = docs
    with even doc_id, batch = doc_id % 3 == 0 (overlapping thirds).
    Output per batch url: sketch verdict, ground truth, false-positive
    flag.  Plan: build is one 4·|yesterday|-row groupBy collapsing to 512
    words; probe is a BROADCAST join of those words + a per-url bool_and
    (4 rows/url, map-side partial agg)."""
    d = documents_scan(spark, sf_dir) \
        .select("doc_id", _bloom_url("doc_id").alias("url"))
    bloom = bloom_build(d.filter(F.col("doc_id") % 2 == 0))
    batch = d.filter(F.col("doc_id") % 3 == 0)
    probe = (batch.select("doc_id", F.explode(F.array(
        *[_bloom_pos(F.col("url"), k) for k in range(BLOOM_K)]))
        .alias("pos"))
        .select("doc_id",
                F.expr(f"pos div {BLOOM_WORD}").alias("word"),
                F.expr(f"shiftleft(1L, CAST(pos % {BLOOM_WORD} AS INT))")
                .alias("mask")))
    hit = (probe.join(F.broadcast(bloom), "word", "left")
           .select("doc_id",
                   (F.coalesce(F.col("bits"), F.lit(0))
                    .bitwiseAND(F.col("mask")) != 0).alias("bit_set")))
    return (hit.groupBy("doc_id")
            .agg(F.expr("bool_and(bit_set)").alias("in_bloom"))
            .withColumn("seen", F.col("doc_id") % 2 == 0)
            .withColumn("false_positive",
                        F.col("in_bloom") & ~F.col("seen"))
            .orderBy("doc_id"))


def _bloom_sql() -> str:
    def pos(url: str, k: int) -> str:
        return (f"(('0x' || substr(md5({url} || '#{k}'), 1, 15))::BIGINT "
                f"% {BLOOM_BITS})")

    url = "'https://example.com/doc/' || CAST(doc_id AS VARCHAR)"
    pos_rows = " UNION ALL ".join(
        f"SELECT doc_id, {pos(url, k)} AS pos FROM documents"
        for k in range(BLOOM_K))
    return f"""
WITH pos AS ({pos_rows}),
bloom AS (
  SELECT pos // {BLOOM_WORD} AS word,
         bit_or(1::BIGINT << (pos % {BLOOM_WORD})::INT) AS bits
  FROM pos WHERE doc_id % 2 = 0 GROUP BY 1),
probe AS (
  SELECT p.doc_id, p.pos // {BLOOM_WORD} AS word,
         1::BIGINT << (p.pos % {BLOOM_WORD})::INT AS mask
  FROM pos p WHERE p.doc_id % 3 = 0),
hits AS (
  SELECT pr.doc_id,
         bool_and((COALESCE(b.bits, 0) & pr.mask) != 0) AS in_bloom
  FROM probe pr LEFT JOIN bloom b ON b.word = pr.word
  GROUP BY pr.doc_id)
SELECT doc_id, in_bloom, doc_id % 2 = 0 AS seen,
       in_bloom AND NOT (doc_id % 2 = 0) AS false_positive
FROM hits ORDER BY doc_id
"""


QUERIES = {
    "hll_distinct": (hll_distinct, _hll_sql()),
    "cms_heavy_hitters": (cms_heavy_hitters, _cms_sql()),
    "quantile_sketch": (quantile_sketch, _quantile_sql()),
    "bloom_url_filter": (bloom_url_filter, _bloom_sql()),
}
