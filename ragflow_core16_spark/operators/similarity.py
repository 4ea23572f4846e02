"""Vector similarity search over the ``embeddings`` table.

Reference analogue: ``Dealer.search`` MatchDenseExpr — brute-force cosine
top-k with similarity floor (``rag/nlp/search.py:67-152``, topk=1024,
min sim 0.1).  Two strategies:

  * ``cosine_topk`` — exact brute force: the query vector is a broadcast
    literal; the scan is one pass, no shuffle until the final
    TakeOrderedAndProject (ORDER BY LIMIT k → Spark's top-k operator, no
    full sort).  At 100 TB this is the per-partition-reduce pattern: each
    partition computes its local top-k, driver merges k·P rows.
  * ``lsh_ann_topk`` — scale path: random-hyperplane LSH bucketing
    (deterministic md5-derived hyperplanes), search only the query's bucket
    ± probing.  Bucket assignment is a pure column expression; candidate
    scan shrinks by ~2^bits.

Dot products use ``F.zip_with`` + ``F.aggregate`` (JVM higher-order
functions — no Python UDF).  Scores rounded to 4 decimals for the oracle
hash-compare.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TOP_K = 10
QUERY_VEC_ID = 0  # deterministic: the query is embeddings[vec_id=0]

# near-dup threshold: production near-dup filtering uses ~0.95; the
# synthetic corpus has no planted duplicates (max pairwise cosine ≈0.51),
# so the driver queries use 0.4 to exercise the operator on real rows
NEAR_DUP_THRESHOLD = 0.4


def _emb(spark, sf_dir):
    """Embeddings scan with the vector cast to array<double>: DuckDB's
    list_dot_product on FLOAT[] accumulates in single precision, which can
    flip a 4-decimal rounding boundary against Spark's double fold; both
    engines therefore compute on doubles (the oracle SQLs read the `emb`
    CTE below)."""
    from ..session import spread
    df = spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return df.withColumn("embedding", F.col("embedding").cast("array<double>"))


# shared casted scan for every oracle SQL in this module
EMB_CTE = ("emb AS (SELECT vec_id, label, "
           "CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k of every vector vs the query vector."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID) \
         .select(F.col("embedding").alias("qv"))
    # 1-row broadcast join: the query vector rides to every executor
    joined = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != QUERY_VEC_ID)
    cos = _dot(F.col("embedding"), F.col("qv")) / \
        (_norm(F.col("embedding")) * _norm(F.col("qv")))
    return (joined.select("vec_id", "label",
                          F.round(cos, 4).alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id")
            .limit(TOP_K))


COSINE_TOPK_SQL = f"""
WITH {EMB_CTE},
q AS (SELECT embedding AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID})
SELECT e.vec_id, e.label,
       round(list_dot_product(e.embedding, q.qv) /
             (sqrt(list_dot_product(e.embedding, e.embedding)) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM emb e, q
WHERE e.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, e.vec_id LIMIT {TOP_K}
"""


# --------------------------------------------------------------- LSH ANN
N_PLANES = 6  # 64 buckets


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1) derived
    from md5 — identical on every executor, no broadcast needed."""
    import hashlib
    h = int(hashlib.md5(f"plane{plane}:dim{dim}".encode()).hexdigest()[:8], 16)
    return (h / 0xFFFFFFFF) * 2.0 - 1.0


def _bucket_expr(vec: Column, dim: int) -> Column:
    bits = None
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(_plane_component(p, d)) for d in range(dim)])
        bit = F.when(_dot(vec, plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bits = bit if bits is None else bits + bit
    return bits


def lsh_ann_topk(spark: SparkSession, sf_dir: str, dim: int = 64) -> DataFrame:
    """ANN via random-hyperplane LSH: score only vectors in the query's
    bucket; falls back to exact top-k *within* the bucket.  Recall is tested
    against cosine_topk in tests (not oracle-compared: approximate)."""
    e = _emb(spark, sf_dir).withColumn("bucket", _bucket_expr(F.col("embedding"), dim))
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID) \
         .select(F.col("embedding").alias("qv"), F.col("bucket").alias("qb"))
    joined = (e.crossJoin(F.broadcast(q))
              .filter((F.col("vec_id") != QUERY_VEC_ID) &
                      (F.col("bucket") == F.col("qb"))))
    cos = _dot(F.col("embedding"), F.col("qv")) / \
        (_norm(F.col("embedding")) * _norm(F.col("qv")))
    return (joined.select("vec_id", "label", F.round(cos, 4).alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id").limit(TOP_K))


# ---------------------------------------------------------------- IVF ANN
N_CENTROIDS = 8
N_PROBE = 2


def _cos(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic coarse quantizer (centroids = vectors
    with vec_id 1..K), every vector assigned to its nearest centroid
    (8-row broadcast cross join + per-vec argmax — no shuffle besides the
    window on vec_id), query probes its P nearest centroids and scores only
    those inverted lists.  At 100 TB the assignment is a write-time
    bucketing column; the probe-time scan touches P/K of the data.
    Fully deterministic → DuckDB-oracle checked."""
    from pyspark.sql import Window
    e = _emb(spark, sf_dir)
    cent = (e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= N_CENTROIDS))
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cv")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "cid")
    assigned = (e.crossJoin(F.broadcast(cent))
                .withColumn("ccos", _cos(F.col("embedding"), F.col("cv")))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("vec_id", "label", "embedding",
                        F.col("cid").alias("bucket")))
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID) \
         .select(F.col("embedding").alias("qv"))
    probes = (cent.crossJoin(F.broadcast(q))
              .select("cid", _cos(F.col("cv"), F.col("qv")).alias("qcos"))
              .orderBy(F.desc("qcos"), "cid").limit(N_PROBE)
              .select("cid"))
    cand = (assigned.join(F.broadcast(probes),
                          assigned["bucket"] == probes["cid"])
            .filter(F.col("vec_id") != QUERY_VEC_ID)
            .crossJoin(F.broadcast(q)))
    return (cand.select("vec_id", "label", "bucket",
                        F.round(_cos(F.col("embedding"), F.col("qv")),
                                4).alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id").limit(TOP_K))


IVF_ANN_SQL = f"""
WITH {EMB_CTE},
cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM emb
  WHERE vec_id BETWEEN 1 AND {N_CENTROIDS}),
q AS (SELECT embedding AS qv FROM emb WHERE vec_id = {QUERY_VEC_ID}),
ass AS (
  SELECT e.vec_id, e.label, e.embedding, c.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(e.embedding, c.cv) /
                    (sqrt(list_dot_product(e.embedding, e.embedding)) *
                     sqrt(list_dot_product(c.cv, c.cv))) DESC, c.cid) AS rn
  FROM emb e CROSS JOIN cent c),
assigned AS (
  SELECT vec_id, label, embedding, cid AS bucket FROM ass WHERE rn = 1),
probes AS (
  SELECT cid FROM (
    SELECT c.cid,
           row_number() OVER (
             ORDER BY list_dot_product(c.cv, q.qv) /
                      (sqrt(list_dot_product(c.cv, c.cv)) *
                       sqrt(list_dot_product(q.qv, q.qv))) DESC, c.cid) AS rn
    FROM cent c, q) WHERE rn <= {N_PROBE})
SELECT a.vec_id, a.label, a.bucket,
       round(list_dot_product(a.embedding, q.qv) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM assigned a JOIN probes p ON a.bucket = p.cid, q
WHERE a.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, a.vec_id LIMIT {TOP_K}
"""


# ------------------------------------------------------- pairwise near-dup
def embedding_near_dup(spark: SparkSession, sf_dir: str,
                       threshold: float = NEAR_DUP_THRESHOLD) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets: only
    within-bucket pairs are scored (join key = bucket)."""
    e = _emb(spark, sf_dir).withColumn("bucket",
                                       _bucket_expr(F.col("embedding"), 64))
    a = e.select(F.col("vec_id").alias("id_a"),
                 F.col("embedding").alias("va"), "bucket")
    b = e.select(F.col("vec_id").alias("id_b"),
                 F.col("embedding").alias("vb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (pairs.select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .orderBy("id_a", "id_b"))


def near_dup_exact(spark: SparkSession, sf_dir: str,
                   threshold: float = NEAR_DUP_THRESHOLD) -> DataFrame:
    """EXACT embedding near-dup baseline: all pairs with cosine ≥ 0.95 via
    a self theta-join (vec_id_a < vec_id_b).  Quadratic by construction —
    this is the small-scale verification oracle for the LSH-bucketed
    variant (``embedding_near_dup``), exactly as ``cosine_topk`` is the
    exact baseline for the ANN queries.  At 100 TB only the LSH/IVF paths
    run; this one pins their semantics."""
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id_a"),
                 F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"),
                 F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (pairs.select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .orderBy("id_a", "id_b"))


NEAR_DUP_EXACT_SQL = f"""
WITH {EMB_CTE}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS cosine
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding, b.embedding) /
            (sqrt(list_dot_product(a.embedding, a.embedding)) *
             sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= {NEAR_DUP_THRESHOLD}
ORDER BY id_a, id_b
"""


def _bucket_sql(dim: int = 64) -> str:
    """DuckDB expression computing the same LSH bucket as ``_bucket_expr``:
    the hyperplanes are deterministic md5-derived constants, so they embed
    as literals — Spark and the oracle score sign(dot) on identical
    doubles."""
    terms = []
    for p in range(N_PLANES):
        lits = ", ".join(repr(_plane_component(p, d)) for d in range(dim))
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"[{lits}]) >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _lsh_ann_sql() -> str:
    return f"""
WITH {EMB_CTE},
b AS (
  SELECT vec_id, label, embedding, {_bucket_sql()} AS bucket FROM emb),
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = {QUERY_VEC_ID})
SELECT b.vec_id, b.label,
       round(list_dot_product(b.embedding, q.qv) /
             (sqrt(list_dot_product(b.embedding, b.embedding)) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM b, q WHERE b.vec_id != {QUERY_VEC_ID} AND b.bucket = q.qb
ORDER BY cosine DESC, b.vec_id LIMIT {TOP_K}
"""


def _embedding_near_dup_sql() -> str:
    return f"""
WITH {EMB_CTE},
b AS (
  SELECT vec_id, embedding, {_bucket_sql()} AS bucket FROM emb)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(list_dot_product(a.embedding, c.embedding) /
             (sqrt(list_dot_product(a.embedding, a.embedding)) *
              sqrt(list_dot_product(c.embedding, c.embedding))), 4) AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_dot_product(a.embedding, c.embedding) /
            (sqrt(list_dot_product(a.embedding, a.embedding)) *
             sqrt(list_dot_product(c.embedding, c.embedding))), 4)
      >= {NEAR_DUP_THRESHOLD}
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------- PQ ANN
PQ_M = 4            # subspaces (64-d → 4 × 16-d)
PQ_K = 8            # codebook size per subspace (centroids = vec_id 1..8)


def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC): vectors are
    coded per 16-d subspace against a deterministic codebook (the
    subvectors of vec_id 1..K — same convention as the IVF coarse
    quantizer), the query keeps full precision, and the approximate
    distance is the sum of per-subspace squared L2 between the query
    subvector and each vector's assigned centroid.

    Relational layout: the codebook is M·K = 32 broadcast rows; code
    assignment is a broadcast cross join + per-(vec, subspace) argmin
    window; ADC is a second broadcast join on (m, code) + a per-vec sum.
    At 100 TB the codes are a write-time byte column (M bytes per vector —
    a 256× compression of the scan) and ONLY the 32-row ADC table moves at
    query time — this is the memory-bound ANN layout the big vector stores
    use."""
    from pyspark.sql import Window
    e = _emb(spark, sf_dir)
    sub = 64 // PQ_M

    def subvec(col, m):
        return F.slice(col, m * sub + 1, sub)

    # codebook rows: (m, cid, cbv)
    cb = None
    cent = e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= PQ_K))
    for m in range(PQ_M):
        part = cent.select(F.lit(m).alias("m"),
                           F.col("vec_id").alias("cid"),
                           subvec(F.col("embedding"), m).alias("cbv"))
        cb = part if cb is None else cb.unionByName(part)

    def l2(a, b):
        # dot-expansion form (a·a − 2a·b + b·b): the same floating-point
        # evaluation order as the DuckDB oracle, so argmin ties cannot
        # diverge in the last ulp
        return _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)

    # per-(vector, subspace) code assignment
    vm = None
    for m in range(PQ_M):
        part = e.select("vec_id", "label", F.lit(m).alias("m"),
                        subvec(F.col("embedding"), m).alias("sv"))
        vm = part if vm is None else vm.unionByName(part)
    w = Window.partitionBy("vec_id", "m").orderBy("d", "cid")
    codes = (vm.join(F.broadcast(cb), "m")
             .withColumn("d", l2(F.col("sv"), F.col("cbv")))
             .withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1)
             .select("vec_id", "label", "m", F.col("cid").alias("code")))

    # ADC table: query subvector vs every codebook entry
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID)
    adc = None
    for m in range(PQ_M):
        part = (cb.filter(F.col("m") == m)
                .crossJoin(F.broadcast(
                    q.select(subvec(F.col("embedding"), m).alias("qsv"))))
                .select("m", "cid", l2(F.col("qsv"), F.col("cbv"))
                        .alias("qd")))
        adc = part if adc is None else adc.unionByName(part)

    return (codes.join(F.broadcast(adc),
                       (codes["m"] == adc["m"]) &
                       (codes["code"] == adc["cid"]))
            .filter(F.col("vec_id") != QUERY_VEC_ID)
            .groupBy("vec_id", "label")
            .agg(F.round(F.sum("qd"), 4).alias("approx_l2"))
            .orderBy("approx_l2", "vec_id").limit(TOP_K))


PQ_ANN_SQL = f"""
WITH {EMB_CTE},
subs AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
cb AS (
  SELECT s.m, e.vec_id AS cid,
         list_slice(e.embedding, s.m*16 + 1, s.m*16 + 16) AS cbv
  FROM emb e, subs s WHERE e.vec_id BETWEEN 1 AND {PQ_K}),
vm AS (
  SELECT e.vec_id, e.label, s.m,
         list_slice(e.embedding, s.m*16 + 1, s.m*16 + 16) AS sv
  FROM emb e, subs s),
dists AS (
  SELECT v.vec_id, v.label, v.m, c.cid,
         list_dot_product(v.sv, v.sv) - 2*list_dot_product(v.sv, c.cbv)
           + list_dot_product(c.cbv, c.cbv) AS d
  FROM vm v JOIN cb c ON c.m = v.m),
codes AS (
  SELECT vec_id, label, m, cid AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d, cid) AS rn
    FROM dists) WHERE rn = 1),
q AS (
  SELECT s.m, list_slice(e.embedding, s.m*16 + 1, s.m*16 + 16) AS qsv
  FROM emb e, subs s WHERE e.vec_id = {QUERY_VEC_ID}),
adc AS (
  SELECT c.m, c.cid,
         list_dot_product(q.qsv, q.qsv) - 2*list_dot_product(q.qsv, c.cbv)
           + list_dot_product(c.cbv, c.cbv) AS qd
  FROM cb c JOIN q ON q.m = c.m)
SELECT k.vec_id, k.label, round(sum(a.qd), 4) AS approx_l2
FROM codes k JOIN adc a ON a.m = k.m AND a.cid = k.code
WHERE k.vec_id != {QUERY_VEC_ID}
GROUP BY k.vec_id, k.label
ORDER BY approx_l2, k.vec_id LIMIT {TOP_K}
"""


# ----------------------------------------------------------- SemDeDup
SEMDEDUP_T = NEAR_DUP_THRESHOLD  # pair-cosine dup threshold (synthetic corpus)
# SemDeDup's scale lever is the cluster count: candidate pairs grow as
# sum(|cluster|^2), so k must scale with the corpus (the paper uses 50k
# clusters for LAION).  64 here (vs 8 for IVF probing) keeps the pair
# join bounded; at 10^12 docs k would be ~10^5.
SEMDEDUP_K = 64


def semantic_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, cluster, ccos): nearest deterministic centroid
    per vector — broadcast cross join against K centroid rows + window
    argmin.  Split out so the plan test can audit the broadcast below the
    checkpoint that ``semantic_dedup`` puts on top."""
    from pyspark.sql import Window
    e = _emb(spark, sf_dir)
    cent = (e.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= SEMDEDUP_K))
            .select(F.col("vec_id").alias("cid"),
                    F.col("embedding").alias("cv")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "cid")
    return (e.crossJoin(F.broadcast(cent))
            .withColumn("ccos", F.round(_cos(F.col("embedding"),
                                             F.col("cv")), 4))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "embedding",
                    F.col("cid").alias("cluster"), "ccos"))


def semantic_dedup(spark: SparkSession, sf_dir: str,
                   threshold: float = SEMDEDUP_T) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic deduplication: cluster the
    embeddings with a coarse quantizer (deterministic centroids = vec_id
    1..K, same convention as ``ivf_ann_topk``), score pair cosines ONLY
    within a cluster, and inside every duplicate group keep the example
    LEAST similar to its cluster centroid (the paper's keep rule — it
    preserves the outlier and drops the redundant core).

    Scale shape: the assignment is a broadcast cross join against K rows
    (a write-time bucket column at 100 TB, exactly like IVF), and the
    pair join is keyed on the cluster id — candidate volume is bounded by
    the cluster sizes, never |docs|².  Keep decisions are a semi-join
    aggregate, no driver-side state.  Deterministic → DuckDB oracle.

    With a written label table (``semantic_labels``) this is
    a scan + presentation sort — SemDeDup's verdict is computed once per
    corpus snapshot, like every other curation decision."""
    from ..pipeline.snapshot_cache import read_table
    scan = read_table(spark, "semantic_labels", sf_dir)
    if scan is not None and threshold == SEMDEDUP_T:
        return (scan.select("vec_id", "cluster", "centroid_cos", "keep")
                .orderBy("vec_id"))
    return _semantic_labels_unordered(spark, sf_dir, threshold) \
        .orderBy("vec_id")


def _semantic_labels_unordered(spark: SparkSession, sf_dir: str,
                               threshold: float = SEMDEDUP_T) -> DataFrame:
    """``semantic_dedup`` before presentation ordering (compute path;
    also the materialized label relation)."""
    # the K-way cosine assignment feeds BOTH pair sides and the final
    # keep join — materialize it once (at 100 TB this is the write-time
    # cluster bucket column, per the docstring; recomputing it 3x was
    # the dominant cost of this query)
    assigned = (semantic_assignment(spark, sf_dir)
                .localCheckpoint(eager=False))
    a = assigned.select(F.col("vec_id").alias("id_a"),
                        F.col("embedding").alias("va"),
                        F.col("cluster").alias("cl_a"),
                        F.col("ccos").alias("ccos_a"))
    b = assigned.select(F.col("vec_id").alias("id_b"),
                        F.col("embedding").alias("vb"),
                        F.col("cluster").alias("cl_b"),
                        F.col("ccos").alias("ccos_b"))
    pair_cos = F.round(_cos(F.col("va"), F.col("vb")), 4)
    # a is dropped when some same-cluster partner b is a dup (cos >= t)
    # and b wins the keep rule: lower centroid-cos, tie -> lower vec_id.
    dropped = (a.join(b, F.col("cl_a") == F.col("cl_b"))
               .filter(F.col("id_a") != F.col("id_b"))
               .filter(pair_cos >= threshold)
               .filter((F.col("ccos_b") < F.col("ccos_a"))
                       | ((F.col("ccos_b") == F.col("ccos_a"))
                          & (F.col("id_b") < F.col("id_a"))))
               .select(F.col("id_a").alias("vec_id")).distinct()
               .withColumn("is_dropped", F.lit(1)))
    return (assigned.join(dropped, "vec_id", "left")
            .select("vec_id", "cluster",
                    F.col("ccos").alias("centroid_cos"),
                    F.when(F.col("is_dropped").isNull(), True)
                    .otherwise(False).alias("keep")))


SEMANTIC_DEDUP_SQL = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM emb
  WHERE vec_id BETWEEN 1 AND {SEMDEDUP_K}),
ass0 AS (
  SELECT e.vec_id, e.embedding, c.cid,
         round(list_dot_product(e.embedding, c.cv) /
               (sqrt(list_dot_product(e.embedding, e.embedding)) *
                sqrt(list_dot_product(c.cv, c.cv))), 4) AS ccos,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY round(list_dot_product(e.embedding, c.cv) /
                    (sqrt(list_dot_product(e.embedding, e.embedding)) *
                     sqrt(list_dot_product(c.cv, c.cv))), 4) DESC,
                    c.cid) AS rn
  FROM emb e CROSS JOIN cent c),
assigned AS (
  SELECT vec_id, embedding, cid AS cluster, ccos FROM ass0 WHERE rn = 1),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id != b.vec_id
  WHERE round(list_dot_product(a.embedding, b.embedding) /
              (sqrt(list_dot_product(a.embedding, a.embedding)) *
               sqrt(list_dot_product(b.embedding, b.embedding))), 4)
        >= {SEMDEDUP_T}
    AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id)))
SELECT s.vec_id, s.cluster, s.ccos AS centroid_cos,
       d.vec_id IS NULL AS keep
FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
ORDER BY s.vec_id
"""


# ------------------------------------------------------------ bitext_mine
# Parallel-corpus mining (the CCMatrix / WikiMatrix step, Artetxe &
# Schwenk 2019): align documents across two language shards of one
# multilingual embedding space by nearest neighbor + margin.  The
# embeddings table carries no language, so the shards are the
# deterministic halves vec_id % 2 (0 = source, 1 = target) — at
# deployment the split is the real lang column and nothing else changes.
# For each source vector: best and second-best target IN ITS LSH BUCKET
# by rounded cosine (ties → smaller vec_id), margin = best − second
# (absolute-margin variant of the published ratio-margin — same
# intuition, no division by a k-NN mean to keep the oracle exact), and
# the pair is accepted when cosine ≥ MIN_COS and margin ≥ MIN_MARGIN
# (a best with no competitor in the bucket has margin = best − 0).
#
# Scale: this is the module's one CROSS-SET join — source ⋈ target keyed
# on the LSH bucket (collision-bound shuffle, never |src|·|tgt|), then a
# per-source window over bucket-mates only (tiny partitions).  At
# CCMatrix scale the bucket key is the real FAISS cell id; the join and
# margin logic are unchanged.
BITEXT_MIN_COS = 0.15
BITEXT_MIN_MARGIN = 0.02


def _bitext_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted mined-pair relation (production shape; the sort in
    ``bitext_mine`` is driver-compare presentation only)."""
    from pyspark.sql import Window
    e = _emb(spark, sf_dir).withColumn(
        "bucket", _bucket_expr(F.col("embedding"), 64))
    src = (e.filter(F.col("vec_id") % 2 == 0)
           .select(F.col("vec_id").alias("src_id"),
                   F.col("embedding").alias("sv"), "bucket"))
    tgt = (e.filter(F.col("vec_id") % 2 == 1)
           .select(F.col("vec_id").alias("tgt_id"),
                   F.col("embedding").alias("tv"), "bucket"))
    cos = F.round(_dot(F.col("sv"), F.col("tv"))
                  / (_norm(F.col("sv")) * _norm(F.col("tv"))), 4)
    pairs = src.join(tgt, "bucket").select("src_id", "tgt_id",
                                           cos.alias("cosine"))
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"),
                                             F.asc("tgt_id"))
    ranked = (pairs
              .withColumn("rn", F.row_number().over(w))
              .withColumn("second",
                          F.lead("cosine").over(w))
              .filter(F.col("rn") == 1))
    margin = F.round(F.col("cosine") - F.coalesce("second", F.lit(0.0)), 4)
    return ranked.select(
        "src_id", "tgt_id", "cosine", margin.alias("margin"),
        ((F.col("cosine") >= BITEXT_MIN_COS)
         & (margin >= BITEXT_MIN_MARGIN)).alias("accepted"))


def bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import ordered as _ordered
    return _bitext_ranked(spark, sf_dir).transform(_ordered("src_id"))


def _bitext_mine_sql() -> str:
    return f"""
WITH {EMB_CTE},
b AS (
  SELECT vec_id, embedding, {_bucket_sql()} AS bucket FROM emb),
pairs AS (
  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
         round(list_dot_product(s.embedding, t.embedding) /
               (sqrt(list_dot_product(s.embedding, s.embedding)) *
                sqrt(list_dot_product(t.embedding, t.embedding))), 4)
           AS cosine
  FROM b s JOIN b t ON s.bucket = t.bucket
  WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 = 1),
ranked AS (
  SELECT src_id, tgt_id, cosine,
         row_number() OVER w AS rn,
         lead(cosine) OVER w AS second
  FROM pairs
  WINDOW w AS (PARTITION BY src_id ORDER BY cosine DESC, tgt_id ASC))
SELECT src_id, tgt_id, cosine,
       round(cosine - coalesce(second, 0.0), 4) AS margin,
       cosine >= {BITEXT_MIN_COS}
         AND round(cosine - coalesce(second, 0.0), 4)
             >= {BITEXT_MIN_MARGIN} AS accepted
FROM ranked WHERE rn = 1
ORDER BY src_id
"""


QUERIES = {
    "bitext_mine": (bitext_mine, _bitext_mine_sql()),
    "semantic_dedup": (semantic_dedup, SEMANTIC_DEDUP_SQL),
    "pq_ann_topk": (pq_ann_topk, PQ_ANN_SQL),
    "cosine_topk": (cosine_topk, COSINE_TOPK_SQL),
    "near_dup_exact": (near_dup_exact, NEAR_DUP_EXACT_SQL),
    "lsh_ann_topk": (lsh_ann_topk, _lsh_ann_sql()),
    "ivf_ann_topk": (ivf_ann_topk, IVF_ANN_SQL),
    "embedding_near_dup": (embedding_near_dup, _embedding_near_dup_sql()),
}
