"""Iterative graph computation at shuffle-scale — integer-exact PageRank.

A web-scale corpus is also a link graph; rank/centrality scores are a
standard quality prior for training-data selection (the reference's rerank
stage consumes a ``pagerank_fea`` column — ``rag/nlp/search.py:247-272`` —
but assumes it precomputed).  This operator computes it.

Spark shape: each iteration is ONE shuffle keyed on the destination node
(join ranks⋈edges on src is a broadcast when the rank table is small, a
co-partitioned hash join at scale; the contribution sum partial-aggregates
map-side).  Iterations are a driver-side Python loop over DataFrames —
the lineage is 3 joins deep, well inside plan-size limits; at hundreds of
iterations you'd localCheckpoint every ~10 (same pattern as ``bpe_train``).

Determinism: ranks are parts-per-million BIGINTs; the damping update is
``150000 + 850000·Σ(contrib) div 1000000`` with truncating integer
division, and a node's out-contribution is ``rank div out_degree`` — no
floats anywhere, so summation order cannot perturb results and the DuckDB
oracle (the same three iterations unrolled as CTEs) matches bit-for-bit.

The edge set is derived deterministically from the ``documents`` table via
the repo's md5→bigint bridge (each doc links to 1–3 pseudo-random targets),
so both engines materialize the identical graph without an edge file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_documents

N_ITER = 3
DAMP_NUM = 850_000          # 0.85 in ppm
BASE_NUM = 150_000          # (1 - 0.85) in ppm
PPM = 1_000_000


def _edges(d: DataFrame, n_docs_col) -> DataFrame:
    """1–3 md5-derived out-links per document (self-loops allowed — they
    are deterministic and harmless to the fixed-point)."""
    deg = (F.col("doc_id") % 3 + 1).cast("int")
    from .dedup import _md5_bigint
    links = F.transform(
        F.sequence(F.lit(1), deg),
        lambda k: _md5_bigint(
            F.concat_ws(":", F.col("doc_id").cast("string"),
                        k.cast("string"))) % n_docs_col)
    return (d.select("doc_id", F.explode(links).alias("dst"))
            .withColumn("out_deg", deg.cast("bigint"))
            .select(F.col("doc_id").alias("src"), "dst", "out_deg"))


def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 by rank.  With a written rank table
    (``webgraph_ranks``) this is a scan + top-k — the
    deployment shape: the reference's rerank stage CONSUMES a
    precomputed ``pagerank_fea`` column (rag/nlp/search.py:247-272), it
    never computes ranks per query, and Common-Crawl-style pipelines
    publish rank files once per crawl snapshot."""
    from ..pipeline.snapshot_cache import read_table
    scan = read_table(spark, "webgraph_ranks", sf_dir)
    ranks = (scan.select("doc_id", "rank_ppm") if scan is not None
             else _pagerank_full(spark, sf_dir))
    return (ranks.orderBy(F.desc("rank_ppm"), "doc_id")
            .limit(50)
            .select("doc_id", "rank_ppm"))


def _pagerank_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node rank after N_ITER sweeps (compute path; also the rank
    half of the materialized table)."""
    d = read_documents(spark, sf_dir).select("doc_id")
    n = d.count()  # scalar corpus size (one cheap count; a literal at scale)
    edges = _edges(d, F.lit(n))
    ranks = d.select("doc_id", F.lit(PPM).cast("bigint").alias("rank_ppm"))
    for _ in range(N_ITER):
        contrib = (edges.join(ranks, edges.src == ranks.doc_id)
                   .select("dst", F.expr("rank_ppm div out_deg")
                           .alias("c")))
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (d.join(summed, d.doc_id == summed.dst, "left")
                 .select("doc_id",
                         (F.lit(BASE_NUM)
                          + F.expr(f"{DAMP_NUM} * coalesce(s, 0) "
                                   f"div {PPM}")).cast("bigint")
                         .alias("rank_ppm")))
    return ranks


def _pagerank_sql() -> str:
    it = """
{name} AS (
  SELECT n.doc_id,
         CAST({base} + {damp} * coalesce(s.s, 0) // {ppm} AS BIGINT)
           AS rank_ppm
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS doc_id, sum(r.rank_ppm // e.out_deg) AS s
    FROM edges e JOIN {prev} r ON e.src = r.doc_id
    GROUP BY e.dst) s ON n.doc_id = s.doc_id)"""
    its = ",".join(
        it.format(name=f"it{i + 1}", prev=("r0" if i == 0 else f"it{i}"),
                  base=BASE_NUM, damp=DAMP_NUM, ppm=PPM)
        for i in range(N_ITER))
    return f"""
WITH nodes AS (SELECT doc_id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT doc_id AS src,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                             || CAST(k AS VARCHAR)), 1, 15))::BIGINT
           % (SELECT n FROM nn) AS dst,
         CAST(doc_id % 3 + 1 AS BIGINT) AS out_deg
  FROM nodes, unnest(generate_series(1, 3)) AS t(k)
  WHERE k <= doc_id % 3 + 1),
r0 AS (SELECT doc_id, CAST({PPM} AS BIGINT) AS rank_ppm FROM nodes),
{its}
SELECT doc_id, rank_ppm FROM it{N_ITER}
ORDER BY rank_ppm DESC, doc_id LIMIT 50
"""


def hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) over the same md5-derived
    link graph as ``pagerank`` — the complementary link-quality prior: a
    good hub links to good authorities, a good authority is linked from
    good hubs.  Directory/index pages score as hubs, canonical content
    pages as authorities; both are selection signals a PageRank-style
    prestige score misses.

    Spark shape: each iteration is two keyed aggs (contributions grouped
    by dst for authorities, by src for hubs) — both map-side combinable,
    same co-partitioned join family as pagerank.  Normalization divides
    by the iteration's max score, carried as a one-row BROADCAST (never a
    driver collect), so the whole loop stays one lazy plan.

    Determinism: scores are ppm BIGINTs; normalization is
    ``score·PPM div max`` with truncating integer division — no floats,
    so partial-aggregation order cannot perturb a digit and the DuckDB
    oracle (the same iterations unrolled as CTEs, max as a scalar
    subquery) matches bit-for-bit.

    Lineage: each iteration's raw-contribution relation is lazily
    localCheckpointed — it feeds BOTH its max-broadcast and the
    normalization join, and without the checkpoint every scalar
    broadcast re-executes its entire upstream plan as a separate job
    (6 broadcasts × a deepening 6-join lineage ⇒ compounding recompute;
    same pathology dedup_clusters hit).  The checkpointed relation is
    one row per linked node — node-table sized, executor-local storage,
    fine at any scale.

    With a written rank table (``webgraph_ranks``) this is a
    scan + top-k, same contract as ``pagerank``."""
    from ..pipeline.snapshot_cache import read_table
    scan = read_table(spark, "webgraph_ranks", sf_dir)
    if scan is not None:
        return (scan.select("doc_id", "h_ppm", "a_ppm")
                .orderBy(F.desc("a_ppm"), F.desc("h_ppm"), "doc_id")
                .limit(50))
    hubs, auths = _hits_full(spark, sf_dir)
    return (hubs.join(auths, "doc_id")
            .orderBy(F.desc("a_ppm"), F.desc("h_ppm"), "doc_id")
            .limit(50)
            .select("doc_id", "h_ppm", "a_ppm"))


def _hits_full(spark: SparkSession, sf_dir: str):
    """(hubs, auths) per-node relations after N_ITER sweeps (compute
    path; also the hub/authority half of the materialized table)."""
    d = read_documents(spark, sf_dir).select("doc_id")
    n = d.count()
    edges = _edges(d, F.lit(n)).select("src", "dst")
    hubs = d.select("doc_id", F.lit(PPM).cast("bigint").alias("h_ppm"))
    auths = None
    for _ in range(N_ITER):
        a_raw = (edges.join(hubs, edges.src == hubs.doc_id)
                 .groupBy("dst").agg(F.sum("h_ppm").alias("a_raw"))
                 .localCheckpoint(eager=False))
        a_max = a_raw.agg(F.max("a_raw").alias("m"))
        auths = (d.join(a_raw, d.doc_id == a_raw.dst, "left")
                 .crossJoin(F.broadcast(a_max))
                 .select("doc_id",
                         F.expr(f"coalesce(a_raw, 0) * {PPM} div m")
                         .cast("bigint").alias("a_ppm")))
        h_raw = (edges.join(auths, edges.dst == auths.doc_id)
                 .groupBy("src").agg(F.sum("a_ppm").alias("h_raw"))
                 .localCheckpoint(eager=False))
        h_max = h_raw.agg(F.max("h_raw").alias("m"))
        hubs = (d.join(h_raw, d.doc_id == h_raw.src, "left")
                .crossJoin(F.broadcast(h_max))
                .select("doc_id",
                        F.expr(f"coalesce(h_raw, 0) * {PPM} div m")
                        .cast("bigint").alias("h_ppm")))
    return hubs, auths


# --------------------------------------------- rank-table materialization
def _ranks_unordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per node with all three link-quality priors: pagerank +
    HITS hub/authority (the columns the reference's rerank stage reads
    precomputed).  One doc_id-keyed join family."""
    pr = _pagerank_full(spark, sf_dir)
    hubs, auths = _hits_full(spark, sf_dir)
    return pr.join(hubs, "doc_id").join(auths, "doc_id")


def _hits_sql() -> str:
    it = """
a{i}_raw AS (
  SELECT e.dst AS doc_id, sum(r.h_ppm) AS a_raw
  FROM edges e JOIN {prev} r ON e.src = r.doc_id GROUP BY e.dst),
a{i} AS (
  SELECT n.doc_id,
         CAST(coalesce(s.a_raw, 0) * {ppm}
              // (SELECT max(a_raw) FROM a{i}_raw) AS BIGINT) AS a_ppm
  FROM nodes n LEFT JOIN a{i}_raw s ON n.doc_id = s.doc_id),
h{i}_raw AS (
  SELECT e.src AS doc_id, sum(r.a_ppm) AS h_raw
  FROM edges e JOIN a{i} r ON e.dst = r.doc_id GROUP BY e.src),
h{i} AS (
  SELECT n.doc_id,
         CAST(coalesce(s.h_raw, 0) * {ppm}
              // (SELECT max(h_raw) FROM h{i}_raw) AS BIGINT) AS h_ppm
  FROM nodes n LEFT JOIN h{i}_raw s ON n.doc_id = s.doc_id)"""
    its = ",".join(
        it.format(i=i + 1, prev=("h0" if i == 0 else f"h{i}"), ppm=PPM)
        for i in range(N_ITER))
    return f"""
WITH nodes AS (SELECT doc_id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
edges AS (
  SELECT doc_id AS src,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                             || CAST(k AS VARCHAR)), 1, 15))::BIGINT
           % (SELECT n FROM nn) AS dst
  FROM nodes, unnest(generate_series(1, 3)) AS t(k)
  WHERE k <= doc_id % 3 + 1),
h0 AS (SELECT doc_id, CAST({PPM} AS BIGINT) AS h_ppm FROM nodes),
{its}
SELECT h.doc_id, h.h_ppm, a.a_ppm
FROM h{N_ITER} h JOIN a{N_ITER} a USING (doc_id)
ORDER BY a.a_ppm DESC, h.h_ppm DESC, doc_id LIMIT 50
"""


QUERIES = {
    "pagerank": (pagerank, _pagerank_sql()),
    "hits": (hits, _hits_sql()),
}
