"""RAPTOR tree construction as iterative relational algebra — the
deterministic stand-in for the reference's recursive cluster-and-summarize
pipeline (`/root/reference/rag/raptor.py:35-157`,
``RecursiveAbstractiveProcessing4TreeOrganizedRetrieval``).

Reference shape: per layer, UMAP-reduce the layer's chunk embeddings, pick
the GMM component count by BIC (bounded by ``max_cluster``), soft-assign
chunks to clusters (`raptor.py:134-147`), then for every cluster truncate
each member to ``(llm.max_length - max_token) / n_members`` tokens, join
with newlines into ``cluster_content``, ask the LLM for a summary, re-embed
it, and append the summary as a next-layer chunk (`raptor.py:105-125`);
recurse until a layer has one chunk.  Both model slots (the summarizer and
the re-embedder) sit behind pure-function seams, so — exactly like the
``tfidf_keywords`` / GraphRAG stand-ins — each gets a DETERMINISTIC
replacement and the surrounding dataflow stays testable cross-engine:

* UMAP+GMM+BIC     → fixed quantizer: K = min(MAX_CLUSTER, ceil(n / FAN))
  centroids (MAX_CLUSTER mirrors the reference's ``max_cluster`` bound on
  the GMM component count), seeds = the K smallest node ids of the layer,
  nearest-centroid by rounded cosine (the ``semantic_dedup`` /
  ``ivf_ann_topk`` convention).
* LLM summary      → the reference's own ``cluster_content`` string
  (members truncated to ``(MAX_LEN - RESERVE) // n`` CHARS — chars stand in
  for the token-based ``truncate`` of `rag/utils/__init__.py` — joined by
  '\\n' in node-id order); the LLM paraphrase step is the identity.
* re-embedding     → component-wise mean of the member embeddings
  (floor(sum / n) in integer micro-units).

All vector math runs on integer MICRO-UNIT embeddings
(``round(x * 1e6)``): every dot product (≤ 64 · 10^12) and component sum
stays below 2^53, so Spark's and DuckDB's doubles are EXACT and no
partial-aggregation ordering can perturb a cosine before the final
``round(, 4)`` — the same integer-exactness discipline as
``operators/graphrag.py``.

Spark shape at 100 TB: level 0 is one scan; each higher level is built from
the previous one by one broadcast join against K ≤ MAX_CLUSTER centroid
rows (a write-time bucket column at deployment, per ``ivf_ann_topk``) and
one groupBy — per-level work is O(MAX_CLUSTER · n), level sizes shrink
geometrically, so the whole tree above level 0 is tiny relative to the
corpus and the loop runs O(log n) times with one driver-side count per
level (the layer-advance the reference also does per loop iteration).
Iteration state is localCheckpoint-truncated like ``dedup_clusters``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline.snapshot_cache import relation
from ..session import documents_scan, memo, spread

FAN = 8            # target members per cluster
MAX_CLUSTER = 64   # reference's max_cluster bound on the component count
MAX_LEVELS = 5     # depth cap (8^5 = 32k leaves collapse within 5 levels)
MAX_LEN = 2048     # stand-in for llm.max_length (chars)
RESERVE = 512      # stand-in for max_token reserved for the summary
MICRO = 1_000_000  # embedding fixed-point scale
TOP_K = 10
QUERY_NODE = 0     # retrieval query = level-0 node 0 (similarity.py conv.)


def _dot(a, b):
    # products of micro-ints (<= 1e12 each, <= 6.4e13 summed over dim 64):
    # double accumulation is exact, order-independent
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _cos(a, b):
    return F.round(_dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))), 4)


def _leaves(spark, sf_dir) -> DataFrame:
    """Level-0 nodes: documents joined to their embeddings, vectors in
    integer micro-units."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("node_id"),
        F.expr("transform(embedding, x -> "
               f"cast(round(cast(x as double) * {MICRO}) as bigint))")
        .alias("iemb"))
    docs = documents_scan(spark, sf_dir).select(
        F.col("doc_id").alias("node_id"), "text")
    return spread(docs.join(emb, "node_id"))


def _assign(nodes: DataFrame, k: int) -> DataFrame:
    """(node_id, text, iemb, cid): nearest-centroid assignment against
    the first-k-by-node-id seeds.  K <= n/8 centroid rows ride to every
    executor as a broadcast; at 100 TB the level-0 assignment is a
    write-time bucket column exactly like IVF."""
    w = Window.orderBy("node_id")
    seeds = (nodes.withColumn("r", F.row_number().over(w))
             .filter(F.col("r") <= k)
             .select(F.col("node_id").alias("cid"),
                     F.col("iemb").alias("cv")))
    scored = nodes.crossJoin(F.broadcast(seeds)).withColumn(
        "cos", _cos(F.col("iemb"), F.col("cv")))
    ww = Window.partitionBy("node_id").orderBy(F.desc("cos"), F.asc("cid"))
    return (scored.withColumn("rr", F.row_number().over(ww))
            .filter(F.col("rr") == 1)
            .select("node_id", "text", "iemb", "cid"))


def _level_up(nodes: DataFrame, n: int):
    """One layer advance: cluster ``nodes`` (n rows) into
    min(MAX_CLUSTER, ceil(n/FAN)) clusters, emit (next-level nodes,
    child→parent edges)."""
    k = min(MAX_CLUSTER, math.ceil(n / FAN))
    # checkpoint the assignment ONCE per level: it is the shared parent of
    # both the next-level nodes (groupBy below) and the child→parent edge
    # relation — without this, materializing the edge union re-runs every
    # level's scoring pass, and the per-level plans compound joins
    # (plan-pinned in tests/test_snapshot_cache.py::TestBoundedLineage)
    assign = _assign(nodes, k).localCheckpoint()
    grp = assign.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.collect_list(F.struct("node_id", "text")).alias("mem"),
        F.collect_list("iemb").alias("embs"))
    # cluster_content: members truncated to (MAX_LEN-RESERVE)//n chars,
    # '\n'-joined in node-id order (raptor.py:105-112, LLM step = identity)
    lpc = F.greatest(F.lit(1),
                     F.expr(f"({MAX_LEN} - {RESERVE}) div n_members"))
    summary = F.array_join(
        F.transform(F.array_sort("mem"),
                    lambda s: s["text"].substr(F.lit(1), lpc)),
        "\n")
    # re-embed = floor component-mean of member micro-vectors (exact)
    mean = F.transform(
        F.aggregate(F.col("embs"),
                    F.array_repeat(F.lit(0).cast("bigint"), 64),
                    lambda acc, v: F.zip_with(acc, v,
                                              lambda a, b: a + b)),
        lambda s: F.floor(s / F.col("n_members")).cast("bigint"))
    nxt = grp.select(F.col("cid").alias("node_id"), "n_members",
                     summary.alias("text"), mean.alias("iemb"))
    edges = assign.select("node_id", "cid")
    return nxt, edges


def _tree(spark, sf_dir):
    """The full tree, built once per (session, sf_dir): (all_nodes(level,
    node_id, n_members, text, iemb), edges(child_level, child_id,
    parent_id)).  Levels above 0 total ~n/7 rows.  The ``memo`` entry
    also holds the leaves frame the nodes' level-0 rows read through, so
    ``reset_shared_cache`` frees it with the tree; each level's
    localCheckpoint goes with that reset's RDD sweep."""
    return memo("raptor_tree", spark, sf_dir,
                lambda: _build_tree(spark, sf_dir))[:2]


def _build_tree(spark, sf_dir):
    from pyspark import StorageLevel
    leaves = (_leaves(spark, sf_dir)
              .withColumn("n_members", F.lit(1).cast("bigint"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    cur = leaves
    n = cur.count()
    all_nodes = cur.withColumn("level", F.lit(0))
    all_edges = None
    level = 0
    while n > 1 and level < MAX_LEVELS:
        # no checkpoint needed here: nxt is one aggregation over the
        # level's checkpointed assignment (see _level_up), so its lineage
        # is already truncated at the level boundary
        nxt, edges = _level_up(cur, n)
        level += 1
        all_nodes = all_nodes.unionByName(
            nxt.withColumn("level", F.lit(level)))
        e = edges.select(F.lit(level - 1).alias("child_level"),
                         F.col("node_id").alias("child_id"),
                         F.col("cid").alias("parent_id"))
        all_edges = e if all_edges is None else all_edges.unionByName(e)
        cur = nxt
        n = cur.count()
    if all_edges is None:
        # at most one embedded document: no level above 0, no edges
        all_edges = leaves.select(F.lit(0).alias("child_level"),
                                  F.col("node_id").alias("child_id"),
                                  F.col("node_id").alias("parent_id")
                                  ).limit(0)
    return all_nodes, all_edges, leaves


def _tree_nodes(spark, sf_dir: str) -> DataFrame:
    """The tree's node table (the ``raptor_nodes`` snapshot kind)."""
    return _tree(spark, sf_dir)[0]


def _tree_edges(spark, sf_dir: str) -> DataFrame:
    """The tree's edge table (the ``raptor_edges`` snapshot kind)."""
    return _tree(spark, sf_dir)[1]


# ------------------------------------------------------------- queries
def raptor_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary nodes of the RAPTOR tree (levels >= 1): the chunks the
    reference appends per cluster (`raptor.py:119-125`)."""
    from ..session import ordered_once
    return ordered_once(
        relation(spark, "raptor_nodes", sf_dir).filter(F.col("level") >= 1)
        .select("level", "node_id", "n_members",
                F.length("text").cast("bigint").alias("n_chars"),
                F.col("text").alias("summary")),
        "level", "node_id")


def raptor_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Child→parent assignments per layer — the reference's ``labels``
    bookkeeping (`raptor.py:147-152`)."""
    from ..session import ordered_once
    return ordered_once(relation(spark, "raptor_edges", sf_dir),
                        "child_level", "child_id")


def raptor_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapsed-tree retrieval (the RAPTOR paper's strongest variant, and
    how the reference indexes the summaries — they are stored as ordinary
    chunks and searched flat): brute-force cosine top-k of the query
    vector against EVERY node of every level."""
    nodes = relation(spark, "raptor_nodes", sf_dir)
    q = (nodes.filter((F.col("level") == 0)
                      & (F.col("node_id") == QUERY_NODE))
         .select(F.col("iemb").alias("qv")))
    scored = (nodes.crossJoin(F.broadcast(q))
              .filter((F.col("level") > 0) | (F.col("node_id") != QUERY_NODE))
              .select("level", "node_id",
                      _cos(F.col("iemb"), F.col("qv")).alias("cosine")))
    return (scored.orderBy(F.desc("cosine"), "level", "node_id")
            .limit(TOP_K))


# ---------------------------------------------------------------- oracles
# Static unrolled SQL: MAX_LEVELS layer blocks, each guarded by the
# previous layer's row count, identical quantizer/summary/mean arithmetic.
_L0 = f"""
nodes_0 AS MATERIALIZED (
  SELECT d.doc_id AS node_id, d.text,
         list_transform(CAST(e.embedding AS DOUBLE[]),
                        x -> CAST(round(x * {MICRO}) AS BIGINT)) AS iemb,
         CAST(1 AS BIGINT) AS n_members
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)"""


def _lvl_sql(i: int) -> str:
    p = i - 1
    return f"""
n_{p} AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes_{p}),
seeds_{i} AS MATERIALIZED (
  SELECT node_id AS cid, iemb AS cv FROM (
    SELECT node_id, iemb, row_number() OVER (ORDER BY node_id) AS r
    FROM nodes_{p})
  WHERE r <= (SELECT least({MAX_CLUSTER}, CAST(ceil(n / {FAN}.0) AS BIGINT))
              FROM n_{p})
    AND (SELECT n FROM n_{p}) > 1),
assign_{i} AS MATERIALIZED (
  SELECT node_id, text, iemb, cid FROM (
    SELECT t.node_id, t.text, t.iemb, s.cid,
           row_number() OVER (PARTITION BY t.node_id ORDER BY
             round(list_dot_product(CAST(t.iemb AS DOUBLE[]),
                                    CAST(s.cv AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(t.iemb AS DOUBLE[]),
                                      CAST(t.iemb AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(s.cv AS DOUBLE[]),
                                      CAST(s.cv AS DOUBLE[])))), 4) DESC,
             s.cid ASC) AS rr
    FROM nodes_{p} t, seeds_{i} s) WHERE rr = 1),
grp_{i} AS MATERIALIZED (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM assign_{i}
  GROUP BY cid),
summ_{i} AS MATERIALIZED (
  SELECT a.cid,
         string_agg(
           substring(a.text, 1,
                     CAST(greatest(1, ({MAX_LEN} - {RESERVE}) // g.n_members)
                          AS INTEGER)),
           chr(10) ORDER BY a.node_id) AS text
  FROM assign_{i} a JOIN grp_{i} g USING (cid) GROUP BY a.cid),
mean_{i} AS MATERIALIZED (
  SELECT cid, list(comp ORDER BY pos) AS iemb FROM (
    SELECT a.cid, g2.i AS pos,
           CAST(floor(sum(a.iemb[g2.i]) * 1.0 / any_value(g.n_members))
                AS BIGINT) AS comp
    FROM assign_{i} a JOIN grp_{i} g USING (cid),
         unnest(generate_series(1, 64)) AS g2(i)
    GROUP BY a.cid, g2.i)
  GROUP BY cid),
nodes_{i} AS MATERIALIZED (
  SELECT g.cid AS node_id, s.text, m.iemb, g.n_members
  FROM grp_{i} g JOIN summ_{i} s USING (cid) JOIN mean_{i} m USING (cid))"""


_TREE_CTES = _L0 + "," + ",".join(_lvl_sql(i)
                                  for i in range(1, MAX_LEVELS + 1))

_ALL_NODES = " UNION ALL ".join(
    f"SELECT {i} AS level, node_id, n_members, text, iemb FROM nodes_{i}"
    for i in range(0, MAX_LEVELS + 1))

RAPTOR_TREE_SQL = f"""
WITH {_TREE_CTES}
SELECT level, node_id, n_members,
       CAST(length(text) AS BIGINT) AS n_chars, text AS summary
FROM ({_ALL_NODES})
WHERE level >= 1
ORDER BY level, node_id
"""

_ALL_EDGES = " UNION ALL ".join(
    f"SELECT {i - 1} AS child_level, node_id AS child_id, cid AS parent_id"
    f" FROM assign_{i}" for i in range(1, MAX_LEVELS + 1))

RAPTOR_EDGES_SQL = f"""
WITH {_TREE_CTES}
SELECT * FROM ({_ALL_EDGES})
ORDER BY child_level, child_id
"""

RAPTOR_RETRIEVAL_SQL = f"""
WITH {_TREE_CTES},
alln AS ({_ALL_NODES}),
q AS (SELECT CAST(iemb AS DOUBLE[]) AS qv FROM alln
      WHERE level = 0 AND node_id = {QUERY_NODE})
SELECT level, node_id,
       round(list_dot_product(CAST(n.iemb AS DOUBLE[]), q.qv) /
             (sqrt(list_dot_product(CAST(n.iemb AS DOUBLE[]),
                                    CAST(n.iemb AS DOUBLE[]))) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM alln n, q
WHERE level > 0 OR node_id != {QUERY_NODE}
ORDER BY cosine DESC, level, node_id LIMIT {TOP_K}
"""

QUERIES = {
    "raptor_tree": (raptor_tree, RAPTOR_TREE_SQL),
    "raptor_edges": (raptor_edges, RAPTOR_EDGES_SQL),
    "raptor_retrieval": (raptor_retrieval, RAPTOR_RETRIEVAL_SQL),
}
