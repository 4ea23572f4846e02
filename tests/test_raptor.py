"""RAPTOR stand-in invariants: geometric layer shrink under the reference's
max_cluster bound, exact child→parent partition per layer, the reference's
cluster_content truncation rule, collapsed-tree retrieval shape, and plan
audit (centroid side broadcast, never a shuffled cartesian)."""

import math

import pytest

from conftest import formatted_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ops():
    from ragflow_core16_spark.operators import raptor
    return raptor


@pytest.fixture(scope="module")
def tree(spark, ops):
    nodes, edges = ops._tree(spark, SF)
    return ([r.asDict() for r in nodes.collect()],
            [r.asDict() for r in edges.collect()])


def _levels(nodes):
    lv = {}
    for r in nodes:
        lv.setdefault(r["level"], []).append(r)
    return lv


def test_layer_sizes_follow_quantizer_schedule(tree, ops):
    nodes, _ = tree
    lv = _levels(nodes)
    assert sorted(lv) == list(range(max(lv) + 1))
    n = len(lv[0])
    assert n > 1
    level = 0
    while n > 1 and level < ops.MAX_LEVELS:
        level += 1
        expect = min(ops.MAX_CLUSTER, math.ceil(n / ops.FAN))
        assert len(lv[level]) == expect
        n = expect
    assert n == 1, "tree must collapse to a single root"
    assert max(lv) == level


def test_edges_partition_each_layer(tree):
    nodes, edges = tree
    lv = _levels(nodes)
    by_level = {}
    for e in edges:
        by_level.setdefault(e["child_level"], []).append(e)
    for cl, es in by_level.items():
        children = [e["child_id"] for e in es]
        assert sorted(children) == sorted(r["node_id"] for r in lv[cl])
        parents = {e["parent_id"] for e in es}
        assert parents == {r["node_id"] for r in lv[cl + 1]}
        # seeds are the smallest node ids of the layer, and every seed
        # self-assigns (cos(seed, seed) = 1.0 dominates)
        k = len(lv[cl + 1])
        assert parents == set(sorted(r["node_id"] for r in lv[cl])[:k])
        for e in es:
            if e["child_id"] in parents:
                assert e["parent_id"] == e["child_id"]


def test_summary_is_truncated_cluster_content(tree, ops):
    """summary == '\\n'.join of members' texts truncated to
    (MAX_LEN - RESERVE) // n_members chars, in node-id order —
    the reference's cluster_content (raptor.py:105-112) with the LLM
    paraphrase slot as identity."""
    nodes, edges = tree
    lv = _levels(nodes)
    text0 = {r["node_id"]: r["text"] for r in lv[0]}
    summaries = {r["node_id"]: r for r in lv[1]}
    groups = {}
    for e in edges:
        if e["child_level"] == 0:
            groups.setdefault(e["parent_id"], []).append(e["child_id"])
    assert set(groups) == set(summaries)
    for pid, members in groups.items():
        lpc = max(1, (ops.MAX_LEN - ops.RESERVE) // len(members))
        expect = "\n".join(text0[m][:lpc] for m in sorted(members))
        assert summaries[pid]["text"] == expect
        assert summaries[pid]["n_members"] == len(members)


def test_mean_embedding_is_floor_component_mean(tree):
    nodes, edges = tree
    lv = _levels(nodes)
    emb0 = {r["node_id"]: r["iemb"] for r in lv[0]}
    groups = {}
    for e in edges:
        if e["child_level"] == 0:
            groups.setdefault(e["parent_id"], []).append(e["child_id"])
    for r in lv[1]:
        members = groups[r["node_id"]]
        n = len(members)
        expect = [math.floor(sum(emb0[m][i] for m in members) / n)
                  for i in range(64)]
        assert r["iemb"] == expect


def test_retrieval_shape(spark, ops):
    rows = ops.raptor_retrieval(spark, SF).collect()
    assert len(rows) == ops.TOP_K
    cos = [r.cosine for r in rows]
    assert cos == sorted(cos, reverse=True)
    assert all(-1.0 <= c <= 1.0 for c in cos)
    assert all(not (r.level == 0 and r.node_id == ops.QUERY_NODE)
               for r in rows)


def test_levelup_plan_broadcasts_centroids(spark, ops):
    """The n×K scoring join must broadcast the K≤MAX_CLUSTER centroid rows
    — no shuffled cartesian of the corpus.  Audited on the un-checkpointed
    assignment plan (_level_up checkpoints it, which hides the join behind
    an ExistingRDD scan)."""
    leaves = ops._leaves(spark, SF).withColumn(
        "n_members", __import__("pyspark").sql.functions.lit(1).cast("bigint"))
    plan = formatted_plan(ops._assign(leaves, 63))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast side = centroids


def test_family_build_clusters_once_for_both_kinds(spark, ops, tmp_path,
                                                  monkeypatch):
    """The ``raptor_tree`` family commits two kinds from ONE tree: the
    edges build reuses the memoized tree the nodes build made, so the
    clustering loop advances once per level, not twice."""
    from pyspark.sql import functions as F

    from ragflow_core16_spark.pipeline.snapshot_cache import (BY_NAME,
                                                              read_table)
    from ragflow_core16_spark.session import reset_shared_cache
    advances = []
    level_up = ops._level_up

    def counting(nodes, n):
        advances.append(n)
        return level_up(nodes, n)

    monkeypatch.setattr(ops, "_level_up", counting)
    monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
    reset_shared_cache()
    BY_NAME["raptor_tree"].build(spark, SF)
    levels = (read_table(spark, "raptor_nodes", SF)
              .agg(F.max("level")).first()[0])
    assert levels > 1
    assert len(advances) == levels
    assert read_table(spark, "raptor_edges", SF).count() > 0


def test_one_document_corpus_matches_oracle(spark, ops, tmp_path):
    """A corpus with one embedded document has no level above 0: the
    tree is its leaf and the edge relation is empty, as in the DuckDB
    oracle, whose first level is guarded by ``n > 1``."""
    from pyspark.sql import functions as F

    from oracle_compare import compare
    one = str(tmp_path / "one")
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        (spark.read.parquet(f"{SF}/{table}.parquet")
         .filter(F.col(key) == 3).coalesce(1)
         .write.parquet(f"{one}/{table}.parquet"))
    for name, (fn, sql) in ops.QUERIES.items():
        r = compare(spark, one, name, fn, sql)
        assert r["cols_match"] and r["values_match"], r
        assert r["n_spark"] == 0, r


class TestSharedCacheReset:
    def test_tree_survives_cache_reset_and_rdd_unpersist(self, spark):
        """Regression: the tree cache holds persisted + localCheckpointed
        frames; a harness that calls reset_shared_cache() and unpersists
        every RDD (bench deep-clean) must get a REBUILT tree on the next
        call, not a stale plan over vanished checkpoint blocks
        (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
        from ragflow_core16_spark.operators.dedup import reset_shared_cache
        from ragflow_core16_spark.operators.raptor import raptor_tree
        sf = "/root/testdata/sf0.001"
        first = raptor_tree(spark, sf).collect()
        reset_shared_cache()
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs()
                        .values()):
            rdd.unpersist()
        again = raptor_tree(spark, sf).collect()
        assert first == again

    def test_reset_alone_releases_all_tree_storage(self, spark):
        """reset_shared_cache() by itself (no bulk RDD sweep) must release
        EVERY frame the tree pinned — nodes, edges, AND the level-0 leaves
        frame — so storage memory cannot accumulate across an N-query
        bench session."""
        from ragflow_core16_spark.operators.dedup import reset_shared_cache
        from ragflow_core16_spark.operators.raptor import raptor_tree
        sf = "/root/testdata/sf0.001"
        reset_shared_cache()
        spark.catalog.clearCache()
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs()
                        .values()):
            rdd.unpersist()
        before = len(spark.sparkContext._jsc.getPersistentRDDs())
        raptor_tree(spark, sf).collect()
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) > before
        reset_shared_cache()
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before
