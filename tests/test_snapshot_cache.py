"""Ingest-time snapshot tables (pipeline/snapshot_cache.py).

The reference computes its derived structures once at indexing — the
GraphRAG entity graph/communities (`graphrag/general/index.py`), the
RAPTOR tree and per-chunk keywords/tag_feas (`rag/svr/task_executor.py`)
— and queries read the stored result.  These tests pin the Spark
analogue: each ``snapshot_cache.FAMILIES`` family's build writes per
corpus snapshot, query functions
scan when the table exists, and the scan path is byte-identical to the
full compute path.
"""

import gc
import os

import pytest

from conftest import formatted_plan

SF = "/root/testdata/sf0.001"


def _deep_clean(spark):
    from ragflow_core16_spark.operators.dedup import reset_shared_cache
    reset_shared_cache()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    gc.collect()


def _build(spark, *families):
    """Build the named ``snapshot_cache.FAMILIES`` families over SF."""
    from ragflow_core16_spark.pipeline.snapshot_cache import BY_NAME
    for name in families:
        BY_NAME[name].build(spark, SF)


class TestGraphRaptorScanParity:
    def test_all_index_backed_queries_scan_equals_compute(
            self, spark, tmp_path, monkeypatch):
        from ragflow_core16_spark.operators import graphrag as G
        from ragflow_core16_spark.operators import raptor as R
        from ragflow_core16_spark.operators import tagging as T
        from ragflow_core16_spark.operators import textstats as X
        qs = [G.entity_graph, G.graph_communities, G.community_reports,
              G.entity_extract, G.entity_resolution,
              R.raptor_tree, R.raptor_edges, R.raptor_retrieval,
              X.tfidf_keywords, T.tag_content]
        _deep_clean(spark)
        compute = [fn(spark, SF).collect() for fn in qs]
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        _build(spark, "graph_index", "raptor_tree", "keywords",
               "tag_features")
        _deep_clean(spark)
        for fn, want in zip(qs, compute):
            assert fn(spark, SF).collect() == want, fn.__name__

    def test_scan_paths_have_no_joins(self, spark, tmp_path, monkeypatch):
        # with the index tables present, the structural queries must be
        # scans: entity_graph / raptor_tree / tfidf_keywords / tag_content
        # plans contain no Join at all
        from ragflow_core16_spark.operators import graphrag as G
        from ragflow_core16_spark.operators import raptor as R
        from ragflow_core16_spark.operators import tagging as T
        from ragflow_core16_spark.operators import textstats as X
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        _build(spark, "graph_index", "raptor_tree", "keywords",
               "tag_features")
        _deep_clean(spark)
        for fn in (G.entity_graph, R.raptor_tree, X.tfidf_keywords,
                   T.tag_content):
            assert "Join" not in formatted_plan(fn(spark, SF)), fn.__name__


class TestBoundedLineage:
    def test_label_propagation_lineage_is_iteration_bounded(self, spark):
        """The community labels frame after N propagation sweeps must NOT
        carry N sweeps of joins in its plan: each sweep localCheckpoints,
        so the final plan reads the last checkpoint (ExistingRDD) and its
        join count stays at the per-sweep constant.  Guards against the
        r3 HITS regression class (un-truncated iterative lineage re-runs
        the whole history once per downstream action)."""
        from ragflow_core16_spark.operators import graphrag as G
        _deep_clean(spark)
        plan = formatted_plan(G._labels(spark, SF))
        assert "ExistingRDD" in plan
        assert plan.count("Join") <= 2, plan.count("Join")

    def test_raptor_tree_lineage_is_level_bounded(self, spark):
        """Each level's cluster ASSIGNMENT is checkpointed (the shared
        parent of that level's nodes and edges), so: the edge union is a
        pure projection of checkpoints (zero joins however many levels),
        and the node union's joins all come from the level-0 leaves
        derivation (each level contributes none)."""
        from ragflow_core16_spark.operators import raptor as R
        _deep_clean(spark)
        nodes, edges = R._tree(spark, SF)
        pe = formatted_plan(edges)
        assert "ExistingRDD" in pe
        assert pe.count("Join") == 0, pe.count("Join")
        pn = formatted_plan(nodes)
        leaves_joins = formatted_plan(R._leaves(spark, SF)).count("Join")
        # the persisted leaves frame prints its cached build plan twice
        # (InMemoryTableScan + InMemoryRelation); levels add zero
        assert pn.count("Join") <= 2 * leaves_joins, pn.count("Join")


class TestDedupIndexScanParity:
    """The dedup_index family writes the signature / verified-pair /
    cluster-label / simhash tables once per corpus snapshot; every dedup
    query must return byte-identical rows whether it scans the index or
    recomputes the chain, and the routed pair/cluster queries must be
    join-free scans when the index exists."""

    QS = ("minhash_signatures", "minhash_lsh_pairs", "ngram_jaccard",
          "simhash", "simhash_pairs", "dedup_clusters", "dedup_keep",
          "incremental_dedup", "substring_dedup_spans")

    def _fns(self):
        from ragflow_core16_spark.operators import dedup as D
        return [getattr(D, q) for q in self.QS]

    def test_scan_equals_compute(self, spark, tmp_path, monkeypatch):
        from ragflow_core16_spark.operators import dedup as D
        _deep_clean(spark)
        compute = [fn(spark, SF).collect() for fn in self._fns()]
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        D.materialize_dedup_index(spark, SF)
        _deep_clean(spark)
        for fn, want in zip(self._fns(), compute):
            assert fn(spark, SF).collect() == want, fn.__name__

    def test_pair_and_cluster_scans_are_join_free(
            self, spark, tmp_path, monkeypatch):
        from ragflow_core16_spark.operators import dedup as D
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        D.materialize_dedup_index(spark, SF)
        _deep_clean(spark)
        for fn in (D.minhash_lsh_pairs, D.ngram_jaccard, D.simhash,
                   D.dedup_clusters):
            assert "Join" not in formatted_plan(fn(spark, SF)), fn.__name__

    def test_decision_table_build_scans_labels(
            self, spark, tmp_path, monkeypatch):
        """With the dedup index written, the curation decision build's
        dedup_kept column must come from the label-table scan — no
        label-propagation checkpoint (ExistingRDD) in the plan."""
        from ragflow_core16_spark.operators import dedup as D
        from ragflow_core16_spark.operators import webclean as W
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        D.materialize_dedup_index(spark, SF)
        _deep_clean(spark)
        plan = formatted_plan(D.dedup_keep_decisions(spark, SF))
        assert "ExistingRDD" not in plan
        # end-to-end: web decisions still compose identically
        _deep_clean(spark)
        with_index = W.web_keep(spark, SF).collect()
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur2"))
        _deep_clean(spark)
        assert W.web_keep(spark, SF).collect() == with_index


class TestFeatureTableScanParity:
    """The round-4 second wave of ingest-time artifacts: webgraph ranks
    (the precomputed pagerank_fea the reference's rerank stage reads),
    document vectors (the stored q_{dim}_vec column), SemDeDup labels,
    and the trained BPE-merge / bigram-LM tables.  Scan ≡ compute per
    query; the routed queries must be join-free scans (bpe/kn/pagerank)
    or single-join scans where the query semantics join (kn scoring)."""

    def _fns(self):
        from ragflow_core16_spark.operators import embed as E
        from ragflow_core16_spark.operators import graph as G
        from ragflow_core16_spark.operators import similarity as S
        from ragflow_core16_spark.operators import textstats as X
        from ragflow_core16_spark.operators import training as T
        from ragflow_core16_spark.operators import webclean as W
        return [G.pagerank, G.hits, E.embed_docs, S.semantic_dedup,
                T.bpe_train_q, X.kn_bigram_logprob, T.dsir_affinity,
                X.ccnet_bucket, X.unigram_logprob, W.boilerplate_strip]

    def _materialize_all(self, spark):
        _build(spark, "webgraph_ranks", "doc_embeddings", "semantic_labels",
               "bpe_merges", "kn_bigram_lm", "lang_unigram_lm", "dsir_hist",
               "site_boilerplate")

    def test_scan_equals_compute(self, spark, tmp_path, monkeypatch):
        _deep_clean(spark)
        compute = [fn(spark, SF).collect() for fn in self._fns()]
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        self._materialize_all(spark)
        _deep_clean(spark)
        for fn, want in zip(self._fns(), compute):
            assert fn(spark, SF).collect() == want, fn.__name__

    def test_routed_scans_are_join_free(self, spark, tmp_path, monkeypatch):
        from ragflow_core16_spark.operators import graph as G
        from ragflow_core16_spark.operators import similarity as S
        from ragflow_core16_spark.operators import training as T
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        self._materialize_all(spark)
        _deep_clean(spark)
        for fn in (G.pagerank, G.hits, S.semantic_dedup, T.bpe_train_q):
            assert "Join" not in formatted_plan(fn(spark, SF)), fn.__name__

    def test_semantic_dedup_custom_threshold_bypasses_scan(
            self, spark, tmp_path, monkeypatch):
        """The label table is only valid for the default threshold; a
        caller-supplied threshold must recompute."""
        from ragflow_core16_spark.operators import similarity as S
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        _build(spark, "semantic_labels")
        _deep_clean(spark)
        plan = formatted_plan(S.semantic_dedup(spark, SF, threshold=0.5))
        assert "Join" in plan  # recomputed, not the join-free scan


class TestRetrievalIndexScanParity:
    """The retrieval_index family writes the (tok, doc_id, tf) posting
    relation + per-doc lengths — the engine's analogue of the reference's
    ingest-time ES index (conf/mapping.json; the task executor bulk-
    inserts once, every search reads the index).  Every retrieval query
    must be row-identical over scan vs compute."""

    def _fns(self):
        from ragflow_core16_spark.operators import ir_metrics as I
        from ragflow_core16_spark.operators import retrieval as R
        return [R.build_postings, R.term_idf_weights, R.fulltext_topn,
                R.bm25_topn, R.hybrid_fusion, R.retrieval_pipeline,
                R.rrf_fusion, I.retrieval_quality]

    def test_scan_equals_compute(self, spark, tmp_path, monkeypatch):
        from ragflow_core16_spark.operators import retrieval as R
        _deep_clean(spark)
        compute = [fn(spark, SF).collect() for fn in self._fns()]
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        R.materialize_retrieval_index(spark, SF)
        _deep_clean(spark)
        for fn, want in zip(self._fns(), compute):
            assert fn(spark, SF).collect() == want, fn.__name__

    def test_scan_paths_have_no_explode(self, spark, tmp_path, monkeypatch):
        """With the index present, no retrieval query re-tokenizes the
        corpus: the token explode (Generate) must be absent from the
        routed plans."""
        from ragflow_core16_spark.operators import retrieval as R
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        _deep_clean(spark)
        R.materialize_retrieval_index(spark, SF)
        _deep_clean(spark)
        for fn in (R.build_postings, R.term_idf_weights, R.fulltext_topn,
                   R.bm25_topn):
            assert "Generate" not in formatted_plan(fn(spark, SF)), \
                fn.__name__


class TestCacheHardening:
    """Round-5 hardening of the snapshot cache itself (ADVICE r4):
    recursive fingerprints over partitioned datasets, snapshot-commit
    publishes, and a cwd-independent warehouse anchor."""

    def test_fingerprint_sees_nested_part_files(self, tmp_path):
        """A partitioned dataset (lang=xx/ subdirs) must change its
        fingerprint when a part file inside a partition subdir is
        rewritten in place — the subdir's own mtime does NOT change on
        an in-place rewrite, so a top-level-only stat serves stale
        tables."""
        import os
        import time

        from ragflow_core16_spark.pipeline.snapshot_cache import (
            corpus_fingerprint)
        sf = tmp_path / "sf"
        part = sf / "documents.parquet" / "lang=en"
        part.mkdir(parents=True)
        f = part / "part-00000.parquet"
        f.write_bytes(b"v1")
        fp1 = corpus_fingerprint(str(sf))
        # freeze the SUBDIR's mtime across the rewrite (same-size content
        # so only the file's own mtime distinguishes the versions)
        dstat = os.stat(part)
        time.sleep(0.01)
        f.write_bytes(b"v2")
        os.utime(part, ns=(dstat.st_atime_ns, dstat.st_mtime_ns))
        assert corpus_fingerprint(str(sf)) != fp1

    def test_fingerprint_ignores_underscore_files_recursively(self, tmp_path):
        from ragflow_core16_spark.pipeline.snapshot_cache import (
            corpus_fingerprint)
        sf = tmp_path / "sf"
        part = sf / "documents.parquet" / "lang=en"
        part.mkdir(parents=True)
        (part / "part-00000.parquet").write_bytes(b"v1")
        fp1 = corpus_fingerprint(str(sf))
        (part / "_committed_123").write_bytes(b"meta")
        (sf / "documents.parquet" / "_SUCCESS").write_bytes(b"")
        assert corpus_fingerprint(str(sf)) == fp1

    def test_cache_root_is_cwd_independent(self, tmp_path, monkeypatch):
        """Without RAG_CURATION_DIR, the warehouse anchors to the repo
        root (where the package lives), not to whatever directory the
        process was launched from."""
        from ragflow_core16_spark.pipeline import snapshot_cache as SC
        monkeypatch.delenv("RAG_CURATION_DIR", raising=False)
        monkeypatch.chdir(tmp_path)
        root = SC.cache_root()
        assert not root.startswith(str(tmp_path))
        import ragflow_core16_spark
        pkg_root = __import__("os").path.dirname(__import__("os").path.dirname(
            ragflow_core16_spark.__file__))
        assert root.startswith(pkg_root)

    def test_crash_debris_is_not_served_then_materialize_commits(
            self, spark, tmp_path, monkeypatch):
        """A crashed writer leaves a ``data/<uuid>`` dir and no manifest:
        the table does not serve, and ``materialize`` then commits the
        build as version 1 without ever listing the debris."""
        from ragflow_core16_spark.pipeline import snapshot_cache as SC
        from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        path = SC.table_path("t_debris", SF)
        junk = os.path.join(path, "data", "crashed", "part-junk.parquet")
        os.makedirs(os.path.dirname(junk))
        open(junk, "w").write("junk")
        assert SC.read_table(spark, "t_debris", SF) is None
        got = SC.materialize(spark, "t_debris", SF,
                             lambda: spark.range(5).toDF("doc_id"))
        assert got == path
        t = SnapshotTable(spark, path)
        assert t.current_version() == 1
        assert junk not in t.manifest()["files"]
        assert SC.read_table(spark, "t_debris", SF).count() == 5

    def test_second_materialize_publishes_no_new_version(
            self, spark, tmp_path, monkeypatch):
        """A table with a published version is left alone: the second
        call neither builds nor commits."""
        from ragflow_core16_spark.pipeline import snapshot_cache as SC
        from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        path = SC.materialize(spark, "t_once", SF,
                              lambda: spark.range(5).toDF("doc_id"))
        built = []

        def build():
            built.append(1)
            return spark.range(99).toDF("doc_id")
        assert SC.materialize(spark, "t_once", SF, build) == path
        assert built == []
        assert SnapshotTable(spark, path).current_version() == 1
        assert SC.read_table(spark, "t_once", SF).count() == 5

    def test_rival_commit_between_check_and_commit_leaves_rows_once(
            self, spark, tmp_path, monkeypatch):
        """A rival writer publishes its (identical) build after our
        version check and before our commit: ours lands as an overwrite
        on top, so the table holds the build's rows once, not twice, and
        the rival's superseded files are left on disk, not deleted."""
        from ragflow_core16_spark.pipeline import snapshot_cache as SC
        from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        path = SC.table_path("t_rival", SF)
        rival_files = []

        def build():            # runs after materialize's version check
            df = spark.range(5).toDF("doc_id")
            rival = SnapshotTable(spark, path)
            rival.commit_overwrite(df)
            rival_files.extend(rival.manifest()["files"])
            return df
        assert SC.materialize(spark, "t_rival", SF, build) == path
        t = SnapshotTable(spark, path)
        assert t.current_version() == 2
        assert sorted(r.doc_id for r in SC.read_table(
            spark, "t_rival", SF).collect()) == list(range(5))
        assert rival_files and all(map(os.path.exists, rival_files))
        assert not set(rival_files) & set(t.manifest()["files"])

    def test_empty_build_commits_readable_empty_table(
            self, spark, tmp_path, monkeypatch):
        """A build with no rows is still a published version: it serves
        an empty table with the build's schema, not a recompute."""
        from ragflow_core16_spark.pipeline import snapshot_cache as SC
        from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        path = SC.materialize(spark, "t_empty", SF,
                              lambda: spark.range(0).toDF("doc_id"))
        assert SnapshotTable(spark, path).current_version() == 1
        t = SC.read_table(spark, "t_empty", SF)
        assert t is not None
        assert t.columns == ["doc_id"] and t.count() == 0

    def test_read_table_miss_creates_no_directory(
            self, spark, tmp_path, monkeypatch):
        """Every scan-or-compute query probes its table; a miss (a fresh
        session's oracle run) must leave the warehouse untouched."""
        from ragflow_core16_spark.pipeline import snapshot_cache as SC
        from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
        root = tmp_path / "cur"
        monkeypatch.setenv("RAG_CURATION_DIR", str(root))
        assert SC.read_table(spark, "t_missing", SF) is None
        t = SnapshotTable(spark, SC.table_path("t_missing", SF))
        assert t.current_version() == 0
        assert not root.exists()

    def test_maintenance_vacuum_reclaims_crashed_build(
            self, spark, tmp_path, monkeypatch, capsys):
        """A build killed before its manifest commit leaves an orphan
        ``data/<uuid>`` dir inside the warehouse table; the rerun commits
        beside it, and ``maintenance_job --table <table> --vacuum``
        reclaims it while the table still reads."""
        import json
        import sys

        from ragflow_core16_spark.pipeline import snapshot_cache as SC
        from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "jobs"))
        try:
            import maintenance_job
        finally:
            sys.path.pop(0)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))

        def killed(self, *args):
            raise RuntimeError("killed before the manifest commit")
        with monkeypatch.context() as m:
            m.setattr(SnapshotTable, "_commit", killed)
            with pytest.raises(RuntimeError, match="killed"):
                SC.materialize(spark, "t_vac", SF,
                               lambda: spark.range(3).toDF("doc_id"))
        assert SC.read_table(spark, "t_vac", SF) is None
        path = SC.materialize(spark, "t_vac", SF,
                              lambda: spark.range(5).toDF("doc_id"))
        data = os.path.join(path, "data")
        assert len(os.listdir(data)) == 2
        capsys.readouterr()
        assert maintenance_job.main(["--table", path, "--vacuum"],
                                    stop=False) == 0
        out = json.loads([ln for ln in capsys.readouterr().out.splitlines()
                          if ln.startswith("{")][-1])
        assert out["vacuum"]["removed_files"] >= 1
        assert out["version_after"] == out["version_before"] == 1
        assert len(os.listdir(data)) == 1
        assert SC.read_table(spark, "t_vac", SF).count() == 5
