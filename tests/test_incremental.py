"""Incremental snapshot maintenance (pipeline/incremental.py).

The contract (VERDICT r4 task #1): a day-2 batch merged into a day-1
snapshot's index tables must produce tables ROW-IDENTICAL to a full
recompute over the combined corpus — without rescanning day-1 documents
(the only permitted day-1 read is the candidate-pruned pushed-filter
scan inside the new-pair verify).  The reference's analogue is the task
executor re-indexing only new docs per run (rag/svr/task_executor.py);
these tests pin the Spark engine's version of that behavior.
"""

import os

import pytest
from pyspark.sql import functions as F

from conftest import formatted_plan
from ragflow_core16_spark.pipeline.snapshots import SnapshotTable

SF = "/root/testdata/sf0.001"


def _deep_clean(spark):
    import gc

    from ragflow_core16_spark.operators.dedup import reset_shared_cache
    reset_shared_cache()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    gc.collect()


def _day1_base(spark, sf_dir):
    """The day-1 snapshot's full build of every delta-maintained family."""
    from ragflow_core16_spark.pipeline.snapshot_cache import DELTA_FAMILIES
    for fam in DELTA_FAMILIES:
        fam.build(spark, sf_dir)


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    """day-1 / day-2-batch / combined corpus dirs carved from sf0.001.

    The batch carries engineered duplicates — exact copies of day-1
    texts (guaranteed 4/4 band collisions → cross-day pairs + cluster
    extension) and of other batch texts (batch-internal pairs) — so the
    delta path's pair/label machinery has real work at this scale."""
    root = tmp_path_factory.mktemp("incr")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    day1 = docs.filter(F.col("doc_id") % 5 != 0)
    batch_nat = docs.filter(F.col("doc_id") % 5 == 0)
    # duplicates: 3 day-1 texts copied into the batch under fresh ids,
    # one of them twice (batch-internal pair through a day-1 anchor)
    dup_src = day1.filter(F.col("doc_id").isin([1, 2, 3]))
    dups = (dup_src.withColumn("doc_id", F.col("doc_id") + 1000)
            .unionByName(dup_src.filter(F.col("doc_id") == 1)
                         .withColumn("doc_id", F.col("doc_id") + 2000)))
    batch = batch_nat.unionByName(dups)
    d1p, bp, cp = root / "day1", root / "batch", root / "combined"
    day1.coalesce(2).write.parquet(f"{d1p}/documents.parquet")
    batch.coalesce(1).write.parquet(f"{bp}/documents.parquet")
    day1.unionByName(batch).coalesce(2).write.parquet(
        f"{cp}/documents.parquet")
    return {"day1": str(d1p), "batch": str(bp), "combined": str(cp),
            "warehouse": str(root / "wh")}


KINDS = ("minhash_sigwide", "dedup_pairs", "dedup_labels", "simhash_fp",
         "decon_bench_grams", "decon_train_grams",
         "web_decisions", "term_postings", "doc_stats")


@pytest.fixture(scope="module")
def delta_state(spark, corpora):
    """Build day-1 full tables, capture the full-recompute oracle over the
    combined corpus (compute path — no combined tables exist yet), then
    run the incremental update.  Shared by the equality / routing /
    idempotence tests."""
    from ragflow_core16_spark.operators.dedup import (
        _lsh_est_unordered, _jaccard_exact_unordered,
        _cluster_labels, _signature_wide, _simhash_unordered)
    from ragflow_core16_spark.operators.retrieval import (
        _per_doc_tf, _dl_rel)
    from ragflow_core16_spark.operators.training import (
        _BENCH_MOD, decon_gram_rel)
    from ragflow_core16_spark.operators.webclean import (
        web_decisions_unordered)
    from ragflow_core16_spark.pipeline.incremental import incremental_update
    from ragflow_core16_spark.session import read_documents

    prev = os.environ.get("RAG_CURATION_DIR")
    os.environ["RAG_CURATION_DIR"] = corpora["warehouse"]
    try:
        _deep_clean(spark)
        # full-recompute oracle over combined, BEFORE any combined table
        # exists (so every relation takes the compute path)
        comb = corpora["combined"]
        est = _lsh_est_unordered(spark, comb)
        exact = _jaccard_exact_unordered(spark, comb)
        comb_grams = decon_gram_rel(read_documents(spark, comb))
        oracle = {
            "minhash_sigwide": _signature_wide(spark, comb).collect(),
            "dedup_pairs": est.join(exact, ["doc_a", "doc_b"], "left")
                              .collect(),
            "dedup_labels": _cluster_labels(spark, comb).collect(),
            "simhash_fp": _simhash_unordered(spark, comb).collect(),
            "decon_bench_grams": comb_grams
                .filter(F.col("doc_id") % _BENCH_MOD == 0)
                .select("doc_id", "gram").distinct().collect(),
            "decon_train_grams": comb_grams
                .filter(F.col("doc_id") % _BENCH_MOD != 0)
                .select("doc_id", "gram").distinct().collect(),
            "web_decisions": web_decisions_unordered(spark, comb).collect(),
            "term_postings": _per_doc_tf(spark, comb).collect(),
            "doc_stats": _dl_rel(spark, comb).collect(),
        }
        _deep_clean(spark)
        # day-1 snapshot's full curate/index build
        _day1_base(spark, corpora["day1"])
        _deep_clean(spark)
        paths = incremental_update(spark, corpora["day1"],
                                   corpora["batch"], comb)
        yield {"oracle": oracle, "paths": paths}
    finally:
        if prev is None:
            os.environ.pop("RAG_CURATION_DIR", None)
        else:
            os.environ["RAG_CURATION_DIR"] = prev


class TestDeltaEqualsFullRecompute:
    def test_engineered_duplicates_created_pairs(self, spark, delta_state):
        # sanity: the fixture really exercises the pair path across days
        pairs = {(r.doc_a, r.doc_b)
                 for r in delta_state["oracle"]["dedup_pairs"]}
        assert (1, 1001) in pairs          # day1 ⋈ batch
        assert (1001, 2001) in pairs       # batch ⋈ batch

    @pytest.mark.parametrize("kind", KINDS)
    def test_table_row_identical(self, spark, delta_state, kind):
        got = sorted(map(tuple,
                         SnapshotTable(spark, delta_state["paths"][kind])
                         .read().collect()))
        want = sorted(map(tuple, delta_state["oracle"][kind]))
        assert got == want

    def test_day2_batch_contaminates_day1_doc(self, spark, delta_state,
                                              corpora):
        """The fixture must exercise the corpus-global decontamination
        patch: at least one day-1 document that was clean against the
        day-1 benchmark set is contaminated by the batch's new eval-doc
        grams — the case that makes ``clean`` non-appendable."""
        from ragflow_core16_spark.pipeline.snapshot_cache import read_table
        day1_clean = {r.doc_id: r.clean for r in
                      read_table(spark, "web_decisions", corpora["day1"])
                      .select("doc_id", "clean").collect()}
        comb_clean = {r.doc_id: r.clean
                      for r in delta_state["oracle"]["web_decisions"]}
        flipped = [d for d, c in day1_clean.items()
                   if c and not comb_clean[d]]
        assert flipped, "fixture lost its day-1 contamination case"

    def test_lineage_sidecar_records_chain(self, delta_state, corpora):
        import json

        from ragflow_core16_spark.pipeline.snapshot_cache import (
            corpus_fingerprint)
        for kind, path in delta_state["paths"].items():
            side = os.path.join(path, "_delta_lineage.json")
            assert os.path.exists(side), kind
            lin = json.load(open(side))
            assert lin["base_fingerprint"] == \
                corpus_fingerprint(corpora["day1"])
            assert lin["batch_fingerprint"] == \
                corpus_fingerprint(corpora["batch"])
            assert lin["combined_fingerprint"] == \
                corpus_fingerprint(corpora["combined"])

    def test_routed_queries_serve_merged_tables(self, spark, delta_state,
                                                corpora):
        """After the delta, the ordinary query operators over the combined
        corpus scan the merged tables (join-free pair plan) and agree
        with the captured compute-path oracle."""
        from ragflow_core16_spark.operators.dedup import minhash_lsh_pairs
        from ragflow_core16_spark.operators.webclean import web_keep
        _deep_clean(spark)
        comb = corpora["combined"]
        plan = formatted_plan(minhash_lsh_pairs(spark, comb))
        assert "Join" not in plan
        got = {(r.doc_a, r.doc_b, r.est_jaccard)
               for r in minhash_lsh_pairs(spark, comb).collect()}
        want = {(r.doc_a, r.doc_b, r.est_jaccard)
                for r in delta_state["oracle"]["dedup_pairs"]}
        assert got == want
        wk = web_keep(spark, comb)
        assert "Join" not in formatted_plan(wk)
        got_keep = {(r.doc_id, r.web_keep) for r in wk.collect()}
        want_keep = {(r.doc_id, r.web_keep)
                     for r in delta_state["oracle"]["web_decisions"]}
        assert got_keep == want_keep

    def test_idempotent_rerun_leaves_tables_untouched(
            self, spark, delta_state, corpora):
        from ragflow_core16_spark.pipeline.incremental import (
            incremental_update)
        versions = {k: SnapshotTable(spark, p).current_version()
                    for k, p in delta_state["paths"].items()}
        again = incremental_update(spark, corpora["day1"],
                                   corpora["batch"], corpora["combined"])
        assert again == delta_state["paths"]
        for k, p in again.items():
            assert SnapshotTable(spark, p).current_version() == \
                versions[k], k


class TestNoDay1Rescan:
    """The plan-audited half of the contract: the delta build may read
    day-1 bytes ONLY through the candidate-pruned verify scan."""

    @staticmethod
    def _reads_day1_docs(df, corpora) -> bool:
        # inputFiles() enumerates the actual files backing the plan — it
        # cannot be defeated by explain-string truncation of long tmp
        # paths the way a substring check over formatted_plan can
        needle = f"{corpora['day1']}/documents.parquet/"
        return any(needle in f for f in df.inputFiles())

    def test_append_frames_never_touch_day1_documents(self, spark,
                                                      delta_state,
                                                      corpora):
        from ragflow_core16_spark.pipeline.incremental import (
            retrieval_index_delta_frames, web_decisions_delta_frame)
        frames = retrieval_index_delta_frames(spark, corpora["day1"],
                                              corpora["batch"])
        frames["web_decisions"] = web_decisions_delta_frame(
            spark, corpora["day1"], corpora["batch"], corpora["combined"])
        for kind, df in frames.items():
            assert not self._reads_day1_docs(df, corpora), kind

    def test_dedup_frames_prune_day1_to_candidates(self, spark,
                                                   delta_state, corpora):
        from ragflow_core16_spark.pipeline.incremental import (
            dedup_index_delta_frames)
        _deep_clean(spark)
        frames = dedup_index_delta_frames(spark, corpora["day1"],
                                          corpora["batch"])
        for kind in ("minhash_sigwide", "dedup_labels", "simhash_fp"):
            assert not self._reads_day1_docs(frames[kind], corpora), kind
        # the pair frame's only day-1 read carries the pushed In(doc_id)
        # filter — the collision-bounded candidate list (the fixture
        # guarantees day-1 candidates exist, so the scan must be present
        # AND pruned)
        plan = formatted_plan(frames["dedup_pairs"])
        assert self._reads_day1_docs(frames["dedup_pairs"], corpora)
        assert "PushedFilters: [In(doc_id" in plan

    def test_candidates_above_collect_guard_prune_by_semi_join(
            self, spark, delta_state, corpora, monkeypatch):
        """More day-1 candidates than ``DAY1_IDS_COLLECT_MAX``: the driver
        collects only guard+1 ids, the day-1 scan is pruned by a
        left-semi join, and the merged pairs and labels are still
        row-identical to the full rebuild."""
        from ragflow_core16_spark.pipeline import incremental
        monkeypatch.setattr(incremental, "DAY1_IDS_COLLECT_MAX", 1)
        _deep_clean(spark)
        frames = incremental.dedup_index_delta_frames(
            spark, corpora["day1"], corpora["batch"])
        plan = formatted_plan(frames["dedup_pairs"])
        assert self._reads_day1_docs(frames["dedup_pairs"], corpora)
        assert "PushedFilters: [In(doc_id" not in plan
        assert "LeftSemi" in plan
        for kind in ("dedup_pairs", "dedup_labels"):
            got = sorted(map(tuple, frames[kind].collect()))
            assert got == sorted(map(tuple, delta_state["oracle"][kind]))


class TestBridgeSemantics:
    def test_batch_bridge_fuses_two_day1_clusters(self, spark):
        """A day-2 doc adjacent to two previously-disjoint day-1 clusters
        must fuse them into one label — the reason cluster labels are
        re-propagated from merged pairs instead of appended."""
        from ragflow_core16_spark.operators.dedup import (
            _propagate_min_labels)
        day1_pairs = [(1, 2), (7, 8)]
        bridge = [(2, 100), (100, 7)]
        edges = spark.createDataFrame(day1_pairs + bridge,
                                      ["doc_a", "doc_b"])
        labels = {r.node: r.label
                  for r in _propagate_min_labels(edges).collect()}
        assert set(labels.values()) == {1}
        assert labels[8] == 1 and labels[100] == 1

    def test_missing_base_tables_is_explicit_error(self, spark, tmp_path,
                                                   monkeypatch):
        from ragflow_core16_spark.pipeline.incremental import (
            dedup_index_delta_frames)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "empty"))
        with pytest.raises(ValueError, match="missing"):
            dedup_index_delta_frames(spark, SF, SF)


class TestDeltaChain:
    def test_day3_delta_on_top_of_delta_equals_full(self, spark, tmp_path,
                                                    monkeypatch):
        """Two sequential incremental updates (day-2 merges into a FULL
        day-1 build, then day-3 merges into the DELTA-BUILT day-2 state)
        must equal a full recompute over all three days — the chain
        property that makes daily maintenance sustainable (day N's base
        tables are themselves delta products)."""
        from ragflow_core16_spark.operators.webclean import (
            web_decisions_unordered)
        from ragflow_core16_spark.pipeline.incremental import (
            incremental_update)
        from ragflow_core16_spark.pipeline.snapshot_cache import read_table
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "wh"))
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        d1 = docs.filter(F.col("doc_id") % 3 == 0)
        d2 = docs.filter(F.col("doc_id") % 3 == 1)
        d3 = docs.filter(F.col("doc_id") % 3 == 2)
        dirs = {}
        for name, df in [("day1", d1), ("day2", d2), ("day3", d3),
                         ("c12", d1.unionByName(d2)),
                         ("c123", d1.unionByName(d2).unionByName(d3))]:
            p = str(tmp_path / name)
            df.coalesce(1).write.parquet(f"{p}/documents.parquet")
            dirs[name] = p
        _deep_clean(spark)
        # oracle BEFORE any table exists for c123
        want = sorted(map(tuple, web_decisions_unordered(
            spark, dirs["c123"]).collect()))
        _deep_clean(spark)
        _day1_base(spark, dirs["day1"])
        incremental_update(spark, dirs["day1"], dirs["day2"], dirs["c12"])
        incremental_update(spark, dirs["c12"], dirs["day3"], dirs["c123"])
        got = sorted(map(tuple, read_table(
            spark, "web_decisions", dirs["c123"]).collect()))
        assert got == want
        # and the dedup pair table composes too (set equality)
        from ragflow_core16_spark.operators.dedup import (
            _jaccard_exact_unordered, _lsh_est_unordered)
        _deep_clean(spark)
        pairs = sorted(map(tuple, read_table(
            spark, "dedup_pairs", dirs["c123"]).collect()))
        # the pair-oracle compute path must not see the written tables —
        # point the warehouse at a scratch dir for the recompute
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "wh2"))
        _deep_clean(spark)
        est = _lsh_est_unordered(spark, dirs["c123"])
        exact = _jaccard_exact_unordered(spark, dirs["c123"])
        want_pairs = sorted(map(tuple, est.join(
            exact, ["doc_a", "doc_b"], "left").collect()))
        assert pairs == want_pairs


class TestIngestContractEdges:
    def test_recrawled_doc_id_is_rejected(self, spark, tmp_path,
                                          monkeypatch):
        """A batch doc_id already present in the base would double the
        doc in every merged table — the merge must refuse with guidance
        instead of silently diverging from the full recompute."""
        from ragflow_core16_spark.pipeline.incremental import (
            incremental_update)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "wh"))
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        base_d, batch_d, comb_d = (str(tmp_path / x)
                                   for x in ("base", "batch", "comb"))
        docs.filter(F.col("doc_id") < 400).coalesce(1) \
            .write.parquet(f"{base_d}/documents.parquet")
        # batch re-crawls doc 7 alongside genuinely new docs
        docs.filter((F.col("doc_id") >= 400) | (F.col("doc_id") == 7)) \
            .coalesce(1).write.parquet(f"{batch_d}/documents.parquet")
        docs.coalesce(1).write.parquet(f"{comb_d}/documents.parquet")
        _deep_clean(spark)
        _day1_base(spark, base_d)
        with pytest.raises(ValueError, match="latest-capture"):
            incremental_update(spark, base_d, batch_d, comb_d)

    @pytest.mark.parametrize("allow_recrawl", [False, True])
    def test_duplicate_doc_id_within_batch_is_rejected(
            self, spark, tmp_path, monkeypatch, allow_recrawl):
        """Two rows for one NEW doc_id inside the batch would enter every
        merged table twice; with or without ``allow_recrawl`` no merge can
        tell which row is the latest capture, so the batch is refused."""
        from ragflow_core16_spark.pipeline.incremental import (
            incremental_update)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "wh"))
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        base_d, batch_d, comb_d = (str(tmp_path / x)
                                   for x in ("base", "batch", "comb"))
        docs.filter(F.col("doc_id") < 400).coalesce(1) \
            .write.parquet(f"{base_d}/documents.parquet")
        new = docs.filter(F.col("doc_id") >= 400)
        new.unionByName(new.filter(F.col("doc_id") == 401)).coalesce(1) \
            .write.parquet(f"{batch_d}/documents.parquet")
        docs.coalesce(1).write.parquet(f"{comb_d}/documents.parquet")
        _deep_clean(spark)
        _day1_base(spark, base_d)
        with pytest.raises(ValueError, match="latest-capture"):
            incremental_update(spark, base_d, batch_d, comb_d,
                               allow_recrawl=allow_recrawl)

    def test_empty_batch_is_a_valid_noop_day(self, spark, tmp_path,
                                             monkeypatch):
        """A day with no arrivals still publishes tables under the new
        corpus fingerprint, row-identical to the base content."""
        from ragflow_core16_spark.pipeline.incremental import (
            incremental_update)
        from ragflow_core16_spark.pipeline.snapshot_cache import read_table
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "wh"))
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        base_d, batch_d, comb_d = (str(tmp_path / x)
                                   for x in ("base", "batch", "comb"))
        docs.filter(F.col("doc_id") < 300).coalesce(1) \
            .write.parquet(f"{base_d}/documents.parquet")
        docs.filter(F.lit(False)).coalesce(1) \
            .write.parquet(f"{batch_d}/documents.parquet")
        docs.filter(F.col("doc_id") < 300).coalesce(1) \
            .write.parquet(f"{comb_d}/documents.parquet")
        _deep_clean(spark)
        _day1_base(spark, base_d)
        paths = incremental_update(spark, base_d, batch_d, comb_d)
        for kind in ("web_decisions", "dedup_pairs", "term_postings"):
            got = sorted(map(tuple,
                             read_table(spark, kind, comb_d).collect()))
            want = sorted(map(tuple,
                              read_table(spark, kind, base_d).collect()))
            assert got == want, kind
        assert set(paths) == set(KINDS)


class TestRecrawlUpsert:
    def test_allow_recrawl_equals_full_recompute(self, spark, tmp_path,
                                                 monkeypatch):
        """Retire-then-append upsert: the batch re-crawls one ordinary
        doc AND one eval-split doc with CHANGED text (so the benchmark
        gram set itself changes — stale bench grams must retire, which
        can UN-contaminate day-1 docs) plus genuinely new docs.  The
        merged tables must equal a full recompute over the compacted
        combined corpus."""
        from ragflow_core16_spark.operators.dedup import (
            _cluster_labels, _lsh_est_unordered, _jaccard_exact_unordered)
        from ragflow_core16_spark.operators.retrieval import _per_doc_tf
        from ragflow_core16_spark.operators.webclean import (
            web_decisions_unordered)
        from ragflow_core16_spark.pipeline.incremental import (
            incremental_update)
        from ragflow_core16_spark.pipeline.snapshot_cache import read_table
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "wh"))
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        base = docs.filter(F.col("doc_id") < 400)
        new_docs = docs.filter(F.col("doc_id") >= 400)
        # re-crawls: doc 7 (ordinary) and doc 97 (eval split, %97==0)
        # with rewritten text
        recrawled = (docs.filter(F.col("doc_id").isin([7, 97]))
                     .withColumn("text", F.concat(
                         F.lit("fresh recrawl body version two "),
                         F.reverse(F.col("text"))))
                     .withColumn("n_chars", F.length("text")))
        batch = new_docs.unionByName(recrawled)
        combined = (base.filter(~F.col("doc_id").isin([7, 97]))
                    .unionByName(batch))
        base_d, batch_d, comb_d = (str(tmp_path / x)
                                   for x in ("base", "batch", "comb"))
        base.coalesce(1).write.parquet(f"{base_d}/documents.parquet")
        batch.coalesce(1).write.parquet(f"{batch_d}/documents.parquet")
        combined.coalesce(1).write.parquet(f"{comb_d}/documents.parquet")

        _deep_clean(spark)
        est = _lsh_est_unordered(spark, comb_d)
        exact = _jaccard_exact_unordered(spark, comb_d)
        oracle = {
            "web_decisions": web_decisions_unordered(spark, comb_d)
            .collect(),
            "dedup_pairs": est.join(exact, ["doc_a", "doc_b"], "left")
            .collect(),
            "dedup_labels": _cluster_labels(spark, comb_d).collect(),
            "term_postings": _per_doc_tf(spark, comb_d).collect(),
        }
        _deep_clean(spark)
        _day1_base(spark, base_d)
        _deep_clean(spark)
        paths = incremental_update(spark, base_d, batch_d, comb_d,
                                   allow_recrawl=True)
        for kind, want in oracle.items():
            got = sorted(map(tuple, SnapshotTable(spark, paths[kind])
                             .read().collect()))
            assert got == sorted(map(tuple, want)), kind
        # the re-crawled rows really are the new versions
        dec = read_table(spark, "web_decisions", comb_d)
        assert dec.filter(F.col("doc_id") == 7).count() == 1
        # and doc 97 (eval) stays excluded from decisions as before
        assert dec.filter(F.col("doc_id") == 97).count() == 0
