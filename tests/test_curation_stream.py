"""Streaming incremental index (streaming/curation_stream.py): a
documents landing zone drives the curation/dedup/retrieval snapshot
tables through the same delta merges as the day-2 batch job, and the
streamed end state equals a batch build over the same corpus."""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

KINDS = ("minhash_sigwide", "dedup_pairs", "dedup_labels", "simhash_fp",
         "decon_bench_grams", "decon_train_grams",
         "web_decisions", "term_postings", "doc_stats")


def _deep_clean(spark):
    import gc

    from ragflow_core16_spark.operators.dedup import reset_shared_cache
    reset_shared_cache()
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    gc.collect()


class TestCurationIndexStream:
    def test_multi_drop_replay_equals_batch_build(self, spark, tmp_path,
                                                  monkeypatch):
        """Two landing-zone drops (day-1 docs, then a day-2 batch), the
        stream drained after each, plus a THIRD drain with nothing new
        (the replay) — the final version's tables must equal a batch
        build's relations over the identical combined corpus, and the
        replay must not create a new version."""
        from ragflow_core16_spark.streaming.curation_stream import (
            latest_version, run_curation_index_stream)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        landing = str(tmp_path / "landing")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        day1 = docs.filter(F.col("doc_id") % 5 != 0)
        day2 = docs.filter(F.col("doc_id") % 5 == 0)

        # oracle FIRST (compute path — no tables exist anywhere yet):
        # full-recompute relations over the combined corpus written to a
        # plain dir the stream never touches
        alldir = str(tmp_path / "alldocs")
        day1.unionByName(day2).coalesce(2).write.parquet(
            f"{alldir}/documents.parquet")
        _deep_clean(spark)
        oracle = {k: sorted(map(tuple, df.collect()))
                  for k, df in _compute_relations(spark, alldir).items()}

        def drain():
            q = run_curation_index_stream(spark, landing, state, ckpt)
            q.awaitTermination(300)

        day1.coalesce(1).write.mode("append").parquet(landing)
        _deep_clean(spark)
        drain()
        v1 = latest_version(state)
        assert v1 is not None

        day2.coalesce(1).write.mode("append").parquet(landing)
        _deep_clean(spark)
        drain()
        v2 = latest_version(state)
        assert v2 is not None and v2 != v1

        drain()  # replay: nothing new in the zone
        assert latest_version(state) == v2

        from ragflow_core16_spark.pipeline.snapshot_cache import (
            read_table, table_path)
        # delta lineage on the v2 tables: built by the incremental path
        assert os.path.exists(os.path.join(
            table_path("dedup_pairs", v2), "_delta_lineage.json"))
        for kind in KINDS:
            t = read_table(spark, kind, v2)
            assert t is not None, kind
            assert sorted(map(tuple, t.collect())) == oracle[kind], kind

    def test_crash_mid_apply_replays_to_same_state(self, spark, tmp_path,
                                                   monkeypatch):
        """Kill between the version's table writes and its ``_complete``
        marker: the next drain re-applies the batch and converges (the
        materialize layer skips the published tables, the marker lands
        and the version serves again)."""
        from ragflow_core16_spark.streaming.curation_stream import (
            latest_version, run_curation_index_stream)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        landing = str(tmp_path / "landing")
        state = str(tmp_path / "state")
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        docs.filter(F.col("doc_id") < 200).coalesce(1) \
            .write.mode("append").parquet(landing)
        _deep_clean(spark)
        q = run_curation_index_stream(spark, landing, state,
                                      str(tmp_path / "ckpt"))
        q.awaitTermination(300)
        v = latest_version(state)
        # simulate the crash: yank the completion marker
        os.remove(os.path.join(v, "_complete"))
        assert latest_version(state) is None
        # a NEW drain (fresh checkpoint — the old one considers the files
        # consumed) over the same zone must re-apply batch 0 idempotently
        _deep_clean(spark)
        q = run_curation_index_stream(spark, landing, state,
                                      str(tmp_path / "ckpt2"))
        q.awaitTermination(300)
        assert latest_version(state) == v
        assert os.path.exists(os.path.join(v, "_complete"))
        from ragflow_core16_spark.pipeline.snapshot_cache import read_table
        assert read_table(spark, "web_decisions", v) is not None


def test_serving_version_is_newest_complete(tmp_path):
    """The serving version is the newest version holding its
    ``_complete`` marker: a crash after a version's tables but before its
    marker leaves the previous version serving, with no pointer file to
    fall out of step."""
    from ragflow_core16_spark.streaming.curation_stream import (
        latest_version)
    assert latest_version(str(tmp_path)) is None
    vroot = tmp_path / "versions"
    for v in ("v00000", "v00001"):
        (vroot / v / "documents.parquet").mkdir(parents=True)
    (vroot / "v00000" / "_complete").touch()     # v00001: crashed
    assert latest_version(str(tmp_path)) == str(vroot / "v00000")
    assert sorted(os.listdir(tmp_path)) == ["versions"]


def test_latest_complete_orders_ids_as_integers(tmp_path):
    """Version dirs compare by their parsed batch id (``v100000`` after
    ``v99999``); a stray non-numeric ``v*`` entry is skipped, not fatal."""
    from ragflow_core16_spark.streaming.curation_stream import (
        _latest_complete)
    vroot = tmp_path / "versions"
    for v in ("vtmp", "v99999", "v100000", "v100001"):
        (vroot / v).mkdir(parents=True)
    for v in ("vtmp", "v99999", "v100000"):   # v100001: crashed mid-apply
        (vroot / v / "_complete").touch()
    assert _latest_complete(str(tmp_path), before=10**6) == \
        str(vroot / "v100000")
    assert _latest_complete(str(tmp_path), before=100000) == \
        str(vroot / "v99999")
    assert _latest_complete(str(tmp_path)) == str(vroot / "v100000")


def _compute_relations(spark, sf_dir):
    from ragflow_core16_spark.operators.dedup import (
        _cluster_labels, _jaccard_exact_unordered,
        _lsh_est_unordered, _signature_wide, _simhash_unordered)
    from ragflow_core16_spark.operators.retrieval import _dl_rel, _per_doc_tf
    from ragflow_core16_spark.operators.training import (_BENCH_MOD,
                                                         decon_gram_rel)
    from ragflow_core16_spark.operators.webclean import (
        web_decisions_unordered)
    from ragflow_core16_spark.session import read_documents
    grams = decon_gram_rel(read_documents(spark, sf_dir))
    est = _lsh_est_unordered(spark, sf_dir)
    exact = _jaccard_exact_unordered(spark, sf_dir)
    return {
        "minhash_sigwide": _signature_wide(spark, sf_dir),
        "dedup_pairs": est.join(exact, ["doc_a", "doc_b"], "left"),
        "dedup_labels": _cluster_labels(spark, sf_dir),
        "simhash_fp": _simhash_unordered(spark, sf_dir),
        "decon_bench_grams": grams.filter(
            F.col("doc_id") % _BENCH_MOD == 0)
            .select("doc_id", "gram").distinct(),
        "decon_train_grams": grams.filter(
            F.col("doc_id") % _BENCH_MOD != 0)
            .select("doc_id", "gram").distinct(),
        "web_decisions": web_decisions_unordered(spark, sf_dir),
        "term_postings": _per_doc_tf(spark, sf_dir),
        "doc_stats": _dl_rel(spark, sf_dir),
    }


class TestStreamingRecrawl:
    def test_redelivered_doc_becomes_upsert_day(self, spark, tmp_path,
                                                monkeypatch):
        """Drop 3 re-delivers doc 7 with CHANGED text alongside new docs:
        the stream must compact the corpus (old row of 7 dropped),
        retire the stale index rows, and end up row-identical to a batch
        build over the compacted corpus."""
        from ragflow_core16_spark.streaming.curation_stream import (
            latest_version, run_curation_index_stream)
        monkeypatch.setenv("RAG_CURATION_DIR", str(tmp_path / "cur"))
        landing = str(tmp_path / "landing")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        d1 = docs.filter(F.col("doc_id") < 200)
        d2 = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350))
        recrawl7 = (docs.filter(F.col("doc_id") == 7)
                    .withColumn("text", F.concat(
                        F.lit("updated capture of doc seven "),
                        F.reverse(F.col("text"))))
                    .withColumn("n_chars", F.length("text")))
        d3 = docs.filter(F.col("doc_id") >= 350).unionByName(recrawl7)

        # oracle: full-recompute relations over the COMPACTED final
        # corpus, captured in a dir the stream never touches
        alldir = str(tmp_path / "alldocs")
        (d1.filter(F.col("doc_id") != 7).unionByName(d2).unionByName(d3)
         .coalesce(2).write.parquet(f"{alldir}/documents.parquet"))
        _deep_clean(spark)
        oracle = {k: sorted(map(tuple, df.collect()))
                  for k, df in _compute_relations(spark, alldir).items()}

        def drain():
            q = run_curation_index_stream(spark, landing, state, ckpt)
            q.awaitTermination(300)

        for drop in (d1, d2, d3):
            drop.coalesce(1).write.mode("append").parquet(landing)
            _deep_clean(spark)
            drain()
        v = latest_version(state)
        # compacted corpus: exactly one row for doc 7, the new text
        final_docs = spark.read.parquet(f"{v}/documents.parquet")
        row7 = final_docs.filter(F.col("doc_id") == 7).collect()
        assert len(row7) == 1
        assert row7[0].text.startswith("updated capture of doc seven")
        from ragflow_core16_spark.pipeline.snapshot_cache import read_table
        for kind in KINDS:
            t = read_table(spark, kind, v)
            assert t is not None, kind
            assert sorted(map(tuple, t.collect())) == oracle[kind], kind
