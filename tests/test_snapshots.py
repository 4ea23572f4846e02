"""Snapshot table (pipeline/snapshots.py): commit atomicity, snapshot
isolation, time travel, compaction, vacuum, and the crash/race cases the
manifest-link protocol exists for."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from ragflow_core16_spark.pipeline.snapshots import (CommitConflict,
                                                     SnapshotTable)

SF = "/root/testdata/sf0.001"


def _docs(spark, lo, hi):
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .filter(f"doc_id >= {lo} AND doc_id < {hi}")
            .select("doc_id", "lang"))


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


class TestSnapshotTable:
    def test_append_read_and_time_travel(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        v1 = t.commit_append(_docs(spark, 0, 10))
        ts_between = time.time()
        v2 = t.commit_append(_docs(spark, 10, 25))
        assert (v1, v2) == (1, 2)
        assert _ids(t.read()) == list(range(25))
        assert _ids(t.read(version=1)) == list(range(10))
        assert t.as_of(ts_between) == 1
        assert t.as_of(time.time()) == 2
        ops = [v["op"] for v in t.versions()]
        assert ops == ["append", "append"]

    def test_crash_before_publish_leaves_prior_snapshot(self, spark,
                                                        tmp_path):
        """Data files on disk but no manifest = nothing happened."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 10))
        # simulate a writer that died after writing data, before publish
        t._write_data(_docs(spark, 10, 20))
        assert t.current_version() == 1
        assert _ids(t.read()) == list(range(10))
        # and the orphan bytes are reclaimable
        removed = t.vacuum()
        assert removed, "orphan data files should be deleted"
        assert _ids(t.read()) == list(range(10))

    def test_version_claim_race_retries_on_next_version(self, spark,
                                                        tmp_path):
        """A pre-claimed version number forces the optimistic retry path:
        the commit lands on the NEXT version and includes the claimant's
        files in its parent chain."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 5))
        # rival claims v2 first (complete manifest, as the protocol makes
        # inevitable: publication is atomic)
        rival_files = t._write_data(_docs(spark, 5, 8))
        rival = {"version": 2, "parent": 1, "op": "append",
                 "ts": time.time(),
                 "files": t.manifest(1)["files"] + rival_files,
                 "n_files": None}
        with open(t._manifest_path(2), "w") as f:
            json.dump(rival, f)
        v = t.commit_append(_docs(spark, 8, 12))
        assert v == 3
        assert _ids(t.read()) == list(range(12))  # rival's rows included

    def test_pre_published_version_just_advances_parent(self, spark,
                                                        tmp_path):
        """A version published before the committer reads the table is not
        a conflict — the retry loop re-reads and lands after it."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3))
        files = t._write_data(_docs(spark, 3, 6))
        with open(t._manifest_path(2), "w") as f:
            json.dump({"version": 2, "parent": 1, "op": "append",
                       "ts": time.time(),
                       "files": t.manifest(1)["files"] + files,
                       "n_files": None}, f)
        assert t.commit_append(_docs(spark, 6, 9)) == 3

    def test_exhausted_retries_raise(self, spark, tmp_path,
                                     monkeypatch):
        """A rival that wins the claim between the committer's table read
        and its link, every time, exhausts the retries (the only way to
        lose under the listdir protocol — pinned here by freezing the
        committer's view of the current version)."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3))
        files = t._write_data(_docs(spark, 3, 6))
        with open(t._manifest_path(2), "w") as f:
            json.dump({"version": 2, "parent": 1, "op": "append",
                       "ts": time.time(), "files": files,
                       "n_files": len(files)}, f)
        monkeypatch.setattr(t, "current_version", lambda: 1)
        with pytest.raises(CommitConflict):
            t._commit(lambda parent: {"files": parent["files"]},
                      "append", retries=3)

    def test_compact_preserves_rows_and_history(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        for lo in range(0, 40, 10):
            t.commit_append(_docs(spark, lo, lo + 10))
        before = t.manifest()["n_files"]
        h0 = (t.read().agg(F.expr("bit_xor(xxhash64(doc_id, lang))"))
              .collect()[0][0])
        v = t.compact()
        assert t.manifest(v)["n_files"] < before
        h1 = (t.read().agg(F.expr("bit_xor(xxhash64(doc_id, lang))"))
              .collect()[0][0])
        assert h0 == h1
        # pre-compaction snapshot still readable (its files are immutable)
        assert _ids(t.read(version=2)) == list(range(20))

    def test_vacuum_expires_old_data_not_history(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 10))
        t.commit_overwrite(_docs(spark, 10, 20))
        removed = t.vacuum(keep_versions=1)
        assert removed  # v1's files are unreachable from v2
        assert _ids(t.read()) == list(range(10, 20))
        assert len(t.versions()) == 2  # manifests stay auditable
        with pytest.raises(Exception):
            t.read(version=1).collect()  # its data is gone

    def test_overwrite_then_resume_pattern(self, spark, tmp_path):
        """The run.py resume rule on snapshot footing: a rerun anti-joins
        against the LAST COMMITTED snapshot, so work lost before a commit
        is redone and work after a commit is skipped."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        all_docs = _docs(spark, 0, 30)
        t.commit_append(all_docs.filter("doc_id < 12"))
        todo = all_docs.join(t.read().select("doc_id"), "doc_id",
                             "left_anti")
        assert _ids(todo) == list(range(12, 30))
        t.commit_append(todo)
        assert _ids(t.read()) == list(range(30))


class TestSnapshottedRun:
    def test_run_resume_and_chunk_view(self, spark, tmp_path):
        """run_extraction_snapshotted: commit is the resume marker; a
        second run extracts only uncommitted pages; the flat chunk view
        derives from the committed array column."""
        from ragflow_core16_spark.datagen.pages import pages_from_documents
        from ragflow_core16_spark.operators.extract import chunks_table
        from ragflow_core16_spark.pipeline.run import (
            run_extraction_snapshotted)
        from ragflow_core16_spark.pipeline.snapshots import SnapshotTable

        tdir = str(tmp_path / "extracted")
        pages = pages_from_documents(spark, SF).cache()
        n_all = pages.count()
        half = pages.limit(n_all // 2)

        s1 = run_extraction_snapshotted(spark, half, tdir, run_id="r1")
        assert s1["rows"] == n_all // 2 and s1["version"] == 1

        # crash simulation: data written, never committed — invisible
        t = SnapshotTable(spark, tdir)
        t._write_data(half.limit(5))
        assert t.current_version() == 1

        s2 = run_extraction_snapshotted(spark, pages, tdir, run_id="r2")
        assert s2["rows"] == n_all - n_all // 2   # only the missing pages
        assert s2["version"] == 2
        assert t.read().count() == n_all
        assert t.read().select("url").distinct().count() == n_all

        # rerun over the full input: nothing left to do
        s3 = run_extraction_snapshotted(spark, pages, tdir, run_id="r3")
        assert s3["rows"] == 0

        chunks = chunks_table(t.read())
        assert chunks.count() > 0
        assert chunks.filter("chunk_id IS NULL").count() == 0
        pages.unpersist()


class TestSchemaEvolution:
    def test_append_with_new_column_null_fills_old_rows(self, spark,
                                                        tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3))
        t.commit_append(_docs(spark, 3, 6)
                        .withColumn("quality", F.lit(7).cast("int")))
        df = t.read()
        assert df.columns == ["doc_id", "lang", "quality"]
        rows = {r.doc_id: r.quality for r in df.collect()}
        assert all(rows[d] is None for d in range(0, 3))
        assert all(rows[d] == 7 for d in range(3, 6))
        # time travel to v1 shows the ORIGINAL two columns only
        assert t.read(1).columns == ["doc_id", "lang"]

    def test_append_missing_column_writes_typed_nulls(self, spark,
                                                      tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3)
                        .withColumn("quality", F.lit(1).cast("int")))
        t.commit_append(_docs(spark, 3, 6))   # no quality column
        df = t.read()
        rows = {r.doc_id: r.quality for r in df.collect()}
        assert all(rows[d] == 1 for d in range(0, 3))
        assert all(rows[d] is None for d in range(3, 6))
        # every data file individually carries the full schema
        for f in t.manifest()["files"]:
            assert "quality" in spark.read.parquet(f).columns

    def test_append_narrower_type_casts_up(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3)
                        .withColumn("n", F.lit(1).cast("long")))
        t.commit_append(_docs(spark, 3, 6)
                        .withColumn("n", F.lit(2).cast("int")))
        df = t.read()
        assert dict(df.dtypes)["n"] == "bigint"
        assert {r.n for r in df.collect()} == {1, 2}

    def test_append_wider_type_raises(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3)
                        .withColumn("n", F.lit(1).cast("int")))
        with pytest.raises(ValueError, match="widen"):
            t.commit_append(_docs(spark, 3, 6)
                            .withColumn("n", F.lit(2).cast("long")))

    def test_append_incompatible_type_raises(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3)
                        .withColumn("n", F.lit(1).cast("int")))
        with pytest.raises(ValueError, match="incompatible"):
            t.commit_append(_docs(spark, 3, 6)
                            .withColumn("n", F.lit("x")))

    def test_compact_homogenizes_evolved_table(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3))
        t.commit_append(_docs(spark, 3, 6).withColumn("q", F.lit(2)))
        t.compact()
        assert t.manifest()["n_files"] == 1
        assert t.read().columns == ["doc_id", "lang", "q"]
        assert _ids(t.read()) == list(range(6))


class TestRowLevelDelete:
    def test_delete_rewrites_only_affected_files(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 5).coalesce(1))
        t.commit_append(_docs(spark, 5, 10).coalesce(1))
        before = set(t.manifest()["files"])
        v = t.commit_delete("doc_id = 7")
        m = t.manifest()
        assert m["version"] == v and m["op"] == "delete"
        assert m["rewrote_files"] == 1
        # the untouched file is carried by reference
        assert len(before & set(m["files"])) == 1
        assert _ids(t.read()) == [0, 1, 2, 3, 4, 5, 6, 8, 9]
        # time travel still sees the deleted row
        assert 7 in _ids(t.read(2))

    def test_delete_no_match_is_noop(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        v1 = t.commit_append(_docs(spark, 0, 5))
        assert t.commit_delete("doc_id = 999") == v1
        assert t.current_version() == v1

    def test_delete_null_predicate_keeps_rows(self, spark, tmp_path):
        # SQL DELETE three-valued logic: NULL predicate rows are kept
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(
            _docs(spark, 0, 4).withColumn(
                "q", F.when(F.col("doc_id") < 2, F.col("doc_id"))))
        t.commit_delete("q >= 1")     # NULL for doc_id 2,3 → kept
        assert _ids(t.read()) == [0, 2, 3]

    def test_delete_after_schema_evolution(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3).coalesce(1))
        t.commit_append(_docs(spark, 3, 6).coalesce(1)
                        .withColumn("q", F.lit(5)))
        t.commit_delete("doc_id = 1")   # predicate hits the OLD-schema file
        df = t.read()
        assert df.columns == ["doc_id", "lang", "q"]
        assert _ids(df) == [0, 2, 3, 4, 5]
        t.commit_delete("q = 5 AND doc_id = 4")
        assert _ids(t.read()) == [0, 2, 3, 5]

    def test_delete_conflicts_with_concurrent_compact(self, spark,
                                                      tmp_path,
                                                      monkeypatch):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 5))
        # freeze the delete's snapshot, then compact underneath it
        frozen = t.manifest()
        real_manifest = t.manifest
        t.compact()
        monkeypatch.setattr(
            t, "manifest",
            lambda version=None: (frozen if version is None
                                  else real_manifest(version)))
        with pytest.raises(CommitConflict, match="re-run"):
            t.commit_delete("doc_id = 0")

    def test_upsert_replaces_keys_and_keeps_the_rest(self, spark,
                                                     tmp_path):
        """``commit_upsert`` is one commit: rows of the upserted keys are
        replaced (copy-on-write, only the file holding them rewritten),
        new keys append, a new column evolves the schema."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 5).coalesce(1))
        t.commit_append(_docs(spark, 5, 10).coalesce(1))
        before = set(t.manifest()["files"])
        t.commit_upsert(_docs(spark, 3, 5).withColumn("lang", F.lit("zz"))
                        .withColumn("q", F.lit(1)), "doc_id")
        m = t.manifest()
        assert m["op"] == "upsert" and m["rewrote_files"] == 1
        assert len(before & set(m["files"])) == 1
        df = t.read()
        assert df.columns == ["doc_id", "lang", "q"]
        assert _ids(df) == list(range(10))
        assert _ids(df.filter("lang = 'zz' AND q = 1")) == [3, 4]
        t.commit_upsert(_docs(spark, 9, 12), "doc_id")
        assert _ids(t.read()) == list(range(12))
        assert _ids(t.read(2)) == list(range(10))   # time travel

    def test_upsert_composes_with_concurrent_append(self, spark, tmp_path,
                                                    monkeypatch):
        """A rival APPEND that lands between the upsert's scan and its
        commit survives: only the files the upsert rewrote are replaced."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3))
        frozen = t.manifest()
        real_manifest = t.manifest
        t.commit_append(_docs(spark, 3, 6))
        monkeypatch.setattr(
            t, "manifest",
            lambda version=None: (frozen if version is None
                                  else real_manifest(version)))
        t.commit_upsert(_docs(spark, 0, 2), "doc_id")
        monkeypatch.undo()
        assert _ids(t.read()) == list(range(6))

    def test_uri_paths_are_refused_before_any_write(self, spark, tmp_path,
                                                     monkeypatch):
        """The commit is local-filesystem calls, so a URI path fails at
        construction instead of leaving a stray local ``s3:`` dir."""
        monkeypatch.chdir(tmp_path)
        for uri in ("s3://bucket/t", "hdfs://nn/t", "file:///tmp/t"):
            with pytest.raises(ValueError, match="POSIX path"):
                SnapshotTable(spark, uri)
        assert os.listdir(tmp_path) == []

    def test_compact_composes_with_concurrent_append(self, spark,
                                                     tmp_path,
                                                     monkeypatch):
        """A compact only replaces the files it actually rewrote, so a
        rival APPEND that lands mid-compact survives — files and rows."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3))
        frozen = t.manifest()
        real_manifest = t.manifest
        v_rival = t.commit_append(_docs(spark, 3, 6))
        rival_files = (set(t.manifest(v_rival)["files"])
                       - set(frozen["files"]))
        monkeypatch.setattr(
            t, "manifest",
            lambda version=None: (frozen if version is None
                                  else real_manifest(version)))
        t.compact()
        monkeypatch.undo()
        assert rival_files <= set(t.manifest()["files"])
        assert _ids(t.read()) == list(range(6))

    def test_compact_keeps_a_racing_append_column(self, spark, tmp_path,
                                                  monkeypatch):
        """A rival append that adds a column while a compact writes its
        data must keep that column: the compact commits under the
        parent's schema, not the one it read at the start."""
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 3))
        frozen = t.manifest()
        real_manifest = t.manifest
        t.commit_append(_docs(spark, 3, 6).withColumn("b", F.lit("x")))
        monkeypatch.setattr(
            t, "manifest",
            lambda version=None: (frozen if version is None
                                  else real_manifest(version)))
        t.compact()
        monkeypatch.undo()
        assert t.manifest()["op"] == "compact"
        got = {r.doc_id: r.b for r in t.read().collect()}
        assert got == {0: None, 1: None, 2: None, 3: "x", 4: "x", 5: "x"}

    def test_compact_conflicts_with_concurrent_compact(self, spark,
                                                       tmp_path,
                                                       monkeypatch):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        t.commit_append(_docs(spark, 0, 5))
        frozen = t.manifest()
        real_manifest = t.manifest
        t.compact()      # rival lands first, unpinning frozen's files
        monkeypatch.setattr(
            t, "manifest",
            lambda version=None: (frozen if version is None
                                  else real_manifest(version)))
        with pytest.raises(CommitConflict, match="re-run"):
            t.compact()

    def test_binpack_compact_rewrites_only_small_files(self, spark,
                                                       tmp_path):
        import os as _os
        t = SnapshotTable(spark, str(tmp_path / "t"))
        # one "large" file and three small ones
        t.commit_append(_docs(spark, 0, 40).coalesce(1))
        for lo in (40, 42, 44):
            t.commit_append(_docs(spark, lo, lo + 2).coalesce(1))
        sizes = {f: _os.path.getsize(f) for f in t.manifest()["files"]}
        big = max(sizes, key=sizes.get)
        assert big in t.manifest(1)["files"]
        # target = exactly the big file's size: strictly-smaller files
        # participate, the big one carries by reference
        smalls = set(t.manifest()["files"]) - {big}
        t.compact(target_mb=sizes[big] / (1024 * 1024))
        m = t.manifest()
        assert m["op"] == "compact" and m["rewrote_files"] == 3
        assert big in m["files"]               # large file untouched
        assert smalls.isdisjoint(m["files"])   # every small file rewritten
        assert _ids(t.read()) == list(range(46))

    def test_binpack_compact_noop_when_nothing_to_gain(self, spark,
                                                       tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t"))
        v = t.commit_append(_docs(spark, 0, 5).coalesce(1))
        # a single file under target: nothing to rewrite
        assert t.compact(target_mb=64) == v
