"""Chunk CRUD surface (reference sdk t_chunk.py / chunk management API)."""

import os

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from ragflow_core16_spark.pipeline.chunk_store import (add_chunks, chunk_row,
                                                       delete_chunks,
                                                       list_chunks,
                                                       update_chunk)
from ragflow_core16_spark.pipeline.snapshots import SnapshotTable


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from ragflow_core16_spark.datagen.pages import pages_from_documents
    from ragflow_core16_spark.operators.extract import (chunks_table,
                                                        extract_pages)
    p = str(tmp_path_factory.mktemp("store") / "chunks")
    pages = pages_from_documents(spark, "/root/testdata/sf0.001").limit(40)
    SnapshotTable(spark, p).commit_overwrite(
        chunks_table(extract_pages(pages)))
    return p


class TestChunkStore:
    def test_list_paginated_deterministic(self, spark, store):
        p1 = list_chunks(spark, store, page=1, page_size=5).collect()
        p2 = list_chunks(spark, store, page=2, page_size=5).collect()
        assert len(p1) == 5 and len(p2) == 5
        assert {r.chunk_id for r in p1}.isdisjoint({r.chunk_id for r in p2})
        # stable ordering across invocations
        again = list_chunks(spark, store, page=1, page_size=5).collect()
        assert [r.chunk_id for r in again] == [r.chunk_id for r in p1]

    def test_keyword_filter(self, spark, store):
        rows = list_chunks(spark, store, keywords="the", page_size=1000)
        assert all("the" in r.chunk_text for r in rows.collect())

    def test_add_then_list(self, spark, store):
        r = chunk_row("https://example.org/manual", "a manually added chunk",
                      chunk_seq=0, lang="en")
        add_chunks(spark, store, [r])
        got = list_chunks(spark, store,
                          url="https://example.org/manual").collect()
        assert len(got) == 1
        assert got[0].chunk_id == r["chunk_id"]
        assert got[0].content_ltks  # tokenizer columns populated

    def test_chunk_id_parity_with_extraction(self, spark, store):
        from ragflow_core16_spark.textnorm.xxh64 import xxh64_hexdigest
        r = chunk_row("u1", "some text")
        assert r["chunk_id"] == xxh64_hexdigest("some textu1")

    def test_update_recomputes_id(self, spark, store):
        got = list_chunks(spark, store,
                          url="https://example.org/manual").collect()[0]
        new_id = update_chunk(spark, store, got.chunk_id, "replacement text")
        assert new_id != got.chunk_id
        after = list_chunks(spark, store,
                            url="https://example.org/manual").collect()
        assert len(after) == 1 and after[0].chunk_text == "replacement text"

    def test_delete(self, spark, store):
        got = list_chunks(spark, store,
                          url="https://example.org/manual").collect()
        n = delete_chunks(spark, store, [r.chunk_id for r in got])
        assert n == len(got)
        assert list_chunks(spark, store,
                           url="https://example.org/manual").count() == 0

    def test_delete_empty_and_missing_ids(self, spark, store):
        assert delete_chunks(spark, store, []) == 0
        assert delete_chunks(spark, store, ["nonexistent-id"]) == 0
        assert not os.path.exists(store + ".tmp")

    def test_failing_rewrite_keeps_every_chunk(self, spark, store,
                                               monkeypatch):
        """A delete whose rewrite of the store fails while its job runs
        must leave every chunk listable: nothing of the store is removed
        before the new rows are safely written."""
        before = sorted(r.chunk_id for r in list_chunks(
            spark, store, page_size=10_000).collect())
        real_mode, real_parquet = DataFrameWriter.mode, DataFrameWriter.parquet

        def mode(self, save_mode):
            self._mode_name = save_mode
            return real_mode(self, save_mode)

        def parquet(self, path, *args, **kwargs):
            if path == store or path.startswith(store + os.sep):
                # the same write, failing in its tasks
                bad = DataFrameWriter(self._df.withColumn(
                    "chunk_id", F.raise_error(F.lit("injected"))
                    .cast("string")))
                if getattr(self, "_mode_name", None):
                    real_mode(bad, self._mode_name)
                return real_parquet(bad, path, *args, **kwargs)
            return real_parquet(self, path, *args, **kwargs)
        monkeypatch.setattr(DataFrameWriter, "mode", mode)
        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(Exception, match="injected"):
            delete_chunks(spark, store, before[::2])
        monkeypatch.undo()
        after = sorted(r.chunk_id for r in list_chunks(
            spark, store, page_size=10_000).collect())
        assert after == before
