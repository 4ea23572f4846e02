"""Spark pipeline tests: extraction, chunk table, snapshot resume, metrics,
oversize, determinism across partitionings."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ragflow_core16_spark.datagen.pages import pages_df, generate_page
from ragflow_core16_spark.operators.extract import (extract_pages,
                                                    chunks_table,
                                                    metrics_table,
                                                    DOC_MAXIMUM_SIZE)
from ragflow_core16_spark.pipeline.run import run_extraction_snapshotted
from ragflow_core16_spark.pipeline.snapshots import SnapshotTable

N = 60  # small but covers malformed/encodings/tables statistically


@pytest.fixture(scope="module")
def extracted(spark):
    ext = extract_pages(pages_df(spark, N)).cache()
    ext.count()
    return ext


class TestDatagen:
    def test_deterministic_per_doc_id(self):
        a = generate_page(7)
        b = generate_page(7)
        assert a == b
        assert generate_page(8) != a

    def test_schema(self, spark):
        df = pages_df(spark, 5)
        assert [f.name for f in df.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang"]

    def test_partition_independence(self, spark):
        a = sorted(pages_df(spark, 20, partitions=1)
                   .select("url", F.md5("html").alias("h")).collect())
        b = sorted(pages_df(spark, 20, partitions=7)
                   .select("url", F.md5("html").alias("h")).collect())
        assert a == b


class TestSkewedDatagen:
    def test_hot_block_is_contiguous_giant_host0(self, spark):
        from ragflow_core16_spark.datagen.pages import skewed_pages_df
        rows = (skewed_pages_df(spark, 500, partitions=4)
                .select("url", F.length("html").alias("b")).collect())
        by_id = {int(r["url"].rsplit("/", 1)[1]): r for r in rows}
        n_hot = 10  # 2% of 500
        hot = [by_id[i] for i in range(n_hot)]
        rest = [by_id[i] for i in range(n_hot, 500)]
        assert all(r["url"].startswith("https://host0000.") for r in hot)
        import statistics
        assert (statistics.mean(r["b"] for r in hot)
                > 5 * statistics.mean(r["b"] for r in rest))

    def test_deterministic_and_partition_independent(self, spark):
        from ragflow_core16_spark.datagen.pages import skewed_pages_df
        a = sorted(skewed_pages_df(spark, 60, partitions=1)
                   .select("url", F.md5("html").alias("h")).collect())
        b = sorted(skewed_pages_df(spark, 60, partitions=5)
                   .select("url", F.md5("html").alias("h")).collect())
        assert a == b

    def test_non_hot_docs_identical_to_pages_df(self, spark):
        # beyond the hot block the corpus is byte-identical to the
        # standard generator — the A/B isolates layout, not content
        from ragflow_core16_spark.datagen.pages import skewed_pages_df
        a = {r["url"]: r["h"] for r in
             skewed_pages_df(spark, 100, partitions=2)
             .select("url", F.md5("html").alias("h")).collect()}
        b = {r["url"]: r["h"] for r in
             pages_df(spark, 100, partitions=2)
             .select("url", F.md5("html").alias("h")).collect()}
        shared = {u for u in a if int(u.rsplit("/", 1)[1]) >= 2}
        assert shared and all(a[u] == b[u] for u in shared if u in b)


def test_size_rebalance_follows_the_advisory_size(spark):
    """``repartition_by_size`` takes its partition size from AQE's
    advisory size alone: partitions over it are split along the map
    outputs (8 map partitions into 2 shuffle partitions come back as
    more than 2), under a large one they coalesce, and no row is lost
    or repeated either way."""
    from ragflow_core16_spark.datagen.pages import skewed_pages_df
    from ragflow_core16_spark.pipeline.partitioning import \
        repartition_by_size
    confs = ("spark.sql.adaptive.advisoryPartitionSizeInBytes",
             "spark.sql.shuffle.partitions")
    old = {k: spark.conf.get(k) for k in confs}
    counts = {}
    try:
        for advisory in ("64KB", "64MB"):
            spark.conf.set(confs[0], advisory)
            spark.conf.set(confs[1], "2")
            pages = skewed_pages_df(spark, 200, partitions=8)
            # the html sum keeps the payload in the shuffle (a bare
            # count would prune it to the url columns)
            counts[advisory] = [r["n"] for r in repartition_by_size(pages)
                                .groupBy(F.spark_partition_id())
                                .agg(F.count(F.lit(1)).alias("n"),
                                     F.sum(F.length("html")))
                                .collect()]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert sum(counts["64KB"]) == sum(counts["64MB"]) == 200
    assert len(counts["64KB"]) > 2 >= len(counts["64MB"])


class TestExtract:
    def test_all_rows_accounted(self, spark, extracted):
        assert extracted.count() == N

    def test_no_crashes_on_malformed(self, extracted):
        # malformed pages must become rows (ok or error), never aborts
        statuses = {r["status"] for r in extracted.select("status").collect()}
        assert statuses <= {"ok", "error", "empty", "oversize"}

    def test_ok_rows_have_text_and_chunks(self, extracted):
        ok = extracted.filter(F.col("status") == "ok")
        bad = ok.filter(F.col("extracted_text").isNull() |
                        (F.col("n_chunks") == 0)).count()
        assert bad == 0

    def test_title_is_first_section(self, extracted):
        row = (extracted.filter(F.col("status") == "ok")
               .select("title", "extracted_text").first())
        assert row["extracted_text"].split("\n")[0] == row["title"]

    def test_chunk_ids_unique_per_doc(self, spark, extracted):
        ch = chunks_table(extracted)
        n = ch.count()
        nd = ch.select("url", "chunk_id").distinct().count()
        assert n == nd

    def test_chunk_text_roundtrip(self, extracted):
        # concatenated chunk text == extracted text (naive_merge loses no bytes)
        row = (extracted.filter((F.col("status") == "ok") & (F.col("n_chunks") > 1))
               .select("extracted_text", "chunks").first())
        joined = "".join(c["chunk_text"] for c in row["chunks"])
        # naive_merge concatenates sections without the \n separators
        assert joined == row["extracted_text"].replace("\n", "")

    def test_oversize_routed_jvm_side(self, spark):
        big = spark.createDataFrame(
            [("u1", None, bytearray(b"x" * 100), "en", "t")],
            "url string, warc_ts timestamp, html binary, lang string, text string")
        out = extract_pages(big, max_bytes=10)
        assert out.first()["status"] == "oversize"

    def test_empty_html(self, spark):
        df = spark.createDataFrame(
            [("u1", None, None, "en", None)],
            "url string, warc_ts timestamp, html binary, lang string, text string")
        assert extract_pages(df).first()["status"] == "empty"


class TestArrowFraming:
    """The extraction stage's Arrow framing: url, warc_ts and lang pass
    through as arrays, every other column is built from ``_extract_one``'s
    rows — so each row must equal driver-side ``_extract_one`` (scalar
    chunk ids) field by field, for every framing edge."""

    DELIM = "\n!?。；！？"

    def _rows(self):
        import datetime
        a, b = generate_page(3)[2], generate_page(4)[2]
        big = b"<p>" + b"x" * (max(len(a), len(b)) + 100) + b"</p>"
        ts = datetime.datetime
        return len(big) - 1, [
            ("https://f.example/ok", ts(2024, 3, 9, 17, 45, 12, 345678),
             bytearray(a), "en"),
            ("https://f.example/nolang", ts(2023, 12, 31, 23, 59, 59, 1),
             bytearray(b), None),
            ("https://f.example/big", ts(2024, 1, 1, 0, 0, 0, 1),
             bytearray(big), "en"),
            ("https://f.example/empty", ts(2022, 6, 30, 5, 4, 3),
             bytearray(b""), "zh"),
            ("https://f.example/null", None, None, None),
        ]

    @pytest.mark.parametrize("template", ["naive", "one", "no_such"])
    def test_rows_equal_driver_side_extract_one(self, spark, template):
        from ragflow_core16_spark.operators.extract import (
            EXTRACTED_SCHEMA, _extract_one)
        max_bytes, rows = self._rows()
        df = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, lang string")
        got = {r["url"]: r.asDict(recursive=True) for r in
               extract_pages(df, max_bytes=max_bytes,
                             template=template).collect()}
        assert len(got) == len(rows)
        statuses = set()
        for url, ts, html, lang in rows:
            if html is not None and len(html) > max_bytes:
                want = dict(url=url, warc_ts=ts, lang=lang,
                            status="oversize", error=None, title=None,
                            extracted_text=None, codec=None, n_sections=0,
                            n_chunks=0, n_tokens=0, bytes_in=len(html),
                            chunks=None)
            else:
                want = _extract_one(url, ts, html, lang, 128, self.DELIM,
                                    template)
            for f in EXTRACTED_SCHEMA.names:
                assert got[url][f] == want[f], (url, f)
            statuses.add(want["status"])
        # an unknown template turns every non-empty page into an error row
        assert statuses == ({"oversize", "empty", "error"}
                            if template == "no_such" else
                            {"oversize", "empty", "ok"})


class TestRunPipeline:
    def test_run_and_resume(self, spark, tmp_path):
        out = str(tmp_path / "out")
        pages = pages_df(spark, 30)
        s1 = run_extraction_snapshotted(spark, pages, out, run_id="r1")
        assert s1["rows"] == 30
        # resume over the same input: everything committed → nothing to do
        s2 = run_extraction_snapshotted(spark, pages, out, run_id="r2")
        assert s2["rows"] == 0
        # new pages appear → only the delta is processed
        pages2 = pages_df(spark, 40)
        s3 = run_extraction_snapshotted(spark, pages2, out, run_id="r3")
        assert s3["rows"] == 10
        # the committed table covers all 40 urls exactly once
        t = SnapshotTable(spark, out)
        assert t.read().select("url").distinct().count() == 40
        assert t.read().count() == 40
        assert chunks_table(t.read()).count() > 0

    def test_pass_executes_its_input_once(self, spark, tmp_path):
        """A pass runs its input lineage once, on a first pass and on a
        resume (whose lineage holds the anti-join): the uncached page
        source counts every row it emits into an accumulator."""
        emitted = spark.sparkContext.accumulator(0)

        def counted(n):
            def gen(batches):
                for pdf in batches:
                    emitted.add(len(pdf))
                    yield pdf
            pages = pages_df(spark, n)
            return pages.mapInPandas(gen, pages.schema)

        out = str(tmp_path / "once")
        s1 = run_extraction_snapshotted(spark, counted(16), out)
        assert s1["rows"] == 16 and emitted.value == 16
        s2 = run_extraction_snapshotted(spark, counted(24), out)
        assert s2["rows"] == 8 and emitted.value == 16 + 24

    def test_noop_resume_publishes_nothing(self, spark, tmp_path):
        """A resume over fully committed input commits no version: no
        manifest, no data dir, and a summary of zeros (not nulls) at the
        current version."""
        out = str(tmp_path / "noop")
        pages = pages_df(spark, 12)
        s1 = run_extraction_snapshotted(spark, pages, out, run_id="r1")
        table = SnapshotTable(spark, out)
        data_dirs = os.listdir(os.path.join(out, "data"))
        s2 = run_extraction_snapshotted(spark, pages, out, run_id="r2")
        assert table.current_version() == s1["version"] == s2["version"]
        assert os.listdir(os.path.join(out, "data")) == data_dirs
        assert [s2[k] for k in ("rows", "ok", "error", "bytes_in",
                                "chunks")] == [0] * 5
        assert table.read().count() == 12

    def test_empty_no_resume_rerun_publishes_nothing(self, spark, tmp_path):
        """A ``resume=False`` rerun whose write sees no rows commits no
        upsert version and leaves no data dir behind."""
        out = str(tmp_path / "noop-upsert")
        pages = pages_df(spark, 6)
        s1 = run_extraction_snapshotted(spark, pages, out, run_id="r1")
        data_dirs = os.listdir(os.path.join(out, "data"))
        s2 = run_extraction_snapshotted(spark, pages.limit(0), out,
                                        run_id="r2", resume=False)
        assert s2["version"] == s1["version"]
        assert SnapshotTable(spark, out).current_version() == s1["version"]
        assert os.listdir(os.path.join(out, "data")) == data_dirs
        assert s2["rows"] == 0

    def test_empty_input_into_new_table_is_readable(self, spark, tmp_path):
        """Empty input into a new table still commits a first version, so
        readers get an empty frame, not an error."""
        out = str(tmp_path / "empty")
        s = run_extraction_snapshotted(spark, pages_df(spark, 5).limit(0),
                                       out, run_id="r1")
        table = SnapshotTable(spark, out)
        assert s["version"] == table.current_version() == 1
        assert s["rows"] == 0
        assert table.read().count() == 0

    def test_metrics_shape(self, spark, tmp_path):
        out = str(tmp_path / "m")
        s = run_extraction_snapshotted(spark, pages_df(spark, 10), out,
                                       run_id="r1")
        m = metrics_table(SnapshotTable(spark, out).read())
        cols = set(m.columns)
        assert {"run_id", "part_id", "n_rows", "n_ok", "n_error",
                "n_oversize", "bytes_in", "chunks_out",
                "tokens_out"} <= cols
        agg = m.agg(F.sum("n_rows")).collect()[0][0]
        assert agg == s["rows"] == 10

    def test_no_resume_replaces_instead_of_duplicating(self, spark,
                                                      tmp_path):
        """``resume=False`` re-extracts every page and publishes it as one
        upsert: the current version holds each url once, and the
        previous version stays readable."""
        out = str(tmp_path / "nr")
        pages = pages_df(spark, 20)
        s1 = run_extraction_snapshotted(spark, pages, out, run_id="r1",
                                        resume=False)
        s2 = run_extraction_snapshotted(spark, pages, out, run_id="r2",
                                        resume=False)
        assert s1["rows"] == s2["rows"] == 20
        t = SnapshotTable(spark, out)
        cur = t.read()
        assert cur.count() == cur.select("url").distinct().count() == 20
        # the chunk view serves each (url, chunk) once
        assert chunks_table(cur).groupBy("url", "chunk_seq").count() \
            .filter("count > 1").count() == 0
        assert {r.run_id for r in cur.select("run_id").distinct()
                .collect()} == {"r2"}
        assert t.read(s1["version"]).count() == 20

    def test_no_resume_subset_keeps_other_urls(self, spark, tmp_path):
        """A ``resume=False`` rerun over PART of the committed urls (a
        ``--lang`` filter, a new crawl batch) replaces only those urls:
        every other committed url survives, each url once."""
        out = str(tmp_path / "sub")
        pages = pages_df(spark, 20)
        run_extraction_snapshotted(spark, pages, out, run_id="r1")
        subset = pages.orderBy("url").limit(5)
        s2 = run_extraction_snapshotted(spark, subset, out, run_id="r2",
                                        resume=False)
        assert s2["rows"] == 5
        cur = SnapshotTable(spark, out).read()
        assert cur.count() == cur.select("url").distinct().count() == 20
        by_run = {r["run_id"]: r["count"]
                  for r in cur.groupBy("run_id").count().collect()}
        assert by_run == {"r1": 15, "r2": 5}
        assert SnapshotTable(spark, out).manifest()["op"] == "upsert"

    def test_summary_is_observed_on_the_write(self, spark, tmp_path,
                                              monkeypatch):
        """The run summary comes from the write itself: it equals the
        committed ``metrics_table`` totals of its run on append, on a
        ``resume=False`` upsert and on empty input into a new table, and
        a first pass into a new table reads nothing back."""
        def totals(path, s):
            t = SnapshotTable(spark, path)
            m = (metrics_table(t.read(s["version"]))
                 .filter(F.col("run_id") == s["run_id"])
                 .agg(*[F.sum(c).alias(c) for c in (
                     "n_rows", "n_ok", "n_error", "bytes_in",
                     "chunks_out")]).collect()[0])
            return [m[c] or 0 for c in ("n_rows", "n_ok", "n_error",
                                        "bytes_in", "chunks_out")]

        def summary(s):
            return [s[k] or 0 for k in ("rows", "ok", "error", "bytes_in",
                                        "chunks")]

        reads = []
        read = SnapshotTable.read
        monkeypatch.setattr(SnapshotTable, "read",
                            lambda self, *a: reads.append(a) or read(self,
                                                                     *a))
        out = str(tmp_path / "obs")
        pages = pages_df(spark, 24)
        first = run_extraction_snapshotted(
            spark, pages.orderBy("url").limit(16), out, run_id="r1")
        assert reads == []
        monkeypatch.undo()
        appended = run_extraction_snapshotted(spark, pages, out, run_id="r2")
        upserted = run_extraction_snapshotted(
            spark, pages.orderBy(F.col("url").desc()).limit(7), out,
            run_id="r3", resume=False)
        assert first["rows"] == 16 and appended["rows"] == 8
        assert upserted["rows"] == 7
        for s in (first, appended, upserted):
            assert summary(s) == totals(out, s), s
        empty = str(tmp_path / "obs-empty")
        s = run_extraction_snapshotted(spark, pages.limit(0), empty,
                                       run_id="r1")
        assert summary(s) == totals(empty, s) == [0] * 5
