"""Structured Streaming extraction tests: micro-batch drain, exactly-once
resume via checkpoint, windowed metrics."""

import time

from pyspark.sql import functions as F

from ragflow_core16_spark.datagen.pages import pages_df
from ragflow_core16_spark.operators.extract import extract_pages
from ragflow_core16_spark.streaming.extract_stream import (
    run_extract_stream, read_pages_stream, windowed_metrics_stream)


def _write_pages(spark, n, path, partitions=2, offset=0):
    df = pages_df(spark, n + offset, partitions=partitions)
    if offset:
        df = df.filter(F.xxhash64("url").isNotNull())  # no-op, keep lineage simple
    df.write.mode("overwrite").parquet(path)


class TestExtractStream:
    def test_drain_and_results(self, spark, tmp_path):
        inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
        pages_df(spark, 12, partitions=2).write.parquet(inp)
        q = run_extract_stream(spark, inp, out, ckpt)
        q.awaitTermination(120)
        res = spark.read.parquet(out)
        assert res.count() == 12
        assert res.filter(F.col("status") == "ok").count() > 0

    def test_checkpoint_resume_no_duplicates(self, spark, tmp_path):
        inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
        pages_df(spark, 8, partitions=1).write.parquet(inp)
        q = run_extract_stream(spark, inp, out, ckpt)
        q.awaitTermination(120)
        # second drop of new files into the landing zone
        pages_df(spark, 20, partitions=1).filter(
            F.split(F.col("url"), "/").getItem(4).cast("long") >= 8
        ).write.mode("append").parquet(inp)
        q2 = run_extract_stream(spark, inp, out, ckpt)
        q2.awaitTermination(120)
        res = spark.read.parquet(out)
        # exactly-once: 8 + 12 rows, no reprocessing of the first batch
        assert res.count() == 20
        assert res.select("url").distinct().count() == 20

    def test_windowed_metrics_plan(self, spark, tmp_path):
        inp = str(tmp_path / "in")
        pages_df(spark, 4, partitions=1).write.parquet(inp)
        stream = read_pages_stream(spark, inp)
        m = windowed_metrics_stream(extract_pages(stream))
        assert m.isStreaming
        q = (m.writeStream.format("memory").queryName("mstream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        # append-mode window emits only after watermark passes; plan runs
        # without error is the assertion here
        spark.sql("select * from mstream").collect()


class TestStatefulSessions:
    def test_host_sessions_emit_on_watermark(self, spark, tmp_path):
        """applyInPandasWithState: sessions close when the event-time
        watermark passes last_ts + gap.  Two file drops: the second drop's
        much-later timestamps advance the watermark and flush the first
        drop's host sessions."""
        import pandas as pd
        from ragflow_core16_spark.datagen.pages import PAGES_SCHEMA
        from ragflow_core16_spark.streaming.stateful import host_session_stream

        inp = str(tmp_path / "in")
        ckpt = str(tmp_path / "ck")
        outp = str(tmp_path / "out")

        def mk_rows(host, ts0, n):
            base = pd.Timestamp(ts0)
            return [(f"https://{host}/p{i}",
                     (base + pd.Timedelta(minutes=i)).to_pydatetime(),
                     b"<html><body>x</body></html>", "x", "en")
                    for i in range(n)]

        early = mk_rows("a.example.com", "2024-01-01 00:00:00", 3) + \
            mk_rows("b.example.com", "2024-01-01 00:05:00", 2)
        late = mk_rows("c.example.com", "2024-01-01 06:00:00", 1)

        def run_drop(rows, name):
            spark.createDataFrame(rows, PAGES_SCHEMA) \
                .write.mode("overwrite").parquet(f"{inp}/{name}")
            stream = (spark.readStream.schema(PAGES_SCHEMA)
                      .option("maxFilesPerTrigger", 100)
                      .parquet(f"{inp}/{name}"))
            sessions = host_session_stream(stream, gap="30 minutes",
                                           watermark="1 minute")
            q = (sessions.writeStream.format("parquet")
                 .option("path", outp).option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(180)

        # NOTE: same checkpoint across drops → state carries over
        run_drop(early, "d1")
        run_drop(late, "d2")
        # third empty-ish drop lets the timeout fire for host c too if due
        got = spark.read.parquet(outp)
        rows = {r.host: r for r in got.collect()}
        assert "a.example.com" in rows and "b.example.com" in rows
        a = rows["a.example.com"]
        assert a.n_pages == 3 and a.total_bytes == 3 * len(
            b"<html><body>x</body></html>")


class TestDedupStream:
    def test_cross_batch_duplicates_dropped(self, spark, tmp_path):
        """dropDuplicatesWithinWatermark keyed on content hash: a second
        micro-batch re-delivering the same page content within the
        watermark horizon emits nothing new."""
        import pandas as pd
        from ragflow_core16_spark.datagen.pages import PAGES_SCHEMA
        from ragflow_core16_spark.streaming.extract_stream import (
            dedup_stream)

        inp = str(tmp_path / "in")
        ckpt = str(tmp_path / "ck")
        outp = str(tmp_path / "out")
        body = b"<html><head><title>T</title></head><body><div id='m'>" \
               b"<p>Alpha beta gamma delta epsilon zeta eta theta, iota " \
               b"kappa lambda mu nu xi omicron pi rho sigma.</p>" \
               b"<p>Second paragraph with enough words to score, again " \
               b"and again and again and again here.</p></div></body></html>"
        ts = pd.Timestamp("2024-01-01 00:00:00").to_pydatetime()

        def drop(urls, name):
            rows = [(u, ts, body, "x", "en") for u in urls]
            spark.createDataFrame(rows, PAGES_SCHEMA) \
                .write.mode("overwrite").parquet(f"{inp}/{name}")
            stream = (spark.readStream.schema(PAGES_SCHEMA)
                      .option("maxFilesPerTrigger", 100)
                      .parquet(f"{inp}/{name}"))
            ded = dedup_stream(extract_pages(stream)).drop("chunks")
            q = (ded.writeStream.format("parquet")
                 .option("path", outp).option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination(180)

        drop(["https://a.example.com/1"], "d1")
        # same CONTENT at a different url, second micro-batch → deduped
        drop(["https://b.example.com/2"], "d2")
        got = spark.read.parquet(outp)
        assert got.count() == 1


class TestHllStream:
    def test_streaming_partials_equal_batch_sketch(self, spark, tmp_path):
        """Registers appended per micro-batch must finalize to estimates
        byte-identical to one batch pass over the same rows — the
        mergeability claim of operators/sketches.py, executed."""
        from ragflow_core16_spark.operators.sketches import (
            hll_estimate_from_registers, hll_registers)
        from ragflow_core16_spark.streaming.sketches_stream import (
            finalize_register_sink, run_hll_stream)

        inp, sink, ckpt = (str(tmp_path / d) for d in ("in", "sink", "ck"))
        events = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
                  .repartition(6))  # ≥3 micro-batches at 2 files/trigger
        events.write.parquet(inp)

        run_hll_stream(spark, inp, sink, ckpt, window="6 hours")

        # multiple partial rows per register must exist (merge is real work)
        regs = spark.read.parquet(sink)
        assert regs.count() > regs.select("w", "event_type", "reg") \
                                 .distinct().count()

        got = finalize_register_sink(spark, sink).collect()
        batch = hll_estimate_from_registers(
            hll_registers(events.withColumn("w", F.window("ts", "6 hours")),
                          "user_id", ["w", "event_type"]),
            ["w", "event_type"])
        want = (batch.select(F.col("w.start").alias("window_start"),
                             "event_type", "n_registers", "hll_estimate")
                .orderBy("window_start", "event_type").collect())
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        """Appending the same batch's partials twice (the foreachBatch
        replay case) must not change any estimate."""
        from ragflow_core16_spark.operators.sketches import hll_registers
        from ragflow_core16_spark.streaming.sketches_stream import (
            finalize_register_sink)

        sink = str(tmp_path / "sink")
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        partial = hll_registers(
            events.withColumn("w", F.window("ts", "6 hours")),
            "user_id", ["w", "event_type"])
        partial.write.mode("append").parquet(sink)
        once = [tuple(r) for r in finalize_register_sink(spark, sink).collect()]
        partial.write.mode("append").parquet(sink)  # replay
        twice = [tuple(r) for r in finalize_register_sink(spark, sink).collect()]
        assert once == twice


class TestBloomStream:
    def test_streaming_partials_equal_batch_bloom(self, spark, tmp_path):
        """Bloom words appended per micro-batch must bit_or-finalize to the
        single-pass batch bloom over the same documents."""
        from ragflow_core16_spark.operators.sketches import (_bloom_url,
                                                             bloom_build)
        from ragflow_core16_spark.streaming.sketches_stream import (
            finalize_bloom_sink, run_bloom_stream)

        inp, sink, ckpt = (str(tmp_path / d) for d in ("in", "sink", "ck"))
        docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                .repartition(6))  # ≥3 micro-batches at 2 files/trigger
        docs.write.parquet(inp)

        run_bloom_stream(spark, inp, sink, ckpt)

        # multiple partial rows per word must exist (the merge is real)
        raw = spark.read.parquet(sink)
        assert raw.count() > raw.select("word").distinct().count()

        got = sorted(tuple(r) for r in finalize_bloom_sink(spark, sink)
                     .collect())
        want = sorted(tuple(r) for r in bloom_build(
            docs.select(_bloom_url("doc_id").alias("url"))).collect())
        assert got == want

    def test_replayed_drop_is_idempotent(self, spark, tmp_path):
        """Re-appending the same micro-batch's word partials (foreachBatch
        replay) must not flip a single bit."""
        from ragflow_core16_spark.operators.sketches import (_bloom_url,
                                                             bloom_build)
        from ragflow_core16_spark.streaming.sketches_stream import \
            finalize_bloom_sink

        sink = str(tmp_path / "sink")
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        part = bloom_build(docs.select(_bloom_url("doc_id").alias("url")))
        part.write.mode("append").parquet(sink)
        once = sorted(tuple(r) for r in finalize_bloom_sink(spark, sink)
                      .collect())
        part.write.mode("append").parquet(sink)
        twice = sorted(tuple(r) for r in finalize_bloom_sink(spark, sink)
                       .collect())
        assert once == twice
