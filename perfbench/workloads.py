"""The benchmark's closed batch workloads.

Each workload is driven through the package's public entry points on one
driver process.  A workload runs its cycles one after another (a closed
loop with a single client); every cycle times samples of the same three
phases:

* ``bulk``   — a full pass over the input;
* ``update`` — bringing the committed output up to date with new input;
* ``serve``  — reading the committed output back the way a consumer does.

A phase may be timed several times in one cycle, each sample starting
from the same state (a copy of what the cycle's earlier phase left), so
that short phases are reported as medians over many samples.

``prepare`` makes the run's input from the seed and ``warm_up`` runs
once, untimed; both are set-up.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F

from ragflow_core16_spark.datagen.documents import (DOCUMENTS_SCHEMA,
                                                     generate_document)
from ragflow_core16_spark.datagen.pages import skewed_pages_df
from ragflow_core16_spark.operators import dedup, retrieval, textstats
from ragflow_core16_spark.operators import training, webclean
from ragflow_core16_spark.operators.extract import chunks_table, extract_pages
from ragflow_core16_spark.pipeline import incremental, run, snapshot_cache
from ragflow_core16_spark.pipeline.snapshots import SnapshotTable

from . import layers
from .probes import spark_cpu_s


def _md5_bits(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def extraction_hashes(extracted) -> dict:
    """Row and url counts plus two order-insensitive hashes, in one job:
    ``text`` over (url, extracted_text, status) — the definition of the
    historical extraction pin — and ``chunks`` over every chunk's
    (chunk_id, chunk_text, token_cnt, content_ltks, content_sm_ltks)."""
    text = _md5_bits(F.concat_ws("\x00", "url",
                                 F.coalesce("extracted_text", F.lit("")),
                                 "status"))

    def chunk_bits(c):
        return _md5_bits(F.concat_ws(
            "\x00", c["chunk_id"], c["chunk_text"],
            c["token_cnt"].cast("string"),
            F.coalesce(c["content_ltks"], F.lit("")),
            F.coalesce(c["content_sm_ltks"], F.lit(""))))
    chunks = F.coalesce(F.col("chunks"), F.array())
    per_row = F.aggregate(F.transform(chunks, chunk_bits), F.lit(0).cast(
        "long"), lambda acc, x: acc.bitwiseXOR(x))
    row = extracted.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("url").alias("urls"),
        F.bit_xor(text).alias("text"),
        F.bit_xor(per_row).alias("chunks"),
        F.sum(F.size(chunks)).alias("n_chunks")).collect()[0]
    return row.asDict()


def value_hash(df) -> tuple[int, int]:
    """Order-insensitive hash over every column value of every row."""
    h = _md5_bits(F.to_json(F.struct(*df.columns)))
    row = df.agg(F.bit_xor(h).alias("x"),
                 F.count(F.lit(1)).alias("n")).collect()[0]
    return (row["x"], row["n"])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Cycle:
    """What one timed cycle measured and checked."""

    def __init__(self):
        self.walls: dict[str, list[float]] = {
            "bulk": [], "update": [], "serve": []}
        self.cpu: dict[str, list[float]] = {
            "bulk": [], "update": [], "serve": []}
        self.docs = 0
        self.bytes = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layers: dict[str, float] = {}

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


class Workload:
    name = ""
    cores = 2   # local[k]: leaves cores for the JVM's compiler and GC

    def __init__(self, spark, seed: int, work_dir: str, tracer, probe):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.tracer = tracer
        self.probe = probe

    @contextmanager
    def phase(self, cyc: Cycle, name: str, traced: bool):
        """Time one sample of a phase into ``cyc.walls`` and its Spark
        processes' CPU seconds into ``cyc.cpu``; traced, the
        cycle's first sample of each phase also diffs the Spark stores
        around it into ``cyc.layers``."""
        traced = traced and not cyc.walls[name]
        mark = self.probe.mark() if traced else None
        with self.tracer.span(f"phase.{name}"):
            c0 = spark_cpu_s()
            t0 = time.perf_counter()
            try:
                yield
            finally:
                cyc.walls[name].append(time.perf_counter() - t0)
                cyc.cpu[name].append(spark_cpu_s() - c0)
        if traced:
            for k, v in self.probe.diff(mark).items():
                key = (f"arrow.{k[6:]}" if k.startswith("arrow_")
                       else f"spark.{name}.{k}")
                cyc.layers[key] = cyc.layers.get(key, 0.0) + v


# ------------------------------------------------------ extract_job_skewed
def _doc_id():
    return F.regexp_extract("url", r"/(\d+)$", 1).cast("long")


class ExtractJobSkewed(Workload):
    """Crawl-ordered pages with one hot host of 12x pages through the
    snapshot-committed extraction job: commit the first nine tenths of the
    urls, then resume over the whole input.  Each cycle resumes several
    copies of the first pass's table and reads the chunk view several
    times, so the short update and serve phases are medians."""

    name = "extract_job_skewed"
    cores = 4   # the per-row Python layers scale with workers
    n_pages = 2400
    first_frac = 0.9
    first_passes = 2
    resumes = 3
    serve_samples = 4
    reads_per_sample = 3
    sample_mod = 50     # every 50th doc id is checked against _extract_one
    trace_mod = 8       # every 8th doc id feeds the per-layer breakdown

    def __init__(self, *a):
        super().__init__(*a)
        self.cut = int(self.n_pages * self.first_frac)
        self.sample_checked = False

    def prepare(self) -> None:
        pages = skewed_pages_df(self.spark, self.n_pages, self.seed).cache()
        first = _doc_id() < self.cut
        row = pages.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("url").alias("urls"),
            F.sum(F.when(first, 1).otherwise(0)).alias("n_first"),
            F.sum(F.when(first, F.length("html")).otherwise(0))
            .alias("b_first")).collect()[0]
        self.pages = pages
        self.first = pages.filter(first)
        self.n_first, self.b_first = row["n_first"], row["b_first"]
        if row["n"] != self.n_pages or row["urls"] != self.n_pages:
            raise RuntimeError(f"generated {row['n']} pages with "
                               f"{row['urls']} distinct urls")

    def _pages_where(self, mod: int) -> list[tuple]:
        rows = (self.pages.filter(_doc_id() % mod == 0)
                .select("url", "warc_ts", "html", "lang").collect())
        return sorted((tuple(r) for r in rows), key=lambda r: r[0])

    def warm_up(self) -> None:
        self.ref = extraction_hashes(extract_pages(self.pages))
        self.ref_rows = {p[0]: layers.reference_row(p)
                         for p in self._pages_where(self.sample_mod)}
        # warm the job path (shuffle, snapshot commit, resume anti-join,
        # chunk view read) with untimed passes over the input: the JVM
        # keeps compiling these paths, and without them the first timed
        # samples of a run use measurably more CPU than the later ones
        table_dir = os.path.join(self.work, "extracted-warm-up")
        run.run_extraction_snapshotted(self.spark, self.first, table_dir)
        run.run_extraction_snapshotted(self.spark, self.pages, table_dir)
        table = SnapshotTable(self.spark, table_dir)
        for _ in range(6):
            _noop(chunks_table(table.read()))

    def cycle(self, i: int, cyc: Cycle, traced: bool) -> None:
        spark, tr = self.spark, self.tracer
        table_dir = os.path.join(self.work, f"extracted-{i}")
        mark = len(tr.spans)
        resumed = []
        if traced:
            def parts(span, args, kwargs, out):
                span["partitions"] = out.rdd.getNumPartitions()
            tr.wrap(run, "repartition_by_size",
                    "pipeline.partitioning.repartition_by_size", parts)
            tr.wrap(SnapshotTable, "commit_append",
                    "pipeline.snapshots.commit_append")
            tr.wrap(SnapshotTable, "read", "pipeline.snapshots.read")
        try:
            firsts = []
            for r in range(self.first_passes):
                with self.phase(cyc, "bulk", traced), \
                        tr.span("run_extraction_snapshotted", pass_="first"):
                    firsts.append(run.run_extraction_snapshotted(
                        spark, self.first, f"{table_dir}-{r}" if r else
                        table_dir, resume=True))
                if r == 0:
                    first_end = len(tr.spans)
            upd_mark = upd_end = len(tr.spans)
            for r in range(self.resumes):
                # every resume starts from the state the first pass left:
                # a copy of its table (manifests name data files by path)
                copy_dir = f"{table_dir}-resume{r}"
                shutil.copytree(table_dir, copy_dir)
                with self.phase(cyc, "update", traced), \
                        tr.span("run_extraction_snapshotted", pass_="resume"):
                    resumed.append((copy_dir, run.run_extraction_snapshotted(
                        spark, self.pages, copy_dir, resume=True)))
                if r == 0:
                    upd_end = len(tr.spans)
            table = SnapshotTable(spark, resumed[0][0])
            for _ in range(self.serve_samples):
                # a consumer re-reading the committed flat chunk view; one
                # read is short, so a sample is several
                with self.phase(cyc, "serve", traced):
                    for _ in range(self.reads_per_sample):
                        _noop(chunks_table(table.read()))
        finally:
            tr.unwrap_all()
        n = self.n_pages
        cyc.docs, cyc.bytes = self.n_first, self.b_first
        passes = firsts + [s for _, s in resumed]
        cyc.attempted = sum(s["rows"] for s in passes)
        cyc.failed = sum(s["error"] for s in passes)
        for first in firsts:
            cyc.check(first["rows"] == self.n_first, "first pass committed "
                      f"{first['rows']} of {self.n_first}")
        for copy_dir, stats in resumed:
            cyc.check(stats["rows"] == n - self.n_first,
                      f"resume extracted {stats['rows']} rows, expected "
                      f"{n - self.n_first}")
            committed = SnapshotTable(spark, copy_dir).read()
            got = extraction_hashes(committed)
            cyc.check(got["rows"] == n and got["urls"] == n,
                      f"committed {got['rows']} rows / {got['urls']} urls, "
                      f"expected {n}")
            cyc.check(got == self.ref, "committed table hashes differ from "
                      f"one-shot extract_pages: {got} != {self.ref}")
            if not self.sample_checked:
                self._check_sample(committed, cyc)
        if traced:
            def one_of_each(name):
                # over the cycle's first first pass and first resume
                return (tr.total(name, mark, first_end)
                        + tr.total(name, upd_mark, upd_end))
            m = table.manifest()
            files = m["files"]
            cyc.layers.update({
                "partitioning.prepass_s": one_of_each(
                    "pipeline.partitioning.repartition_by_size"),
                # the width the first pass's extraction stage ran at
                "partitioning.partitions": next(
                    s["partitions"] for s in tr.spans[mark:]
                    if s["name"] == "pipeline.partitioning."
                                    "repartition_by_size"),
                "snapshots.commit_s": one_of_each(
                    "pipeline.snapshots.commit_append"),
                "snapshots.files": len(files),
                "snapshots.mb": sum(os.path.getsize(f) for f in files) / 1e6,
                "snapshots.resume_read_s": tr.total(
                    "pipeline.snapshots.read", upd_mark, upd_end),
                "run.resume_skipped_rows": n - resumed[0][1]["rows"],
            })

    def _check_sample(self, committed, cyc: Cycle) -> None:
        """Committed rows of the sample urls equal driver-side
        ``_extract_one`` (scalar chunk ids) byte for byte.  Once a run:
        later cycles are tied to the same output by the table hashes."""
        self.sample_checked = True
        got = committed.filter(F.col("url").isin(list(self.ref_rows))) \
            .collect()
        cyc.check(len(got) == len(self.ref_rows),
                  f"sample: {len(got)} of {len(self.ref_rows)} urls found")
        for r in got:
            if layers.canonical(r.asDict(recursive=True)) \
                    != self.ref_rows[r["url"]]:
                cyc.problems.append(f"sample url {r['url']} differs from "
                                    "driver-side _extract_one")

    def layer_breakdown(self) -> dict:
        pages = self._pages_where(self.trace_mod)
        rows, out = layers.decompose(pages, self.tracer)
        for p, r in zip(pages, rows):
            if layers.canonical(r) != layers.reference_row(p):
                raise RuntimeError(f"layer breakdown of {p[0]} differs from "
                                   "_extract_one")
        return out


# ------------------------------------------------------------ curate_day2
FAMILIES = (("dedup_index", dedup.materialize_dedup_index),
            ("decon_index", training.materialize_decon_index),
            ("web_decisions", webclean.materialize_web_decisions),
            ("retrieval_index", retrieval.materialize_retrieval_index))
QUERIES = (("web_keep", webclean.web_keep),
           ("dedup_clusters", dedup.dedup_clusters),
           ("bm25_topn", retrieval.bm25_topn),
           ("substring_dedup_spans", dedup.substring_dedup_spans),
           ("tfidf_keywords", textstats.tfidf_keywords))
DELTA_KINDS = (incremental.DEDUP_KINDS + incremental.DECON_KINDS
               + ("web_decisions",) + incremental.RETRIEVAL_KINDS)


class CurateDay2(Workload):
    """Day-2 curation over a day-1 base built in set-up: a full snapshot
    index build of the combined corpus, a 10% delta merge into a copy of
    the day-1 warehouse, then a fixed query set over both warehouses —
    JVM-side operators only.  The first cycle's full build is the
    reference every delta table and query output is checked against."""

    name = "curate_day2"
    n_base = 1000
    n_batch = 100

    def prepare(self) -> None:
        root = os.path.join(self.work, "corpus")
        self.base, self.batch, self.comb = (
            os.path.join(root, x) for x in ("base", "batch", "combined"))
        self._write_documents(self.base, 0, self.n_base)
        self._write_documents(self.batch, self.n_base, self.n_batch)
        dst = os.path.join(self.comb, "documents.parquet")
        os.makedirs(dst)
        for src in (self.base, self.batch):
            src = os.path.join(src, "documents.parquet")
            for f in os.listdir(src):
                if not f.startswith(("_", ".")):
                    os.link(os.path.join(src, f), os.path.join(dst, f))
        row = self.spark.read.parquet(dst).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("b")).collect()[0]
        self.comb_docs, self.comb_bytes = row["n"], row["b"]
        self.ref_tables = self.ref_queries = None

    def _write_documents(self, sf_dir: str, start: int, n: int) -> None:
        """Write ``documents_df``'s rows [start, start+n) as its 8
        contiguous id-range part files.  The rows come from the same
        per-id generator, built on the driver, so this JVM-only workload
        never starts a Python worker."""
        pdf = pd.DataFrame([generate_document(i, self.seed)
                            for i in range(start, start + n)],
                           columns=DOCUMENTS_SCHEMA.fieldNames())
        (self.spark.createDataFrame(pdf, DOCUMENTS_SCHEMA)
         .coalesce(max(8, n // 25_000))
         .write.parquet(os.path.join(sf_dir, "documents.parquet")))

    def _use_warehouse(self, name: str) -> str:
        path = os.path.join(self.work, name)
        os.environ["RAG_CURATION_DIR"] = path
        return path

    def _table_hashes(self, warehouse: str) -> dict:
        """Value hashes of every delta-maintained table of the combined
        corpus in ``warehouse``, in one job."""
        self._use_warehouse(warehouse)
        parts = []
        for k in DELTA_KINDS:
            t = snapshot_cache.read_table(self.spark, k, self.comb)
            if t is None:
                continue
            parts.append(t.select(F.lit(k).alias("kind"), _md5_bits(
                F.to_json(F.struct(*t.columns))).alias("h")))
        if not parts:
            return {}
        rows = functools.reduce(lambda a, b: a.unionByName(b), parts) \
            .groupBy("kind").agg(F.bit_xor("h").alias("x"),
                                 F.count(F.lit(1)).alias("n")).collect()
        return {r["kind"]: (r["x"], r["n"]) for r in rows}

    def warm_up(self) -> None:
        # the day-1 base every cycle's delta merges into; building it is
        # also the warm-up of the build operators
        self.day1 = self._use_warehouse("wh-day1")
        for _name, build in FAMILIES:
            dedup.reset_shared_cache()
            build(self.spark, self.base)

    def _attempt(self, cyc: Cycle, what: str, fn):
        cyc.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failed operation is counted, not fatal
            cyc.failed += 1
            cyc.problems.append(f"{what} raised {type(e).__name__}: {e}")
            return None

    def _serve(self, cyc: Cycle, spans_of: dict) -> dict:
        """Run the query set over the current warehouse; each output as a
        value hash.  ``spans_of`` gets each query's span range."""
        got = {}
        for q, fn in QUERIES:
            dedup.reset_shared_cache()
            first_span = len(self.tracer.spans)
            with self.tracer.span("serve", query=q):
                got[q] = self._attempt(
                    cyc, f"query {q}",
                    lambda f=fn: value_hash(f(self.spark, self.comb)))
            spans_of[q] = (first_span, len(self.tracer.spans))
        return got

    def cycle(self, i: int, cyc: Cycle, traced: bool) -> None:
        spark, tr = self.spark, self.tracer
        full, delta = f"wh-full-{i}", f"wh-delta-{i}"
        # the delta starts from the day-1 state: a copy of its warehouse
        shutil.copytree(self.day1, os.path.join(self.work, delta))
        mark = len(tr.spans)
        if traced:
            def hit(span, args, kwargs, out):
                span["hit"] = out is not None
            tr.wrap(snapshot_cache, "read_table",
                    "pipeline.snapshot_cache.read_table", hit)
            tr.wrap(incremental, "read_table",
                    "pipeline.snapshot_cache.read_table", hit)

            def kind(span, args, kwargs, out):
                span["kind"] = args[1]
            tr.wrap(incremental, "materialize",
                    "pipeline.snapshot_cache.materialize", kind)
        got, spans_of = {}, {}
        try:
            self._use_warehouse(full)
            with self.phase(cyc, "bulk", traced):
                for fam, build in FAMILIES:
                    dedup.reset_shared_cache()
                    with tr.span("build", family=fam):
                        self._attempt(cyc, f"build {fam}",
                                      lambda b=build: b(spark, self.comb))
            dedup.reset_shared_cache()
            self._use_warehouse(delta)
            with self.phase(cyc, "update", traced), \
                    tr.span("pipeline.incremental.incremental_update"):
                self._attempt(cyc, "incremental_update",
                              lambda: incremental.incremental_update(
                                  spark, self.base, self.batch, self.comb))
            serve_mark = len(tr.spans)
            self._use_warehouse(delta)
            with self.phase(cyc, "serve", traced):
                got[delta] = self._serve(cyc, spans_of)
            serve_end = len(tr.spans)
            # the same queries over the fully built tables, untimed: the
            # full build stores tables the delta does not maintain, so
            # these scan where the timed ones compute
            self._use_warehouse(full)
            got[full] = self._serve(cyc, {})
        finally:
            tr.unwrap_all()
        cyc.docs, cyc.bytes = self.comb_docs, self.comb_bytes
        tables = {wh: self._table_hashes(wh) for wh in (delta, full)}
        if self.ref_tables is None:
            self.ref_tables, self.ref_queries = tables[full], got[full]
            cyc.check(set(self.ref_tables) == set(DELTA_KINDS),
                      "full build left tables missing: "
                      f"{set(DELTA_KINDS) - set(self.ref_tables)}")
        for wh, what in ((delta, "delta"), (full, "full build")):
            for q, h in got[wh].items():
                cyc.check(h is None or h == self.ref_queries[q],
                          f"query {q} over the {what} tables differs from "
                          "the reference full build")
            for k in DELTA_KINDS:
                cyc.check(tables[wh].get(k) == self.ref_tables.get(k),
                          f"{what} table {k} differs from the reference "
                          "full build")
        if traced:
            rt = "pipeline.snapshot_cache.read_table"
            lay = cyc.layers
            for fam, _ in FAMILIES:
                lay[f"build.{fam}_s"] = tr.total("build", mark, family=fam)
            for k in DELTA_KINDS:
                lay[f"delta.{k}_s"] = tr.total(
                    "pipeline.snapshot_cache.materialize", mark, kind=k)
            for q, _ in QUERIES:
                # scan-or-compute over the delta-maintained tables: did the
                # query find its stored tables?
                lo, hi = spans_of[q]
                lay[f"serve.{q}_s"] = tr.total("serve", lo, hi, query=q)
                lay[f"serve.{q}.table_hits"] = tr.count(rt, lo, hi, hit=True)
                lay[f"serve.{q}.table_misses"] = tr.count(rt, lo, hi,
                                                          hit=False)
            lay["snapshot_cache.hits"] = tr.count(rt, serve_mark, serve_end,
                                                  hit=True)
            lay["snapshot_cache.misses"] = tr.count(rt, serve_mark,
                                                    serve_end, hit=False)

    def layer_breakdown(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (ExtractJobSkewed, CurateDay2)}
