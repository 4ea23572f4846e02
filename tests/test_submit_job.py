"""Deployment-path test: spark-submit --py-files zip + jobs/extract_job.py
(the north rule's run mode), including snapshot resume on rerun."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_pyfiles_and_resume(tmp_path, spark):
    zip_path = _zip_pkg(tmp_path)

    from ragflow_core16_spark.datagen.pages import pages_df
    pages_path = str(tmp_path / "pages")
    pages_df(spark, 60).write.mode("overwrite").parquet(pages_path)

    def submit():
        out = subprocess.run(
            ["spark-submit", "--master", "local[2]",
             "--py-files", str(zip_path),
             os.path.join(REPO, "jobs", "extract_job.py"),
             "--input", pages_path, "--output", str(tmp_path / "out")],
            capture_output=True, text=True, cwd=str(tmp_path),
            timeout=420)
        assert out.returncode == 0, out.stderr[-2000:]
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        return json.loads(line)

    first = submit()
    assert first["rows"] == 60 and first["ok"] == 60
    assert first["chunks"] > 0
    # the zip-deployed workers count tokens with the shipped BPE ranks
    # file, like a local run: same chunk boundaries and token counts
    from ragflow_core16_spark.operators.extract import extract_pages
    from ragflow_core16_spark.pipeline.snapshots import SnapshotTable

    def chunking(df):
        return sorted((r.url, r.n_tokens,
                       tuple((c.chunk_text, c.token_cnt)
                             for c in r.chunks or ()))
                      for r in df.select("url", "n_tokens",
                                         "chunks").collect())
    assert chunking(SnapshotTable(spark, str(tmp_path / "out")).read()) \
        == chunking(extract_pages(spark.read.parquet(pages_path)))

    # rerun resumes from the committed snapshot: nothing left to extract
    second = submit()
    assert second["rows"] == 0
    t = SnapshotTable(spark, str(tmp_path / "out"))
    assert t.current_version() >= 1
    assert t.read().count() == 60


@pytest.mark.slow
def test_spark_submit_curate_job(tmp_path, spark):
    """Deployment path for the curation pipeline: spark-submit --py-files
    + jobs/curate_job.py over a documents dir; the kept corpus must equal
    the decision table's keep set."""
    zip_path = _zip_pkg(tmp_path)

    out = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", str(zip_path),
         os.path.join(REPO, "jobs", "curate_job.py"),
         "--input", "/root/testdata/sf0.001",
         "--output", str(tmp_path / "out")],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420,
        # the job's snapshot-table writes (decisions, dedup index,
        # boilerplate lexicon) must land in THIS test's warehouse, not
        # the suite's shared session dir — later plan-audit tests pin
        # the COMPUTE paths and would silently flip to scans
        env={**os.environ, "RAG_CURATION_DIR": str(tmp_path / "cur")})
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    summary = json.loads(line)
    assert summary["rows"] > 0
    assert 0 < summary["kept"] <= summary["rows"]

    keep = spark.read.parquet(str(tmp_path / "out" / "keep"))
    corpus = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    kept_ids = {r.doc_id for r in
                keep.filter("corpus_keep").select("doc_id").collect()}
    corpus_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    assert corpus_ids == kept_ids


@pytest.mark.slow
def test_spark_submit_warc_in_wet_out(tmp_path, spark):
    """Crawl-shaped deployment: --input-format warc over a dir of
    *.warc.gz, --wet-output materializing *.warc.wet.gz shards; every
    record must survive the full container loop."""
    zip_path = _zip_pkg(tmp_path)

    from ragflow_core16_spark.datagen.pages import generate_page
    from ragflow_core16_spark.sources.warc import (build_response_record,
                                                   build_warc_gz,
                                                   build_warcinfo,
                                                   iter_warc_records)
    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    for fid in range(4):
        recs = [build_warcinfo(f"crawl-{fid}.warc.gz")]
        for i in range(fid, 40, 4):
            url, ts, html, _text, _lang = generate_page(i, 42)
            recs.append(build_response_record(url, ts, html))
        (warc_dir / f"crawl-{fid:05d}.warc.gz").write_bytes(
            build_warc_gz(recs))

    out = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", str(zip_path),
         os.path.join(REPO, "jobs", "extract_job.py"),
         "--input", str(warc_dir), "--input-format", "warc",
         "--output", str(tmp_path / "out"),
         "--wet-output", str(tmp_path / "wet"), "--wet-shards", "8"],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420)
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads([ln for ln in out.stdout.splitlines()
                          if ln.startswith("{")][-1])
    assert summary["rows"] == 40 and summary["ok"] == 40
    assert summary["wet"]["files"] == 8
    assert summary["wet"]["records"] == 40
    from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
    assert SnapshotTable(spark, str(tmp_path / "out")).current_version() == 1
    conv = 0
    for p in sorted((tmp_path / "wet").glob("*.warc.wet.gz")):
        recs = list(iter_warc_records(p.read_bytes()))
        assert all(r["error"] is None for r in recs)
        conv += sum(1 for r in recs if r["type"] == "conversion")
    assert conv == 40

    # --wet-lang: per-language WET export — shards must contain exactly
    # the pages whose DETECTED language is 'en' (computed independently
    # in-process over the same crawl)
    import pyspark.sql.functions as F
    from ragflow_core16_spark.operators.extract import extract_pages
    from ragflow_core16_spark.operators.textstats import lang_pred_expr
    from ragflow_core16_spark.sources.warc import pages_from_warc_dir
    want = {r["url"] for r in
            extract_pages(pages_from_warc_dir(spark, str(warc_dir)))
            .where(F.col("status") == "ok")
            .where(lang_pred_expr(F.col("extracted_text")) == "en")
            .select("url").collect()}
    assert 0 < len(want) < 40, "fixture must be language-mixed"
    out2 = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", str(zip_path),
         os.path.join(REPO, "jobs", "extract_job.py"),
         "--input", str(warc_dir), "--input-format", "warc",
         "--output", str(tmp_path / "out_en"),
         "--wet-output", str(tmp_path / "wet_en"), "--wet-shards", "4",
         "--wet-lang", "en"],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420)
    assert out2.returncode == 0, out2.stderr[-2000:]
    got = set()
    for p in sorted((tmp_path / "wet_en").glob("*.warc.wet.gz")):
        got |= {r["url"] for r in iter_warc_records(p.read_bytes())
                if r["type"] == "conversion"}
    assert got == want


def test_extract_job_refuses_uri_output_before_spark(tmp_path, monkeypatch,
                                                     capsys):
    """``--output`` is a snapshot table, whose commit is local-filesystem
    calls: an object-store or HDFS URI is refused at argument parsing —
    before a session starts or a page is extracted — and leaves no stray
    local ``s3:`` directory behind."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        import extract_job
    finally:
        sys.path.pop(0)
    monkeypatch.chdir(tmp_path)
    for uri in ("s3://bucket/warehouse", "hdfs://nn/warehouse"):
        with pytest.raises(SystemExit) as exc:
            extract_job.main(["--input", str(tmp_path / "pages"),
                              "--output", uri])
        assert exc.value.code == 2
        assert "invalid local_path value" in capsys.readouterr().err
    assert os.listdir(tmp_path) == []


def test_maintenance_job_delete_compact_vacuum(tmp_path, spark, capsys):
    """The maintenance triad over a snapshot table: purge → binPack →
    vacuum, each an atomic snapshot commit (in-process invocation; the
    job takes its session from getOrCreate, so the deploy path differs
    only by spark-submit's topology flags)."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    try:
        import maintenance_job
    finally:
        sys.path.pop(0)
    from ragflow_core16_spark.pipeline.snapshots import SnapshotTable

    table = str(tmp_path / "t")
    t = SnapshotTable(spark, table)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "lang")
    for lo in (0, 20, 40):
        t.commit_append(docs.filter(f"doc_id >= {lo} AND doc_id < {lo+20}")
                        .coalesce(1))

    rc = maintenance_job.main(
        ["--table", table, "--delete", "doc_id % 10 = 3",
         "--compact", "--target-mb", "64",
         "--vacuum", "--keep-versions", "1"], stop=False)
    assert rc == 0
    # the job's session factory reuses this session without overriding
    # the settings its creator tuned
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    line = [ln for ln in capsys.readouterr().out.splitlines()
            if ln.startswith("{")][-1]
    out = json.loads(line)
    assert out["delete"]["rewrote_files"] == 3     # every file had a hit
    assert out["compact"]["rewrote_files"] >= 2
    assert out["vacuum"]["removed_files"] > 0
    assert out["version_after"] > out["version_before"]
    ids = sorted(r.doc_id for r in t.read().select("doc_id").collect())
    assert ids == [d for d in range(60) if d % 10 != 3]

    # --history prints the log without committing anything
    rc = maintenance_job.main(["--table", table, "--history"], stop=False)
    assert rc == 0
    hist = json.loads([ln for ln in capsys.readouterr().out.splitlines()
                       if ln.startswith("{")][-1])
    assert hist["versions"][-1]["version"] == t.current_version()


def test_spark_submit_index_job(tmp_path, spark):
    """Deployment path for the ingest-time index build: spark-submit
    --py-files + jobs/index_job.py writes the GraphRAG and RAPTOR
    snapshot tables; queries in a LATER session scan them and return the
    same rows the compute path produces."""
    zip_path = _zip_pkg(tmp_path)

    env = {**os.environ, "RAG_CURATION_DIR": str(tmp_path / "cur")}
    out = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", str(zip_path),
         os.path.join(REPO, "jobs", "index_job.py"),
         "--input", "/root/testdata/sf0.001", "--run-id", "t1"],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420,
        env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    summary = json.loads(line)
    # 3 graph + 2 raptor + 9 feature tables (keywords, tag features,
    # doc embeddings, webgraph ranks, SemDeDup labels, BPE merges,
    # bigram LM, per-language unigram LM, DSIR histogram) + 2 retrieval
    # index tables (term postings, doc stats)
    assert len(summary["tables"]) == 16
    from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
    for p in summary["tables"]:
        assert SnapshotTable(spark, p).current_version() == 1, p

    # a separate session (the test fixture's) scans the job's tables and
    # must agree with its own compute path
    from ragflow_core16_spark.operators.dedup import reset_shared_cache
    from ragflow_core16_spark.operators.graphrag import graph_communities
    from ragflow_core16_spark.operators.raptor import raptor_tree
    reset_shared_cache()
    compute_g = graph_communities(spark, "/root/testdata/sf0.001").collect()
    compute_r = raptor_tree(spark, "/root/testdata/sf0.001").collect()
    prev = os.environ.get("RAG_CURATION_DIR")
    os.environ["RAG_CURATION_DIR"] = str(tmp_path / "cur")
    try:
        reset_shared_cache()
        assert graph_communities(
            spark, "/root/testdata/sf0.001").collect() == compute_g
        assert raptor_tree(
            spark, "/root/testdata/sf0.001").collect() == compute_r
    finally:
        reset_shared_cache()
        if prev is None:
            os.environ.pop("RAG_CURATION_DIR", None)
        else:
            os.environ["RAG_CURATION_DIR"] = prev


def _zip_pkg(tmp_path):
    """The package as the documented deploy ships it (``zip -r
    ragflow_core16_spark.zip ragflow_core16_spark``): every file, the
    shipped BPE ranks file included, minus bytecode caches."""
    zip_path = tmp_path / "ragflow_core16_spark.zip"
    pkg = os.path.join(REPO, "ragflow_core16_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))
    return zip_path


def _split_corpora(spark, root):
    """day-1 / batch / combined dirs carved from sf0.001 (the day-2
    deployment scenario used by the incremental + chaos tests)."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    day1 = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    day1.coalesce(2).write.parquet(f"{root}/day1/documents.parquet")
    batch.coalesce(1).write.parquet(f"{root}/batch/documents.parquet")
    day1.unionByName(batch).coalesce(2).write.parquet(
        f"{root}/combined/documents.parquet")
    return (f"{root}/day1", f"{root}/batch", f"{root}/combined")


@pytest.mark.slow
def test_spark_submit_curate_incremental(tmp_path, spark, monkeypatch):
    """Day-2 deployment path: jobs/curate_job.py --incremental merges the
    batch into the day-1 snapshot's tables via spark-submit; the published
    decision table must equal the full recompute over the combined
    corpus."""
    zip_path = _zip_pkg(tmp_path)
    day1, batch, combined = _split_corpora(spark, str(tmp_path))
    wh = str(tmp_path / "cur")
    monkeypatch.setenv("RAG_CURATION_DIR", wh)

    # full-recompute oracle over combined BEFORE any combined table exists
    from ragflow_core16_spark.operators.webclean import (
        web_decisions_unordered)
    want = {tuple(r) for r in
            web_decisions_unordered(spark, combined).collect()}

    # day-1 snapshot build (the full curate/index run's table set)
    from ragflow_core16_spark.pipeline.snapshot_cache import DELTA_FAMILIES
    for fam in DELTA_FAMILIES:
        fam.build(spark, day1)

    out = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", str(zip_path),
         os.path.join(REPO, "jobs", "curate_job.py"),
         "--incremental", "--base", day1, "--batch", batch,
         "--input", combined, "--output", str(tmp_path / "out")],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420,
        env={**os.environ, "RAG_CURATION_DIR": wh})
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    summary = json.loads(line)
    assert summary["mode"] == "incremental"
    assert summary["rows"] == len(want)

    got = {tuple(r) for r in
           spark.read.parquet(str(tmp_path / "out" / "keep")).collect()}
    assert got == want
    # and the routed queries over the combined corpus now serve the
    # merged table
    from ragflow_core16_spark.pipeline.snapshot_cache import read_table
    assert read_table(spark, "web_decisions", combined) is not None


@pytest.mark.slow
def test_curate_job_crash_consistency(tmp_path, spark, monkeypatch):
    """Chaos drill for the multi-table index build (VERDICT r4 task #5):

    1. crash BETWEEN the dedup-index write and the decision-table write
       (dedup tables complete, decisions absent) → the decision-table
       queries refuse the missing table and recompute correctly; a job
       rerun converges to the same fingerprint-complete state as a clean
       run.
    2. crash MID-WRITE of a dedup table (data files written, manifest
       never published) → that table never serves, routed queries
       recompute, and the rerun publishes a complete version.
    """
    from ragflow_core16_spark.operators.dedup import (
        dedup_clusters, materialize_dedup_index, reset_shared_cache)
    from ragflow_core16_spark.operators.webclean import web_keep
    from ragflow_core16_spark.pipeline.snapshot_cache import (
        read_table, table_path)
    from ragflow_core16_spark.pipeline.snapshots import SnapshotTable
    zip_path = _zip_pkg(tmp_path)
    sf = "/root/testdata/sf0.001"
    wh = str(tmp_path / "cur")
    monkeypatch.setenv("RAG_CURATION_DIR", wh)
    reset_shared_cache()
    baseline_keep = {tuple(r) for r in web_keep(spark, sf).collect()}
    baseline_clusters = {tuple(r) for r in
                         dedup_clusters(spark, sf).collect()}

    # --- crash 1: first phase (dedup index) committed, decisions never
    # written — exactly the state a kill between the two writes leaves
    materialize_dedup_index(spark, sf)
    assert read_table(spark, "web_decisions", sf) is None
    reset_shared_cache()
    # decision queries refuse the absent table and recompute (over the
    # committed dedup tables) to the same answer
    assert {tuple(r) for r in web_keep(spark, sf).collect()} == \
        baseline_keep

    # --- crash 2: mid-write of dedup_labels (data files, no manifest)
    labels_path = table_path("dedup_labels", sf)
    os.remove(os.path.join(labels_path, "_snapshots", "v00001.json"))
    assert read_table(spark, "dedup_labels", sf) is None
    reset_shared_cache()
    assert {tuple(r) for r in dedup_clusters(spark, sf).collect()} == \
        baseline_clusters

    # --- rerun converges: the job rebuilds the partial table and
    # publishes the decision table; the final state equals a clean run's
    out = subprocess.run(
        ["spark-submit", "--master", "local[2]",
         "--py-files", str(zip_path),
         os.path.join(REPO, "jobs", "curate_job.py"),
         "--input", sf, "--no-corpus",
         "--output", str(tmp_path / "out")],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=420,
        env={**os.environ, "RAG_CURATION_DIR": wh})
    assert out.returncode == 0, out.stderr[-2000:]
    assert SnapshotTable(spark, labels_path).current_version() == 1
    assert read_table(spark, "web_decisions", sf) is not None
    reset_shared_cache()
    assert {tuple(r) for r in web_keep(spark, sf).collect()} == \
        baseline_keep
    assert {tuple(r) for r in dedup_clusters(spark, sf).collect()} == \
        baseline_clusters
