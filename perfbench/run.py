"""Benchmark runner for the extraction job and day-2 curation.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload extract_job_skewed --seed 1 \\
        --seconds 10 --trace 0

Prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones (see BENCHMARK.json); with ``--trace 1``
they are the per-layer ones, and the spans are written to
``.perfbench_out/``.  Exits non-zero when any output check fails.

Everything a run writes (Spark local dirs, the snapshot warehouse, the
extraction tables, temp files) lives in a per-run directory under
``.perfbench_run/`` in the checkout and is removed at exit.

    python3 perfbench/run.py --pin

re-checks the historical extraction hash (60k ``pages_df`` pages at seed
42 must hash to 719803205232014910) instead of running a workload.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()  # session start is timed from here

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIN_HASH = 719803205232014910
DRIVER_MEMORY = "1g"


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", action="store_true")
    a = p.parse_args(argv)
    if not a.pin and not a.workload:
        p.error("--workload is required")
    return a


def _hermetic_env(run_dir: str) -> dict:
    """Point every writer at the per-run directory before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in
            ("local", "tmp", "warehouse", "spark-warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["RAG_CURATION_DIR"] = dirs["warehouse"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    return dirs


def _remove_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    parent = os.path.dirname(run_dir)
    if os.path.isdir(parent) and not os.listdir(parent):
        os.rmdir(parent)


def _start_spark(k: int, dirs: dict):
    from ragflow_core16_spark.session import get_spark
    spark = get_spark(f"local[{k}]", app_name="perfbench", extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData "
            # a fixed, pre-touched heap: resident memory then reflects
            # what the run holds, not when the collector last grew it
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            # one collector thread: parallel collectors spin while they
            # wait for each other, which on a shared host turns other
            # tenants' load into this run's CPU time
            "-XX:+UseSerialGC "
            f"-Dderby.system.home={dirs['tmp']}",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["spark-warehouse"],
        "spark.sql.shuffle.partitions": str(k),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # traced phases diff the status stores: keep every job of a run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _samples(cycles, phase: str, clock: str = "cpu", work=None):
    """Every sample of ``phase`` in the run, in seconds of ``clock``
    ("cpu" or "walls") or, given ``work(cycle)``, as work per second."""
    return [t if work is None else work(c) / t
            for c in cycles for t in getattr(c, clock)[phase]]


def _end_to_end(cycles, setup_s: float, peak_rss: int) -> dict:
    def m(v, unit):
        return {"value": v, "unit": unit}
    return {
        "docs_per_cpu_s": m(_median(_samples(
            cycles, "bulk", work=lambda c: c.docs)), "docs/cpu-s"),
        "update_cpu_s": m(_median(_samples(cycles, "update")), "s"),
        "serve_cpu_s": m(_median(_samples(cycles, "serve")), "s"),
        "setup_s": m(setup_s, "s"),
        "peak_rss_mb": m(peak_rss / 1e6, "MB"),
    }


def per_layer_catalogue() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    from perfbench.workloads import DELTA_KINDS, FAMILIES, QUERIES
    lo, hi = "lower", "higher"
    cat = [("codec.busy_s", "s", lo), ("html.dom.busy_s", "s", lo),
           ("html.readability.busy_s", "s", lo),
           ("html.textify.busy_s", "s", lo), ("html.docs", "count", hi),
           ("html.bytes", "bytes", hi), ("chunkers.busy_s", "s", lo),
           ("chunkers.chunks", "count", hi), ("chunkers.tokens", "count", hi),
           ("rag_tokenizer.busy_s", "s", lo),
           ("rag_tokenizer.fine_busy_s", "s", lo),
           ("xxh64.busy_s", "s", lo), ("xxh64.ids", "count", hi),
           ("arrow.to_python_mb", "MB", lo),
           ("arrow.from_python_mb", "MB", lo),
           ("arrow.python_udf_s", "s", lo),
           ("partitioning.prepass_s", "s", lo),
           ("partitioning.partitions", "count", hi),
           ("snapshots.commit_s", "s", lo), ("snapshots.files", "count", lo),
           ("snapshots.mb", "MB", lo), ("snapshots.resume_read_s", "s", lo),
           ("run.resume_skipped_rows", "count", hi)]
    cat += [(f"build.{f}_s", "s", lo) for f, _ in FAMILIES]
    cat += [(f"delta.{k}_s", "s", lo) for k in DELTA_KINDS]
    for q, _ in QUERIES:
        cat += [(f"serve.{q}_s", "s", lo), (f"serve.{q}.table_hits", "count",
                                            hi),
                (f"serve.{q}.table_misses", "count", lo)]
    cat += [("snapshot_cache.hits", "count", hi),
            ("snapshot_cache.misses", "count", lo)]
    for ph in ("bulk", "update", "serve"):
        cat += [(f"spark.{ph}.run_s", "s", lo), (f"spark.{ph}.cpu_s", "s", lo),
                (f"spark.{ph}.gc_s", "s", lo),
                (f"spark.{ph}.shuffle_read_mb", "MB", lo),
                (f"spark.{ph}.shuffle_write_mb", "MB", lo),
                (f"spark.{ph}.spill_mb", "MB", lo),
                (f"spark.{ph}.jobs", "count", lo),
                (f"spark.{ph}.stages", "count", lo),
                (f"spark.{ph}.tasks", "count", lo),
                (f"spark.{ph}.task_max_over_median", "ratio", lo)]
    cat += [("wall.docs_per_s", "docs/s", hi), ("wall.mb_per_s", "MB/s", hi),
            ("wall.update_s", "s", lo), ("wall.serve_s", "s", lo),
            ("wall.setup_s", "s", lo)]
    cat += [("trace.overhead_s", "s", lo),
            ("trace.overhead_frac", "ratio", lo), ("failed_frac", "ratio", lo),
            ("host.calib_docs_per_s", "docs/s", hi)]
    return cat


def _per_layer(traced, untraced, layer_breakdown, calib,
               setup_wall: float) -> dict:
    """Medians over the traced cycles, and phase walls over the untraced
    ones; the tracing overhead is the traced minus the untraced median
    cycle wall."""
    def unit_wall(cs):
        return _median([sum(map(sum, c.walls.values())) for c in cs])

    def wall(phase, work=None):
        return _median(_samples(untraced, phase, "walls", work))
    overhead = unit_wall(traced) - unit_wall(untraced)
    cycles = traced + untraced
    attempted = sum(c.attempted for c in cycles)
    measured = {**layer_breakdown,
                "wall.docs_per_s": wall("bulk", lambda c: c.docs),
                "wall.mb_per_s": wall("bulk", lambda c: c.bytes / 1e6),
                "wall.update_s": wall("update"),
                "wall.serve_s": wall("serve"),
                "wall.setup_s": setup_wall,
                "trace.overhead_s": overhead,
                "trace.overhead_frac": overhead / unit_wall(untraced),
                "failed_frac": sum(c.failed for c in cycles) / attempted,
                "host.calib_docs_per_s": calib}
    out = {}
    for name, unit, _better in per_layer_catalogue():
        v = measured.get(name)
        if v is None:  # a layer the workload does not exercise reads 0
            v = _median([c.layers.get(name, 0) for c in traced])
        out[name] = {"value": v, "unit": unit}
    return out


def _calibration_pages():
    from ragflow_core16_spark.datagen.pages import generate_page
    pages = []
    for i in range(60):
        url, ts, html, _text, lang = generate_page(i, 42)
        pages.append((url, ts, html, lang))
    return pages


def run_workload(args) -> int:
    from perfbench import layers
    from perfbench.probes import RssSampler, SparkProbe, Tracer, spark_cpu_s
    from perfbench.workloads import WORKLOADS, Cycle

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = _hermetic_env(run_dir)
    workload = WORKLOADS[args.workload]
    k = min(workload.cores, len(os.sched_getaffinity(0)))
    spark = None
    try:
        with RssSampler() as rss:
            spark = _start_spark(k, dirs)
            session_s = time.perf_counter() - T_START
            tracer = Tracer(enabled=bool(args.trace))
            wl = workload(spark, args.seed, dirs["warehouse"], tracer,
                          SparkProbe(spark))
            t0 = time.perf_counter()
            wl.prepare()
            prep_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            tracer.enabled = False
            wl.warm_up()
            warm_s = time.perf_counter() - t0
            # the Spark processes started with this run, so all their CPU
            # so far is set-up: session start, input generation, warm-up
            setup_s = spark_cpu_s()

            untraced, traced = [], []
            min_cycles = 2 if args.trace else 1
            t_loop = time.perf_counter()
            i = 0
            while (i < min_cycles
                   or time.perf_counter() - t_loop < args.seconds):
                i += 1
                # a traced run alternates untraced and traced cycles, so
                # the overhead of tracing is measured in the same process
                trace_this = bool(args.trace) and i % 2 == 0
                tracer.enabled = trace_this
                cyc = Cycle()
                wl.cycle(i, cyc, traced=trace_this)
                (traced if trace_this else untraced).append(cyc)
            tracer.enabled = bool(args.trace)
            breakdown = wl.layer_breakdown() if args.trace else {}
            peak = rss.peak
        calib = layers.calibrate(_calibration_pages())
        cycles = traced + untraced
        problems = [p for c in cycles for p in c.problems]
        if args.trace:
            metrics = _per_layer(traced, untraced, breakdown, calib,
                                 session_s + prep_s + warm_s)
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(
                    ROOT, ".perfbench_out",
                    f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": tracer.self_times()}, f)
        else:
            metrics = _end_to_end(cycles, setup_s, peak)
        report = {
            "workload": args.workload, "seed": args.seed,
            "cycles": len(cycles),
            "walls": [c.walls for c in cycles], "prepare_s": prep_s,
            "cpu": [c.cpu for c in cycles],
            "session_s": session_s, "warm_up_s": warm_s,
            "problems": problems,
            "host": {"calib_docs_per_s": calib, "nproc": os.cpu_count(),
                     "k": k, "python": platform.python_version(),
                     "pyspark": __import__("pyspark").__version__},
        }
        print("perfbench-report " + json.dumps(report), flush=True)
        attempted = sum(c.attempted for c in cycles)
        failed = sum(c.failed for c in cycles)
        correct = not problems
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        _remove_run_dir(run_dir)


def check_pin() -> int:
    """Extract 60k pages_df pages at seed 42 and compare the text hash with
    the historical pin."""
    from perfbench.workloads import extraction_hashes
    from ragflow_core16_spark.datagen.pages import pages_df
    from ragflow_core16_spark.operators.extract import extract_pages
    run_dir = os.path.join(ROOT, ".perfbench_run", f"pin-{os.getpid()}")
    dirs = _hermetic_env(run_dir)
    spark = None
    try:
        spark = _start_spark(len(os.sched_getaffinity(0)), dirs)
        got = extraction_hashes(extract_pages(pages_df(spark, 60_000, 42)))
        ok = got["text"] == PIN_HASH and got["rows"] == 60_000
        print(json.dumps({"pin": PIN_HASH, **got, "ok": ok}))
        return 0 if ok else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        _remove_run_dir(run_dir)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ragflow_core16_spark",
                                       "__init__.py")):
        print("perfbench: ragflow_core16_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        return check_pin() if args.pin else run_workload(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
