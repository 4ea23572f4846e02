#!/usr/bin/env python
"""N→4N scaling and skew evidence for the extraction stage.

    python tools/scaling.py {pinned,groups,cluster,skew} [--cores C] [--docs N]

Every mode prints one JSON line and writes no file.

A scaling mode measures two levels, A with N cores and B with 4N, where
N = C // 4 and C defaults to the number of cores this process may run on.
A level is a list of concurrent launches of one child, each pinned with
``taskset`` to its own slice of those cores:

    pinned   local[N]                    → local[4N]                 (one JVM)
    groups   one local[N] JVM            → four concurrent local[N] JVMs
    cluster  local-cluster[1,N,4096]     → local-cluster[4,N,4096]

Each child extracts the same ``pages_df`` corpus (``--docs`` pages, seed
42) and keeps the fastest of ``PASSES`` timed passes.  A timed pass is the hashed
extraction itself: bit_xor of md5 over (url, extracted_text, status), the
definition of the extraction pin.  A level's throughput is the sum of its
children's docs/s; the levels alternate for ``ROUNDS`` rounds and each
keeps its best round; efficiency = (tp_B / tp_A) / (cores_B / cores_A).
The tool exits 1 when any child, round or level hashes differently.

``skew`` runs in this process on local[C]: extraction over
``skewed_pages_df``'s crawl-ordered layout (the hot host's 12× pages
together in the leading partitions) against the same cached input routed
through ``pipeline.partitioning.repartition_by_size``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROUNDS = 2
PASSES = 2
WARM_DOCS = 600
CLUSTER_MEM_MB = 4096
CHILD_TIMEOUT_S = 3600


class ChildError(RuntimeError):
    """A child exited non-zero or ran past its timeout."""


class GeometryError(ValueError):
    """This host cannot run the requested geometry."""


def core_sets(sizes: list[int]) -> list[list[int]]:
    """Disjoint core sets of ``sizes``, taken in order from the cores this
    process may run on; refuses sizes the affinity mask cannot hold."""
    cores = sorted(os.sched_getaffinity(0))
    if sum(sizes) > len(cores):
        raise GeometryError(f"a level needs {sum(sizes)} cores, but this "
                            f"process may only run on {len(cores)}: {cores}")
    sets, start = [], 0
    for n in sizes:
        sets.append(cores[start:start + n])
        start += n
    return sets


def run_children(argvs: list[list[str]],
                 timeout: float = CHILD_TIMEOUT_S) -> list[str]:
    """Run ``argvs`` concurrently and return their stdouts.

    Each child leads its own process group, and every group is killed on
    the way out (normal return, a failed child, a timeout or any other
    exception), so no driver JVM, executor JVM or Python worker started
    under a child outlives the call.  Output goes to anonymous temporary
    files, so a chatty child never blocks on a full pipe."""
    procs = []
    try:
        for argv in argvs:
            out, err = tempfile.TemporaryFile(), tempfile.TemporaryFile()
            procs.append((argv, out, err, subprocess.Popen(
                argv, stdout=out, stderr=err, start_new_session=True)))
        deadline = time.monotonic() + timeout
        for argv, _, err, p in procs:
            try:
                p.wait(max(0.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                raise ChildError(f"{argv} ran past its {timeout} s "
                                 f"timeout") from None
            if p.returncode != 0:
                err.seek(0)
                tail = err.read()[-4000:].decode(errors="replace")
                raise ChildError(f"{argv} exited with rc {p.returncode}; "
                                 f"stderr tail:\n{tail}")
        outs = []
        for _, out, _, _ in procs:
            out.seek(0)
            outs.append(out.read().decode())
        return outs
    finally:
        for _, out, err, p in procs:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            out.close()
            err.close()


def summarize(runs: list[list[list[dict]]], cores: list[int]) -> dict:
    """``runs[level][round]`` is that round's child results.  Each level
    keeps its best round by summed docs/s; every child must agree on the
    hash."""
    best = [max(rounds, key=lambda r: sum(c["docs_per_s"] for c in r))
            for rounds in runs]
    tp = [sum(c["docs_per_s"] for c in r) for r in best]
    hashes = sorted({c["hash"] for rounds in runs for r in rounds for c in r})
    return {"efficiency": round(tp[1] / tp[0] / (cores[1] / cores[0]), 3),
            "hash_equal": len(hashes) == 1, "hashes": hashes,
            "levels": [{"cores": n, "docs_per_s": round(t, 1), "children": r}
                       for n, t, r in zip(cores, tp, best)]}


def levels(mode: str, cores: int) -> list[list[tuple[str, int]]]:
    """Levels A and B of a scaling mode, each a list of (master, cores)
    launches."""
    n = cores // 4
    if n < 1:
        raise GeometryError(f"--cores must be at least 4, got {cores}")
    return {
        "pinned": [[(f"local[{n}]", n)], [(f"local[{4 * n}]", 4 * n)]],
        "groups": [[(f"local[{n}]", n)], [(f"local[{n}]", n)] * 4],
        "cluster": [[(f"local-cluster[1,{n},{CLUSTER_MEM_MB}]", n)],
                    [(f"local-cluster[4,{n},{CLUSTER_MEM_MB}]", 4 * n)]],
    }[mode]


def scaling(mode: str, cores: int, docs: int) -> dict:
    """Alternate the two levels of ``mode`` for ``ROUNDS`` rounds."""
    plan = levels(mode, cores)
    # every level's core sets are taken before anything is launched
    launches = [[["taskset", "-c", ",".join(map(str, cs)), sys.executable,
                  os.path.abspath(__file__), "--child", master, str(docs)]
                 for (master, _), cs in zip(lv, core_sets([c for _, c in lv]))]
                for lv in plan]
    runs = [[] for _ in plan]
    for _ in range(ROUNDS):
        for i, argvs in enumerate(launches):
            runs[i].append([json.loads(o.strip().splitlines()[-1])
                            for o in run_children(argvs)])
    return {"mode": mode, "docs": docs,
            **summarize(runs, [sum(c for _, c in lv) for lv in plan])}


def extraction_hash(extracted) -> tuple[int, int]:
    """(bit_xor of md5 bits over (url, extracted_text, status), rows)."""
    from pyspark.sql import functions as F
    bits = F.conv(F.substring(F.md5(F.concat_ws(
        "\x00", "url", F.coalesce("extracted_text", F.lit("")), "status")),
        1, 15), 16, 10).cast("long")
    row = extracted.agg(F.bit_xor(bits).alias("h"),
                        F.count(F.lit(1)).alias("n")).collect()[0]
    return row["h"], row["n"]


def timed_passes(pages, passes: int = PASSES) -> tuple[float, int, int]:
    """Fastest wall of ``passes`` hashed extraction passes, with the hash
    and row count every pass agreed on."""
    from ragflow_core16_spark.operators.extract import extract_pages
    walls, seen = [], set()
    for _ in range(passes):
        t0 = time.perf_counter()
        seen.add(extraction_hash(extract_pages(pages)))
        walls.append(time.perf_counter() - t0)
    if len(seen) != 1:
        raise RuntimeError(f"extraction passes disagree: {sorted(seen)}")
    return (min(walls), *seen.pop())


def session(master: str):
    """A warmed-up session on ``master``."""
    from ragflow_core16_spark.datagen.pages import pages_df
    from ragflow_core16_spark.session import get_spark
    conf = {"spark.sql.shuffle.partitions": "8", "spark.ui.enabled": "false"}
    if master.startswith("local-cluster"):
        import pyspark
        os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
        conf.update({"spark.executor.memory": f"{CLUSTER_MEM_MB - 512}m",
                     "spark.executorEnv.PYTHONPATH": REPO})
    spark = get_spark(master, app_name=f"scaling {master}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # JVM, codegen and Python workers warm outside every timed pass; on
    # local-cluster it also waits out executor registration before
    # pages_df reads defaultParallelism
    timed_passes(pages_df(spark, WARM_DOCS), 1)
    return spark


def child(master: str, docs: int) -> None:
    """One launch: print the fastest hashed pass over ``docs`` pages."""
    from pyspark.sql import functions as F

    from ragflow_core16_spark.datagen.pages import pages_df
    spark = session(master)
    try:
        pages = pages_df(spark, docs).cache()
        mb = pages.agg(F.sum(F.length("html"))).collect()[0][0] / 1e6
        wall, h, n = timed_passes(pages)
        print(json.dumps({"master": master, "docs": n, "wall_s": round(wall, 2),
                          "docs_per_s": round(n / wall, 1),
                          "mb_per_s": round(mb / wall, 2), "hash": h}))
    finally:
        spark.stop()


def skew_ab(spark, docs: int) -> dict:
    """Fastest hashed pass over the crawl-ordered skewed layout and over
    the same cached input through ``repartition_by_size``."""
    from pyspark import StorageLevel

    from ragflow_core16_spark.datagen.pages import skewed_pages_df
    from ragflow_core16_spark.pipeline.partitioning import repartition_by_size
    pages = skewed_pages_df(spark, docs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        pages.count()
        out = {}
        for name, df in (("layout", pages),
                         ("repartitioned", repartition_by_size(pages))):
            wall, h, n = timed_passes(df)
            out[name] = {"wall_s": round(wall, 2), "hash": h, "rows": n}
    finally:
        pages.unpersist()
    a, b = out["layout"], out["repartitioned"]
    return {**out, "speedup": round(a["wall_s"] / b["wall_s"], 2),
            "hash_equal": (a["hash"], a["rows"]) == (b["hash"], b["rows"])}


def skew(cores: int, docs: int) -> dict:
    os.sched_setaffinity(0, core_sets([cores])[0])
    spark = session(f"local[{cores}]")
    try:
        return {"mode": "skew", "cores": cores, "docs": docs,
                **skew_ab(spark, docs)}
    finally:
        spark.stop()


def main(argv: list[str]) -> int:
    sys.path.insert(0, REPO)
    # Python workers import the package from PYTHONPATH, which the JVM
    # inherits from this process: set it before the first session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    if argv[:1] == ["--child"]:
        child(argv[1], int(argv[2]))
        return 0
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=["pinned", "groups", "cluster", "skew"])
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="cores of level B, or of the skew session "
                   "(default: the cores this process may run on)")
    p.add_argument("--docs", type=int, default=60_000)
    a = p.parse_args(argv)
    try:
        r = (skew(a.cores, a.docs) if a.mode == "skew"
             else scaling(a.mode, a.cores, a.docs))
    except GeometryError as e:
        p.error(str(e))
    print(json.dumps(r))
    return 0 if r["hash_equal"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
