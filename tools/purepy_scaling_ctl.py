"""No-Spark control: per-process docs/s of the pure-Python extraction
loop at 1 vs N concurrent processes pinned to disjoint cores.

The process ladder and the cores each process is pinned to come from the
cores this process may run on (its affinity mask), so the control runs
unchanged on smaller VMs and inside cpusets.  Processes run through
``scaling.run_children``: a failed one raises with its rc and stderr, and
none outlives the run.  The corpus is ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1)."""
import json
import os
import sys

from scaling import core_sets, run_children

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

WORKER = r'''
import sys, time, os
sys.path.insert(0, %(repo)r)
from ragflow_core16_spark.datagen.pages import document_page
from ragflow_core16_spark.operators.extract import _extract_one
import duckdb
rows = duckdb.sql("SELECT doc_id, text FROM read_parquet('%(sf)s/documents.parquet') ORDER BY doc_id").fetchall()
pages = [document_page(int(d), t) for d, t in rows]
# warm
for u, ts, h in pages[:50]:
    _extract_one(u, ts, h, "en", 128, "\n", defer_ids=True)
t0 = time.time(); n = 0
while time.time() - t0 < 20:
    for u, ts, h in pages:
        _extract_one(u, ts, h, "en", 128, "\n", defer_ids=True)
    n += len(pages)
print(n / (time.time() - t0))
''' % {"repo": REPO, "sf": SF_DIR}


def run(n_procs):
    outs = run_children([["taskset", "-c", str(core), sys.executable, "-c",
                          WORKER] for [core] in core_sets([1] * n_procs)])
    return [float(o.strip().splitlines()[-1]) for o in outs]


def main():
    ncpu = len(os.sched_getaffinity(0))
    ladder = sorted({1, min(8, ncpu), min(16, ncpu), ncpu})
    for n in ladder:
        r = run(n)
        print(json.dumps({
            "procs": n, "per_proc_mean": sum(r) / n,
            "min": min(r), "max": max(r), "sum": sum(r)}))


if __name__ == "__main__":
    main()
