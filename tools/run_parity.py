#!/usr/bin/env python
"""Full-registry oracle-parity sweep in driver CORRECTNESS format.

Runs EVERY ``queries()`` entry against its ``oracle_sql()`` DuckDB twin
(tests/oracle_compare.py — the same rows / column-names / value-hash
comparison the per-round driver samples 50 of) and writes the results as
``CORRECTNESS_LOCAL.json`` at the repo root, one row per query in the
driver's row shape::

    {"<query>": {"rows_match": bool, "schema_match": bool,
                 "hash_match": bool, "spark_rows": int,
                 "oracle_rows": int, "err": str|null}, ...}

Queries with no oracle (the documented rows-only set) are recorded with
``"oracle_rows": null`` and ``"hash_match": null`` plus a rows-only
``"spark_rows"`` count, matching the driver's weaker check.

Usage (sf0.01 is the driver's comparison scale)::

    python tools/run_parity.py [--sf-dir /root/testdata/sf0.01]
        [--out CORRECTNESS_LOCAL.json] [--cpus 8]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
# Python workers import the package from PYTHONPATH, which the JVM
# inherits from this process: set it before the first session starts
if REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (REPO + os.pathsep + os.environ["PYTHONPATH"]
                                if os.environ.get("PYTHONPATH") else REPO)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out",
                    default=os.path.join(REPO, "CORRECTNESS_LOCAL.json"))
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--queries", default=None,
                    help="comma-separated registry subset (e.g. for a "
                         "generated documents-only corpus where queries "
                         "needing other tables cannot run)")
    args = ap.parse_args(argv)

    import __spark_entry__ as E
    from oracle_compare import compare

    from ragflow_core16_spark.session import get_spark
    spark = get_spark(f"local[{args.cpus}]", app_name="run_parity",
                      extra_conf={
                          "spark.sql.shuffle.partitions": str(args.cpus),
                          "spark.ui.enabled": "false",
                          # local mode: the driver hosts every broadcast
                          # build; the 1g default dies on AQE-chosen
                          # broadcasts whose compressed estimate undersells
                          # a low-entropy relation (seen at the 50k
                          # generated-corpus sweep)
                          "spark.driver.memory":
                              os.environ.get("SPARK_DRIVER_MEM", "8g")})
    spark.sparkContext.setLogLevel("ERROR")

    reg = E._registry()
    if args.queries:
        keep = [q.strip() for q in args.queries.split(",") if q.strip()]
        missing = [q for q in keep if q not in reg]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        reg = {q: reg[q] for q in keep}
    out: dict = {}
    t0 = time.time()
    n_pass = n_fail = n_err = 0
    for name, (fn, sql) in reg.items():
        try:
            if sql is None:
                n = fn(spark, args.sf_dir).count()
                out[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": int(n),
                             "oracle_rows": None, "err": None}
                n_pass += 1
                continue
            r = compare(spark, args.sf_dir, name, fn, sql)
            row = {"rows_match": bool(r["rows_match"]),
                   "schema_match": bool(r["cols_match"]),
                   "hash_match": bool(r["values_match"]),
                   "spark_rows": int(r["n_spark"]),
                   "oracle_rows": int(r["n_duck"]),
                   "err": None}
            out[name] = row
            ok = row["rows_match"] and row["schema_match"] and row["hash_match"]
            n_pass += ok
            n_fail += not ok
            if not ok:
                print(f"FAIL {name}: {r.get('first_diff')}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001 — recorded, not raised
            out[name] = {"rows_match": False, "schema_match": False,
                         "hash_match": False, "spark_rows": None,
                         "oracle_rows": None,
                         "err": f"{type(exc).__name__}: {exc}"[:500]}
            n_err += 1
            print(f"ERR  {name}: {exc}", file=sys.stderr)

    meta = {"_meta": {"sf_dir": args.sf_dir, "queries": len(reg),
                      "pass": n_pass, "fail": n_fail, "err": n_err,
                      "wall_sec": round(time.time() - t0, 1)}}
    with open(args.out, "w") as f:
        json.dump({**meta, **out}, f, indent=1)
    print(json.dumps(meta["_meta"]))
    spark.stop()
    return 0 if (n_fail == 0 and n_err == 0) else 1


if __name__ == "__main__":
    raise SystemExit(main())
