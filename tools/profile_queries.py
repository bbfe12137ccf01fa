"""Per-query profiler.

For every registered query: wall seconds for plan+noop-execute and the
number of Spark JOBS the query launched (the per-job scheduling floor is
the dominant cost at test scale — a query that fires 20 jobs pays 20
floors). A query's plan shape is pinned in tests/plan_digest.json
(``python -m tests.plan_digest`` regenerates it).

Usage:
    python tools/profile_queries.py [--names a,b,c]

Prints one JSON line per query: {"name", "sec", "jobs"} and a trailing
summary sorted by jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default="")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=1)
    args = ap.parse_args()

    from petfinder_database_distributor_spark.registry import load_all
    from petfinder_database_distributor_spark.session import get_spark

    specs = load_all()
    names = [n for n in args.names.split(",") if n] or list(specs)
    spark = get_spark(app_name="pdd_profile")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # warm JVM + python workers like bench.py does
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import pandas_udf

    def _identity(s):
        return s

    _warm = pandas_udf(_identity, "long")
    spark.range(32).select(_warm("id")).collect()

    rows = []
    for name in names:
        if name not in specs:
            print(json.dumps({"name": name, "err": "unknown"}))
            continue
        best = None
        jobs = None
        err = None
        for p in range(args.passes):
            group = f"prof_{name}_{p}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                df = specs[name].fn(spark, args.sf_dir)
                df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                err = f"{type(exc).__name__}: {exc}".split("\n")[0][:160]
                sc._jsc.clearJobGroup()  # noqa: SLF001 — not exposed on the Python SparkContext
                break
            el = time.perf_counter() - t0
            # read the group's job ids BEFORE clearing; clearJobGroup() is
            # the documented reset (setJobGroup(None, None) leans on py4j
            # null coercion)
            j = len(tracker.getJobIdsForGroup(group))
            sc._jsc.clearJobGroup()  # noqa: SLF001 — not exposed on the Python SparkContext
            if best is None or el < best:
                best = el
            # jobs should be identical between passes; keep the first
            if jobs is None:
                jobs = j
        rec = {"name": name, "sec": None if best is None else round(best, 2), "jobs": jobs}
        if err:
            rec["err"] = err
        rows.append(rec)
        print(json.dumps(rec), flush=True)

    ok = [r for r in rows if r["sec"] is not None]
    print("== by jobs ==")
    for r in sorted(ok, key=lambda r: -(r["jobs"] or 0))[:30]:
        print(f"{r['jobs']:5d} jobs {r['sec']:7.2f}s  {r['name']}")
    print(json.dumps({
        "total_sec": round(sum(r["sec"] for r in ok), 2),
        "total_jobs": sum(r["jobs"] or 0 for r in ok),
        "n": len(ok),
        "errs": len(rows) - len(ok),
    }))


if __name__ == "__main__":
    main()
