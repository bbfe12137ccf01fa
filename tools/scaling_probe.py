"""Scaling probe: replicate the sf0.1 tables 8x (key-offset copies, written
to scratch parquet) and measure wall time of representative operators at 1x
vs 8x on the same local[32] session. Linear (or better) growth with the
fixed per-query floor amortizing away is the local evidence that the plan
shapes scale; the probe prints a per-query growth table.

Only probe inputs are synthesized (never query fixtures for the driver
contract — registered queries always read the driver's own testdata).

Usage: python tools/scaling_probe.py [factor] [query1,query2,...]
(default query set below; heavy-duplication note: key-offset copies make
every replica an exact near-dup, so dedup-family outputs legitimately grow
quadratically in the factor — the probe measures whether the PLAN absorbs
that, not whether the output stays flat.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from bench import calibration, run_queries, warm_up  # noqa: E402
from petfinder_database_distributor_spark.registry import load_all  # noqa: E402
from petfinder_database_distributor_spark.schema import load_table  # noqa: E402
from petfinder_database_distributor_spark.session import get_spark  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
PROBE_QUERIES = [
    "q1_pricing_summary",
    "sessionize_events",
    "window_range_frame",
    "text_quality_score",
    "text_lang_id",
    "dedup_exact",
    "text_bigram_tf",
]
# (table, key columns to offset per copy)
OFFSETS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "nation": [],
    "region": [],
}


def build_scaled(spark, factor: int, out_dir: str) -> None:
    # Staged inputs are immutable per factor — reuse across probe runs
    # (rebuilding the 8x tables costs minutes and dominated probe wall) —
    # but only while they are NEWER than the source testdata: a marker
    # without the mtime check would silently probe stale replicas after
    # the driver regenerates /root/testdata (same guard as the streaming
    # chunk staging and partitioned_events_path).
    marker = f"{out_dir}/._ok"
    src = f"{BASE_SF}/events.parquet"
    if os.path.exists(marker) and (
        not os.path.exists(src)
        or os.stat(marker).st_mtime > os.stat(src).st_mtime
    ):
        print(f"reusing staged {out_dir}", flush=True)
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for table, keys in OFFSETS.items():
        src = f"{BASE_SF}/{table}.parquet"
        if not os.path.exists(src):
            continue
        df = load_table(spark, BASE_SF, table)
        if not keys:  # tiny dims stay as-is
            df.write.parquet(f"{out_dir}/{table}.parquet")
            continue
        offs = {k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys}
        copies = df.select(
            "*", F.explode(F.array(*[F.lit(i) for i in range(factor)])).alias("__i")
        )
        for k in keys:
            copies = copies.withColumn(k, F.col(k) + F.col("__i") * offs[k])
        copies.drop("__i").write.parquet(f"{out_dir}/{table}.parquet")
    with open(f"{out_dir}/._ok", "w") as fh:
        fh.write("staged")


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    queries = sys.argv[2].split(",") if len(sys.argv) > 2 else PROBE_QUERIES
    spark = get_spark(app_name="scaling_probe")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = f"{REPO_ROOT}/.stream_scratch/scale_probe_x{factor}"
    print(f"building {factor}x inputs under {out_dir} ...", flush=True)
    build_scaled(spark, factor, out_dir)

    qs = load_all()
    warm_up(spark)
    # the growth ratios are load-annotated: a probe run under load is
    # provably under load, not silently inflated
    print(json.dumps({"calibration": calibration(spark)}), flush=True)
    print(f"{'query':28s} {'1x':>7s} {'%dx' % factor:>7s} {'growth':>7s}")
    for name in queries:
        times = []
        for sf_dir in (BASE_SF, out_dir):
            timings, errors, _jobs = run_queries(spark, qs, [name], sf_dir)
            if errors:
                break  # don't burn minutes timing the scaled dir of a dead query
            times.append(timings[name])
        if errors:
            print(f"{name:28s} ERR {errors[name]}", flush=True)
            continue
        print(
            f"{name:28s} {times[0]:6.2f}s {times[1]:6.2f}s {times[1]/times[0]:6.1f}x",
            flush=True,
        )


if __name__ == "__main__":
    main()
