"""Empty-fixture robustness probe: run EVERY registered query
against a fixture where all ten tables have zero rows (same schemas), and
report Spark-side and oracle-side crashes. An empty slice of a 100 TB
corpus is a normal input (an empty date partition, a filtered-out shard,
a first run before data lands) — an operator that crashes on it is a
production incident, not a degenerate edge. The default suite runs a
per-family sample of the same check (tests/test_empty_robustness.py);
this probe covers every query.

Usage: python tools/empty_probe.py
Exit 0 iff no query crashes on either engine.
"""
import os
import sys
import tempfile

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def build_empty_fixture() -> str:
    tmp = tempfile.mkdtemp(prefix="emptyfix")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('/root/testdata/sf0.001/{t}.parquet')"
            f" LIMIT 0) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
        )
    return tmp


def main() -> int:
    from pyspark.sql import SparkSession

    from petfinder_database_distributor_spark.registry import load_all
    from tests.oracle_compare import run_oracle

    tmp = build_empty_fixture()
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark_err, oracle_err, ok = [], [], 0
    for name, spec in load_all().items():
        try:
            spec.fn(spark, tmp).count()
        except Exception as e:  # noqa: BLE001 — isolate, keep probing
            spark_err.append((name, f"{type(e).__name__}: {str(e).splitlines()[0][:120]}"))
            continue
        try:
            len(run_oracle(spec.oracle, tmp))
        except Exception as e:  # noqa: BLE001
            oracle_err.append((name, f"{type(e).__name__}: {str(e).splitlines()[0][:120]}"))
            continue
        ok += 1
    print(f"== ok {ok} / spark_err {len(spark_err)} / oracle_err {len(oracle_err)}")
    for n, e in spark_err:
        print("SPARK", n, e)
    for n, e in oracle_err:
        print("ORACLE", n, e)
    return 1 if (spark_err or oracle_err) else 0


if __name__ == "__main__":
    sys.exit(main())
