"""util.int_div is the cross-engine twin of DuckDB's integer `//`
(truncation toward zero, exact over the full int64 range). The floor-of-
double form it replaced is wrong on BOTH axes — rounds toward -inf for
negative dividends, loses integers past 2^53 — so the contract is pinned
on exactly those boundaries."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.util import int_div

CASES = [
    0, 1, -1, 5, -5, 199, -199, 200, -200, 201, -201,
    2**53 - 1, 2**53, 2**53 + 1, -(2**53) - 1,
    2**62 + 3, -(2**62) - 3, 2**63 - 1, -(2**63),
    None,
]
DIVISORS = [200, 7, 86400]


def test_int_div_matches_duckdb_trunc_division(spark):
    df = spark.createDataFrame([(v,) for v in CASES], "a long")
    for d in DIVISORS:
        got = {
            r["a"]: r["q"]
            for r in df.select("a", int_div(F.col("a"), d).alias("q")).collect()
        }
        for v in CASES:
            want = (
                None
                if v is None
                else duckdb.sql(f"SELECT CAST({v} AS BIGINT) // {d}").fetchone()[0]
            )
            assert got[v] == want, (v, d, got[v], want)


def test_int_div_differs_from_floor_where_it_must(spark):
    # the two divergence classes of floor(a / b): negative dividends and
    # dividends past 2^53
    df = spark.createDataFrame([(-401,), (2**53 + 1,)], "a long")
    rows = {
        r["a"]: (r["q"], r["fl"])
        for r in df.select(
            "a",
            int_div(F.col("a"), 200).alias("q"),
            F.floor(F.col("a") / 200).cast("long").alias("fl"),
        ).collect()
    }
    assert rows[-401][0] == -2 and rows[-401][1] == -3  # trunc vs floor
    # past 2^53 the double path collapses neighbors; int_div stays exact
    assert rows[2**53 + 1][0] == (2**53 + 1) // 200
