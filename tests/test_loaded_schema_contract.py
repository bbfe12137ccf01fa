"""Loaded-dtypes contract for every driver table.

The testdata/pyspark combination can drift: parquet ``timestamp[us]``
no-tz loads as TIMESTAMP_NTZ under pyspark 4.x, and four queries died at
plan time when ``load_table`` only normalized the nanos-as-long
encoding. This test pins the *output* contract of
``load_table`` — the dtype of every column of every driver table — in three
session flavors, so any future environment/testdata drift fails one named
test before any query breaks:

  * the tuned factory session (what tests/bench use),
  * a "vanilla" session (independent SQL conf, as the grading driver builds),
  * a vanilla session pinned to a NON-UTC timezone (the cast must still
    produce instants that agree with DuckDB's epoch_us over the same naive
    values — load_table pins UTC itself).
"""

from __future__ import annotations

import duckdb
import pytest

from tests.conftest import SF_SMALL

from petfinder_database_distributor_spark.schema import TESTDATA_TABLES, load_table

# Contract: every (table, column) -> expected Spark simple dtype. ts MUST be
# "timestamp" (never timestamp_ntz / bigint): unix_micros, range frames and
# stream watermarks all require TimestampType.
EXPECTED_DTYPES: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {"s_suppkey": "bigint", "s_nationkey": "int", "s_acctbal": "double"},
    "part": {"p_partkey": "bigint", "p_size": "int", "p_retailprice": "double"},
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",  # naive parquet ts — normalized, never ntz
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_shipdate": "timestamp",  # naive parquet ts — normalized, never ntz
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",  # ntz/bigint here breaks unix_micros(ts) downstream
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {"vec_id": "bigint", "embedding": "array<float>", "label": "int"},
}


def _assert_contract(df_dtypes: dict[str, str], table: str) -> None:
    expected = EXPECTED_DTYPES[table]
    for col, want in expected.items():
        assert col in df_dtypes, f"{table}.{col} missing (have {sorted(df_dtypes)})"
        assert df_dtypes[col] == want, f"{table}.{col}: {df_dtypes[col]!r} != {want!r}"


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_factory_session_dtypes(spark, table):
    df = load_table(spark, SF_SMALL, table)
    _assert_contract(dict(df.dtypes), table)


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_vanilla_session_dtypes(spark, table):
    # newSession(): same JVM, but fresh/independent runtime SQL conf — the
    # closest local analog of the grading driver's un-tuned SparkSession.
    vanilla = spark.newSession()
    vanilla.conf.unset("spark.sql.session.timeZone")
    vanilla.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    df = load_table(vanilla, SF_SMALL, table)
    _assert_contract(dict(df.dtypes), table)


def test_non_utc_session_instants_match_duckdb(spark):
    """load_table must self-pin UTC: under a session that starts in a non-UTC
    timezone, unix_micros over the loaded ts must still equal DuckDB's
    epoch_us over the same naive parquet values (a tz-dependent cast
    would silently shift epochs instead of erroring)."""
    from pyspark.sql import functions as F

    shifted = spark.newSession()
    shifted.conf.set("spark.sql.session.timeZone", "America/New_York")
    ev = load_table(shifted, SF_SMALL, "events")
    got = {
        r["event_id"]: r["us"]
        for r in ev.orderBy("event_id")
        .limit(50)
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    }
    want = dict(
        duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM '{SF_SMALL}/events.parquet' "
            "ORDER BY event_id LIMIT 50"
        ).fetchall()
    )
    assert got == want
