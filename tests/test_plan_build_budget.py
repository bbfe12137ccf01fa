"""Py4J round-trip budgets for the ingest path's plan builders.

The scrape-and-verify loop rebuilds its extract → clean → validate → dedup
expression tree on the driver for every micro-batch, and each Column or
DataFrame call is a gateway round trip. These pins hold that traffic at a
few hundred round trips per batch: at about 1.5× the measured count per
builder, and at 1,000 for one batch's whole plan, which took about 4,400
when call-site capture was on and the name-based builders folded Columns.
A regression back to thousands fails here, not as a slower benchmark.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from petfinder_database_distributor_spark.functions.scalars import (
    clean_text,
    extract_name_from_about,
    failed_field_count,
    normalize_url,
    parse_boolean,
)
from petfinder_database_distributor_spark.operators.dedup import key_dedup
from petfinder_database_distributor_spark.operators.extraction import regex_field_columns
from petfinder_database_distributor_spark.operators.filters import (
    nonblank_key_filter,
    null_ratio_filter,
    placeholder_name_filter,
)
from petfinder_database_distributor_spark.schema import (
    PETS_BOOL_FIELDS,
    PETS_CHECKED_FIELDS,
    PETS_FIELDS,
    PETS_SCHEMA,
)

STRING_CHECKED = [c for c in PETS_CHECKED_FIELDS if c not in PETS_BOOL_FIELDS]
WHOLE_PLAN_BUDGET = 1_000


def extract_pages(df):
    """One batch of ``seq, html`` pages → the cleaned 17-field rows."""
    raw = regex_field_columns(df, "html", {f: f for f in PETS_FIELDS}, keep=("seq",))
    cols = [F.col("seq")]
    for c in PETS_FIELDS:
        if c == "link":
            cols.append(normalize_url(clean_text(F.col(c))).alias(c))
        elif c == "name":
            cols.append(extract_name_from_about(clean_text(F.col(c))).alias(c))
        elif c in PETS_BOOL_FIELDS:
            cols.append(parse_boolean(F.col(c)).alias(c))
        else:
            cols.append(clean_text(F.col(c)).alias(c))
    return raw.select(*cols)


def validate_pages(typed):
    """The validity filters and the first-writer-wins key dedup."""
    valid = null_ratio_filter(
        placeholder_name_filter(nonblank_key_filter(typed)), STRING_CHECKED, PETS_BOOL_FIELDS
    )
    return key_dedup(valid, ["link"], [F.col("seq").desc()])


@pytest.fixture(scope="module")
def typed(spark):
    schema = T.StructType([*PETS_SCHEMA.fields, T.StructField("seq", T.LongType())])
    return spark.createDataFrame([], schema)


def test_session_turns_call_site_capture_off(spark):
    """Every budget below assumes the session default: with call-site
    capture on, one ``a | b`` costs 11 round trips instead of 1."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    F.col("a") | F.col("b")  # PySpark reads the setting at the first Column call
    assert not is_debugging_enabled()


@pytest.mark.parametrize(
    "name, build, budget",
    [
        ("parse_boolean", lambda df: parse_boolean(F.col("vaccinated")), 33),
        ("clean_text", lambda df: clean_text(F.col("color")), 45),
        ("failed_field_count", lambda df: failed_field_count(STRING_CHECKED, PETS_BOOL_FIELDS), 5),
        ("null_ratio_filter", lambda df: null_ratio_filter(df, STRING_CHECKED, PETS_BOOL_FIELDS), 8),
        ("nonblank_key_filter", lambda df: nonblank_key_filter(df), 6),
        ("placeholder_name_filter", lambda df: placeholder_name_filter(df), 6),
        ("key_dedup", lambda df: key_dedup(df, ["link"], [F.col("seq").desc()]), 56),
    ],
)
def test_builder_round_trip_budget(typed, gateway_calls, name, build, budget):
    build(typed)  # first call pays one-off lookups
    with gateway_calls() as n:
        build(typed)
    assert n() <= budget, f"{name}: {n()} Py4J round trips, budget {budget}"


def test_batch_plan_round_trip_budget(spark, typed, gateway_calls):
    pages = spark.createDataFrame([(1, "<link>/a</link>")], "seq long, html string")
    extract_pages(pages)
    validate_pages(typed)
    with gateway_calls() as n:
        extract_pages(pages)
        validate_pages(typed)
    assert n() <= WHOLE_PLAN_BUDGET, (
        f"one batch's extract + validate plan took {n()} Py4J round trips,"
        f" budget {WHOLE_PLAN_BUDGET}"
    )
