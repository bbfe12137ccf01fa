"""Property test (FIXTURES.md §2): Spark's parse_boolean must agree with an
independent pure-Python transliteration of the reference's substring,
negatives-first parse on ARBITRARY inputs — one batched DataFrame per
hypothesis run, not per-example Spark jobs."""

from __future__ import annotations

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from petfinder_database_distributor_spark.functions.scalars import (
    NEGATIVE_INDICATORS,
    POSITIVE_INDICATORS,
    parse_boolean,
)

ALPHABET = string.ascii_letters + string.digits + " *✓✗-_.!"


def _reference_parse(raw: str | None) -> bool | None:
    """Pure-Python model of pet_scraper.py:221-238 + :305-322."""
    if raw is None:
        return None
    t = raw.strip().lower()
    if t == "":
        return None
    if any(n in t for n in NEGATIVE_INDICATORS):
        return False
    if any(p in t for p in POSITIVE_INDICATORS):
        return True
    return True  # non-empty, no indicators


texts = st.lists(
    st.one_of(st.none(), st.text(alphabet=ALPHABET, max_size=20)),
    min_size=1,
    max_size=50,
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts)
def test_parse_boolean_matches_reference_model(spark, batch):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "id int, raw string"
    )
    got = {
        r["id"]: r["b"]
        for r in df.select("id", parse_boolean(F.col("raw")).alias("b")).collect()
    }
    for i, raw in enumerate(batch):
        assert got[i] == _reference_parse(raw), f"mismatch on {raw!r}"


# Every indicator alone, mixed with every other (glued and spaced), padded
# and upper-cased: the random alphabet above rarely forms a whole indicator,
# so this fixed table is what exercises each needle.
_INDICATORS = NEGATIVE_INDICATORS + POSITIVE_INDICATORS
BOOL_TABLE = [
    *_INDICATORS,
    *(a + sep + b for a in _INDICATORS for b in _INDICATORS if a != b for sep in ("", " ")),
    *(f"  {w}  " for w in _INDICATORS),
    *(w.upper() for w in _INDICATORS),
    *(f"  {w.upper()} " for w in _INDICATORS),
    "✓", "✗ yes", "on", "unknown", "Y", None, "", "   ",
]


def test_parse_boolean_matches_reference_model_on_indicator_table(spark):
    df = spark.createDataFrame(list(enumerate(BOOL_TABLE)), "id int, raw string")
    for empty_as_null in (True, False):
        got = {
            r["id"]: r["b"]
            for r in df.select(
                "id", parse_boolean(F.col("raw"), empty_as_null=empty_as_null).alias("b")
            ).collect()
        }
        for i, raw in enumerate(BOOL_TABLE):
            want = _reference_parse(raw)
            if want is None and not empty_as_null:
                want = False  # the raw function: empty or missing → False
            assert got[i] is want, f"parse_boolean({raw!r}, {empty_as_null=}) = {got[i]}"
