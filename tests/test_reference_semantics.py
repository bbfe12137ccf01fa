"""Reference-semantics fixtures with hand-computed goldens (FIXTURES.md).

These pin the quirky behaviors that are easy to get subtly wrong:
- X2 parse_boolean: substring match, negatives-first, bare 'n'/'y', empty→NULL
- X1/X3/X4 string cleaning edge cases
- F2 null-ratio boundary at exactly 7/15 (keep) vs 8/15 (drop)
- F3 liveness boundary at 2 (keep) vs 3 (drop) failed fields
- D2 upsert: column-preserving merge, not row replacement
"""

from __future__ import annotations

from pyspark.sql import functions as F

from petfinder_database_distributor_spark.functions.scalars import (
    bool_to_string,
    clean_text,
    escape_newlines,
    extract_name_from_about,
    parse_boolean,
)
from petfinder_database_distributor_spark.operators.dedup import upsert_merge
from petfinder_database_distributor_spark.operators.filters import (
    liveness_filter,
    null_ratio_filter,
)

# FIXTURES.md §2 golden table (reference pet_scraper.py:221-238 + :305-322)
BOOL_CASES = [
    ("Yes", True),
    ("yes ", True),
    ("No", False),
    ("NO*", False),
    ("✓", True),
    ("✗", False),
    ("checked", True),  # matches positive 'check'; no negative substring
    ("unchecked", False),  # negative 'unchecked'/'n' wins over 'check'
    ("n", False),
    ("y", True),
    ("on", False),  # contains 'n' — faithful quirk
    ("Unknown", False),  # contains 'n'
    ("Good with kids", True),  # no indicators, non-empty → True
    ("", None),
    (None, None),
    ("Not yet", False),  # negatives before positives
    ("maybe", True),  # no indicators → True
    ("TRUE", True),
    ("False", False),
]


def test_parse_boolean_golden(spark):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(BOOL_CASES)], ["id", "raw"]
    )
    out = {
        r["id"]: r["parsed"]
        for r in df.select("id", parse_boolean(F.col("raw")).alias("parsed")).collect()
    }
    for i, (raw, expected) in enumerate(BOOL_CASES):
        assert out[i] == expected, f"parse_boolean({raw!r}) = {out[i]}, want {expected}"


def test_clean_text_and_name_extraction(spark):
    cases = [
        ("  Buddy*  ", "Buddy"),
        ("Max***", "Max"),
        ("", ""),
        (None, ""),
        ("  spaced  ", "spaced"),
        ("*leading", "*leading"),  # only TRAILING asterisks stripped
    ]
    df = spark.createDataFrame([(i, c) for i, (c, _) in enumerate(cases)], ["id", "raw"])
    got = {r["id"]: r["c"] for r in df.select("id", clean_text(F.col("raw")).alias("c")).collect()}
    for i, (raw, want) in enumerate(cases):
        assert got[i] == want, f"clean_text({raw!r}) = {got[i]!r}, want {want!r}"

    name_cases = [
        ("About Bella", "Bella"),
        ("about   Rex", "Rex"),
        ("ABOUT Milo", "Milo"),
        ("Aboutish", "ish"),  # startswith('about') → strips 5 chars, faithful
        ("Bella", "Bella"),
        ("", ""),
        (None, ""),
    ]
    df2 = spark.createDataFrame([(i, c) for i, (c, _) in enumerate(name_cases)], ["id", "raw"])
    got2 = {
        r["id"]: r["n"]
        for r in df2.select("id", extract_name_from_about(F.col("raw")).alias("n")).collect()
    }
    for i, (raw, want) in enumerate(name_cases):
        assert got2[i] == want, f"extract_name({raw!r}) = {got2[i]!r}, want {want!r}"


def test_escape_newlines_and_bool_encode(spark):
    df = spark.createDataFrame([(1, "a\nb\rc\r\nd")], ["id", "txt"])
    got = df.select(escape_newlines(F.col("txt")).alias("e")).collect()[0]["e"]
    # reference: .replace('\n','\\n') then .replace('\r','\\n') → \r\n becomes TWO escapes
    assert got == "a\\nb\\nc\\n\\nd"

    bdf = spark.createDataFrame(
        [(1, True), (2, False), (3, None)],
        schema="id int, b boolean",
    )
    enc = {r["id"]: r["s"] for r in bdf.select("id", bool_to_string(F.col("b")).alias("s")).collect()}
    assert enc == {1: "True", 2: "False", 3: ""}


_STRINGS = ["name", "location", "age", "gender", "size", "color", "breed", "about_me", "image"]
_BOOLS = ["spayed_neutered", "vaccinated", "special_needs", "kids_compatible", "dogs_compatible", "cats_compatible"]
_PET_DDL = "link string, " + ", ".join(f"{c} string" for c in _STRINGS) + ", " + ", ".join(
    f"{c} boolean" for c in _BOOLS
)


def _pet_row(link: str, n_present: int) -> tuple:
    """A 15-checked-field row with exactly ``n_present`` non-missing fields
    (fills string fields first, then booleans with False — False is PRESENT)."""
    strings = ["v" if i < n_present else "" for i in range(len(_STRINGS))]
    n_bool = max(0, n_present - len(_STRINGS))
    bools = [False if i < n_bool else None for i in range(len(_BOOLS))]
    return (link, *strings, *bools)


def test_null_ratio_boundary(spark):
    # 15 checked fields, drop when missing >= 7.5 → 8 missing drops, 7 keeps.
    rows = [_pet_row("keep_8_present", 8), _pet_row("drop_7_present", 7), _pet_row("keep_all", 15)]
    df = spark.createDataFrame(rows, schema=_PET_DDL)
    kept = {r["link"] for r in null_ratio_filter(df, _STRINGS, _BOOLS, 0.5).collect()}
    # 8 present = 7 missing = 46.7% < 50% → keep; 7 present = 8 missing = 53.3% → drop
    assert kept == {"keep_8_present", "keep_all"}


def test_liveness_boundary(spark):
    rows = [_pet_row("keep_2_failed", 13), _pet_row("drop_3_failed", 12)]
    df = spark.createDataFrame(rows, schema=_PET_DDL)
    kept = {r["link"] for r in liveness_filter(df, _STRINGS, _BOOLS, 3).collect()}
    assert kept == {"keep_2_failed"}


def test_sql_built_counters_quote_column_names(spark):
    """failed_field_count and the filters over it are one SQL expression
    over backtick-quoted names: a dot, a space or a backtick in a column
    name must name that column, and the counts must equal a pure-Python
    count over null, blank and whitespace-only strings, with boolean
    False present."""
    import itertools

    from pyspark.sql import types as T

    from petfinder_database_distributor_spark.functions.scalars import failed_field_count

    strs, bools = ["a.b", "has space", "we`ird"], ["ok.flag"]
    schema = T.StructType(
        [T.StructField("id", T.IntegerType())]
        + [T.StructField(c, T.StringType()) for c in strs]
        + [T.StructField(c, T.BooleanType()) for c in bools]
    )
    values = itertools.product(*[[None, "", "   ", "x"]] * len(strs), [None, False, True])
    rows = [(i, *v) for i, v in enumerate(values)]
    missing = {
        r[0]: sum(v is None or v.strip() == "" for v in r[1:-1]) + (r[-1] is None)
        for r in rows
    }
    df = spark.createDataFrame(rows, schema)
    got = {
        r["id"]: r["n"]
        for r in df.select("id", failed_field_count(strs, bools).alias("n")).collect()
    }
    assert got == missing
    kept = {r["id"] for r in null_ratio_filter(df, strs, bools, drop_ratio=0.5).collect()}
    assert kept == {i for i, n in missing.items() if n < 2}
    live = {r["id"] for r in liveness_filter(df, strs, bools, max_failed=3).collect()}
    assert live == {i for i, n in missing.items() if n < 3}


def test_upsert_column_preserving(spark):
    old = spark.createDataFrame(
        [("L1", "Bella", "NY", True), ("L2", "Max", "LA", False)],
        schema="link string, name string, location string, vaccinated boolean",
    )
    # update L1 with ONLY name (location/vaccinated absent → preserve);
    # insert L3 brand-new
    new = spark.createDataFrame(
        [("L1", "Bella2", None, None), ("L3", "Rex", "SF", None)],
        schema="link string, name string, location string, vaccinated boolean",
    )
    out = {
        r["link"]: (r["name"], r["location"], r["vaccinated"])
        for r in upsert_merge(old, new, ["link"], ["name", "location", "vaccinated"]).collect()
    }
    assert out == {
        "L1": ("Bella2", "NY", True),  # name updated, others preserved
        "L2": ("Max", "LA", False),  # untouched row passes through
        "L3": ("Rex", "SF", None),  # append
    }
