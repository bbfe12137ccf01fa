"""Filter / predicate operators (SURVEY.md §2.3, F1–F5).

All are narrow (no shuffle) Column-expression filters — at 100 TB they
execute inside the parquet scan stage; simple comparisons push down to the
reader as ``PushedFilters``.

The filters that take column names build their condition as one SQL
expression over backtick-quoted names (``F.expr``): the analyzed condition
is the same as the Column-built one, for a handful of Py4J round trips
instead of dozens per column, which matters because the ingest path
rebuilds them for every micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.functions.scalars import failed_field_count, sql_name

# Reference thresholds (pet_scraper.py:403-405, verify.py:25-31)
NULL_RATIO_DROP = 0.5
LIVENESS_MAX_FAILED = 3
PLACEHOLDER_NAMES = ("dog", "cat")


def placeholder_name_filter(df: DataFrame, name_col: str = "name") -> DataFrame:
    """F1 — drop rows whose trimmed lowercase name is a placeholder
    (exact equality, not substring). Reference: pet_scraper.py:375-377."""
    n = f"lower(trim({sql_name(name_col)}))"
    names = ", ".join(f"'{p}'" for p in PLACEHOLDER_NAMES)
    return df.filter(F.expr(f"NOT ({n} IN ({names})) OR {n} IS NULL"))


def null_ratio_filter(
    df: DataFrame,
    string_cols: Iterable[str],
    bool_cols: Iterable[str] = (),
    drop_ratio: float = NULL_RATIO_DROP,
) -> DataFrame:
    """F2 — drop a row when ≥ ``drop_ratio`` of the checked fields are
    missing (None or blank string; boolean False is PRESENT).
    Reference: pet_scraper.py:364-407, threshold :403-405."""
    string_cols, bool_cols = list(string_cols), list(bool_cols)
    total = len(string_cols) + len(bool_cols)
    nulls = failed_field_count(string_cols, bool_cols)
    return df.filter(nulls < drop_ratio * total)


def liveness_filter(
    df: DataFrame,
    string_cols: Iterable[str],
    bool_cols: Iterable[str] = (),
    max_failed: int = LIVENESS_MAX_FAILED,
) -> DataFrame:
    """F3 — keep a row iff fewer than ``max_failed`` checked fields are
    missing (the verification predicate). Reference: verify.py:25-31,
    failed-field counter pet_scraper.py:550-566."""
    failed = failed_field_count(list(string_cols), list(bool_cols))
    return df.filter(failed < max_failed)


def nonblank_key_filter(df: DataFrame, key_col: str = "link") -> DataFrame:
    """F5 — ignore rows with a blank/NULL key. Reference: server.py:265-267."""
    k = sql_name(key_col)
    return df.filter(F.expr(f"{k} IS NOT NULL AND trim({k}) != ''"))


def failed_fields_col(
    string_cols: Iterable[str], bool_cols: Iterable[str] = ()
) -> Column:
    """Expose the horizontal missing-field counter (A3/X9) as a column."""
    return failed_field_count(list(string_cols), list(bool_cols))
