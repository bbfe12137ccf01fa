"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship pipeline at sf0.001;
``queries()`` / ``oracle_sql()`` expose every registered operator-query and
its DuckDB oracle (see petfinder_database_distributor_spark.registry). The
driver compares the pair at sf0.01 (row-count + schema + order-insensitive
value-hash).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from petfinder_database_distributor_spark.registry import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = load_all()
    return specs["flagship_distributor_pipeline"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star)."""
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every query."""
    return {name: spec.oracle for name, spec in load_all().items()}
