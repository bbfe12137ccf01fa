"""Query registry — the single source of truth behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 (plus the north-star
generalization layer) registers here as a named query: a Spark callable
``(spark, sf_dir) -> DataFrame`` and the equivalent DuckDB oracle SQL over
the same parquet tables. The two are hash-compared at sf0.01 (row-count +
schema + order-insensitive value-hash), so both sides alias computed
columns identically.

Float discipline: any aggregate over DOUBLE columns is computed via
``CAST(... AS DECIMAL)`` → exact sum → ``CAST(... AS DOUBLE)`` in BOTH
engines, so results are bit-identical regardless of summation order
(summing doubles is order-dependent; decimal sums are exact).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str  # DuckDB SQL over the same parquet tables
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str, doc: str = ""):
    """Decorator: add a query and its DuckDB oracle to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        if not oracle:
            raise ValueError(f"query {name} has no oracle SQL")
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _heap_hygiene(fn: QueryFn) -> QueryFn:
    """Pressure-triggered GC before a query runs in a LONG-LIVED session.

    Dozens of checkpoint/broadcast-heavy queries back to back in one
    small-heap vanilla session (the grading driver's shape: default 1 GiB
    driver memory, 50 queries, one JVM) can OOM mid-window even though
    every individual query fits: localCheckpoint blocks and broadcasts
    from FINISHED queries are reclaimed by Spark's ContextCleaner only
    after BOTH the Python wrapper and the JVM object are garbage
    collected, and that chain can lag allocation under load (observed
    once: heap OOM at window query #21 in a 1 GiB driver-sim run; the
    identical rerun passed — a GC race, not a plan cost). When the JVM
    heap is >55% full, nudge the whole chain: Python gc (releases py4j
    handles) then System.gc() (processes the cleaner's weak refs). Costs
    ~1 ms when heap is healthy, one full GC when it isn't; sessions with
    a real heap (bench/tests run at 8 GiB) essentially never trigger it."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            rt = spark._jvm.Runtime.getRuntime()  # noqa: SLF001
            if rt.totalMemory() - rt.freeMemory() > 0.55 * rt.maxMemory():
                import gc

                gc.collect()
                spark._jvm.System.gc()  # noqa: SLF001
        except Exception:  # noqa: BLE001, S110 — hygiene must never fail a query
            pass
        return fn(spark, sf_dir)

    return wrapped


def load_all() -> dict[str, QuerySpec]:
    """Import every plan module (each registers its queries on import) and
    return the registry in registration order."""
    from petfinder_database_distributor_spark.plans import (  # noqa: F401
        advanced_relational,
        corpus_ops,
        dataset_ops,
        extraction_plans,
        flagship,
        llm_pipeline,
        mining,
        physical,
        reference_ops,
        relational,
        source_sink_plans,
        streaming_plans,
        tpch_extended,
    )

    return {
        name: QuerySpec(fn=_heap_hygiene(s.fn), oracle=s.oracle, doc=s.doc)
        for name, s in QUERIES.items()
    }
