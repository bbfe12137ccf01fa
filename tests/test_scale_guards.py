"""Scale guards on the dedup operators: the quadratic paths refuse loudly
instead of launching runaway shuffles (the posture
dedup_embedding_cosine_exact pioneered with its 100k all-pairs guard).

- ngram_jaccard_pairs (uncapped): the postings self-join produces exactly
  Σ df(s)² rows — quadratic in duplication (8x replicas → 19x wall in
  tools/scaling_probe.py). A df-count aggregate estimates the join size
  and refuses above max_join_rows, pointing at df_cap.
- levenshtein_neardup_counts: deletion-variant postings scale with Σ len²,
  so a document-class text column must be rejected, not silently exploded —
  SymSpell is a short-string algorithm.

Round-4 change: guards are DEFERRED (util.execution_guard — scalar
subquery + assert_true). Plan construction launches NO Spark job; the
violation surfaces at first action as SparkRuntimeException
[USER_RAISED_EXCEPTION], failing the job before the guarded shuffle
materializes. These tests pin both halves: zero jobs at build, loud
refusal at action.
"""

from __future__ import annotations

import pytest

from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
    levenshtein_neardup_counts,
    ngram_jaccard_pairs,
)
from petfinder_database_distributor_spark.schema import load_table
from tests.conftest import SF_SMALL


def n_jobs(spark) -> int:
    # Max job id, NOT len(): the status tracker evicts jobs past
    # spark.ui.retainedJobs, so a length can shrink mid-suite and make
    # delta assertions flaky; job ids are monotone.
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) if ids else -1


def test_jaccard_guard_refuses_heavy_duplication(spark):
    # 40 copies of the same text: Σdf² = (n_shingles) * 40² — tiny data,
    # huge relative blow-up; a low bound must trip before the join output
    # materializes, and constructing the plan must launch no job.
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    before = n_jobs(spark)
    guarded = ngram_jaccard_pairs(df, "doc_id", "text", max_join_rows=1_000)
    assert n_jobs(spark) == before, "guard must not run a Spark job at plan-build"
    # The refusal is USER_RAISED_EXCEPTION, but the surfaced class varies:
    # when AQE materializes several stages concurrently the guard error
    # arrives wrapped in STAGE_MATERIALIZATION_MULTIPLE_FAILURES — match on
    # the message, not the class.
    with pytest.raises(Exception, match="df_cap"):
        guarded.count()
    # Same data passes with the cap (the deployable path) — and with the
    # guard bound raised (explicit override).
    assert ngram_jaccard_pairs(df, "doc_id", "text", df_cap=64).count() > 0
    assert (
        ngram_jaccard_pairs(df, "doc_id", "text", max_join_rows=10_000_000).count()
        > 0
    )


def test_jaccard_guard_passes_real_corpus(spark):
    # The registered uncapped query must keep running at test scale: the
    # default bound is far above the documents table's measured Σdf²
    # (54k at sf0.01) while still catching duplication blow-ups at scale.
    docs = load_table(spark, SF_SMALL, "documents")
    assert ngram_jaccard_pairs(docs, "doc_id", "text").count() >= 0


def test_levenshtein_guard_rejects_long_text(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    before = n_jobs(spark)
    guarded = levenshtein_neardup_counts(docs, "doc_id", "text")
    assert n_jobs(spark) == before, "guard must not run a Spark job at plan-build"
    with pytest.raises(Exception, match="max_len"):  # class varies under AQE
        guarded.count()


def test_levenshtein_guard_disable_and_short_ok(spark):
    part = load_table(spark, SF_SMALL, "part")
    # part names are short — guard passes untouched
    out = levenshtein_neardup_counts(part, "p_partkey", "p_name")
    assert out.count() >= 0
    # explicit opt-out also works on short strings
    short = part.limit(50)
    assert (
        levenshtein_neardup_counts(short, "p_partkey", "p_name", max_len=None).count()
        >= 0
    )


def test_ensure_parallelism_never_plans_or_executes(spark):
    """A ``df.rdd.getNumPartitions()`` probe
    physical-planned the frame, which EXECUTES any scalar-subquery guard
    already attached — callers had to remember a fragile ordering. The
    metadata-based estimator must (a) launch zero Spark jobs, (b) be safe
    to call on a frame that already carries a violated deferred guard
    (the guard must fire at the real action, not inside the probe), and
    (c) still insert the repartition a small scan needs."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.util import (
        ensure_parallelism,
        execution_guard,
    )

    df = load_table(spark, SF_SMALL, "events")
    # A guard whose scalar subquery is violated for this data.
    longest = df.agg(F.max(F.length(F.col("event_type")))).scalar()
    guarded = execution_guard(
        df, F.coalesce(longest, F.lit(0)) < F.lit(0), F.lit("guard fired")
    )
    before = n_jobs(spark)
    out = ensure_parallelism(guarded)  # must neither run jobs nor raise
    assert n_jobs(spark) == before, "partition probe must not run Spark jobs"
    with pytest.raises(Exception, match="guard fired"):
        out.count()  # the guard still fires at the real action
    # (c) the repartition still happens for a small single-file scan
    small = ensure_parallelism(load_table(spark, SF_SMALL, "documents"))
    assert "Repartition" in small._jdf.queryExecution().logical().toString() or (
        small.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )


def test_parse_bytes_respects_unit_suffixes():
    """'128m' parsed by digit-stripping would be 128 BYTES and silently
    disable ensure_parallelism's repartition — the suffix is load-bearing."""
    from petfinder_database_distributor_spark.util import _parse_bytes

    assert _parse_bytes("134217728b") == 134217728
    assert _parse_bytes("134217728") == 134217728
    assert _parse_bytes("128m") == 128 << 20
    assert _parse_bytes("128MB") == 128 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes("512k") == 512 << 10


def test_embedding_exact_guard_uses_footer_metadata(spark):
    # The 100k all-pairs guard must come from parquet footer metadata —
    # zero Spark jobs at plan-build.
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        dedup_embedding_cosine_exact,
    )
    from petfinder_database_distributor_spark.util import parquet_num_rows

    import duckdb

    n = parquet_num_rows(SF_SMALL, "embeddings")
    want = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMALL}/embeddings.parquet'"
    ).fetchone()[0]
    assert n == want, "footer count must equal the true row count"
    # Baseline: load_table itself costs one parquet-listing job; the guard
    # must add ZERO on top of that loader cost.
    before = n_jobs(spark)
    load_table(spark, SF_SMALL, "embeddings")
    loader_jobs = n_jobs(spark) - before
    before = n_jobs(spark)
    dedup_embedding_cosine_exact(spark, SF_SMALL)
    assert n_jobs(spark) - before <= loader_jobs, (
        "the size guard must not add a Spark job beyond the loader's own"
    )
