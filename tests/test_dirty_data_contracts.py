"""Dirty-data contract sweep: three dirt classes, pinned.

The clean driver fixtures are generator-perfect: every embedding has a
direction, every double is finite, every props string parses. Real
100 TB corpora do not — and each of the three dirt classes below was a
LATENT wrong-answer or job-kill path before these contracts:

1. **Zero-norm vectors** — cosine's norm-product division RAISES
   DIVIDE_BY_ZERO under Spark 4's default ANSI mode (DuckDB diverges to
   NaN instead — asymmetric either way). Contract: a zero vector has no
   direction → excluded at the family entry like a NULL vector.
2. **Non-finite floats** — CAST(double('NaN') AS DECIMAL) is NULL in
   Spark (silently dropped by sums) but an Invalid Input Error in
   DuckDB: one NaN in events.value makes the oracle side of every
   decimal-exact aggregate ERROR while Spark quietly excludes the row.
   Contract: a non-finite measurement is not an observation → filtered
   at the family entry on both engines (NULL rows keep their per-query
   NULL contract). validate_constraints instead REPORTS them — a
   validator must see dirt, not hide it.
3. **Malformed JSON** — DuckDB json_extract RAISES; Spark
   get_json_object returns NULL and parse_json RAISES under ANSI.
   Contract: malformed props ≡ NULL fields (try_parse_json /
   TRY_CAST + json_valid CASE guards).

This sweep appends exactly those dirt rows to copies of the sf0.001
fixtures and requires full cross-engine hash parity over all three
families — proving both that nothing crashes AND that both engines
exclude identically.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

# heavy tail — dirty-fixture contract sweep (~60 s);
# all mutated-fixture robustness sweeps live behind -m slow.
pytestmark = pytest.mark.slow


# Every registered query whose embeddings entry carries the zero-norm
# guard (llm_pipeline._load_embeddings + the corpus_ops index family).
VECTOR_FAMILY = [
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_exact",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_pq_topk",
    "embedding_dim_stats",
    "embedding_quantize_int8",
    "embedding_gram_matrix",
    "ann_index_probe_topk",
    "ann_ivf_topk",
    "ann_pq_adc_topk",
    "ann_index_retrain_check",
    "ann_index_append_probe",
    "ann_index_group_probe",
    "dedup_semantic_semdedup",
    "stream_ann_index_append",
    # further queries that consume embeddings: the kNN graph pair
    # carries the nonzero_vectors guard inside knn_graph_decisions; the
    # k-center selector needs NO guard (squared-L2 is well-defined on a
    # zero vector) and must stay parity-identical WITH the dirty rows
    # included on both engines.
    "knn_graph_cells",
    "knn_graph_retrain_recover",
    "sample_kcenter_greedy",
]

# Every registered query whose events.value entry carries the finite
# guard; validate_constraints is in the family but REPORTS instead.
VALUE_FAMILY = [
    "j3_range_join",
    "window_range_frame",
    "agg_salted_twophase",
    "j4_salted_join",
    "unpivot_event_metrics",
    "events_anomaly_zscore",
    "w2_running_totals",
    "j6_dpp_join",
    "sketch_histogram_quantiles",
    "validate_constraints",
    "timeseries_gapfill_locf",
    "rollup_incremental_merge",
    "text_log_parse",
    "mv_incremental_maintenance",
    "snapshot_pruned_scan",
    "stream_windowed_totals",
    "stream_stateful_counters",
    "stream_session_windows",
    "stream_static_enrich",
    "stream_late_data_drop",
    "stream_anomaly_zscore",
]

JSON_FAMILY = ["json_props_extract", "variant_props_extract"]


@pytest.fixture(scope="module")
def dirty_sf_dir(tmp_path_factory):
    # fixture body lives in tests/degenerate_fixtures.py::build_dirty_fixture
    # so the stage-promotion gate shares the exact same dirt
    from tests.degenerate_fixtures import build_dirty_fixture

    return build_dirty_fixture(str(tmp_path_factory.mktemp("dirtysweep")))


def _assert_family_parity(spark, dirty_sf_dir, name):
    from petfinder_database_distributor_spark.registry import load_all
    from tests.oracle_compare import assert_parity, run_oracle

    spec = load_all()[name]
    assert_parity(
        spec.fn(spark, dirty_sf_dir),
        run_oracle(spec.oracle, dirty_sf_dir),
        name,
    )


@pytest.mark.parametrize("name", VECTOR_FAMILY)
def test_zero_norm_vector_parity(spark, dirty_sf_dir, name):
    _assert_family_parity(spark, dirty_sf_dir, name)


@pytest.mark.parametrize("name", VALUE_FAMILY)
def test_nonfinite_value_parity(spark, dirty_sf_dir, name):
    _assert_family_parity(spark, dirty_sf_dir, name)


@pytest.mark.parametrize("name", JSON_FAMILY)
def test_malformed_json_parity(spark, dirty_sf_dir, name):
    _assert_family_parity(spark, dirty_sf_dir, name)


def test_oracle_envelope_literals_match_measure_range():
    """Anti-drift pin: the finite-
    measure contract's range bound is embedded as a literal in ~20
    oracle strings (they are plain SQL, not f-strings); every such
    literal — decimal, integer, OR scientific form — must equal
    schema.MEASURE_RANGE so the envelope can never be widened on one
    engine only."""
    import re

    from petfinder_database_distributor_spark.registry import load_all
    from petfinder_database_distributor_spark.schema import MEASURE_RANGE

    pat = re.compile(
        r"abs\((?:\w+\.)?value\)\s*(?:<|>=)\s*"
        r"([0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"
    )
    seen = 0
    for name, spec in load_all().items():
        oracle = spec.oracle
        for lit in pat.findall(oracle):
            assert float(lit) == MEASURE_RANGE, (name, lit, MEASURE_RANGE)
            seen += 1
    assert seen >= 20, f"expected >=20 envelope literals, found {seen}"


def test_validator_reports_nonfinite(spark, dirty_sf_dir):
    """The validator must SEE the dirt the rest of the family filters:
    exactly the 3 injected non-finite rows and the 1 out-of-envelope
    row, counted over non-null values."""
    from petfinder_database_distributor_spark.registry import load_all

    rows = {
        r["rule"]: (r["n_checked"], r["n_violations"])
        for r in load_all()["validate_constraints"].fn(spark, dirty_sf_dir).collect()
    }
    assert rows["value_finite"][1] == 3, rows
    assert rows["value_in_range"][1] == 1, rows


def test_zero_vectors_present_and_excluded(spark, dirty_sf_dir):
    """The fixture actually contains zero vectors, and the family loader
    excludes exactly the dirty rows (2 zero + 1 NULL vec + 1 NULL id)."""
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        _load_embeddings,
    )
    from petfinder_database_distributor_spark.schema import load_table

    raw = load_table(spark, dirty_sf_dir, "embeddings").count()
    kept = _load_embeddings(spark, dirty_sf_dir).count()
    assert raw - kept == 4, (raw, kept)


def test_fixture_mass_inside_parity_envelope(dirty_sf_dir):
    """The aggregate-parity guard's precondition, pinned: every
    fixture's decimal-exact value mass sum(|v|) over finite in-envelope
    rows satisfies mass * 10^2 < 2^53 — the bound under which every
    DOUBLE-typed decimal-sum output (rescale contract: output scale
    <= 2) is last-bit identical across engines. If a future fixture or
    generator change crosses this, value_mass_parity flips and this
    test names the fixture."""
    import duckdb

    from tests.conftest import SF_SMALL, TESTDATA

    for sf_dir in (SF_SMALL, f"{TESTDATA}/sf0.01", f"{TESTDATA}/sf0.1", dirty_sf_dir):
        mass = duckdb.sql(
            f"""SELECT coalesce(sum(CASE WHEN isfinite(value)
                          AND abs(value) < 1000000000000.0
                     THEN CAST(abs(value) AS DECIMAL(38,6))
                     ELSE CAST(0 AS DECIMAL(38,6)) END),
                     CAST(0 AS DECIMAL(38,6)))
               FROM read_parquet('{sf_dir}/events.parquet')"""
        ).fetchone()[0]
        assert int(mass * 100) < 2**53, (sf_dir, mass)


def test_value_mass_parity_flag_flips(spark, tmp_path):
    """Beyond-mass witness: ~100 in-envelope rows just under the 1e12
    per-value wall push sum(|v|)*100 past 2^53 — the validator's
    value_mass_parity rule must flip to 1 with FULL cross-engine parity
    (the rule itself is decimal-exact, so it is immune to the very
    mis-rounding it reports)."""
    import duckdb

    from petfinder_database_distributor_spark.registry import load_all
    from tests.conftest import SF_SMALL
    from tests.degenerate_fixtures import TABLES
    from tests.oracle_compare import assert_parity, run_oracle

    import shutil

    tmp = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"""COPY (
          SELECT * FROM read_parquet('{SF_SMALL}/events.parquet')
          UNION ALL
          SELECT 200000 + i, TIMESTAMP '2024-02-03 10:00:00' + INTERVAL (i) SECOND,
                 18, 'click', 999999999999.0, '{{"k": 99}}'
          FROM range(100) t(i)
        ) TO '{tmp}/events.parquet' (FORMAT PARQUET)"""
    )
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")
    spec = load_all()["validate_constraints"]
    assert_parity(
        spec.fn(spark, tmp), run_oracle(spec.oracle, tmp), "validate_constraints"
    )
    rows = {r["rule"]: r["n_violations"] for r in spec.fn(spark, tmp).collect()}
    assert rows["value_mass_parity"] == 1, rows
