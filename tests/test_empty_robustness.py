"""Empty-fixture robustness sweep (the fifth robustness program beside
the null / unicode / extremes / dirty-data sweeps).

An EMPTY slice of a 100 TB corpus is a normal input — an empty date
partition, a filtered-out shard, a first run before any data lands — yet
the empty probe (tools/empty_probe.py, full 201-query coverage) found
EIGHT queries that crashed on it, every one a staging/commit path that
assumed at least one row: the sentinel chunk's max() over zero staged
files, three streams reading state their zero micro-batches never
committed, the partitioned merge treating a zero-file directory as an
existing table (UNABLE_TO_INFER_SCHEMA), k-means collecting seeds from
nothing, and DPP's zero-partition staging raise. Contract: the result
over nothing is the typed empty frame — never an exception.

This sweep permanently pins the eight fixed queries plus one
representative per operator family; the ad-hoc tool covers the full
registry each round.
"""

from __future__ import annotations

import pytest

# heavy tail — empty-fixture sweep (~25 s);
# all mutated-fixture robustness sweeps live behind -m slow.
pytestmark = pytest.mark.slow


# the eight fixed queries — each crashed Spark-side before
FIXED = [
    "j6_dpp_join",
    "stream_session_windows",
    "stream_late_data_drop",
    "stream_incremental_dedup",
    "cluster_kmeans_int8",
    "merge_partitioned_upsert",
    "stream_upsert_merge",
    "stream_snapshot_merge",
    # text rules, domain budgets, k-core and vacuum: zero rows (or zero
    # token mass) must not reach a divisor or an empty-array index
    "text_c4_rules",
    "domain_budget_temperature",
    "text_vocab_coverage",
    "graph_kcore_decomposition",
    "text_gopher_repetition",
    "snapshot_vacuum_retention",
]

# one per family: relational agg / window / join / dedup / ANN / text /
# sketch / sampling / snapshot / export / json / streaming-agg
FAMILY_SAMPLE = [
    "q1_pricing_summary",
    "w2_running_totals",
    "j2_asof_join",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "text_token_stats",
    "sketch_hll_distinct_users",
    "sample_stratified",
    "snapshot_merge_upsert",
    "export_roundtrip_csv",
    "json_props_extract",
    "stream_windowed_totals",
    "knn_graph_retrain_recover",
    "domain_budget_unimax",
]


@pytest.fixture(scope="module")
def empty_sf_dir():
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.empty_probe import build_empty_fixture

    return build_empty_fixture()


@pytest.fixture(scope="module")
def one_row_sf_dir(tmp_path_factory):
    """LIMIT 1 of every table — the other degenerate size (its probe
    caught a float-residue variance divergence in embedding_dim_stats and
    the late-data oracle's row-count watermark proxy breaking down)."""
    import duckdb

    tmp = str(tmp_path_factory.mktemp("onerow"))
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('/root/testdata/sf0.001/{t}.parquet')"
            f" LIMIT 1) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
        )
    return tmp


@pytest.mark.parametrize("name", FIXED + FAMILY_SAMPLE)
def test_empty_fixture_parity(spark, empty_sf_dir, name):
    """Neither engine may crash, and the (usually empty) results must
    still hash-match — the same bar as the other robustness sweeps."""
    from petfinder_database_distributor_spark.registry import load_all
    from tests.oracle_compare import assert_parity, run_oracle

    spec = load_all()[name]
    assert_parity(
        spec.fn(spark, empty_sf_dir),
        run_oracle(spec.oracle, empty_sf_dir),
        name,
    )


# the two single-row-probe finds + the same per-family sample
ONE_ROW_FIXED = ["embedding_dim_stats", "stream_late_data_drop"]


@pytest.mark.parametrize("name", ONE_ROW_FIXED + FAMILY_SAMPLE)
def test_one_row_fixture_parity(spark, one_row_sf_dir, name):
    """A 1-row corpus: zero-variance moments must be exactly zero on both
    engines (no float-residue rounding), and streaming watermark models
    must survive everything landing in one chunk."""
    from petfinder_database_distributor_spark.registry import load_all
    from tests.oracle_compare import assert_parity, run_oracle

    spec = load_all()[name]
    assert_parity(
        spec.fn(spark, one_row_sf_dir),
        run_oracle(spec.oracle, one_row_sf_dir),
        name,
    )
