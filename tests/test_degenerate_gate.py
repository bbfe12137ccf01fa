"""Degenerate-shape gate: full cross-engine hash parity on four
degenerate fixtures for the queries listed in ``GATED``:

  * empty    — zero rows in every table (an empty date partition is a
               normal 100 TB input, not an error),
  * one-row  — LIMIT 1 of every table (zero-variance moments, one-chunk
               watermarks, single-seed models),
  * dirty    — zero-norm vectors, non-finite and in-envelope huge
               measures, malformed JSON,
  * all-empty-text — token mass is zero while the corpus is not (the
               wsum=0 divisor class).
"""

from __future__ import annotations

import pytest

from petfinder_database_distributor_spark.registry import load_all
from tests.oracle_compare import assert_parity, run_oracle

# heavy tail — the sweep takes ~85 s; excluded from the default fast set,
# run with -m slow.
pytestmark = pytest.mark.slow

# The budget/allocation, k-center, kNN-graph, text-rule, sketch, graph
# traversal and vacuum queries: each divides by a corpus-derived total,
# indexes into a per-corpus array, or seeds from the first row, so an
# empty, single-row, dirty or token-free corpus is where they break
# first. Sweeping every registered query is a separate, larger gate.
GATED = [
    "domain_budget_unimax",
    "domain_budget_temperature",
    "sample_kcenter_greedy",
    "sample_kcenter_bucketed",
    "sample_stratified_neyman",
    "knn_graph_cells",
    "text_gopher_rules",
    "text_c4_rules",
    "text_gopher_repetition",
    "text_vocab_coverage",
    "text_zipf_fit",
    "text_paragraph_dedup",
    "sketch_kmv_distinct",
    "stream_sketch_kmv",
    "graph_kcore_decomposition",
    "graph_bfs_layers",
    "json_kv_profile",
    "snapshot_vacuum_retention",
]

SPECS = load_all()


@pytest.fixture(scope="module")
def gate_fixtures(tmp_path_factory):
    from tests.degenerate_fixtures import (
        build_all_empty_text_fixture,
        build_dirty_fixture,
        build_one_row_fixture,
    )
    from tools.empty_probe import build_empty_fixture

    return {
        "empty": build_empty_fixture(),
        "one_row": build_one_row_fixture(str(tmp_path_factory.mktemp("gate1r"))),
        "dirty": build_dirty_fixture(str(tmp_path_factory.mktemp("gatedirty"))),
        "all_empty_text": build_all_empty_text_fixture(
            str(tmp_path_factory.mktemp("gateempties"))
        ),
    }


@pytest.mark.parametrize("shape", ["empty", "one_row", "dirty", "all_empty_text"])
@pytest.mark.parametrize("name", GATED)
def test_degenerate_parity(spark, gate_fixtures, name, shape):
    """Neither engine may crash, and results (usually empty) must still
    hash-match."""
    spec = SPECS[name]
    sf_dir = gate_fixtures[shape]
    assert_parity(spec.fn(spark, sf_dir), run_oracle(spec.oracle, sf_dir), f"{name}[{shape}]")
