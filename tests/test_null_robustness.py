"""Null-robustness regression suite (registry-wide sweep).

A synthetic sf0.001 layout with NULLs injected into the three "dirty
data" tables — documents (NULL/empty text, NULL lang/source), embeddings
(NULL vector, NULL id), events (NULL ts/user/type/value/props) — caught
TWENTY queries that crashed or silently diverged from their oracles.
Every fix landed as an explicit contract (NULL text ≡ '', vector rows
with NULL id/embedding excluded, ordered windows exclude NULL-ts rows,
NULL event_type ≡ '' state, zero-byte media payloads, parse_boolean
tri-state in the export oracles) — this file pins all of them.

The clean-data oracle gate can never catch these: both engines agreeing
on the shipped fixtures says nothing about rows the fixtures don't
contain.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

from tests.conftest import SF_SMALL

# heavy tail — null-fixture sweep over much of the registry (~80 s);
# all mutated-fixture robustness sweeps live behind -m slow.
pytestmark = pytest.mark.slow


# the queries the sweep originally failed, grouped by contract
SWEPT = [
    # text family: NULL text ≡ '' (tokens()/_TOKS_SQL coalesce;
    # array_to_string([]) vs concat_ws divergence)
    "text_lang_id",
    "text_fingerprint",
    "dedup_exact",
    "pack_sequences_greedy",
    # simhash: token-less docs pin to signature 0 on BOTH engines; NULL
    # doc_id rows excluded (the oracle's id-join would pin them to 0 while
    # Spark computed a real signature)
    "dedup_simhash",
    "dedup_simhash_pairs",
    # vector family: NULL id/vector rows excluded
    "dedup_embedding_cosine",
    "ann_lsh_topk",
    "embedding_quantize_int8",
    "embedding_dim_stats",
    # media: NULL text ≡ zero-byte payload; NULL doc_id flows through the
    # Arrow batch as a null (nullable Int64 — a plain int64 astype raises)
    "mm_decode_features",
    "mm_frame_sample",
    "mm_resize",
    # ordered windows: NULL-ts rows excluded (NULLS FIRST vs LAST)
    "w2_running_totals",
    "sessionize_events",
    "ref_key_dedup",
    "transitions_grouped_pandas",
    # partitioned staging: NULL partition keys excluded
    "j6_dpp_join",
    # export boundary: parse_boolean tri-state / encoded '' in oracles
    "export_roundtrip_csv",
    "s8_json_rows",
    # dataset-assembly ops (added with the family): NULL doc_id excluded
    # from the permutation (NULL sort-order divergence); the weighted
    # sample drops NULL doc_id via the NULL hash coin and NULL n_chars via
    # an EXPLICIT guard (least() skips NULLs, so the "natural" behavior
    # would keep unknown-length rows with probability 1)
    "global_shuffle_index",
    "sample_weighted",
    # JSONL boundary: NULL fields are absent keys on write, NULL on read;
    # grouped HLL: NULL event_type ≡ '' group, NULL user_id excluded
    "export_roundtrip_jsonl",
    "sketch_hll_by_group",
    # corpus curation + layout planning: NULL doc_id rows excluded (chunk
    # attribution / deterministic tiebreak); NULL lang its own percentile
    # group; NULL source/lang ≡ '' file group, NULL n_chars ≡ 0 bytes
    "corpus_boilerplate_strip",
    "quality_percentile_filter",
    "compaction_bin_pack",
    # ORC boundary: full dirty-events surface (NULL ts/user/type/value)
    # survives the columnar round-trip; NULL event_type falls out of the
    # read-back predicate in both engines
    "export_roundtrip_orc",
    # governance ops: validation rules count NULLs as completeness
    # violations (count(col) semantics agree); k-anonymity coalesces
    # source/lang, NULL length is its own bucket; schema evolution drops
    # NULL doc_id rows (NULL % 2 matches neither generation)
    "validate_constraints",
    "kanonymity_check",
    "parquet_schema_evolution",
    # time series: NULL user_id/ts/value rows are not observations — a day
    # whose only events carry NULLs is a gap, filled by LOCF
    "timeseries_gapfill_locf",
    # raw-log boundary: rows with NULL key fields have no log-line
    # representation and are not rendered (oracle states the predicate)
    "text_log_parse",
    # continuous aggregate: NULL ts/type/value rows contribute to neither
    # the materialized rollup nor the open-day path
    "rollup_incremental_merge",
    # the composite scalar suite renders every NULL
    # through explicit coalesce('∅') / tri-state cases before checksumming;
    # the snapshot upsert excludes NULL event_id (a keyless row can't be
    # merged); the Jaccard chooser inherits tokens()' NULL-text ≡ ''
    # contract through BOTH postures; the skew demo's remap keys NULL
    # l_suppkey out via the join
    "ref_scalar_suite",
    "snapshot_merge_upsert",
    "dedup_ngram_jaccard",
    "j8_aqe_skew_join",
    # null doc_id rows must vanish from both the batch slice and
    # the index build; null text = 0 tokens (kept, adds nothing to the
    # budget); null source forms its own budget window group but stays
    # out of count(DISTINCT source)
    "dedup_incremental_batch",
    "domain_budget_sample",
    # null doc_id rows are excluded from the snapshot commit AND from the
    # delete-slice; null source/n_chars ride through both engines
    "snapshot_tombstone_delete",
    # the format-API snapshot queries filter null ids/types
    # at entry (null event rows never reach a commit); the classifier
    # treats NULL text as 0 tokens (filtered by n_toks > 0); the PQ path
    # excludes null id/vector rows like every vector-family query
    "snapshot_source_scan",
    "stream_snapshot_source",
    "stream_snapshot_pipe",
    "quality_classifier_score",
    "ann_pq_adc_topk",
    # null user/ts/type rows are filtered before the commit (the Morton
    # key needs both dimensions; a NULL key row would vanish silently)
    "snapshot_zorder_optimize",
    # each of these inherits an already-pinned contract: NULL text ≡ '' +
    # len<2 excluded by construction (perplexity), NULL user/ts excluded
    # from the ordered stateful stream (retention), NULL id/vector excluded
    # from the vector family (all three index queries), NULL event_type/id
    # excluded at the append source (concurrent append)
    "text_perplexity_bucket",
    "stream_retention_cohorts",
    "ann_index_probe_topk",
    "ann_index_append_probe",
    # the group-pointer probe inherits the vector family's contract
    "ann_index_group_probe",
    "stream_ann_index_append",
    "snapshot_concurrent_append",
    # the interp/DSIR family inherits the perplexity
    # contracts (NULL text ≡ '' ≡ 0 tokens; a doc with no features never
    # reaches the per-doc frame; the orphan NULL-doc_id row groups like
    # any key — its tercile position is fixed by its distinct score);
    # the draw and the pHash dedup EXCLUDE NULL doc_id explicitly (a
    # NULL coin/pair id can never join back); semantic dedup and the
    # drift gate ride the vector family's NULL id/vector exclusion; the
    # concurrent merge filters NULL event keys at entry
    "text_perplexity_interp",
    "sample_importance_dsir",
    "sample_importance_dsir_draw",
    "dedup_multimodal_phash",
    "dedup_semantic_semdedup",
    "ann_index_retrain_check",
    "snapshot_concurrent_merge",
    # unimax groups NULL source as '' (the compaction_bin_pack precedent —
    # its rank needs a NULL-free total order) and inherits NULL text ≡ 0
    # tokens; gopher rules coalesce text and emit the NULL-doc_id row like
    # any other; the two vector queries ride the family's NULL id/vector
    # exclusion (kcenter filters at entry, the kNN graph's committed codes
    # are built from the filtered corpus)
    "domain_budget_unimax",
    "text_gopher_rules",
    "sample_kcenter_greedy",
    "knn_graph_cells",
]


@pytest.fixture(scope="module")
def null_sf_dir(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("nullsweep"))
    con = duckdb.connect()
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/documents.parquet')
      UNION ALL SELECT 99990, NULL, 'en', 'nullsrc', 0
      UNION ALL SELECT 99991, 'some text here', NULL, NULL, 14
      UNION ALL SELECT 99992, '', 'en', 'nullsrc', 0
      UNION ALL SELECT NULL, 'orphan row no id', 'en', 'nullsrc', 16
      UNION ALL SELECT 99993, 'row with null length', 'en', 'nullsrc', NULL
    ) TO '{tmp}/documents.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/embeddings.parquet')
      UNION ALL SELECT 99990, NULL, 1
      UNION ALL SELECT NULL,
        (SELECT embedding FROM read_parquet('{SF_SMALL}/embeddings.parquet') LIMIT 1),
        NULL
    ) TO '{tmp}/embeddings.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/events.parquet')
      UNION ALL SELECT 888801, NULL, 3, 'view', 1.0, NULL
      UNION ALL SELECT 888802, TIMESTAMP '2024-01-01 00:00:00', NULL, 'click', NULL, NULL
      UNION ALL SELECT 888803, TIMESTAMP '2024-01-02 00:00:00', 4, NULL, 2.0, '{{}}'
    ) TO '{tmp}/events.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")
    return tmp


@pytest.mark.parametrize("name", SWEPT)
def test_null_parity(spark, null_sf_dir, name):
    from petfinder_database_distributor_spark.registry import load_all
    from tests.oracle_compare import assert_parity, run_oracle

    spec = load_all()[name]
    assert_parity(spec.fn(spark, null_sf_dir), run_oracle(spec.oracle, null_sf_dir), name)
