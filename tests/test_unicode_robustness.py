"""Unicode-casing parity regression.

The JVM lowercases with full Unicode SpecialCasing — lower('İ') is
'i'+U+0307 and capital Σ takes the context-aware final-sigma form —
while DuckDB applies the simple per-codepoint map ('i', 'σ'). Any
Turkish or Greek document therefore tokenized DIFFERENTLY per engine
and every downstream hash (fingerprints, MinHash, SimHash, shingles)
silently diverged. ``portable_lower`` (operators/text.py) pre-
substitutes exactly those two divergent classes on BOTH engines; this
suite runs the text family over Turkish/Greek/German/ligature documents
(including an exact-duplicate pair that must still fingerprint
identically) and requires full cross-engine parity.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

from tests.conftest import SF_SMALL

# heavy tail — unicode-fixture sweep (~15 s);
# all mutated-fixture robustness sweeps live behind -m slow.
pytestmark = pytest.mark.slow


FAMILY = [
    "text_lang_id",
    "text_token_stats",
    "text_fingerprint",
    "dedup_exact",
    "dedup_simhash",
    "dedup_ngram_jaccard_capped",
    "dedup_minhash_lsh",
    "text_bigram_tf",
    "search_bm25_topk",
    "text_commonness_score",
    "bpe_first_merges",
    # the perplexity/DSIR family tokenizes through the same
    # portable_lower path; the pHash dedup hashes raw UTF-8 BYTES (hex
    # nibbles per byte on the oracle side), so multibyte text must
    # produce identical strips cross-engine
    "text_perplexity_bucket",
    "text_perplexity_interp",
    "sample_importance_dsir",
    "sample_importance_dsir_draw",
    "dedup_multimodal_phash",
    # gopher's per-word [a-z] regex and unimax's token counts both see the
    # portable_lower-normalized forms
    "text_gopher_rules",
    "domain_budget_unimax",
]


@pytest.fixture(scope="module")
def uni_sf_dir(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("unisweep"))
    con = duckdb.connect()
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/documents.parquet')
      UNION ALL SELECT 99980, 'İstanbul ΟΔΟΣ kedi KÖPEK the of a', 'tr', 'unisrc', 33
      UNION ALL SELECT 99981, 'ΣΟΦΙΑ straße ẞB Ĳs ﬃnancial the', 'el', 'unisrc', 31
      UNION ALL SELECT 99982, 'İstanbul ΟΔΟΣ kedi KÖPEK the of a', 'tr', 'unisrc', 33
    ) TO '{tmp}/documents.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")
    return tmp


@pytest.mark.parametrize("name", FAMILY)
def test_unicode_parity(spark, uni_sf_dir, name):
    from petfinder_database_distributor_spark.registry import load_all
    from tests.oracle_compare import assert_parity, run_oracle

    spec = load_all()[name]
    assert_parity(spec.fn(spark, uni_sf_dir), run_oracle(spec.oracle, uni_sf_dir), name)


def test_turkish_duplicates_fingerprint_identically(spark, uni_sf_dir):
    """The practical consequence: the two identical Turkish docs must land
    in one exact-dedup group — before portable_lower their fingerprints
    simply hash-matched per engine but the ENGINES disagreed."""
    from petfinder_database_distributor_spark.registry import load_all

    rows = load_all()["dedup_exact"].fn(spark, uni_sf_dir).collect()
    groups = {r["keep_id"]: r["group_size"] for r in rows}
    assert groups.get(99980) == 2  # 99980 + 99982 dedup together
