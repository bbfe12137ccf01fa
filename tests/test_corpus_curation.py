"""Corpus-curation + layout-planning ops: boilerplate suppression must
broadcast its (tiny by construction) common-chunk set, the percentile
filter must keep ~75% of every language, and the compaction planner's
bins must be contiguous runs of the key order. The Gopher / C4 /
repetition rule sets and the JSON key profile are pinned rule by rule."""

from __future__ import annotations

from pyspark.sql import functions as F

from petfinder_database_distributor_spark.registry import load_all
from tests.conftest import SF_ORACLE, SF_SMALL
from tests.test_plan_quality import plan_of

SPECS = load_all()


def test_boilerplate_common_set_is_broadcast(spark):
    """The common-chunk set joins back onto the corpus-sized chunk stream
    via broadcast — a shuffled join here would re-shuffle every chunk a
    second time for a dimension that is tiny by construction."""
    p = plan_of(spark, "corpus_boilerplate_strip")
    assert "BroadcastHashJoin" in p, "common-set join must broadcast"


def test_boilerplate_accounting(spark):
    """Per-doc chunk accounting: boilerplate never exceeds total chunks,
    and a full-token doc (no boilerplate) keeps every token. The planted
    near-duplicate docs guarantee a non-empty common set."""
    rows = SPECS["corpus_boilerplate_strip"].fn(spark, SF_SMALL).collect()
    assert rows, "non-empty corpus must produce rows"
    assert any(r.n_common > 0 for r in rows), (
        "the planted duplicate documents must surface boilerplate chunks"
    )
    for r in rows:
        assert 0 <= r.n_common <= r.n_chunks
        # kept_tokens counts only non-common chunks: bounded by 8/chunk
        assert r.kept_tokens <= (r.n_chunks - r.n_common) * 8


def test_percentile_filter_keeps_three_quarters_per_lang(spark):
    """Relative filtering is per-language: every language with n docs
    keeps exactly the docs whose unique (quality, doc_id) rank is at or
    above the 25th percentile — n - ceil((n-1)/4) of them."""
    kept = (
        SPECS["quality_percentile_filter"]
        .fn(spark, SF_ORACLE)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    from petfinder_database_distributor_spark.schema import load_table

    totals = (
        load_table(spark, SF_ORACLE, "documents")
        .filter(F.col("doc_id").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    for r in totals.join(kept, "lang", "left").collect():
        n, k = r.n, r.k or 0
        # percent_rank >= 0.25 over unique ranks keeps rows with
        # rank-1 >= 0.25*(n-1): n - ceil(0.25*(n-1)) rows
        import math

        expect = n - math.ceil(0.25 * (n - 1)) if n > 1 else n
        assert k == expect, f"lang {r.lang}: kept {k}, expected {expect} of {n}"


def test_compaction_bins_are_contiguous_and_sized(spark):
    """bin_id must be non-decreasing in (source, lang) order (each bin is
    a contiguous run of the layout order) and reproduce the greedy
    cumulative-size assignment exactly."""
    rows = sorted(
        SPECS["compaction_bin_pack"].fn(spark, SF_SMALL).collect(),
        key=lambda r: (r.source, r.lang),
    )
    cum, prev_bin = 0, 0
    for r in rows:
        assert r.bin_id == cum // 5000, f"{r.source}/{r.lang}: wrong bin"
        assert r.bin_id >= prev_bin, "bins must be contiguous in key order"
        prev_bin = r.bin_id
        cum += r.size_chars
    assert prev_bin > 0, "fixture must span multiple bins"


def test_percentile_filter_keeps_singleton_language(spark, tmp_path):
    """A language with exactly ONE document must be kept: percent_rank is
    0 for a 1-row partition in both engines, so without the explicit
    n_lang guard the relative cut would discard exactly the low-resource
    language it exists to protect. Verified against the oracle on a
    fixture with an injected singleton language."""
    import shutil

    import duckdb

    tmp = str(tmp_path / "singleton")
    import os

    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute(f"""COPY (
      SELECT * FROM read_parquet('{SF_SMALL}/documents.parquet')
      UNION ALL SELECT 77777, 'lone document of its language', 'xx', 'src0', 29
    ) TO '{tmp}/documents.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")

    from tests.oracle_compare import assert_parity, run_oracle

    spec = SPECS["quality_percentile_filter"]
    df = spec.fn(spark, tmp)
    assert_parity(df, run_oracle(spec.oracle, tmp), "quality_percentile_filter")
    kept_xx = df.filter(F.col("lang") == "xx").collect()
    assert len(kept_xx) == 1 and kept_xx[0].doc_id == 77777


def test_validate_constraints_single_scan(spark):
    """All five rules must evaluate over ONE scan of events — a per-rule
    scan (the naive UNION the oracle states) would read the corpus five
    times."""
    p = plan_of(spark, "validate_constraints")
    assert p.count("events.parquet") == 1, "rules must share one scan"


def test_validate_constraints_rule_values(spark):
    rows = {r.rule: r for r in SPECS["validate_constraints"].fn(spark, SF_SMALL).collect()}
    assert set(rows) == {
        "event_id_complete", "event_id_unique", "user_id_complete",
        "value_non_negative", "event_type_in_domain", "value_finite",
        "value_in_range", "vec_id_unique", "value_mass_parity",
    }
    # the non-finite contract's reporting rule: clean fixture = 0
    assert rows["value_finite"].n_violations == 0
    # the shipped fixture is clean on these rules; the null-fixture parity
    # run (tests/test_null_robustness.py) exercises the violation paths
    assert rows["event_id_complete"].n_violations == 0
    assert rows["event_id_unique"].n_violations == 0
    # the dup-key contract's reporting rule: clean fixture = 0
    assert rows["vec_id_unique"].n_violations == 0
    # the aggregate-parity guard: the fixture's decimal
    # mass sits orders below the 2^53 wall, so the flag must be 0
    assert rows["value_mass_parity"].n_violations == 0
    assert all(r.n_checked > 0 for r in rows.values())


def test_kanonymity_flags_only_small_groups(spark):
    rows = SPECS["kanonymity_check"].fn(spark, SF_SMALL).collect()
    assert rows, "fixture must contain risky quasi-groups"
    assert all(0 < r.group_size < 5 for r in rows)


def test_schema_evolution_union_schema(spark):
    df = SPECS["parquet_schema_evolution"].fn(spark, SF_SMALL)
    rows = df.collect()
    gen1 = [r for r in rows if r.lang is not None]
    gen2 = [r for r in rows if r.n_chars is not None]
    assert gen1 and gen2, "both generations must survive the merged read"
    assert all(r.n_chars is None for r in gen1), "gen-1 rows lack the late column"
    assert all(r.lang is None for r in gen2), "gen-2 rows lack the early column"


def test_gopher_rules_semantics(spark):
    """Hand-computed rule checks on real rows: a doc under 50 words fails
    r_wordcount; keep == AND of the seven flags everywhere."""
    fn = SPECS["text_gopher_rules"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert rows
    seen_short = seen_keep = False
    for r in rows:
        flags = [
            r["r_wordcount"],
            r["r_meanwordlen"],
            r["r_symbol"],
            r["r_bullet"],
            r["r_ellipsis"],
            r["r_alpha"],
            r["r_stopwords"],
        ]
        assert r["keep"] == all(flags)
        if r["n_words"] < 50:
            assert not r["r_wordcount"]
            seen_short = True
        if r["keep"]:
            seen_keep = True
    assert seen_short, "fixture should contain sub-50-word docs"
    # the rule set must be discriminative on the fixture, not all-pass/all-fail
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows) or seen_keep


def test_c4_rules_semantics(spark):
    """Hand-checkable invariants on real rows. The synthetic corpus is
    PUNCTUATION-FREE prose-shaped token soup, so C4's verbatim verdict is
    constant-reject — every doc dies on the terminal-punctuation line
    gate (C4 was built to reject exactly this non-prose shape); the
    per-rule counters and the synthetic-edge test below carry the
    discriminative semantics."""
    fn = SPECS["text_c4_rules"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["kept_lines"] <= r["n_lines"]
        # a kept line passed the punctuation gate AND the word gate, so
        # the kept count can't exceed n_lines minus either dropped count
        assert r["kept_lines"] <= r["n_lines"] - r["dropped_punct"] + 0
        assert r["kept_lines"] <= r["n_lines"] - r["dropped_short"] + 0
        if r["keep"]:
            assert r["kept_lines"] >= 3
            assert not r["has_lorem"] and not r["has_brace"]
    # every fixture doc fails the punctuation gate and nothing else
    assert all(r["dropped_punct"] == r["n_lines"] for r in rows)
    assert not any(r["keep"] for r in rows)


def test_c4_rules_synthetic_edges(spark):
    """Constructed docs pin each rule in isolation."""
    from petfinder_database_distributor_spark.plans.llm_pipeline import text_c4_rules

    import duckdb
    import os
    import tempfile

    docs = [
        # 3 good lines → keep
        (1, "one two three four five.\nsix seven eight nine ten!\na b c d e?", "en", "s", 10),
        # terminal punct but too few words per line
        (2, "short line.\ntiny.\nno.", "en", "s", 10),
        # no terminal punctuation
        (3, "one two three four five\nsix seven eight nine ten", "en", "s", 10),
        # lorem ipsum gate
        (4, "Lorem Ipsum dolor sit amet.\na b c d e.\nf g h i j.\nk l m n o.", "en", "s", 10),
        # brace gate
        (5, "function() { return 1; }\na b c d e.\nf g h i j.\nk l m n o.", "en", "s", 10),
        # javascript line dropped, still enough kept lines
        (6, "enable javascript to view this.\na b c d e.\nf g h i j.\nk l m n o.", "en", "s", 10),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
            " source VARCHAR, n_chars BIGINT)"
        )
        con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", docs)
        con.execute(f"COPY d TO '{tmp}/documents.parquet' (FORMAT PARQUET)")
        got = {r["doc_id"]: r for r in text_c4_rules(spark, tmp).collect()}
    assert got[1]["keep"] and got[1]["kept_lines"] == 3
    assert not got[2]["keep"] and got[2]["dropped_short"] == 3
    assert not got[3]["keep"] and got[3]["dropped_punct"] == 2
    assert not got[4]["keep"] and got[4]["has_lorem"]
    assert not got[5]["keep"] and got[5]["has_brace"]
    assert got[6]["keep"] and got[6]["kept_lines"] == 3  # js line dropped


def test_repetition_rules_semantics(spark):
    """Discriminative on the fixture; keep == AND of the four flags; a
    constructed looping doc is rejected while a diverse doc passes."""
    fn = SPECS["text_gopher_repetition"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        flags = [r["r_top2"], r["r_top3"], r["r_top4"], r["r_dup5"]]
        assert r["keep"] == all(flags)
        for c in ("top2_ppm", "top3_ppm", "top4_ppm", "dup5_ppm"):
            assert 0 <= r[c] <= 1_000_000
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows), "repetition gate should be discriminative"


def test_repetition_synthetic_loop_rejected(spark):
    """A doc that loops one phrase must fail every gate; a diverse doc
    passes all of them."""
    import tempfile

    import duckdb

    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        text_gopher_repetition,
    )

    loop = "click here now " * 50
    diverse = " ".join(f"w{i:03d}" for i in range(150))
    with tempfile.TemporaryDirectory() as tmp:
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
            " source VARCHAR, n_chars BIGINT)"
        )
        con.executemany(
            "INSERT INTO d VALUES (?, ?, ?, ?, ?)",
            [(1, loop, "en", "s", len(loop)), (2, diverse, "en", "s", len(diverse))],
        )
        con.execute(f"COPY d TO '{tmp}/documents.parquet' (FORMAT PARQUET)")
        got = {r["doc_id"]: r for r in text_gopher_repetition(spark, tmp).collect()}
    assert not got[1]["keep"]
    assert not got[1]["r_top2"] and not got[1]["r_dup5"]
    assert got[1]["dup5_ppm"] == 1_000_000  # fully duplicated, capped
    assert got[2]["keep"], got[2]


def test_json_kv_profile_semantics(spark, tmp_path):
    """Constructed props pin the contract: malformed JSON contributes
    nothing, JSON null counts as present-but-null, numerics parse — and
    the two divergence classes of per-key path extraction hold parity:
    DUPLICATE keys (from_json's MapData carries both entries and explode
    emits each; the first-cut oracle read only the first value) and a
    key containing a double quote (the first-cut oracle's '$."<key>"'
    path broke on it)."""
    import duckdb

    from tests.oracle_compare import assert_parity, run_oracle

    tmp = str(tmp_path)
    duckdb.connect().execute(f"""COPY (
      SELECT * FROM (VALUES
        (1, TIMESTAMP '2024-01-01', 1, 'click', 1.0, '{{"a": 5, "b": "x"}}'),
        (2, TIMESTAMP '2024-01-01', 1, 'click', 1.0, '{{"a": 7.5, "b": null}}'),
        (3, TIMESTAMP '2024-01-01', 1, 'click', 1.0, '{{bad'),
        (4, TIMESTAMP '2024-01-01', 1, 'click', 1.0, NULL),
        (5, TIMESTAMP '2024-01-01', 1, 'click', 1.0, '{{"a": "n/a"}}'),
        (6, TIMESTAMP '2024-01-01', 1, 'click', 1.0, '{{"a": 1, "a": 2}}'),
        (7, TIMESTAMP '2024-01-01', 1, 'click', 1.0, '{{"q\\"k": 9}}'),
        (8, TIMESTAMP '2024-01-01', 1, 'click', 1.0, '{{"n": {{"x": 1}}}}')
      ) t(event_id, ts, user_id, event_type, value, props)
    ) TO '{tmp}/events.parquet' (FORMAT PARQUET)""")
    import shutil

    from tests.conftest import SF_SMALL

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")
    fn, oracle = SPECS["json_kv_profile"].fn, SPECS["json_kv_profile"].oracle
    assert_parity(fn(spark, tmp), run_oracle(oracle, tmp), "json_kv_edge")
    rows = {r["key"]: r for r in fn(spark, tmp).collect()}
    assert set(rows) == {"a", "b", 'q"k', "n"}
    a, b = rows["a"], rows["b"]
    assert a["n_present"] == 5 and a["n_numeric"] == 4 and a["n_null_vals"] == 0
    assert a["n_distinct_vals"] == 5  # '5', '7.5', 'n/a', '1', '2' (dups kept)
    assert b["n_present"] == 2 and b["n_null_vals"] == 1 and b["n_numeric"] == 0
    assert b["min_val"] == "x" and b["max_val"] == "x"
    assert rows['q"k']["n_numeric"] == 1
    assert rows["n"]["min_val"] == '{"x":1}' and rows["n"]["n_numeric"] == 0
