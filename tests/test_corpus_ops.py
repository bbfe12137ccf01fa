"""Corpus-curation operators: incremental ingest dedup against a committed
MinHash index, domain token budgets (equal-share, UniMax, temperature),
the in-cell kNN graph, line-level dedup and snapshot vacuum. The DuckDB
value-hash parity lives in test_oracle_parity; these tests pin the
MECHANICS the oracle can't see — index staging/commit lifecycle,
decision-set invariants, budget maximality and exact sums, the pair
guard and its retrain recovery, storage reclaimed by vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.plans.corpus_ops import (
    _corpus_index_table,
    dedup_incremental_batch,
    domain_budget_sample,
)
from petfinder_database_distributor_spark.operators.text import md5int, token_count
from petfinder_database_distributor_spark.registry import load_all
from petfinder_database_distributor_spark.schema import load_table
from petfinder_database_distributor_spark.sources.snapshot import (
    latest_version,
    snapshot_read,
)
from tests.conftest import SF_SMALL

SPECS = load_all()


def test_incremental_dedup_index_lifecycle(spark):
    """First call stages the corpus index as snapshot v0 and commits the
    admitted batch's signatures as v1; repeat calls reuse the staging
    (version chain does NOT grow) and return identical decisions."""
    first = {r["doc_id"]: (r["dup_of"], r["admitted"])
             for r in dedup_incremental_batch(spark, SF_SMALL).collect()}
    table = _corpus_index_table(spark, SF_SMALL)
    assert latest_version(table) == 1, "corpus v0 + one admit-merge v1"
    second = {r["doc_id"]: (r["dup_of"], r["admitted"])
              for r in dedup_incremental_batch(spark, SF_SMALL).collect()}
    assert second == first
    assert latest_version(table) == 1, "repeat calls must not re-commit"

    # v1 = corpus index ∪ admitted batch signatures, nothing else: batch
    # ids in the index are exactly the admitted ones (16 bands each), and
    # v0 (the dedup read view) contains NO batch ids at all.
    admitted = {d for d, (_, ok) in first.items() if ok}
    v0_ids = {r["doc_id"] for r in
              snapshot_read(spark, table, version=0).select("doc_id").distinct().collect()}
    assert not v0_ids & set(first), "v0 is corpus-only"
    v1 = snapshot_read(spark, table, version=1)
    v1_batch = {r["doc_id"]: r["n"] for r in
                v1.join(spark.createDataFrame([(d,) for d in sorted(first)], "doc_id long"),
                        "doc_id", "leftsemi")
                .groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert set(v1_batch) == admitted, "index admits exactly the survivors"
    assert all(n == 16 for n in v1_batch.values()), "16 band rows per doc"


def test_incremental_dedup_decision_invariants(spark):
    """Every batch document gets exactly one decision; a rejected doc's
    representative is either a corpus id or an EARLIER batch id (the
    non-recursive first-occurrence rule — never a later id, never
    itself)."""
    dec = dedup_incremental_batch(spark, SF_SMALL).collect()
    batch_ids = {r["doc_id"] for r in dec}
    docs = load_table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    expect = {r["doc_id"] for r in
              docs.filter(F.col("doc_id") % 5 == 0).select("doc_id").collect()}
    assert batch_ids == expect and len(dec) == len(expect)
    for r in dec:
        if r["admitted"]:
            assert r["dup_of"] is None
        else:
            assert r["dup_of"] is not None and r["dup_of"] != r["doc_id"]
            if r["dup_of"] % 5 == 0:  # batch-internal representative
                assert r["dup_of"] < r["doc_id"]


def test_incdedup_trigger_replay_idempotent(spark, tmp_path):
    """Append-first trigger fusion: replaying a trigger (any crash
    between the signature append and the offset commit re-runs the whole
    foreachBatch body) must not change decision VALUES. The replayed
    run probes an index that already holds its own signatures — once
    from each attempt — and cid < bid must keep them inert; the
    decisions parquet then holds duplicate rows with IDENTICAL values,
    which the read-back dropDuplicates collapses deterministically.
    (Deciding before the append leaves a real hole here: an unfiltered
    corpus probe leg self-matches a replayed batch at Jaccard 1.)"""
    from petfinder_database_distributor_spark.plans.corpus_ops import (
        _incdedup_trigger,
    )

    run = str(tmp_path / "incdedup_replay")
    table_dir, dec_dir = f"{run}/index", f"{run}/decisions"
    all_docs = load_table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    ids = sorted(r["doc_id"] for r in all_docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    b1 = all_docs.filter(F.col("doc_id") < cut)
    b2 = all_docs.filter(F.col("doc_id") >= cut)

    _incdedup_trigger(table_dir, dec_dir, all_docs, b1)
    _incdedup_trigger(table_dir, dec_dir, all_docs, b2)
    once = {
        r["doc_id"]: (r["dup_of"], r["admitted"])
        for r in spark.read.parquet(dec_dir).dropDuplicates(["doc_id"]).collect()
    }
    assert set(once) == set(ids)

    # replay trigger 2 (crash after append + decisions, before offset commit)
    _incdedup_trigger(table_dir, dec_dir, all_docs, b2)
    dec = spark.read.parquet(dec_dir)
    # every doc's decision rows agree in VALUE (dropDuplicates is then
    # order-independent), and the collapsed set equals the clean run
    conflicting = (
        dec.groupBy("doc_id")
        .agg(F.countDistinct(F.struct("dup_of", "admitted")).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert conflicting == 0, "replayed trigger changed a decision value"
    replayed = {
        r["doc_id"]: (r["dup_of"], r["admitted"])
        for r in dec.dropDuplicates(["doc_id"]).collect()
    }
    assert replayed == once


def test_domain_budget_sample_cap_and_maximality(spark):
    """Per domain: kept tokens never exceed the equal-share budget, and
    the kept set is MAXIMAL — the next document in admit (hash) order
    would overflow the budget. Together these pin the semantics without
    restating the oracle."""
    kept = domain_budget_sample(spark, SF_SMALL).collect()
    docs = load_table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    tt = docs.select(
        "doc_id", "source",
        token_count(F.col("text")).cast("long").alias("n_tok"),
        md5int(F.col("doc_id").cast("string")).alias("hkey"),
    ).collect()
    budget_row = (
        docs.select(token_count(F.col("text")).cast("long").alias("n"), "source")
        .agg(F.expr("sum(n) div (2 * count(DISTINCT source))").alias("b"))
        .collect()
    )
    budget = budget_row[0]["b"]
    kept_ids = {r["doc_id"] for r in kept}
    by_domain: dict = {}
    for r in tt:
        by_domain.setdefault(r["source"], []).append(r)
    kept_tok: dict = {}
    for r in kept:
        kept_tok[r["source"]] = kept_tok.get(r["source"], 0) + r["n_tok"]
    for dom, rows in by_domain.items():
        rows.sort(key=lambda r: (r["hkey"], r["doc_id"]))
        used = kept_tok.get(dom, 0)
        assert used <= budget, f"{dom}: {used} > budget {budget}"
        # maximality: the first non-kept doc in admit order must overflow
        cum = 0
        for r in rows:
            if r["doc_id"] in kept_ids:
                cum += r["n_tok"]
                continue
            assert cum + r["n_tok"] > budget, (
                f"{dom}: doc {r['doc_id']} was skippable but fit the budget"
            )
            break  # only the FIRST excluded doc is constrained (prefix rule)
        # prefix property: nothing kept after the first exclusion
        seen_excluded = False
        for r in rows:
            if r["doc_id"] not in kept_ids:
                seen_excluded = True
            elif seen_excluded:
                pytest.fail(f"{dom}: kept doc {r['doc_id']} after an excluded one")


def test_unimax_waterfilling_invariants(spark):
    """Capped set is a prefix of the cap-ascending order; uncapped
    allocations share one level >= every capped domain's cap; the total
    allocation never exceeds the budget."""
    fn = SPECS["domain_budget_unimax"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert rows, "no domains"
    by_cap = sorted(rows, key=lambda r: (r["cap_tok"], r["source"]))
    flags = [r["capped"] for r in by_cap]
    assert flags == sorted(flags, reverse=True), "capped domains must be a prefix"
    uncapped = [r for r in by_cap if not r["capped"]]
    if uncapped:
        levels = {r["alloc_tok"] for r in uncapped}
        assert len(levels) == 1, "uncapped domains share one waterfill level"
        level = levels.pop()
        for r in by_cap:
            if r["capped"]:
                assert r["cap_tok"] <= level
                assert r["alloc_tok"] == r["cap_tok"]
    budget = sum(r["n_tok"] for r in rows)
    assert sum(r["alloc_tok"] for r in rows) <= budget
    for r in rows:
        assert r["alloc_tok"] <= r["cap_tok"]


def _unimax_closed_form(caps: list[int], budget: int) -> list[int]:
    """Pure-Python mirror of the closed form BOTH engines implement:
    ascending caps, m = first-violation minus one, capped prefix gets its
    cap, the rest split the remainder by floor division."""
    n = len(caps)
    caps = sorted(caps)
    caps_before = 0
    m = n
    for i, cap in enumerate(caps, start=1):
        if not (cap * (n - i + 1) <= budget - caps_before):
            m = i - 1
            break
        caps_before += cap
    caps_m = sum(caps[:m])
    return [
        caps[i] if i < m else (budget - caps_m) // (n - m) for i in range(n)
    ]


def _unimax_sequential_exact(caps: list[int], budget: int):
    """The definitional UniMax waterfill in EXACT rational arithmetic
    (the paper's real-valued form): process ascending, each domain gets
    min(cap, even share of what's left). Uncapped shares are all equal to
    one level L by construction."""
    from fractions import Fraction

    caps = sorted(caps)
    out, left = [], Fraction(budget)
    for i, cap in enumerate(caps):
        share = left / (len(caps) - i)
        a = min(Fraction(cap), share)
        out.append(a)
        left -= a
    return out


def test_unimax_closed_form_is_floor_of_exact_waterfill():
    """The prefix theorem the SQL relies on, adversarially checked: the
    window-expressible closed form must (a) cap exactly the domains the
    real-valued sequential waterfill caps, and (b) give every uncapped
    domain floor(level) — identical floors, never the
    remainder-to-later-domains integer drift a naive integer sequential
    loop would produce (a first draft of this test used one and CAUGHT
    that divergence: caps=[1,1], budget=1 → closed [0,0], drifting
    sequential [0,1])."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        caps=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
        budget=st.integers(min_value=0, max_value=4 * 10**10),
    )
    def check(caps, budget):
        caps = sorted(caps)
        closed = _unimax_closed_form(caps, budget)
        exact = _unimax_sequential_exact(caps, budget)
        n = len(caps)
        for i in range(n):
            if exact[i] == caps[i]:  # capped (or tie — same value both ways)
                assert closed[i] == caps[i]
            else:
                assert closed[i] == exact[i].numerator // exact[i].denominator
        # floor under-spend is bounded by the uncapped-domain count
        assert 0 <= min(budget, sum(caps)) - sum(closed) < max(n, 1)

    check()


def test_temperature_allocation_sums_exactly_to_budget(spark):
    """The largest-remainder apportionment's whole point: allocations sum
    EXACTLY to the corpus budget, bonuses go to the largest remainders,
    and the sqrt flattening holds (smaller domains get a >= share of
    budget relative to their corpus share)."""
    fn = SPECS["domain_budget_temperature"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert rows
    budget = sum(r["n_tok"] for r in rows)
    assert sum(r["alloc_tok"] for r in rows) == budget, "exact-sum violated"
    n_bonus = sum(1 for r in rows if r["got_bonus"])
    assert 0 <= n_bonus < len(rows) + 1
    # flattening: sort by corpus size; alloc/corpus ratio is non-increasing
    by_size = sorted(rows, key=lambda r: r["n_tok"])
    ratios = [r["alloc_tok"] / r["n_tok"] for r in by_size if r["n_tok"] > 0]
    for a, b in zip(ratios, ratios[1:]):
        assert a >= b - 1e-9, "sqrt temperature must favor smaller domains"


def test_knn_graph_matches_brute_force_within_cells(spark):
    """The graph's top-3 per vector equals brute force restricted to the
    vector's committed cell — the candidate-set contract, checked on the
    Spark side alone (the oracle re-proves it cross-engine)."""
    from petfinder_database_distributor_spark.plans.corpus_ops import (
        _ann_index_root,
        knn_graph_cells,
    )
    got = {
        (r["vec_id"], r["rank"]): r["nbr_id"]
        for r in knn_graph_cells(spark, SF_SMALL).collect()
    }
    emb = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    root = _ann_index_root(spark, SF_SMALL)
    codes = snapshot_read(spark, f"{root}/codes", version=0)
    members = codes.select("vec_id", "centroid_id").join(emb, "vec_id").collect()
    by_cell: dict[int, list] = {}
    for r in members:
        by_cell.setdefault(r["centroid_id"], []).append(r)
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    checked = 0
    for cell, rs in by_cell.items():
        if len(rs) < 2:
            continue
        for r in rs[:3]:  # spot-check 3 per cell — full proof is the oracle
            sims = sorted(
                (
                    (-cos(r["embedding"], o["embedding"]), o["vec_id"])
                    for o in rs
                    if o["vec_id"] != r["vec_id"]
                ),
            )
            for rank, (_, nbr) in enumerate(sims[:3], start=1):
                assert got[(r["vec_id"], rank)] == nbr
                checked += 1
    assert checked > 0


def test_knn_graph_pair_budget_in_bounds(spark):
    """The fixture sits inside the Sum(|cell|^2) budget (so the graph
    actually runs), and the estimate math matches a hand recount. The
    over-budget refusal + retrain recovery path is exercised end-to-end by
    tests/test_ann_retrain.py's SemDeDup twin, which shares the guard."""
    from petfinder_database_distributor_spark.plans.corpus_ops import (
        _ann_index_root,
    )

    emb = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    root = _ann_index_root(spark, SF_SMALL)
    codes = snapshot_read(spark, f"{root}/codes", version=0)
    members = codes.select("vec_id", "centroid_id").join(emb, "vec_id")
    est = sum(
        r["n"] * r["n"]
        for r in members.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert 0 < est <= 10_000_000, (
        "sf0.001 must sit inside the budget; the refusal path itself is "
        "exercised end-to-end by tests/test_ann_retrain.py's SemDeDup twin"
    )


@pytest.mark.slow  # full retrain lifecycle (~125 s)
def test_knn_guard_retrain_recovery(spark):
    """The kNN graph's pair-budget refusal names an executable fix, and
    the fix suffices — the SemDeDup recovery loop's twin
    (tests/test_ann_retrain.py::test_semdedup_guard_retrain_recovery):
    27x offset replicas put 13.5k vectors in 16 cells (min Sum(n^2) =
    13500^2/16 = 11.4M > 10M for ANY assignment), the guard refuses,
    ann_index_retrain(n_clusters=128) restores the bound, and the rerun
    under the SAME budget finds every replica's identical twin at
    cosine 1."""
    import shutil

    from petfinder_database_distributor_spark.operators.similarity import (
        ivf_pq_train,
    )
    from petfinder_database_distributor_spark.plans.corpus_ops import (
        ann_index_retrain,
        knn_graph_decisions,
    )
    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_group,
        snapshot_read,
        snapshot_read_group,
        snapshot_write,
    )
    from petfinder_database_distributor_spark.streaming.incremental import (
        SCRATCH_ROOT,
    )

    root = f"{SCRATCH_ROOT}/knn_retrain_test"
    shutil.rmtree(root, ignore_errors=True)
    base = load_table(spark, SF_SMALL, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    n_base = base.count()
    corpus = (
        base.crossJoin(spark.range(27).select(F.col("id").alias("r")))
        .select(
            (F.col("vec_id") + F.col("r") * n_base).alias("vec_id"),
            "embedding",
        )
        .localCheckpoint(eager=True)
    )
    centroids, cb, codes = ivf_pq_train(corpus)
    for name, df in (("centroids", centroids), ("codebook", cb), ("codes", codes)):
        snapshot_write(spark, f"{root}/{name}", df)

    members0 = (
        snapshot_read(spark, f"{root}/codes", version=0)
        .select("vec_id", "centroid_id")
        .join(corpus, "vec_id")
    )
    with pytest.raises(ValueError, match="n_clusters"):
        knn_graph_decisions(members0)

    versions = ann_index_retrain(spark, root, corpus, n_clusters=128)
    assert versions["codes"] == 1
    codes1 = snapshot_read_group(spark, root, "codes", group=latest_group(root))
    members1 = codes1.select("vec_id", "centroid_id").join(corpus, "vec_id")
    top1 = {
        r["vec_id"]: (r["nbr_id"], r["cos_r"])
        for r in knn_graph_decisions(members1).collect()
        if r["rank"] == 1
    }
    # every replica has 26 identical twins in its cell (identical vectors
    # encode identically, so twins share a cell): nearest neighbor is the
    # LOWEST-id other twin at cosine exactly 1
    misses = 0
    for vid, (nbr, cos_r) in top1.items():
        base_id = vid % n_base
        expect = base_id if vid != base_id else base_id + n_base
        if nbr != expect or cos_r != 1.0:
            misses += 1
    assert misses == 0, f"{misses} replicas missed their identical twin"
    assert len(top1) == 27 * n_base


def test_knn_zero_norm_vectors_excluded_not_crashing(spark):
    """Zero-norm contract: under Spark 4.x default ANSI mode, cosine's
    division RAISES on a zero-norm vector — one dirty row would kill a
    100 TB job. The decisions helper must exclude zero vectors at entry
    (like NULL vectors) and still rank the live ones."""
    from petfinder_database_distributor_spark.plans.corpus_ops import (
        knn_graph_decisions,
    )

    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.9, 0.1]),
        (3, 0, [0.0, 0.0]),  # zero-norm: excluded, must not raise
        (4, 1, [0.0, 1.0]),
    ]
    members = spark.createDataFrame(
        rows, "vec_id long, centroid_id int, embedding array<double>"
    )
    got = knn_graph_decisions(members, k=2)
    out = {(r["vec_id"], r["nbr_id"]) for r in got.collect()}
    assert out == {(1, 2), (2, 1)}, out  # cell 0 pair only; 3 gone, 4 alone


def test_paragraph_dedup_first_occurrence(spark, tmp_path):
    """Constructed corpus pins the semantics: doc 1 owns every line's
    first occurrence; doc 2 repeats two of doc 1's three lines; doc 3 is
    all-new; doc 4 is empty."""
    import duckdb

    tmp = str(tmp_path)
    duckdb.connect().execute(f"""COPY (
      SELECT * FROM (VALUES
        (1, 'alpha beta' || chr(10) || 'gamma delta' || chr(10) || 'epsilon', 'en', 's', 1),
        (2, 'alpha beta' || chr(10) || 'gamma delta' || chr(10) || 'zeta', 'en', 's', 1),
        (3, 'eta theta' || chr(10) || 'iota', 'en', 's', 1),
        (4, '', 'en', 's', 1)
      ) t(doc_id, text, lang, source, n_chars)
    ) TO '{tmp}/documents.parquet' (FORMAT PARQUET)""")
    fn = SPECS["text_paragraph_dedup"].fn
    rows = {r["doc_id"]: r for r in fn(spark, tmp).collect()}
    assert rows[1]["n_dup_lines"] == 0 and rows[1]["keep"]
    assert rows[2]["n_lines"] == 3 and rows[2]["n_dup_lines"] == 2
    assert rows[2]["dup_ratio_milli"] == 666 and not rows[2]["keep"]
    assert rows[3]["n_dup_lines"] == 0 and rows[3]["keep"]
    assert rows[4]["n_lines"] == 0 and rows[4]["keep"]


def test_vacuum_reclaims_expired_storage_only(spark):
    """The invariants the parity hash can't see: vacuum actually deletes
    v0's unreferenced files; retained versions stay readable (v1 time
    travel works, v2 is latest); expired time travel RAISES rather than
    serving a ghost; files referenced by retained manifests survive."""
    import glob
    import os

    from petfinder_database_distributor_spark.plans.source_sink_plans import (
        snapshot_vacuum_retention,
    )
    from petfinder_database_distributor_spark.streaming.incremental import SCRATCH_ROOT

    # the query itself rebuilds the table deterministically and vacuums
    latest = snapshot_vacuum_retention(spark, SF_SMALL)
    n_latest = latest.count()
    tag = SF_SMALL.strip("/").replace("/", "_").replace(".", "_").replace("-", "_")
    table = f"{SCRATCH_ROOT}/vacuum_retention/{tag}"
    # v0's data files are gone (manifest removed, unreferenced files unlinked)
    v0_files = glob.glob(f"{table}/v0/**/*.parquet", recursive=True)
    assert not v0_files, f"expired v0 data files survived vacuum: {v0_files}"
    assert not os.path.exists(f"{table}/v0/_manifest.json") and not glob.glob(
        f"{table}/v0/*manifest*"
    )
    # retained time travel intact
    v1 = snapshot_read(spark, table, version=1)
    assert v1.count() < n_latest  # v1 is the filtered subset, v2 appended back
    # expired time travel raises
    with pytest.raises(Exception):
        snapshot_read(spark, table, version=0).count()
