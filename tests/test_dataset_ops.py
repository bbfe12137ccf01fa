"""Dataset-assembly ops (plans/dataset_ops.py): the global shuffle index
must be a dense permutation produced by the scalable two-phase plan, CDC
must classify all three change types, weighted sampling must be a pure
narrow filter; k-center selection must match an independent NumPy greedy
and Neyman allocation must sum exactly to its budget."""

from __future__ import annotations

from pyspark.sql import functions as F

from petfinder_database_distributor_spark.registry import load_all
from tests.conftest import SF_ORACLE, SF_SMALL
from tests.test_plan_quality import plan_of

SPECS = load_all()


def test_shuffle_index_is_dense_permutation(spark):
    df = SPECS["global_shuffle_index"].fn(spark, SF_SMALL)
    n = df.count()
    stats = df.agg(
        F.min("shuffle_pos").alias("lo"),
        F.max("shuffle_pos").alias("hi"),
        F.count_distinct("shuffle_pos").alias("nd"),
    ).first()
    assert (stats.lo, stats.hi, stats.nd) == (0, n - 1, n), "positions must be 0..n-1 dense"


def test_shuffle_index_deterministic_across_layouts(spark):
    """The permutation must not depend on the physical partitioning of the
    input: a pre-shuffled input yields the identical doc_id→pos map.
    Both sides run the SAME shuffle_index() plan — only the input layout
    differs — so a plan retune can't silently diverge from this test."""
    from petfinder_database_distributor_spark.plans.dataset_ops import shuffle_index
    from petfinder_database_distributor_spark.schema import load_table

    base = {
        r.doc_id: r.shuffle_pos
        for r in SPECS["global_shuffle_index"].fn(spark, SF_SMALL).collect()
    }
    docs = (
        load_table(spark, SF_SMALL, "documents")
        .filter(F.col("doc_id").isNotNull())
        .repartition(7, "lang")  # adversarial starting layout
    )
    other = {r.doc_id: r.shuffle_pos for r in shuffle_index(docs).collect()}
    assert base == other


def test_shuffle_index_plan_two_phase(spark):
    """The data-sized path must go through range partitioning + a
    pid-partitioned window — never a global-ORDER-BY window (which would
    be an Exchange SinglePartition carrying every row)."""
    import io
    from contextlib import redirect_stdout

    from petfinder_database_distributor_spark.plans.dataset_ops import shuffle_layout
    from petfinder_database_distributor_spark.schema import load_table

    # Phase 1 on the un-checkpointed layout builder (the checkpoint inside
    # shuffle_index truncates the range exchange out of explain output).
    docs = load_table(spark, SF_SMALL, "documents").filter(F.col("doc_id").isNotNull())
    buf = io.StringIO()
    with redirect_stdout(buf):
        shuffle_layout(docs).explain("formatted")
    assert "rangepartitioning" in buf.getvalue().lower(), (
        "phase 1 must range-partition by the hash key"
    )
    p = plan_of(spark, "global_shuffle_index")
    assert "hashpartitioning(pid" in p, "the rank window must partition by pid"


def test_cdc_covers_all_three_change_types(spark):
    counts = {
        r.change_type: r.n
        for r in SPECS["cdc_snapshot_diff"]
        .fn(spark, SF_ORACLE)
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(counts) == {"insert", "update", "delete"}, counts
    assert all(v > 0 for v in counts.values())


def test_weighted_sample_no_shuffle(spark):
    p = plan_of(spark, "sample_weighted")
    assert "Exchange" not in p, "weighted sampling must be a narrow filter"


def test_kcenter_matches_independent_numpy_greedy(spark):
    """Full independent recompute: the Spark selection must equal a NumPy
    farthest-point-sampling over the same quantized vectors — every pick,
    every radius, exact."""
    import numpy as np
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.plans.dataset_ops import _kc_qe
    from petfinder_database_distributor_spark.schema import load_table

    fn = SPECS["sample_kcenter_greedy"].fn
    got = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["sel_rank"])
    # quantize through the operator's own kernel (quantizer parity is the
    # DuckDB oracle's job — np.round would half-even where both engines
    # round half-up); the GREEDY below is the independent recompute
    rows = (
        load_table(spark, SF_SMALL, "embeddings")
        .filter("vec_id IS NOT NULL AND embedding IS NOT NULL")
        .select("vec_id", _kc_qe(F.col("embedding")).alias("qe"))
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    q = np.array([rows[i]["qe"] for i in order], dtype=np.int64)
    picked = [0]  # lowest vec_id after the sort
    dists = [0]
    mind = ((q - q[0]) ** 2).sum(axis=1)
    mind[0] = -1  # picked sentinel: never re-selected
    for _ in range(7):
        best = int(np.lexsort((ids, -mind))[0])
        picked.append(best)
        dists.append(int(mind[best]))
        d = ((q - q[best]) ** 2).sum(axis=1)
        mind = np.minimum(mind, d)
        mind[best] = -1
    expect = [(i + 1, int(ids[p]), dists[i]) for i, p in enumerate(picked)]
    assert [(r["sel_rank"], r["vec_id"], r["dist_sq"]) for r in got] == expect


def test_kcenter_radius_monotone_and_distinct(spark):
    """Farthest-point sampling: the selection-time distance (covering
    radius) is monotone non-increasing after the seed, picks are distinct,
    and pick 2 is the true farthest point from the seed."""
    fn = SPECS["sample_kcenter_greedy"].fn
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["sel_rank"])
    assert [r["sel_rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len({r["vec_id"] for r in rows}) == len(rows)
    dists = [r["dist_sq"] for r in rows[1:]]
    assert dists == sorted(dists, reverse=True), "covering radius must shrink"
    assert all(d >= 0 for d in dists)


def test_kcenter_bucketed_semantics(spark):
    """Selection invariants + the scale-twin quality contract against the
    exact greedy: same k, same distance geometry, a covering radius in
    the same order of magnitude (the sampled variant trades radius for
    passes — it must not be degenerate)."""
    from petfinder_database_distributor_spark.plans.dataset_ops import (
        sample_kcenter_greedy,
    )

    fn = SPECS["sample_kcenter_bucketed"].fn
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["sel_rank"])
    assert rows and len(rows) <= 8
    assert [r["sel_rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len({r["vec_id"] for r in rows}) == len(rows)
    # greedy's farthest-first property holds WITHIN the candidate set
    dists = [r["dist_sq"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:])), dists
    # one shared corpus radius on every row, covering every candidate pick
    radii = {r["corpus_radius_sq"] for r in rows}
    assert len(radii) == 1
    radius = radii.pop()
    greedy = sorted(
        sample_kcenter_greedy(spark, SF_SMALL).collect(),
        key=lambda r: r["sel_rank"],
    )
    greedy_radius = greedy[-1]["dist_sq"]
    # sampled centers can't beat the greedy lower-bound geometry by much
    # nor collapse: radius within [greedy_last/4, 64*greedy_last]
    assert radius > 0
    assert radius <= 64 * greedy_radius, (radius, greedy_radius)


def test_neyman_allocation_sums_to_budget(spark):
    """Largest-remainder exactness + the Neyman ORDER property: the
    allocation sums to the budget exactly, and a stratum with both more
    rows and more dispersion never receives less than its dominated
    peer."""
    fn = SPECS["sample_stratified_neyman"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert rows
    assert sum(r["alloc_n"] for r in rows) == 1000
    for a in rows:
        for b in rows:
            if (
                a["n_rows"] >= b["n_rows"]
                and a["mad_cents"] >= b["mad_cents"]
                and a["n_rows"] * a["mad_cents"] > b["n_rows"] * b["mad_cents"]
            ):
                assert a["alloc_n"] >= b["alloc_n"], (a, b)


def test_neyman_constant_corpus_yields_zero_rows(spark, tmp_path):
    """All-constant measures => every stratum's dispersion is 0 => the
    weight mass vanishes => ZERO rows on both engines (the wsum
    contract), never a divide-by-zero."""
    import duckdb

    from tests.oracle_compare import assert_parity, run_oracle

    tmp = str(tmp_path)
    duckdb.connect().execute(f"""COPY (
      SELECT ROW_NUMBER() OVER () AS event_id, TIMESTAMP '2024-01-01' AS ts,
             1 AS user_id, t.et AS event_type, 5.0 AS value, '{{}}' AS props
      FROM (VALUES ('click'), ('view'), ('click')) t(et)
    ) TO '{tmp}/events.parquet' (FORMAT PARQUET)""")
    import shutil

    from tests.conftest import SF_SMALL as _S

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        shutil.copy(f"{_S}/{t}.parquet", f"{tmp}/{t}.parquet")
    fn, oracle = SPECS["sample_stratified_neyman"].fn, SPECS["sample_stratified_neyman"].oracle
    out = fn(spark, tmp)
    assert out.count() == 0
    assert_parity(out, run_oracle(oracle, tmp), "neyman_constant")
