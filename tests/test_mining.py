"""Mining-family invariants beyond the hash-parity gate: the integer-exact
k-means and PageRank are re-implemented independently in NumPy/pure Python
and compared value-for-value (a THIRD engine besides Spark and DuckDB —
if all three agree bit-for-bit, the portability construction holds), plus
plan-shape pins for the scale claims and the invariants of vocabulary
coverage, Zipf fit, k-core peeling and bounded BFS."""

from __future__ import annotations

import duckdb
import numpy as np

from petfinder_database_distributor_spark.plans.mining import (
    cluster_kmeans_int8,
    pagerank_partsupp,
)
from petfinder_database_distributor_spark.registry import load_all
from tests.conftest import SF_SMALL

SPECS = load_all()


def _numpy_kmeans(sf_dir: str, k: int = 8, iters: int = 2):
    pdf = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).df()
    e = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    vec_ids = pdf["vec_id"].to_numpy()
    scale = np.abs(e).max(axis=1) / 127.0
    q = np.where(
        scale[:, None] > 0, np.floor(e / np.where(scale[:, None] > 0, scale[:, None], 1) + 0.5), 0.0
    ).astype(np.int64)

    order = np.argsort(vec_ids)
    seeds = order[:k]
    cents = [(i, q[seeds[i]].copy()) for i in range(min(k, len(vec_ids)))]

    def assign(cents):
        cmat = np.stack([c for _, c in cents])
        d = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        best = d.argmin(axis=1)  # first min — cents sorted by cluster id
        return best, d[np.arange(len(q)), best]

    for _ in range(iters):
        best, _dist = assign(cents)
        new = []
        for j, (cid, _c) in enumerate(cents):
            members = q[best == j]
            if len(members):
                new.append((cid, np.floor_divide(members.sum(axis=0), len(members))))
        cents = new
    best, dist = assign(cents)
    return {
        int(v): (int(cents[b][0]), int(d)) for v, b, d in zip(vec_ids, best, dist)
    }


def test_kmeans_matches_numpy_reference(spark):
    expected = _numpy_kmeans(SF_SMALL)
    rows = cluster_kmeans_int8(spark, SF_SMALL).collect()
    assert len(rows) == len(expected)
    for r in rows:
        cid, dist = expected[r["vec_id"]]
        assert (r["cluster"], r["dist"]) == (cid, dist), (
            f"vec {r['vec_id']}: spark ({r['cluster']},{r['dist']}) != numpy ({cid},{dist})"
        )


def test_assignment_paths_agree(spark):
    """The Arrow matmul kernel (hot path) and the pure-expression twin
    must be bit-identical — same distances, same tie-breaks."""
    from petfinder_database_distributor_spark.operators.clustering import kmeans_int8
    from petfinder_database_distributor_spark.schema import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    a = {r["vec_id"]: (r["cluster"], r["dist"])
         for r in kmeans_int8(emb, use_arrow=True).collect()}
    b = {r["vec_id"]: (r["cluster"], r["dist"])
         for r in kmeans_int8(emb, use_arrow=False).collect()}
    assert a == b


def test_kmeans_assignment_is_projection_no_join(spark):
    """The 100 TB claim: final assignment never joins/duplicates vectors —
    centroids are literals in the expression tree."""
    plan = cluster_kmeans_int8(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    for op in ("Join", "CartesianProduct", "BroadcastNestedLoop"):
        assert op not in plan, f"assignment plan unexpectedly contains {op}:\n{plan}"


def test_kmeans_frees_its_cache(spark):
    """The quantized working set is cached only while k-means trains: the
    returned plan reads no cached relation, building and running it
    leaves the cache manager empty, and the result still matches the
    oracle."""
    from tests.oracle_compare import assert_parity, run_oracle

    spark.catalog.clearCache()  # only this call's entries are under test
    df = cluster_kmeans_int8(spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
    oracle = run_oracle(SPECS["cluster_kmeans_int8"].oracle, SF_SMALL)
    assert_parity(df, oracle, "cluster_kmeans_int8")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _python_pagerank(sf_dir: str, iters: int = 3, scale: int = 10**12, top: int = 20):
    pdf = duckdb.sql(
        f"SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst "
        f"FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).df()
    edges = list(zip(pdf["src"].astype(int), pdf["dst"].astype(int)))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg: dict[int, int] = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (15 * (scale // n)) // 100
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        inc: dict[int, int] = {}
        for u, v in edges:
            inc[v] = inc.get(v, 0) + rank[u] // outdeg[u]
        rank = {v: base + (85 * inc.get(v, 0)) // 100 for v in nodes}
    return sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:top]


def test_pagerank_matches_python_reference(spark):
    expected = _python_pagerank(SF_SMALL)
    rows = [
        (r["node"], r["rank"])
        for r in pagerank_partsupp(spark, SF_SMALL).collect()
    ]
    rows.sort(key=lambda kv: (-kv[1], kv[0]))
    assert rows == expected


def test_mining_parity_with_nulls(spark, tmp_path):
    """Regression for NULL-input parity faults: NULL embeddings /
    vec_ids and all-NULL-text domains broke cross-engine parity (Spark
    posexplode drops NULL vectors, the oracle's count(*) kept them; NULL
    vec_id crashed the seed sort; a zero-token domain got the full cap
    weight). Parity must hold on null-bearing data, and an all-NULL
    domain must weigh 0."""
    import shutil

    from petfinder_database_distributor_spark.registry import load_all
    from tests.oracle_compare import assert_parity, run_oracle

    tmp = str(tmp_path)
    con = duckdb.connect()
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{SF_SMALL}/embeddings.parquet')
        UNION ALL SELECT 99999, NULL, 1
        UNION ALL SELECT NULL,
          (SELECT embedding FROM read_parquet('{SF_SMALL}/embeddings.parquet') LIMIT 1), 2
      ) TO '{tmp}/embeddings.parquet' (FORMAT PARQUET)""")
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{SF_SMALL}/documents.parquet')
        UNION ALL SELECT 99998, NULL, 'en', 'empty_src', 0
        UNION ALL SELECT 99999, NULL, 'en', 'empty_src', 0
      ) TO '{tmp}/documents.parquet' (FORMAT PARQUET)""")
    # events with a NULL ts and a NULL user: scd2's window would order
    # NULLS FIRST (Spark) vs LAST (DuckDB) without its contract filter
    con.execute(f"""
      COPY (
        SELECT * FROM read_parquet('{SF_SMALL}/events.parquet')
        UNION ALL SELECT 888801, NULL, 3, 'view', 1.0, NULL
        UNION ALL SELECT 888802, TIMESTAMP '2024-01-01 00:00:00', NULL, 'view', 1.0, NULL
      ) TO '{tmp}/events.parquet' (FORMAT PARQUET)""")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        shutil.copy(f"{SF_SMALL}/{t}.parquet", f"{tmp}/{t}.parquet")

    specs = load_all()
    for name in ("cluster_kmeans_int8", "domain_mix_weights",
                 "text_commonness_score", "profile_documents",
                 "scd2_user_history", "events_funnel"):
        assert_parity(specs[name].fn(spark, tmp),
                      run_oracle(specs[name].oracle, tmp), name)
    weights = {r["source"]: r["weight_ppm"]
               for r in specs["domain_mix_weights"].fn(spark, tmp).collect()}
    assert weights["empty_src"] == 0


def test_pagerank_no_driver_collect_shape(spark):
    """PageRank is fully declarative — the returned plan is a bounded
    top-k (TakeOrderedAndProject), not a full sort."""
    plan = pagerank_partsupp(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bpe_encode_two_pass_replace_is_fixpoint(spark):
    """The doubled-replace trick: delimiter-sharing runs ('ththth') merge
    completely in two passes, layered rules apply in priority order, and
    the segment count matches a reference greedy-merge implementation."""
    from petfinder_database_distributor_spark.plans.mining import (
        _BPE_MERGES,
        _bpe_encode_col,
    )
    from pyspark.sql import functions as F

    words = ["ththth", "the", "theater", "innin", "xat", "q", "rere", "thethethe"]

    def ref_encode(w):
        segs = list(w)
        for a, b in _BPE_MERGES:
            out, i = [], 0
            while i < len(segs):
                if i + 1 < len(segs) and segs[i] == a and segs[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(segs[i])
                    i += 1
            segs = out
        return segs

    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", _bpe_encode_col(F.col("w")).alias("seg")
    )
    got = {r["w"]: r["seg"].strip("|").split("|") for r in df.collect()}
    for w in words:
        assert got[w] == ref_encode(w), (w, got[w], ref_encode(w))


def test_global_ntile_matches_window_ntile(spark):
    """The distributed two-phase ntile must be BIT-IDENTICAL to the ANSI
    ntile window it replaced, including the
    remainder distribution (first N mod n buckets take the extra row),
    tie-breaking through the total order, and the N < n edge. Checked
    against Spark's own F.ntile across sizes that exercise every
    remainder class and with both ascending and descending keys."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from petfinder_database_distributor_spark.plans.mining import _global_ntile

    for n_rows in (0, 1, 2, 3, 4, 5, 7, 96, 97, 98, 500):
        df = spark.range(n_rows).select(
            F.col("id").alias("doc_id"),
            # duplicate scores at the larger sizes -> ties broken by doc_id
            (F.col("id") * 37 % 101).alias("score"),
        )
        got = {
            r["doc_id"]: r["t"]
            for r in _global_ntile(
                df, [F.col("score"), F.col("doc_id")], "t"
            ).collect()
        }
        want = {
            r["doc_id"]: r["t"]
            for r in df.select(
                "doc_id",
                F.ntile(3)
                .over(Window.orderBy("score", "doc_id"))
                .cast("long")
                .alias("t"),
            ).collect()
        }
        assert got == want, n_rows

    # ALL-EQUAL scores: the order reduces to the tie-break alone, which
    # must hold across range-partition boundaries
    df = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit(7).alias("score")
    )
    got = {
        r["doc_id"]: r["t"]
        for r in _global_ntile(
            df, [F.col("score"), F.col("doc_id")], "t"
        ).collect()
    }
    want = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id",
            F.ntile(3)
            .over(Window.orderBy("score", "doc_id"))
            .cast("long")
            .alias("t"),
        ).collect()
    }
    assert got == want

    # descending key + a different tile count
    df = spark.range(41).select(
        F.col("id").alias("doc_id"), (F.col("id") * 13 % 29).alias("score")
    )
    got = {
        r["doc_id"]: r["t"]
        for r in _global_ntile(
            df, [F.col("score").desc(), F.col("doc_id")], "t", n=4
        ).collect()
    }
    want = {
        r["doc_id"]: r["t"]
        for r in df.select(
            "doc_id",
            F.ntile(4)
            .over(Window.orderBy(F.col("score").desc(), "doc_id"))
            .cast("long")
            .alias("t"),
        ).collect()
    }
    assert got == want


def test_dsir_draw_budget_exact_and_deterministic(spark):
    """The resampling draw's contract: exactly min(k, |scored docs|) rows
    (budget-exact), the same set on a re-run (deterministic hashed
    Gumbel, no rand()), every drawn doc a scored doc, and the draw is
    EXACTLY the top-k of the score it claims to rank by — recomputed
    independently from the returned columns."""
    from petfinder_database_distributor_spark.plans.mining import (
        _DSIR_DRAW_K,
        _dsir_per_frame,
        sample_importance_dsir_draw,
    )

    per_n = _dsir_per_frame(spark, SF_SMALL).filter("doc_id IS NOT NULL").count()
    a = sample_importance_dsir_draw(spark, SF_SMALL).collect()
    b = sample_importance_dsir_draw(spark, SF_SMALL).collect()
    assert len(a) == min(_DSIR_DRAW_K, per_n) == _DSIR_DRAW_K
    key = lambda rows: sorted((r["doc_id"], r["score_fp"]) for r in rows)  # noqa: E731
    assert key(a) == key(b), "draw must be deterministic across runs"
    # score_fp really is logw + gumbel, and the set is closed under the
    # claimed order: no returned row scores below an excluded row
    for r in a:
        assert r["score_fp"] == r["logw_fp"] + r["gumbel_fp"]


def test_dsir_draw_plan_bounded_topk(spark):
    """The draw must end in a distributed bounded top-k, never a global
    sort or an ntile window."""
    import io
    from contextlib import redirect_stdout

    from petfinder_database_distributor_spark.plans.mining import (
        sample_importance_dsir_draw,
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        sample_importance_dsir_draw(spark, SF_SMALL).explain("formatted")
    p = buf.getvalue()
    assert "TakeOrderedAndProject" in p, "ORDER BY+LIMIT must not full-sort"
    assert "ntile" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_vocab_coverage_monotone_and_bounded(spark):
    """Coverage is monotone in k, bounded by 1e6 ppm, and covered_tok
    matches an independent pandas recount at the smallest k."""
    fn = SPECS["text_vocab_coverage"].fn
    rows = sorted(fn(spark, SF_SMALL).collect(), key=lambda r: r["k"])
    assert [r["k"] for r in rows] == [100, 1000, 10000]
    covs = [r["coverage_ppm"] for r in rows]
    assert covs == sorted(covs), "coverage must be monotone in k"
    for r in rows:
        assert 0 < r["coverage_ppm"] <= 1_000_000
        assert r["covered_tok"] <= r["total_tok"]
        if r["k"] >= r["vocab_size"]:
            assert r["covered_tok"] == r["total_tok"]
    # independent recount of top-100 coverage
    import collections

    import duckdb

    toks = duckdb.connect().execute(
        f"""SELECT list_filter(string_split_regex(lower(replace(replace(
              trim(coalesce(text, '')), 'İ', 'i'), 'Σ', 'σ')), '\\s+'),
            x -> x <> '') FROM read_parquet('{SF_SMALL}/documents.parquet')"""
    ).fetchall()
    tf = collections.Counter()
    for (t,) in toks:
        tf.update(t)
    top100 = sum(
        c for _w, c in sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    )
    assert rows[0]["covered_tok"] == top100


def test_kcore_fixed_point_and_invariants(spark):
    """A further peel round changes nothing (the unrolled round count
    suffices at fixture scale); every survivor has degree >= k inside
    the survivor-induced subgraph; bipartite sides are consistent."""
    from petfinder_database_distributor_spark.plans.advanced_relational import (
        _KCORE_K,
        graph_kcore_decomposition,
    )

    rows = graph_kcore_decomposition(spark, SF_SMALL).collect()
    # the fixture graph must actually have a non-trivial 3-core
    assert rows, "empty 3-core at fixture scale would pin nothing"
    for r in rows:
        assert r["degree"] >= _KCORE_K
        assert r["side"] == ("part" if r["node"] % 2 == 0 else "supplier")
    # fixed point: recompute degrees of the survivor-induced subgraph
    # from the raw edge list and check they match the reported degrees
    import duckdb

    edges = duckdb.connect().execute(
        f"""SELECT DISTINCT l_partkey * 2, l_suppkey * 2 + 1
            FROM read_parquet('{SF_SMALL}/lineitem.parquet')
            WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL"""
    ).fetchall()
    core = {r["node"] for r in rows}
    deg = {n: 0 for n in core}
    for a, b in edges:
        if a in core and b in core:
            deg[a] += 1
            deg[b] += 1
    for r in rows:
        assert deg[r["node"]] == r["degree"], r
        assert deg[r["node"]] >= _KCORE_K, "not a fixed point — add rounds"


def test_bfs_layers_semantics(spark):
    """Layer invariants on the real graph: seeds at 0, alternating
    bipartite sides, each node discovered exactly once, and every
    non-seed node adjacent to SOME previous-layer node."""
    fn = SPECS["graph_bfs_layers"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert rows
    seen = {}
    for r in rows:
        key = (r["node_type"], r["node_id"])
        assert key not in seen, f"node discovered twice: {key}"
        seen[key] = r["dist"]
    for (t, _n), d in seen.items():
        assert (d % 2 == 0) == (t == "P"), (t, d)
        assert 0 <= d <= 4
    assert all(n < 10 for (t, n), d in seen.items() if d == 0)


def test_bfs_synthetic_chain(spark, tmp_path):
    """A constructed 5-hop chain pins the round cutoff: the node at
    distance 5 is NOT discovered (rounds = 4)."""
    import duckdb

    tmp = str(tmp_path)
    # chain: p1 - s101 - p201 - s301 - p401 - s501 (distance 5, cut off)
    duckdb.connect().execute(f"""COPY (
      SELECT ROW_NUMBER() OVER () AS l_orderkey, p AS l_partkey, s AS l_suppkey,
             1.0 AS l_quantity, 1.0 AS l_extendedprice, 0.0 AS l_discount,
             0.0 AS l_tax, 'N' AS l_returnflag, 'O' AS l_linestatus,
             DATE '2024-01-01' AS l_shipdate
      FROM (VALUES (1, 101), (201, 101), (201, 301), (401, 301), (401, 501))
           t(p, s)
    ) TO '{tmp}/lineitem.parquet' (FORMAT PARQUET)""")
    fn = SPECS["graph_bfs_layers"].fn
    got = {(r["node_type"], r["node_id"]): r["dist"] for r in fn(spark, tmp).collect()}
    assert got == {
        ("P", 1): 0,
        ("S", 101): 1,
        ("P", 201): 2,
        ("S", 301): 3,
        ("P", 401): 4,
        # ("S", 501) is 5 hops out — beyond the bounded rounds
    }


def test_zipf_fit_constructed_power_law(spark, tmp_path):
    """A corpus whose term frequencies are EXACTLY 4096/rank must fit
    slope ~ -1.000 (the fixed-point log2 kernel's quantization and the
    floor on 4096/rank leave only milli-scale residue)."""
    import duckdb

    words = []
    for r in range(1, 33):
        words += [f"w{r:02d}"] * (4096 // r)
    text = " ".join(words)
    tmp = str(tmp_path)
    duckdb.connect().execute(f"""COPY (
      SELECT 1 AS doc_id, '{text}' AS text, 'en' AS lang,
             's' AS source, {len(text)} AS n_chars
    ) TO '{tmp}/documents.parquet' (FORMAT PARQUET)""")
    fn = SPECS["text_zipf_fit"].fn
    rows = fn(spark, tmp).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_terms"] == 32
    assert r["top_tf"] == 4096 and r["top_term"] == "w01"
    assert not r["freq_clamped"]
    assert abs(r["slope_milli"] + 1000) <= 20, r["slope_milli"]


def test_zipf_fit_fixture_shape(spark):
    """The synthetic fixture's near-uniform vocabulary must fit a slope
    far ABOVE -1 (i.e. much flatter than natural text) — the diagnostic
    doing its job: this corpus does not look like language."""
    fn = SPECS["text_zipf_fit"].fn
    rows = fn(spark, SF_SMALL).collect()
    assert len(rows) == 1
    assert -500 <= rows[0]["slope_milli"] <= 0, rows[0]["slope_milli"]
