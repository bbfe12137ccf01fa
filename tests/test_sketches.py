"""Sketch + observability operators that can't hash-match a DuckDB oracle:
HLL approximate distinct (error-bounded vs exact) and observe() metrics
(A2 running counters surfaced from a batch action without a second scan),
plus the KMV sketch's merge, error-band and streaming-register pins."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.registry import load_all
from petfinder_database_distributor_spark.schema import load_table
from tests.conftest import SF_SMALL

SPECS = load_all()


def test_approx_count_distinct_error_bounded(spark):
    ev = load_table(spark, SF_SMALL, "events")
    rows = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), (
            f"{r['event_type']}: approx {r['approx']} vs exact {r['exact']}"
        )


def test_observe_metrics_counters(spark):
    # A2: pipeline counters ride the action itself (no second scan),
    # the batch analog of streaming observe()/lastProgress.
    ev = load_table(spark, SF_SMALL, "events")
    obs = Observation("ingest_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents_seen"),
    )
    n = observed.count()
    assert obs.get["rows_seen"] == n
    exact = ev.select(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("s")
    ).collect()[0]["s"]
    assert obs.get["cents_seen"] == exact


def test_portable_hll_accuracy_with_correction(spark):
    """The registered sketch_hll_distinct_users query emits exact-portable
    sketch state (zero_regs, scaled harmonic sum, raw estimate) AND an
    in-engine hll_corrected_estimate (the linear-
    counting ln(m/V) is a 512-entry exact-double literal table shared with
    the oracle, so the correction itself is portable). Bounds pinned here:
    the in-engine correction must equal the textbook m*ln(m/V) to the
    emitted 4 decimals, land within 2% of the exact distinct count in the
    low range (absolute floor of 1 count: at 15 users a single bucket
    collision moves linear counting by ~1), and the raw estimator must
    hold the theoretical ~1.04/sqrt(m) bound (x3) at high range."""
    import math

    import duckdb

    from petfinder_database_distributor_spark.registry import load_all

    spec = load_all()["sketch_hll_distinct_users"]
    for sf_dir in (SF_SMALL, f"{SF_SMALL}/../sf0.01", f"{SF_SMALL}/../sf0.1"):
        row = spec.fn(spark, sf_dir).collect()[0]
        m, v, e_raw = row["m"], row["zero_regs"], row["hll_raw_estimate"]
        corrected = row["hll_corrected_estimate"]
        exact = duckdb.sql(
            f"SELECT count(DISTINCT user_id) FROM '{sf_dir}/events.parquet'"
        ).fetchone()[0]
        if e_raw <= 2.5 * m and v > 0:
            assert corrected == round(m * math.log(m / v), 4), (
                f"{sf_dir}: in-engine correction {corrected} != textbook"
                f" linear counting {m * math.log(m / v):.4f}"
            )
            assert abs(corrected - exact) <= max(1.0, 0.02 * exact), (
                f"{sf_dir}: corrected {corrected:.1f} vs exact {exact} —"
                " low-range error above 2%"
            )
        else:
            assert corrected == e_raw, "outside low range the raw passes through"
            assert abs(e_raw - exact) / exact <= 3 * 1.04 / math.sqrt(m), (
                f"{sf_dir}: raw estimate {e_raw} vs exact {exact}"
            )
        assert abs(corrected - exact) <= max(1.0, 0.05 * exact), (
            f"{sf_dir}: corrected {corrected:.1f} vs exact {exact}"
        )


def test_hll_merge_is_lossless(spark):
    """Mergeability, the property that makes the sketch distributed: the
    register-wise max of per-shard HLL states must equal the single-pass
    global state EXACTLY (not approximately) at every SF."""
    from petfinder_database_distributor_spark.registry import load_all

    spec = load_all()["sketch_hll_mergeable"]
    for sf_dir in (SF_SMALL, f"{SF_SMALL}/../sf0.01", f"{SF_SMALL}/../sf0.1"):
        row = spec.fn(spark, sf_dir).collect()[0]
        assert row["merge_exact"] is True
        assert row["s_scaled_merged"] == row["s_scaled_direct"]


def test_bloom_membership_guarantees(spark):
    """Bloom-filter guarantees at every SF: zero false negatives (every
    probe id actually present in events.user_id must report
    maybe_present), and the theoretical false-positive rate
    (1 - e^{-kn/m})^k stays a meaningful bound — with n <= 1500 distinct
    users, k=4, m=8192 the predicted FP rate is < 8%, so the absent
    sentinels overwhelmingly report absent; we assert the per-hash hit
    count never fabricates a full k-of-k match at the smallest SFs where
    fill is ~1%."""
    import duckdb

    from petfinder_database_distributor_spark.registry import load_all

    spec = load_all()["sketch_bloom_membership"]
    for sf_dir in (SF_SMALL, f"{SF_SMALL}/../sf0.01", f"{SF_SMALL}/../sf0.1"):
        rows = {r["probe_user_id"]: r for r in spec.fn(spark, sf_dir).collect()}
        present = {
            r[0]
            for r in duckdb.sql(
                f"SELECT DISTINCT user_id FROM '{sf_dir}/events.parquet'"
                " WHERE user_id IS NOT NULL"
            ).fetchall()
        }
        bits_set = next(iter(rows.values()))["bits_set"]
        assert 0 < bits_set <= 8192
        for pid, r in rows.items():
            if pid in present:
                assert r["maybe_present"], f"{sf_dir}: FALSE NEGATIVE for {pid}"
            else:
                # fill ratio bounds the per-hash collision chance; at these
                # SFs fill <= ~0.52 (sf0.1: 1500 users x 4 hashes / 8192),
                # so a full 4-of-4 false positive has p <= fill^4 ~= 7%.
                fill = bits_set / 8192
                assert not r["maybe_present"] or fill > 0.25, (
                    f"{sf_dir}: absent id {pid} reported present at fill"
                    f" {fill:.3f} — hash family is not spreading"
                )


def test_cms_guarantee_vs_exact(spark):
    """Count-Min guarantee: estimate NEVER undercounts, and overcounts by
    at most the collision noise (~d-independent; bound by 2N/w with large
    margin here). Checked against exact token counts at sf0.01."""
    import duckdb

    from petfinder_database_distributor_spark.registry import load_all

    sf_dir = f"{SF_SMALL}/../sf0.01"
    est = {
        r["word"]: r["cms_count"]
        for r in load_all()["sketch_cms_term_counts"].fn(spark, sf_dir).collect()
    }
    exact_rows = duckdb.sql(
        f"""
        WITH toks AS (SELECT list_filter(string_split_regex(lower(trim(text)),
                      '\\s+'), x -> x <> '') AS t
                      FROM read_parquet('{sf_dir}/documents.parquet')),
        tok AS (SELECT u.x AS tok, count(*) AS c FROM toks, unnest(t) u(x) GROUP BY u.x)
        SELECT tok, c FROM tok
        """
    ).fetchall()
    exact = dict(exact_rows)
    n_total = sum(exact.values())
    for word, e in est.items():
        true = exact.get(word, 0)
        assert e >= true, f"CMS undercounted {word}: {e} < {true}"
        assert e <= true + 2 * n_total / 1024, f"CMS noise blown on {word}"


def test_histogram_quantiles_within_bin_width(spark):
    """Deterministic error bound of the histogram sketch: every estimate
    within one bin width (2.0) of the exact continuous quantile."""
    import duckdb

    from petfinder_database_distributor_spark.registry import load_all

    spec = load_all()["sketch_histogram_quantiles"]
    for sf_dir in (SF_SMALL, f"{SF_SMALL}/../sf0.01"):
        rows = {r["q"]: r["quantile_est"] for r in spec.fn(spark, sf_dir).collect()}
        assert set(rows) == {0.25, 0.5, 0.9, 0.99}
        for q, est in rows.items():
            exact = duckdb.sql(
                f"SELECT quantile_cont(value, {q}) "
                f"FROM '{sf_dir}/events.parquet'"
            ).fetchone()[0]
            assert abs(est - exact) <= 2.0, f"q={q}: est {est} vs exact {exact}"


def test_kmv_register_merge_equals_direct(spark):
    """The theta-sketch merge theorem, checked concretely: the k smallest
    hashes of the UNION of the per-type registers equal the directly
    built global register (every global top-k hash is inside its own
    type's top-k), so the ALL row is exactly the merged estimate."""
    from petfinder_database_distributor_spark.operators.text import md5int
    from petfinder_database_distributor_spark.plans.llm_pipeline import _KMV_K
    from petfinder_database_distributor_spark.schema import load_table
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = load_table(spark, SF_SMALL, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    hx = ev.select(
        F.col("event_type").alias("scope"),
        md5int(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("scope").orderBy("h")
    per_type_registers = (
        hx.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .select("h")
        .distinct()
    )
    merged = [
        r["h"] for r in per_type_registers.orderBy("h").limit(_KMV_K).collect()
    ]
    direct = [
        r["h"]
        for r in hx.select("h").distinct().orderBy("h").limit(_KMV_K).collect()
    ]
    assert merged == direct


def test_kmv_estimate_quality(spark):
    """KMV's relative error is ~1/sqrt(k) = 12.5% at k=64; assert a slack
    2x band on every full register, and exactness below k."""
    fn = SPECS["sketch_kmv_distinct"].fn
    for r in fn(spark, SF_SMALL).collect():
        if r["kth_hash"] is None:
            assert r["est_distinct"] == r["n_exact"]
        else:
            assert abs(r["est_distinct"] - r["n_exact"]) <= 0.25 * r["n_exact"], r


def test_stream_kmv_equals_batch_register(spark):
    """The streaming register (per-batch reduce + monoid merge) must
    equal the batch sketch's ALL row — mergeability is the property that
    makes the sketch distributable at all."""
    fn_stream = SPECS["stream_sketch_kmv"].fn
    fn_batch = SPECS["sketch_kmv_distinct"].fn
    stream_rows = fn_stream(spark, SF_SMALL).collect()
    batch_all = [
        r for r in fn_batch(spark, SF_SMALL).collect() if r["scope"] == "ALL"
    ]
    assert len(stream_rows) == 1 and len(batch_all) == 1
    s, b = stream_rows[0], batch_all[0]
    assert s["est_distinct"] == b["est_distinct"]
    assert s["kth_hash"] == b["kth_hash"]
