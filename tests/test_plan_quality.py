"""Physical-plan assertions: the optimizations the engine is designed
around must actually appear in the executed plans (scan pruning, predicate
pushdown, broadcast of small sides, top-k without a full sort, and — for
the dedup family — the absence of any all-pairs join)."""

from __future__ import annotations

import io
import json
from contextlib import redirect_stdout

import pytest

from petfinder_database_distributor_spark.registry import load_all
from tests.conftest import SF_SMALL
from tests.plan_digest import DIGEST_PATH, query_digest

SPECS = load_all()
with open(DIGEST_PATH) as _fh:
    PINNED_DIGESTS = json.load(_fh)


def plan_of(spark, name: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        SPECS[name].fn(spark, SF_SMALL).explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_column_pruning(spark):
    p = plan_of(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in p, "shipdate filter must reach the scan"
    assert "l_comment" not in p, "untouched wide column must be pruned from the scan"
    assert "l_orderkey" not in p, "unused key column must be pruned from the scan"


def test_q5_broadcasts_small_dimensions(spark):
    p = plan_of(spark, "q5_region_nation_revenue")
    assert "BroadcastHashJoin" in p, "dim joins must broadcast, not shuffle"
    assert "EqualTo(r_name,ASIA)" in p, "region filter must be pushed to the scan"


def test_topk_uses_bounded_sort(spark):
    p = plan_of(spark, "topk_orders_global")
    assert "TakeOrderedAndProject" in p, "ORDER BY+LIMIT must not full-sort"


def test_bruteforce_ann_broadcasts_queries(spark):
    p = plan_of(spark, "ann_bruteforce_topk")
    assert "BroadcastNestedLoopJoin" in p, "small query side must broadcast"


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash_pairs",
        "dedup_embedding_cosine",
        "dedup_levenshtein",
        "dedup_multimodal_phash",
    ],
)
def test_dedup_family_never_all_pairs(spark, name):
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p, f"{name} must not materialize all-pairs"
    assert "BroadcastNestedLoopJoin" not in p, f"{name} must join on bucket keys only"


def test_simhash_candidate_ratio_bounded(spark):
    """A 16-bit signature blocks into ~5-bit keys and makes ~37% of ALL
    pairs candidates at sf0.01 — near-quadratic at 100 TB. With 60-bit
    signatures / 20-bit block keys we pin two bounds:

    * overall candidate ratio < 10% (was 37%): at sf0.01 the documents
      corpus is duplication-dense by construction, so most surviving
      candidates are genuinely >92%-bit-similar docs — candidate volume
      tracks true near-dup density, which is what LSH is supposed to do;
    * dissimilar-collision tail < 0.5%: candidates at hamming > 10 collided
      on a block WITHOUT being similar. This is the quantity that goes
      quadratic at scale (it's ~3n²/2²⁰ random collisions for 20-bit keys,
      but was ~n²/32 for the old 5-bit keys) — measured 0.28% here."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        SIMHASH_BITS,
        simhash_blocks,
        simhash_signatures,
    )
    from petfinder_database_distributor_spark.schema import load_table

    docs = load_table(spark, f"{SF_SMALL}/../sf0.01", "documents")
    n = docs.count()
    sims = simhash_signatures(docs, "doc_id", "text")
    blocks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("half"),
                        F.shiftright(F.col("simhash"), shift)
                        .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                        .alias("key"),
                    )
                    for b, (shift, width) in enumerate(
                        simhash_blocks(SIMHASH_BITS, 3)
                    )
                ]
            )
        ).alias("hk"),
    ).select("doc_id", "simhash", "hk.half", "hk.key")
    a = blocks.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sim_a"), "half", "key"
    )
    b = blocks.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sim_b"), "half", "key"
    )
    cand = (
        a.join(b, on=["half", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("h", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
    )
    row = cand.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("h") > 10, 1).otherwise(0)).alias("dissimilar"),
    ).collect()[0]
    all_pairs = n * (n - 1) / 2
    assert row["total"] / all_pairs < 0.10, (
        f"simhash blocking produced {row['total']}/{all_pairs:.0f} candidate"
        " pairs — blocking keys are too narrow to prune at scale"
    )
    assert row["dissimilar"] / all_pairs < 0.005, (
        f"{row['dissimilar']} dissimilar pairs (hamming>10) collided on a"
        " block — the random-collision tail would go quadratic at scale"
    )


def test_dpp_prunes_fact_partitions(spark):
    """Dynamic partition pruning: the date-partitioned
    events fact joined to a selectively-filtered broadcast calendar dim must
    carry a ``dynamicpruning`` expression in the fact scan's
    PartitionFilters — whole partitions are skipped at runtime, the third
    pillar of the 100 TB join story next to bucketing (j5) and the AQE
    runtime Bloom filter. Also verified by execution: the pruned scan must
    read fewer files than the table has partitions."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.plans.physical import (
        dpp_events_calendar_join,
    )

    joined = dpp_events_calendar_join(spark, SF_SMALL)
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    p = buf.getvalue()
    assert "dynamicpruning" in p.lower(), (
        "fact scan must carry a dynamic-pruning partition filter:\n" + p
    )
    # Execution-level proof: only first-week dates (7 of 30 partitions at
    # this SF) survive; the matched row count equals the dim-side filter.
    got = joined.agg(F.count(F.lit(1))).collect()[0][0]
    exact = (
        spark.read.parquet(
            __import__(
                "petfinder_database_distributor_spark.plans.physical",
                fromlist=["partitioned_events_path"],
            ).partitioned_events_path(spark, SF_SMALL)
        )
        .filter(F.dayofmonth("event_date") <= 7)
        .count()
    )
    assert got == exact and got > 0


def test_simhash_tokenizer_splits_ascii_whitespace_only(spark):
    """Python's default \\s splits on Unicode whitespace
    (U+00A0 NBSP — reachable via the HTML extractor's &nbsp;) but both the
    expression-side tokens() (Java regex) and the DuckDB oracle (RE2) split
    on ASCII whitespace only. 'a\\xa0b' must therefore hash as ONE token —
    for a single-token doc the SimHash signature IS the token's 60-bit
    md5int — and DuckDB must agree it is one token."""
    import hashlib

    import duckdb

    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        simhash_text_udf,
    )

    text = "a\xa0b"
    expected = int(hashlib.md5(text.encode("utf-8")).hexdigest()[:15], 16)
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    got = df.select(simhash_text_udf()("text").alias("s")).collect()[0]["s"]
    assert got == expected, (
        f"simhash({text!r}) = {got}, expected single-token hash {expected} —"
        " the UDF tokenizer is splitting on Unicode whitespace"
    )
    n_oracle = duckdb.sql(
        r"SELECT len(list_filter(regexp_split_to_array('a' || chr(160) || 'b',"
        r" '\s+'), x -> x <> ''))"
    ).fetchone()[0]
    assert n_oracle == 1, "oracle regexp must also treat NBSP as a non-split char"


def test_ingest_frontend_anti_join_before_fetch(spark):
    # O1 plan shape: the key-dedup/anti-join runs on cheap columns; no
    # Python UDF (fetch) appears upstream of the anti join in this plan.
    p = plan_of(spark, "ingest_frontend")
    assert "LeftAnti" in p


def test_bucketed_join_has_no_exchange(spark):
    # The whole point of bucketing: the equi-join co-locates via the bucket
    # layout, not a shuffle. Disable broadcast so the plan can't cheat.
    from petfinder_database_distributor_spark.plans.physical import (
        bucketed_orders_customer,
    )
    from petfinder_database_distributor_spark.streaming.incremental import scoped_conf

    with scoped_conf(spark, spark__sql__autoBroadcastJoinThreshold="-1"):
        joined = bucketed_orders_customer(spark, SF_SMALL)
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
    assert "SortMergeJoin" in p, "bucketed equi-join should sort-merge"
    assert "Exchange" not in p, "bucketed join must not shuffle either side"


def test_q4_exists_decorrelates_to_semi_join(spark):
    p = plan_of(spark, "q4_sql_exists")
    assert "LeftSemi" in p, "correlated EXISTS must decorrelate to a semi join"


def test_tfidf_topk_uses_bounded_sort(spark):
    p = plan_of(spark, "tfidf_top_terms")
    assert "TakeOrderedAndProject" in p, "top-50 must not full-sort the term table"


def test_dedup_apply_anti_join(spark):
    # No broadcast assertion on purpose: the drop set scales WITH the corpus
    # (30-50% near-dup fractions are normal), so the unhinted shuffle
    # anti-join is the 100 TB shape; AQE may still broadcast small cases.
    p = plan_of(spark, "dedup_apply_corpus")
    assert "LeftAnti" in p


def test_runtime_bloom_filter_join(spark):
    """AQE runtime filters — the 100 TB shuffle-join lever this suite can
    demonstrate but a registered query can't carry (injection happens at
    optimization/action time, so it would need PERMANENT session confs —
    autoBroadcastJoinThreshold=-1 among them — that would pessimize every
    later query in the driver's shared session). Scoped here: with a
    selective filter on the orders side, Spark builds a bloom_filter_agg
    over the join keys and pushes a might_contain predicate into the
    lineitem scan side, pruning shuffle input before the sort-merge join.
    Shape AND results verified inside the scope."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.schema import load_table
    from petfinder_database_distributor_spark.streaming.incremental import scoped_conf

    with scoped_conf(
        spark,
        spark__sql__optimizer__runtime__bloomFilter__enabled="true",
        spark__sql__optimizer__runtime__bloomFilter__applicationSideScanSizeThreshold="0",
        spark__sql__autoBroadcastJoinThreshold="-1",  # force SMJ: filter matters
    ):
        orders = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_SMALL, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        assert "bloom_filter_agg" in p, "runtime bloom filter must be created"
        assert "might_contain" in p, "…and pushed into the probe side scan"
        got = {r["o_orderpriority"]: r["n"] for r in j.collect()}
    plain = (
        load_table(spark, SF_SMALL, "lineitem")
        .join(
            load_table(spark, SF_SMALL, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {r["o_orderpriority"]: r["n"] for r in plain.collect()}
    assert got == want, "bloom-filtered join must not change results"


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling — the fourth runtime lever next to DPP,
    bucketing, and the runtime Bloom filter, and the automatic fallback
    behind the manual salting operators (j4_salted_join,
    dedup_ngram_jaccard_salted): when one join key dominates, AQE splits
    the oversized shuffle partition into multiple tasks instead of
    serializing on one reducer. Drives the REGISTERED j8_aqe_skew_join
    query (whose fixture remaps ~90% of lineitem rows onto one supplier
    key) with SMJ forced and thresholds scoped down so the sf0.001 volume
    crosses them; the executed adaptive plan must mark the sort-merge
    join's skewed side and results must be unchanged."""
    from petfinder_database_distributor_spark.streaming.incremental import scoped_conf

    with scoped_conf(
        spark,
        spark__sql__autoBroadcastJoinThreshold="-1",  # force SMJ: skew matters
        spark__sql__adaptive__skewJoin__enabled="true",
        spark__sql__adaptive__skewJoin__skewedPartitionFactor="1.0",
        spark__sql__adaptive__skewJoin__skewedPartitionThresholdInBytes="2KB",
        spark__sql__adaptive__advisoryPartitionSizeInBytes="2KB",
        # the query aggregates ON the join key, so splitting the skewed
        # partition costs an extra exchange before the agg — AQE skips the
        # optimization by default in that case; force it (that trade is
        # exactly right when one reducer would otherwise take the whole
        # hot key) so the executed plan demonstrates the split.
        spark__sql__adaptive__forceOptimizeSkewedJoin="true",
    ):
        j = SPECS["j8_aqe_skew_join"].fn(spark, SF_SMALL)
        # Execute THROUGH the same Dataset (count() would build its own
        # QueryExecution and leave this one unexecuted/isFinalPlan=false);
        # skew handling is decided at runtime, so only the final adaptive
        # plan of the executed query shows it.
        rows = {r["k"]: r["n"] for r in j.collect()}
        executed = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in executed, (
        "AQE must mark the skewed SMJ side for partition splitting:\n"
        + executed[:2000]
    )
    total = sum(rows.values())
    assert rows[1] > 0.8 * total, "fixture must actually be skewed onto key 1"
    assert len(rows) > 1, "non-hot suppkeys must survive the join"


def test_sketch_plans_partial_aggregate_no_expand(spark):
    """The sketches' scale claim in plan form: register construction is a
    partial-then-final hash aggregate over the BOUNDED key space (map-side
    combine before any exchange), and the HLL plan contains no Expand node
    (the count-distinct rewrite whose shuffle carries every distinct key —
    exactly what the sketch exists to avoid)."""
    p_hll = plan_of(spark, "sketch_hll_distinct_users")
    assert "partial_max" in p_hll, "register max must partial-aggregate map-side"
    assert "Expand" not in p_hll, "HLL must not fall back to a distinct rewrite"
    p_cms = plan_of(spark, "sketch_cms_term_counts")
    assert "partial_count" in p_cms, "counter build must partial-aggregate map-side"
    assert "CartesianProduct" not in p_cms
    p_hq = plan_of(spark, "sketch_histogram_quantiles")
    assert "partial_count" in p_hq, "bin counts must partial-aggregate map-side"


def test_similarity_chooser_switches_strategy(spark):
    """SURVEY §7.2's optional cost rule: exact broadcast scoring under the
    pair budget, banded LSH above it — verified by plan shape."""
    from petfinder_database_distributor_spark.operators.similarity import (
        similarity_topk,
    )
    from petfinder_database_distributor_spark.schema import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )

    def plan(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    exact = plan(similarity_topk(q, emb, k=5, queries_count=8, corpus_count=500))
    assert "BroadcastNestedLoopJoin" in exact, "under budget -> exact broadcast scan"
    approx = plan(
        similarity_topk(
            q, emb, k=5, queries_count=8, corpus_count=500, max_exact_pairs=100
        )
    )
    assert "BroadcastNestedLoopJoin" not in approx, "over budget -> LSH path"
    assert "ArrowEvalPython" in approx, "LSH path computes band keys via the Arrow UDF"


def test_profile_documents_bounded_aggs_no_distinct_rewrite(spark):
    """The one-scan profiler claim: per-column distinct comes from the
    bounded HLL register agg, never a count-distinct Expand rewrite, and
    the whole 5-column profile plans a bounded number of exchanges
    (measured 6: stats agg, two register agg hops, the tiny est join) —
    NOT one count-distinct shuffle per column."""
    from petfinder_database_distributor_spark.plans.mining import profile_documents
    from tests.conftest import SF_SMALL

    plan = (
        profile_documents(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan, "profiler must not use a distinct rewrite"
    assert plan.count("Exchange") <= 8, plan


def test_q6_every_predicate_reaches_scan(spark):
    """Q6 is the canonical pushdown probe: shipdate range, discount band and
    quantity cap must all appear as data filters on the parquet scan, and
    the scan must read only the four referenced columns."""
    p = plan_of(spark, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount" in p and "LessThan(l_quantity" in p
    assert "l_orderkey" not in p, "unused key column must be pruned"


def test_q19_disjunction_factors_and_broadcasts(spark):
    """Q19's OR-of-ANDs must not defeat the optimizer: the partkey equi-join
    survives as a broadcast hash join, the brand/size disjunction factors
    onto the part scan, and the quantity disjunction onto the lineitem
    scan — neither side is scanned unfiltered."""
    p = plan_of(spark, "q19_disjunctive_predicates")
    assert "BroadcastHashJoin" in p, "partkey equi-join must survive the OR"
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Brand#12" in p and "Brand#34" in p, "brand disjunction must reach the part side"
    # quantity bounds factored onto the lineitem scan (pushed Or filter)
    assert "Or(And(GreaterThanOrEqual(l_quantity" in p


def test_tpch_self_reference_single_fact_scan(spark):
    """Q2/Q20/Q21 reference their reduced aggregate twice (per-key min /
    total / counts). The window rewrite must keep lineitem scanned ONCE —
    a CTE-style self-join would scan and reduce the fact table twice."""
    for name in ("q2_min_cost_supplier", "q20_excess_share_suppliers", "q21_sole_returner"):
        p = plan_of(spark, name)
        assert p.count("lineitem.parquet") == 1, f"{name}: fact table scanned more than once"


def test_q21_topk_uses_bounded_sort(spark):
    p = plan_of(spark, "q21_sole_returner")
    assert "TakeOrderedAndProject" in p, "top-20 must not full-sort"


def test_q18_reduces_before_join(spark):
    """Q18's per-order quantity agg must run below the joins (reduce-then-
    join): the HAVING filter sits on the aggregate, not after the joins.
    Formatted-plan node numbers are assigned children-first, so 'below the
    join' means the per-order aggregate's node number is SMALLER than every
    join's — comparing raw string positions would test nothing (the tree
    header prints root-first)."""
    import re

    p = plan_of(spark, "q18_large_orders")
    agg_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) HashAggregate\nInput.*\nKeys \[1\]: \[l_orderkey", p)
    ]
    join_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", p)
    ]
    assert agg_ids and join_ids, "plan must contain the per-order agg and the joins"
    assert max(agg_ids) < min(join_ids), (
        f"per-order aggregate (nodes {agg_ids}) must sit below every join "
        f"(nodes {join_ids}) — lineitem must be reduced before joining"
    )
    # and the HAVING filter applies to the aggregate output, below the joins
    having_ids = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) Filter\nInput.*\nCondition :.*sum_qty", p)
    ]
    assert having_ids and max(having_ids) < min(join_ids), "HAVING must filter pre-join"


def test_orc_roundtrip_predicate_pushdown(spark):
    """The read-back filter must reach the ORC scan (PushedFilters), so at
    scale stripe min/max statistics skip whole stripes — a post-scan
    Filter-only plan would decode every row first."""
    import re

    p = plan_of(spark, "export_roundtrip_orc")
    assert "Scan orc" in p, "read side must be a native ORC scan"
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "EqualTo(event_type,click)" in m.group(1), (
        f"event_type predicate must be pushed to the ORC reader: {m and m.group(1)}"
    )


def test_runtime_bloom_filter_injects(spark):
    """AQE runtime Bloom filter (j7): under thresholds a test-scale corpus
    can meet, Spark must build a Bloom filter from the selective dim side
    (bloom_filter_agg over o_orderkey) and probe it on the fact scan
    (might_contain on l_orderkey) BEFORE the join shuffle. At real scale
    the default thresholds fire on their own; this pins that the join
    SHAPE is injectable at all — a join written against misaligned key
    expressions would silently lose the filter."""
    from petfinder_database_distributor_spark.plans.physical import (
        runtime_bloom_join_plan,
    )

    p = runtime_bloom_join_plan(spark, SF_SMALL)
    assert "bloom_filter_agg" in p, "dim side must build the Bloom filter"
    assert "might_contain" in p, "fact scan must probe the Bloom filter"
    assert "l_orderkey" in p.split("might_contain", 1)[1][:200], (
        "the probe must sit on the fact join key"
    )


def test_no_literal_reducer_counts_in_plans():
    """No registered plan may pin a literal shuffle
    partition count — the clustering loops take shuffle_partitions="auto"
    (derived from the materialized edge count, capped by the session conf)
    or None, never a magic integer that is right at one scale factor and
    wrong at 100 TB."""
    import pathlib
    import re

    plans_dir = (
        pathlib.Path(__file__).resolve().parents[1]
        / "petfinder_database_distributor_spark"
        / "plans"
    )
    offenders = []
    for f in sorted(plans_dir.glob("*.py")):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if re.search(r"shuffle_partitions\s*=\s*\d", line):
                offenders.append(f"{f.name}:{i}: {line.strip()}")
    assert not offenders, "literal reducer counts in plans:\n" + "\n".join(offenders)


def test_auto_loop_partitions_derivation(spark):
    from petfinder_database_distributor_spark.operators.dedup_fuzzy import (
        EDGES_PER_LOOP_PARTITION,
        _auto_loop_partitions,
    )

    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _auto_loop_partitions(spark, 0) == 1
    assert _auto_loop_partitions(spark, 1) == 1
    assert _auto_loop_partitions(spark, EDGES_PER_LOOP_PARTITION) == 1
    assert _auto_loop_partitions(spark, EDGES_PER_LOOP_PARTITION + 1) == min(session, 2)
    assert (
        _auto_loop_partitions(spark, 10**12) == session
    ), "the session conf is the cluster-sized ceiling"


def test_url_canonical_dedup_single_shuffle_no_python(spark):
    """The canonicalizer must stay JVM-side (pure expressions — no
    BatchEvalPython / ArrowEvalPython stage) and the whole query must pay
    exactly the TWO exchanges its aggregation needs (the canonical-key
    group plus count-distinct's regroup on (canonical, raw)): at 100 TB
    the map side is a narrow projection over the scan."""
    import re

    p = plan_of(spark, "url_canonical_dedup")
    assert "EvalPython" not in p, "canonicalize_url must compile to expressions"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchanges == 2, p
    assert "partial_count" in p, "group-count must partial-aggregate map-side"


def test_ref_scalar_suite_stays_jvm_side(spark):
    """Seven folded scalar families, one checksum each: every checksum
    is a decimal partial aggregate over native expressions — no Python
    stage anywhere, no join, no window."""
    p = plan_of(spark, "ref_scalar_suite")
    assert "EvalPython" not in p
    assert "partial_sum" in p and "partial_count" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_pq_adc_never_pairs_vectors(spark):
    """Exhaustive PQ-ADC over the committed index: nothing in the plan may
    join corpus-by-corpus — the memory-bound path must not reintroduce an
    all-pairs vector join. The only Cross join allowed is the hinted
    16-row centroid ranking. Equi-joins carry NO mandatory broadcast hint
    (luts grows with the serving batch), so the static plan may
    legitimately show a shuffle join on (centroid_id) / (query_id) — the
    shape that survives at 100 TB — while AQE broadcasts at small scale."""
    import re

    p = plan_of(spark, "ann_pq_adc_topk")
    assert "CartesianProduct" not in p, "all-pairs vector join reintroduced"
    n_cross = len(re.findall(r"Join type: Cross", p))
    assert n_cross <= 1, f"only the centroid-ranking cross allowed: {n_cross}"


def test_ann_probe_paths_no_mandatory_broadcast_on_query_growing_frames(spark):
    """The per-query LUT / raw-query-vector sides of the ANN probe and ADC
    joins grow WITH the serving batch, so they must carry NO mandatory
    F.broadcast() hint (AQE broadcasts while small, degrades to a shuffle
    join instead of OOMing the driver — the same rule as for
    market_basket/graph_triangle). The only allowed hints are on
    config-bounded frames: the 16-row centroids and the 128-row codebook."""
    # per probe path: ivf_pq_probe hints centroids (16-row crossJoin) +
    # codebook (128-row lut join) = 2; ivf_flat_probe hints centroids = 1
    bounded_hints_ok = {
        "ann_index_probe_topk": 2,
        "ann_pq_adc_topk": 2,
        "ann_ivf_topk": 1,
    }
    for name, n_ok in bounded_hints_ok.items():
        logical = str(
            SPECS[name].fn(spark, SF_SMALL)._jdf.queryExecution().analyzed()
        )
        hints = [ln for ln in logical.splitlines() if "ResolvedHint" in ln]
        for h in hints:
            assert "broadcast" in h.lower(), h
        assert len(hints) <= n_ok, (name, hints)


def test_classifier_is_expression_only(spark):
    """quality_classifier_score must stay whole-stage-codegen expression
    work: no joins, no exchanges before the output."""
    p = plan_of(spark, "quality_classifier_score")
    for op in ("Join", "Exchange"):
        assert op not in p, f"classifier plan must not contain {op}: pure scan+project"
    assert "codegen id" in p  # formatted-mode spelling of WholeStageCodegen spans


def test_pushdown_barrier_survives_optimizer(spark):
    """pushdown_barrier keeps filters ABOVE the projection it wraps
    (the duplication trap — a filter pushed below a Project
    re-inlines the column's whole expression tree into the Filter). The
    wrapper's non-determinism relies on Spark NOT constant-folding
    `rand() + 1.0 >= 0.0`; Spark 4.1 already folds the direct form
    `rand() >= -1.0`, so this pin fails loudly if an
    upgrade learns interval arithmetic and silently re-duplicates the
    tokenize trees."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.util import pushdown_barrier

    df = (
        spark.range(10)
        .select(F.col("id"), pushdown_barrier(F.col("id") * 2).alias("c"))
        .filter(F.col("c") > 3)
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN" in opt, "barrier folded away — filter was pushed below"
    assert opt.index("Filter") < opt.index("Project"), (
        "filter must stay ABOVE the barrier projection"
    )


def test_shingle_family_tokenizes_once_per_branch(spark):
    """The tokenize chain must appear exactly ONCE
    per document-scan branch — not twice (InferFiltersFromGenerate's
    re-inferred size(sh)>0 filter pushed below the shingle projection)
    and not 5x (the shingle zip_with chain referencing an INLINE
    tokens(text) from interpreted HOF slots). One chain per branch =
    every `split(lower(translate` occurrence sits in its own projection
    over a distinct scan of the documents table. The counts are the
    observed ones, pinned exactly: an extra chain on any branch fails."""
    import re

    for name, branches in [
        ("dedup_ngram_jaccard_baseline", 4),
        ("dedup_ngram_containment", 4),
        ("dedup_span_overlap", 4),
    ]:
        p = plan_of(spark, name)
        chains = p.count("split(lower(translate")
        scans = len(re.findall(r"Location: [^\n]*documents\.parquet", p))
        assert (chains, scans) == (branches, branches), (
            f"{name}: {chains} tokenize chains over {scans} document scans,"
            f" want exactly {branches} of each — the duplication trap is back"
        )


def test_pushdown_barrier_keeps_pushdown_below_it(spark):
    """The barrier stops pushdown through its own projection only: in
    quality_classifier_score, the ``doc_id IS NOT NULL`` filter under the
    wrapped token projection must still reach the parquet scan. This pins
    pruning, where test_pushdown_barrier_survives_optimizer pins only that
    the barrier is not folded away."""
    import re

    p = plan_of(spark, "quality_classifier_score")
    assert "rand(" in p, "the barrier must be in the plan"
    assert re.findall(r"PushedFilters: \[([^\]]*)\]", p) == ["IsNotNull(doc_id)"]


def test_span_overlap_bucketed_join_only(spark):
    """Substring-span dedup joins postings on the chunk hash — never an
    all-pairs operator — and its run-detection window keys on the doc
    pair + alignment, not the corpus."""
    p = plan_of(spark, "dedup_span_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_priority_sample_uses_bounded_topk(spark):
    """Fixed-size weighted sampling is a global top-k: TakeOrderedAndProject
    (k rows of state per task), never a full Sort."""
    p = plan_of(spark, "sample_priority_topk")
    assert "TakeOrderedAndProject" in p


def test_gram_matrix_bounded_agg_no_window_no_join(spark):
    """The Gram pass is projection -> explode -> ONE hash aggregate with
    d(d+1)/2 keys: no join, no window, and exactly one data exchange
    (the 2080-key partial-agg shuffle) + the result-collect exchange."""
    import re

    p = plan_of(spark, "embedding_gram_matrix")
    assert "Join" not in p and "Window" not in p
    assert len(re.findall(r"Exchange \(\d+\)", p)) <= 2, p


def test_bpe_encode_narrow_until_doc_agg(spark):
    """The BPE encode chain is pure codegen: no Python evaluator anywhere,
    and the only shuffles are ensure_parallelism's round-robin split of
    the single-file scan + the per-doc aggregate."""
    import re

    p = plan_of(spark, "bpe_encode_segments")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert len(re.findall(r"Exchange \(\d+\)", p)) <= 2, p


def test_basket_and_triangles_never_all_pairs(spark):
    """Co-occurrence mining self-joins on the ORDER key (fan-out bounded
    by basket size) and triangle counting joins degree-ordered wedges on
    equi-keys: no cartesian anywhere; the only BroadcastNestedLoopJoins
    are the 1-row scalar assemblies (cross, build side = one aggregate
    row)."""
    for name in ("market_basket_pairs", "graph_triangle_count"):
        p = plan_of(spark, name)
        assert "CartesianProduct" not in p, name


def test_basket_and_triangles_no_mandatory_broadcast_on_growing_dims(spark):
    """The per-part support and per-node degree sides are |parts| / |nodes|
    rows — corpus-growing — so the joins must NOT carry a mandatory
    F.broadcast() hint: at 100 TB a hard hint is a driver OOM where AQE
    would have degraded to a shuffle join. The only allowed hints are on
    provably bounded frames (1-row scalar aggregates)."""
    for name in ("market_basket_pairs", "graph_triangle_count"):
        logical = str(
            SPECS[name].fn(spark, SF_SMALL)._jdf.queryExecution().analyzed()
        )
        hints = [
            ln for ln in logical.splitlines() if "ResolvedHint" in ln
        ]
        # scalar assemblies (count/agg-to-one-row crossJoins) may stay
        # hinted; any hinted join that scans a base table is the bug
        for h in hints:
            assert "broadcast" in h.lower(), h
        n_scalar_ok = {"market_basket_pairs": 1, "graph_triangle_count": 3}
        assert len(hints) <= n_scalar_ok[name], (name, hints)


def test_retention_cohorts_single_key_shuffles(spark):
    """The cohort matrix reduces (user, week) FIRST: no window over raw
    events anywhere in the plan (the naive per-user rank would sort the
    corpus)."""
    p = plan_of(spark, "events_retention_cohorts")
    assert "Window" not in p


def test_anomaly_zscore_pure_integer_window(spark):
    """The z-score test is cross-multiplied into integers: one user-keyed
    window, no sqrt/pow/divide in the plan."""
    import re

    p = plan_of(spark, "events_anomaly_zscore")
    assert len(re.findall(r"Window \(\d+\)", p)) == 1, "exactly one window op"
    for fn in ("SQRT", "POWER", "sqrt(", "pow("):
        assert fn not in p, fn


def test_ann_index_probe_has_zero_training_in_plan(spark):
    """The persisted-index probe must be pure SEARCH: every training
    artifact arrives from committed snapshot tables (parquet scans), so
    the plan may contain NO ExistingRDD scan (the signature of an
    in-plan localCheckpoint, which only the Lloyd iterations produce)
    and must actually read the staged index root. This is the pin for
    'no query ever pays training' — the in-line ann_ivf_pq_topk plan,
    by contrast, is allowed its checkpoint scans."""
    # the other probes of the committed index (ann_ivf_topk IVF-FLAT,
    # ann_pq_adc_topk exhaustive ADC) owe the identical zero-training pin
    import re

    for name in (
        "ann_index_probe_topk",
        "ann_ivf_topk",
        "ann_pq_adc_topk",
        "ann_index_group_probe",
        "dedup_semantic_semdedup",  # cell-bounded pairs, zero training
    ):
        p = plan_of(spark, name)
        assert "ExistingRDD" not in p, f"training leaked into {name}'s plan"
        assert "ann_ivfpq_index" in p, f"{name} must read the committed tables"
        # the only embeddings scans are the query slice + the exact
        # re-rank sides — the corpus is never re-signed
        n_emb_scans = len(re.findall(r"embeddings\.parquet", p))
        assert n_emb_scans <= 4, (name, n_emb_scans)


def test_perplexity_gate_stays_jvm_side(spark):
    """The bigram LM trains and scores without ever leaving codegen: no
    Python eval nodes anywhere (the fixed-point log2 is pure column
    arithmetic over the tiny distinct-t frame), and no ntile node at all
    — the CCNet tercile is the distributed two-phase range-partition
    form (mining._global_ntile), so the only windows are the per-_pid
    row_number (partitioned, data-scale) and the |partitions|-row
    offsets prefix-sum (broadcast side)."""
    import re

    p = plan_of(spark, "text_perplexity_bucket")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "ntile" not in p, "tercile must be closed-form math, not an ntile window"
    assert len(re.findall(r"Window \(\d+\)", p)) <= 2


@pytest.mark.parametrize(
    "name", ["text_perplexity_bucket", "text_perplexity_interp", "sample_importance_dsir"]
)
def test_tercile_family_window_is_partitioned(spark, name):
    """The per-document tercile ranking must never move the corpus into
    one task (an ntile window over the whole corpus does). The only
    data-scale Window in the plan is the within-partition row_number,
    partitioned by the range-partition id; the sole single-partition
    exchange feeds the |partitions|-row offsets frame on the broadcast
    side of the join."""
    p = plan_of(spark, name)
    assert "ntile" not in p, f"{name}: ntile window survived the rewrite"
    # the data-scale window ranks within the range-partition id
    assert "windowspecdefinition(_pid" in p, f"{name}: row_number not partitioned"
    # every SinglePartition exchange must sit under a BroadcastExchange
    # (the offsets metadata frame), never on the per-doc spine
    import re

    single = len(re.findall(r"Arguments: SinglePartition", p))
    assert single <= 1, f"{name}: extra single-partition exchanges: {single}"
    assert "BroadcastExchange" in p


def test_no_unpartitioned_windows_over_data_scale_frames():
    """Source-level ban: an unpartitioned
    ``Window.orderBy(...)`` anywhere in the package funnels its whole input frame into
    one task, which is only ever acceptable over metadata-scale frames.
    Every such site must appear in the documented allowlist below — all
    of them windows over |partitions|- or register-table-sized inputs.
    Adding a new unpartitioned window anywhere else in the package fails this
    test until it is either partitioned, rewritten onto the two-phase
    range-partition pattern (mining._global_ntile /
    dataset_ops.shuffle_index), or justified here."""
    import ast
    import pathlib

    pkg = pathlib.Path("petfinder_database_distributor_spark")
    found: set[tuple[str, str]] = set()
    for f in sorted(pkg.glob("**/*.py")):
        tree = ast.parse(f.read_text())
        stack: list[str] = []

        class V(ast.NodeVisitor):
            def visit_FunctionDef(self, node):
                stack.append(node.name)
                self.generic_visit(node)
                stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Attribute(self, node):
                if (
                    node.attr == "orderBy"
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "Window"
                ):
                    found.add((f.name, stack[-1] if stack else "<module>"))
                self.generic_visit(node)

        V().visit(tree)
    allowed = {
        # |partitions|-row offset frames of the two-phase global rank:
        ("dataset_ops.py", "shuffle_index"),
        ("mining.py", "_global_ntile"),
        # |sources|x|langs| metadata listing (compaction planner):
        ("dataset_ops.py", "compaction_bin_pack"),
        # <=256-row histogram register table:
        ("llm_pipeline.py", "sketch_histogram_quantiles"),
        # |domains|-row per-source register frame (UniMax waterfilling —
        # the corpus-sized work is one hash agg; every window runs over
        # the bounded per-source result):
        ("corpus_ops.py", "domain_budget_unimax"),
        # |domains|-row remainder-rank frame (largest-remainder
        # apportionment; same register class as UniMax — the frame is
        # localCheckpoint-materialized from the one corpus agg):
        ("corpus_ops.py", "domain_budget_temperature"),
        # <=10k-row TakeOrderedAndProject result (the top-k vocabulary —
        # bounded by construction before the rank window runs):
        ("mining.py", "text_vocab_coverage"),
        # <=64-row TakeOrderedAndProject result (the top-64 term
        # frequencies — the rank window runs after the limit):
        ("mining.py", "text_zipf_fit"),
        # |event_type|-row remainder-rank frame (largest-remainder
        # apportionment — same register class as the domain budgets;
        # the corpus-sized work is the two hash aggs before it):
        ("dataset_ops.py", "sample_stratified_neyman"),
        # one-off streaming-FIXTURE staging (balanced chunk split for the
        # micro-batch tests; never an operator plan, so a one-task
        # window over its small input is fine):
        ("incremental.py", "_build_document_chunks"),
        ("incremental.py", "_build_embedding_chunks"),
    }
    assert found == allowed, (
        f"unpartitioned Window.orderBy sites changed: "
        f"new={found - allowed}, stale-allowlist={allowed - found}"
    )


def test_exact_jaccard_oracle_identity():
    """The exact-Jaccard oracle rewrite's executable proof: the
    candidate-bounded postings-join oracle that replaced the all-pairs
    list_intersect form (502 s -> 0.7 s at sf0.1) is RESULT-IDENTICAL —
    shingle lists are list_distinct sets, so counting shared postings
    per pair IS |intersection|, and any pair at jaccard >= 0.5 > 0
    shares a shingle. This pin re-runs both forms on sf0.001 and
    requires canonical-row equality, so the retired form can never
    silently diverge from what the three registered exact-Jaccard
    queries (dedup_ngram_jaccard / _baseline / _salted) now verify
    against."""
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        _EXACT_JACCARD_ORACLE,
        _SHINGLES_SQL,
    )
    from tests.conftest import SF_SMALL
    from tests.oracle_compare import canonical_rows, run_oracle

    retired_all_pairs = f"""
    WITH sh AS ({_SHINGLES_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
    """
    old = canonical_rows(run_oracle(retired_all_pairs, SF_SMALL))
    new = canonical_rows(run_oracle(_EXACT_JACCARD_ORACLE, SF_SMALL))
    assert old == new and len(new) > 0


def test_plan_digest_pins_every_query():
    """tests/plan_digest.json holds exactly the registered queries."""
    assert sorted(PINNED_DIGESTS) == sorted(SPECS)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_plan_digest(spark, name):
    """Each query's plan, before it runs, matches its committed digest
    (tests/plan_digest.py says what a digest holds). A first build in
    this process may still stage inputs or fill a cache, firing jobs
    the committed count leaves out, so a mismatch is checked again on a
    second build. After an intended plan change, regenerate the file
    with ``python -m tests.plan_digest`` and review its diff."""
    got = query_digest(spark, SPECS[name], SF_SMALL)
    if got != PINNED_DIGESTS.get(name):
        got = query_digest(spark, SPECS[name], SF_SMALL)
    assert got == PINNED_DIGESTS.get(name)
