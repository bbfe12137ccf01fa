"""Advanced relational coverage the driver tables invite (north-star
generalization beyond the reference's surface, SURVEY.md §2.11): as-of and
range joins, CUBE grouping sets, set operations, JSON extraction, global
top-k, gap sessionization."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from petfinder_database_distributor_spark.operators.joins import (
    asof_join,
    range_join_bucketed,
)
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import finite_measures, load_table
from petfinder_database_distributor_spark.util import int_div


@register(
    "j2_asof_join",
    # Not DuckDB's ASOF JOIN: on duplicate (user_id, ts) click rows ASOF
    # picks an ARBITRARY one, so the oracle restates as-of with an explicit
    # deterministic tie-break (max event_id at equal ts) — the same rule the
    # Spark window order pins (operators/joins.py::asof_join).
    oracle="""
    WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
    cand AS (
      SELECT p.user_id, p.ts, p.event_id, p.value,
             c.event_id AS matched_click_id, c.ts AS matched_click_ts,
             row_number() OVER (PARTITION BY p.user_id, p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
    )
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
           matched_click_id, epoch_us(matched_click_ts) AS matched_click_ts_us
    FROM cand WHERE rn = 1
    """,
    doc="As-of (backward) join: each purchase matched to the user's most recent "
    "prior click (deterministic max-event_id tie-break at equal ts) — "
    "union+window technique, one shuffle, no range explosion",
)
def j2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    joined = asof_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_value_cols=["click_id", "click_ts"],
    )
    return joined.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        F.col("matched_click_id").alias("matched_click_id"),
        F.unix_micros("matched_click_ts").alias("matched_click_ts_us"),
    )


@register(
    "j3_range_join",
    oracle="""
    WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
              WHERE (value IS NULL OR (isfinite(value) AND abs(value) < 1000000000000.0))),
         b AS (SELECT i AS band_id, i * 200 AS lo, i * 200 + 500 AS hi FROM range(0, 20) r(i))
    SELECT b.band_id, count(*) AS n_events, CAST(sum(e.cents) AS BIGINT) AS total_cents
    FROM e JOIN b ON e.cents >= b.lo AND e.cents < b.hi
    GROUP BY b.band_id
    """,
    doc="Point-in-interval range join over OVERLAPPING bands via bucketized "
    "equi-join (shuffle-bounded; the scalable alternative to broadcast-NLJ)",
)
def j3_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_measures(load_table(spark, sf_dir, "events"))
    points = ev.select(F.round(F.col("value") * 100).cast("long").alias("cents"))
    bands = spark.range(0, 20).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 200).alias("lo"),
        (F.col("id") * 200 + 500).alias("hi"),
    )
    joined = range_join_bucketed(points, bands, "cents", "lo", "hi", bucket_width=200)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@register(
    "g2_cube_marks",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n,
           CAST(CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DECIMAL(32,2)) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets with grouping_id markers (all 4 subtotal levels in "
    "one shuffle; bitmask semantics match across engines)",
)
def g2_cube_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,6)"))
        .cast("decimal(32,2)")
        .cast("double")
        .alias("sum_qty"),
    )


@register(
    "set_ops_customers",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
    SELECT 'both' AS side, o_custkey FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
    UNION ALL
    SELECT 'only_1995' AS side, o_custkey FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
    """,
    doc="Set operations: INTERSECT / EXCEPT over per-year customer key sets",
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = y95.intersect(y96).select(F.lit("both").alias("side"), "o_custkey")
    only95 = y95.exceptAll(y96).select(F.lit("only_1995").alias("side"), "o_custkey")
    return both.unionByName(only95)


@register(
    "json_props_extract",
    # Malformed-JSON contract:
    # DuckDB's json_extract RAISES on malformed JSON while Spark's
    # get_json_object returns NULL — one bad record would turn this row
    # red (and ANSI string→int casts raise on garbage in BOTH engines).
    # Contract: malformed props ≡ NULL fields — the oracle routes props
    # through a json_valid CASE (NULL for invalid AND for NULL props) and
    # TRY_CASTs the extracted value; Spark mirrors with try_cast. Clean
    # fixtures contain only valid JSON, so clean hashes are unchanged.
    oracle="""
    WITH kk AS (
      SELECT TRY_CAST(json_extract(
               CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) AS k
      FROM events)
    SELECT k % 10 AS k_mod,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS k_total
    FROM kk
    GROUP BY 1
    """,
    doc="JSON path extraction from a string column (get_json_object, JVM-side) "
    "feeding an aggregate; malformed JSON ≡ NULL on both engines",
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # get_json_object is already NULL-on-malformed; try_cast keeps a
    # non-numeric k from raising under ANSI (NULL instead, like the oracle)
    k = F.get_json_object("props", "$.k").try_cast("int")
    return ev.select(k.alias("k")).groupBy((F.col("k") % 10).alias("k_mod")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("long").alias("k_total"),
    )


@register(
    "topk_orders_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject "
    "(per-partition heaps + driver merge of k rows, never a full sort)",
)
def topk_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
           min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
    FROM sess GROUP BY user_id, session_id
    """,
    doc="Gap sessionization (1 h inactivity): lag → boundary flag → running sum "
    "session ids → per-session rollup; one shuffle on user_id",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered-window contract: NULL-ts rows excluded (cross-engine NULLS
    # FIRST/LAST divergence; a NULL gap would also open a phantom session)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 3_600_000_000), 1).otherwise(0).alias("new_sess"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("new_sess").over(cum).cast("long").alias("session_id")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           min(l_quantity) AS qmin, max(l_quantity) AS qmax
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (sort-based agg; fractions "
    "are powers of two over integer-valued doubles, so both engines' lerp "
    "forms are bit-identical)",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.percentile(q, F.lit(0.25)).alias("q25"),
        F.percentile(q, F.lit(0.5)).alias("q50"),
        F.percentile(q, F.lit(0.75)).alias("q75"),
        F.min(q).alias("qmin"),
        F.max(q).alias("qmax"),
    )


@register(
    "pivot_event_types",
    oracle="""
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
    doc="PIVOT (long→wide): per-user event-type counts; explicit pivot values "
    "keep the plan to a single shuffle (no distinct-values pre-scan)",
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ["click", "error", "purchase", "signup", "view"]],
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cents_24h
    FROM events WHERE (value IS NULL OR (isfinite(value) AND abs(value) < 1000000000000.0))
    """,
    doc="RANGE-frame window: per-user trailing 24h value sum keyed on event "
    "time (value-based frame, not row-count) — exact integer cents",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_measures(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-86_400_000_000, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.sum(cents).over(w).cast("long").alias("cents_24h"),
    )


@register(
    "agg_salted_twophase",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events WHERE (value IS NULL OR (isfinite(value) AND abs(value) < 1000000000000.0)) GROUP BY event_type
    """,
    doc="Skew-defeating two-phase aggregation: salt the hot grouping key "
    "(cardinality 5 over millions of rows), partial-agg on (key, salt), then "
    "final-agg on key — the manual shape when AQE skew handling isn't enough; "
    "result provably equals the direct groupBy",
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_measures(load_table(spark, sf_dir, "events"))
    n_salts = 16
    cents = F.round(F.col("value") * 100).cast("long")
    salted = ev.select(
        "event_type",
        (F.col("event_id") % n_salts).alias("__salt"),  # deterministic salt
        cents.alias("cents"),
    )
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("cents").alias("pc")
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").cast("long").alias("n"),
        F.sum("pc").cast("long").alias("total_cents"),
    )


@register(
    "j4_salted_join",
    oracle="""
    SELECT e.event_type, count(*) AS n,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events e JOIN (VALUES ('click'), ('purchase'), ('view')) d(event_type)
      ON e.event_type = d.event_type
    WHERE (e.value IS NULL OR (isfinite(e.value) AND abs(e.value) < 1000000000000.0))
    GROUP BY e.event_type
    """,
    doc="Skew-defeating salted equi-join: the hot key (event_type, cardinality "
    "5 over the whole table) is salted 16 ways so no single shuffle partition "
    "receives a whole key; result provably equals the plain join",
)
def j4_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.operators.joins import salted_join

    ev = finite_measures(load_table(spark, sf_dir, "events"))
    dim = spark.range(1).select(
        F.explode(F.array(F.lit("click"), F.lit("purchase"), F.lit("view"))).alias(
            "event_type"
        )
    )
    joined = salted_join(ev, dim, "event_type", n_salts=16, salt_source="event_id")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("total_cents"),
    )


@register(
    "j8_aqe_skew_join",
    oracle="""
    SELECT CAST(CASE WHEN l.l_suppkey % 10 <> 0 THEN 1 ELSE l.l_suppkey END AS BIGINT) AS k,
           count(*) AS n,
           CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
    FROM lineitem l
    JOIN supplier s
      ON s.s_suppkey = (CASE WHEN l.l_suppkey % 10 <> 0 THEN 1 ELSE l.l_suppkey END)
    GROUP BY 1
    """,
    doc="AQE skew-join demonstration, the runtime "
    "complement to the manual j4_salted_join: ~90% of lineitem rows are "
    "remapped onto ONE supplier key before the join, so the shuffle "
    "partition for that key dwarfs the rest. Under adaptive execution "
    "(spark.sql.adaptive.skewJoin, on by default) Spark splits the fat "
    "partition into multiple tasks at runtime — no salt column, no plan "
    "rewrite, results unchanged; tests/test_plan_quality.py executes this "
    "exact query with SMJ forced and asserts the executed plan marks "
    "skew=true. At bench scale the optimizer rightly broadcasts the small "
    "supplier side instead; at 100 TB both sides shuffle and the AQE path "
    "is the one that runs.",
)
def j8_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.util import ensure_parallelism

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    hot_k = (
        F.when(F.col("l_suppkey") % 10 != 0, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .cast("long")
    )
    # ensure_parallelism matters beyond throughput here: AQE splits a
    # skewed REDUCE partition along map-output-block boundaries, so a
    # single-map-task scan (one small parquet file) leaves nothing to
    # split — exactly the local-fixture artifact a 100 TB scan never has.
    left = ensure_parallelism(li.select(hot_k.alias("k"), "l_quantity"))
    right = sup.select(F.col("s_suppkey").cast("long").alias("k"))
    return (
        left.join(right, "k")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .cast("long")
            .alias("qty_cents"),
        )
    )


_Q17_SQL = """
    SELECT CAST(CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))), 2) AS DECIMAL(32,2)) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM {li} l JOIN {pt} p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < 0.2 * (
        SELECT CAST(CAST(round(sum(CAST(l2.l_quantity AS DECIMAL(18,6))), 2) AS DECIMAL(32,2)) AS DOUBLE)
                 / count(*)
        FROM {li} l2 WHERE l2.l_partkey = l.l_partkey)
"""


@register(
    "q17_sql_correlated",
    oracle=_Q17_SQL.format(li="lineitem", pt="part"),
    doc="TPC-H Q17-style correlated scalar subquery through the spark.sql "
    "front door (temp views): Catalyst decorrelates it into an aggregate + "
    "join — no per-row subquery execution. The per-part average uses an "
    "exact decimal sum so the 0.2x threshold is bit-identical cross-engine",
)
def q17_sql_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    return spark.sql(_Q17_SQL.format(li="v_lineitem", pt="v_part"))


_Q4_SQL = """
    SELECT o.o_orderpriority AS priority, count(*) AS n_orders
    FROM {ords} o
    WHERE EXISTS (
        SELECT 1 FROM {li} l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
"""


@register(
    "q4_sql_exists",
    oracle=_Q4_SQL.format(ords="orders", li="lineitem"),
    doc="TPC-H Q4-style correlated EXISTS with a non-equi outer reference "
    "(l_shipdate > o_orderdate): Catalyst decorrelates to a left-semi join "
    "with a mixed equi + range condition — no per-row subquery",
)
def q4_sql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(_Q4_SQL.format(ords="v_orders", li="v_lineitem"))


_Q13_SQL = """
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM {cust} c LEFT JOIN {ords} o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority NOT LIKE '1-%'
        GROUP BY c.c_custkey)
    GROUP BY n_orders
"""


@register(
    "q13_sql_outer_count",
    oracle=_Q13_SQL.format(cust="customer", ords="orders"),
    doc="TPC-H Q13-style customer-order distribution: LEFT OUTER join with an "
    "extra join-side predicate (filter must stay in the ON clause, not WHERE, "
    "to preserve customers with zero orders), count over the nullable side, "
    "then a second aggregation over the counts",
)
def q13_sql_outer_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(_Q13_SQL.format(cust="v_customer", ords="v_orders"))


@register(
    "variant_props_extract",
    # Same malformed-JSON contract as json_props_extract — doubly vital
    # here: Spark's parse_json RAISES under ANSI on malformed input (a
    # job-killer at scale, not just a red row), so the Spark side parses
    # through try_parse_json (NULL variant) + try_variant_get.
    oracle="""
    WITH kk AS (
      SELECT event_type,
             TRY_CAST(json_extract(
               CASE WHEN json_valid(props) THEN props END, '$.k') AS INT) AS k
      FROM events)
    SELECT event_type, count(*) AS n,
           CAST(max(k) AS INT) AS k_max,
           CAST(sum(k) AS BIGINT) AS k_total
    FROM kk
    GROUP BY event_type
    """,
    doc="Semi-structured access through Spark 4's VariantType: parse_json once "
    "into a binary variant, then typed variant_get paths — the open-schema "
    "counterpart of the reference's fixed XPath projection (P1). Unlike "
    "get_json_object (string re-parse per access), a variant column is "
    "parsed once and shredded at read time",
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "int")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("k").cast("int").alias("k_max"),
        F.sum("k").cast("long").alias("k_total"),
    )


@register(
    "transitions_grouped_pandas",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM (SELECT user_id, ts, event_id,
                   coalesce(event_type, '') AS event_type
            FROM events WHERE ts IS NOT NULL))
    SELECT user_id, prev AS from_type, event_type AS to_type, count(*) AS n
    FROM seq WHERE prev IS NOT NULL
    GROUP BY user_id, prev, event_type
    """,
    doc="Per-user event-type transition counts through the grouped-map "
    "applyInPandas surface (Arrow batch per group, deterministic in-group "
    "sort by ts+event_id) — the custom-per-group-operator escape hatch for "
    "semantics expressions can't state; the lag/window form (see oracle) is "
    "what the hot path would use when they can",
)
def transitions_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    # ordered-window contract (see sessionize): NULL-ts rows excluded —
    # they also poison the kernel's lexsort key
    # NULL event_type ≡ '' state: lag()'s NULL doubles as the
    # first-row marker, so a NULL *type* would be indistinguishable from
    # "no previous event" in the oracle — the sentinel keeps the state
    # countable on both sides
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id", "ts", "event_id",
            F.coalesce(F.col("event_type"), F.lit("")).alias("event_type"),
        )
    )

    def transition_counts(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # numpy kernel: the per-group body runs once per user, so a pandas
        # sort_values + groupby here costs ~3.5 ms/group (~5 s at 1.5 k
        # groups); lexsort + factorize + bincount is ~10× cheaper.
        order = np.lexsort((pdf["event_id"].to_numpy(), pdf["ts"].to_numpy()))
        et = pdf["event_type"].to_numpy()[order]
        if len(et) < 2:
            return pd.DataFrame(
                {
                    "user_id": np.empty(0, dtype="int64"),
                    "from_type": np.empty(0, dtype=object),
                    "to_type": np.empty(0, dtype=object),
                    "n": np.empty(0, dtype="int64"),
                }
            )
        # use_na_sentinel=False: a NULL event_type is a real transition
        # state (the oracle's GROUP BY keeps the NULL group); the default
        # -1 sentinel would poison the bincount index
        codes, uniques = pd.factorize(et, use_na_sentinel=False)
        k = len(uniques)
        counts = np.bincount(codes[:-1] * k + codes[1:], minlength=k * k)
        nz = np.flatnonzero(counts)
        uid = pdf["user_id"].iloc[0]
        return pd.DataFrame(
            {
                # the NULL-user group arrives as NaN — int64 np.full would
                # raise; emit a null column for it instead
                "user_id": (
                    pd.array([None] * len(nz), dtype="Int64")
                    if pd.isna(uid)
                    else np.full(len(nz), uid, dtype="int64")
                ),
                "from_type": np.asarray(uniques)[nz // k],
                "to_type": np.asarray(uniques)[nz % k],
                "n": counts[nz].astype("int64"),
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        transition_counts, "user_id long, from_type string, to_type string, n long"
    )


@register(
    "w3_rank_family",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="The full ranking-function family in one pass: rank / dense_rank / "
    "ntile / percent_rank / cume_dist share a single window definition, so "
    "Catalyst evaluates all five in ONE Window operator over one shuffle on "
    "the partition key. The ordering carries an orderkey tiebreak — ntile "
    "and cume_dist are frame-position-dependent, so a non-total sort order "
    "would be nondeterministic under retries. percent_rank/cume_dist are "
    "one IEEE division of exact integers in both engines.",
)
def w3_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "unpivot_event_metrics",
    oracle="""
    WITH m AS (
        SELECT event_type,
               count(*)::DOUBLE AS n_events,
               CAST(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DECIMAL(32,2)) AS DOUBLE)
                 AS total_value,
               max(value) AS max_value
        FROM events WHERE event_type IS NOT NULL AND (value IS NULL OR (isfinite(value) AND abs(value) < 1000000000000.0))
        GROUP BY 1
    )
    SELECT event_type, 'n_events' AS metric, n_events AS metric_value FROM m
    UNION ALL
    SELECT event_type, 'total_value', total_value FROM m
    UNION ALL
    SELECT event_type, 'max_value', max_value FROM m
    """,
    doc="UNPIVOT (wide → long), the inverse of pivot_event_types: per-type "
    "metric columns melt into (type, metric, value) rows via Spark's native "
    "unpivot/melt — an Expand node emitting 3 rows per input, NOT a 3-way "
    "self-union (which would run the aggregation three times; the oracle "
    "states it as UNION ALL over a CTE because DuckDB materializes the "
    "CTE once). Counts ride as exact-integer-valued doubles. Contract: "
    "NULL event_type rows excluded; a NULL metric value survives the melt "
    "(unpivot drops all-NULL rows only when told to).",
)
def unpivot_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_measures(
        load_table(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(32,2)")
        .cast("double")
        .alias("total_value"),
        F.max("value").alias("max_value"),
    )
    return m.unpivot(
        ["event_type"],
        ["n_events", "total_value", "max_value"],
        "metric",
        "metric_value",
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH act AS (
      SELECT user_id, (epoch_us(ts) // 604800000000)::BIGINT AS week
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2),
    first_week AS (
      SELECT user_id, min(week) AS cohort_week FROM act GROUP BY 1)
    SELECT f.cohort_week, (a.week - f.cohort_week)::BIGINT AS week_offset,
           count(DISTINCT a.user_id)::BIGINT AS n_active
    FROM act a JOIN first_week f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix — the canonical product-analytics query: "
    "users cohorted by their FIRST active week (epoch-week integers, "
    "epoch_us // (7*86400e6) — TZ-free by the repo's convention, no "
    "date_trunc locale traps), counted distinct per (cohort, offset) "
    "cell. Plan: one user-week dedup agg, a per-user min (both user-"
    "keyed — a single logical shuffle key), a broadcast-sized join back "
    "(first_week is |users| rows, Spark broadcasts it under AQE), and "
    "the final bounded agg (|cohorts| x |offsets| cells). At 100 TB "
    "this is two passes over the events scan with every aggregate "
    "map-side partial — the naive per-user window over raw events "
    "would sort the corpus; the dedup-first shape reduces before it "
    "ranks.",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    act = (
        ev.select(
            "user_id",
            int_div(F.unix_micros("ts"), 604800000000).alias("week"),
        )
        .distinct()
    )
    first_week = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        act.join(first_week, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "market_basket_pairs",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    pair AS (
      SELECT a.p AS part_a, b.p AS part_b, count(*)::BIGINT AS pair_orders
      FROM lines a JOIN lines b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2),
    per_part AS (SELECT p, count(*)::BIGINT AS n_orders FROM lines GROUP BY 1),
    total AS (SELECT count(DISTINCT o)::BIGINT AS n FROM lines)
    SELECT part_a, part_b, pair_orders,
           pa.n_orders AS orders_a, pb.n_orders AS orders_b,
           round(pair_orders * total.n / (pa.n_orders * pb.n_orders), 6)
             AS lift
    FROM pair
    JOIN per_part pa ON pa.p = part_a
    JOIN per_part pb ON pb.p = part_b
    CROSS JOIN total
    ORDER BY pair_orders DESC, part_a, part_b
    LIMIT 200
    """,
    doc="Market-basket pair mining (association rules, the support/lift "
    "half of Apriori): parts co-purchased within an order, with per-part "
    "supports and lift = P(a,b)/(P(a)P(b)) — one multiply and one "
    "correctly-rounded IEEE division, so the score is bit-identical "
    "cross-engine. The pair join is SELF-JOIN ON THE ORDER KEY, whose "
    "fan-out is bounded by basket size (TPC-H <= 7 lines/order), never "
    "corpus^2 — the same bounded-blocking argument as the dedup family; "
    "per-part supports are |parts| rows (AQE broadcasts them back "
    "while small — no mandatory hint, |parts| grows with the corpus), "
    "the order total is a 1-row broadcast, and the top-200 is "
    "TakeOrderedAndProject. At 100 TB: one orderkey shuffle + bounded "
    "per-key pair expansion + a parts-sized aggregate — the classic "
    "co-occurrence-mining shape.",
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select("o", F.col("p").alias("part_a"))
    b = li.select("o", F.col("p").alias("part_b"))
    pair = (
        a.join(b, "o")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    per_part = li.groupBy("p").agg(F.count(F.lit(1)).alias("n_orders"))
    total = li.agg(F.countDistinct("o").alias("n"))
    lift = F.round(
        F.col("pair_orders") * F.col("n") / (F.col("orders_a") * F.col("orders_b")),
        6,
    )
    return (
        # per_part is |parts| rows — corpus-growing, so no mandatory
        # F.broadcast() hint: AQE broadcasts while small, degrades to a
        # shuffle join instead of a driver OOM at 100 TB part counts
        pair.join(
            per_part.select(F.col("p").alias("part_a"), F.col("n_orders").alias("orders_a")),
            "part_a",
        )
        .join(
            per_part.select(F.col("p").alias("part_b"), F.col("n_orders").alias("orders_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "part_a", "part_b", "pair_orders", "orders_a", "orders_b",
            lift.alias("lift"),
        )
        .orderBy(F.desc("pair_orders"), "part_a", "part_b")
        .limit(200)
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS c,
             count(*) OVER w AS n,
             sum(CAST(round(value * 100) AS BIGINT)) OVER w AS s,
             -- HUGEINT quadratics: c*c wraps int64 at
             -- |v| ~ 3.8e6 — the OLD envelope's binding constraint;
             -- 128-bit keeps every in-envelope term exact to |v| < 1e12
             -- ((16e14)^2 ~ 2.6e30 << 1.7e38)
             sum(CAST(round(value * 100) AS HUGEINT)
                 * CAST(round(value * 100) AS HUGEINT)) OVER w AS q
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        AND isfinite(value) AND abs(value) < 1000000000000.0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, c AS value_cents, n::BIGINT AS n_window,
           s::BIGINT AS sum_cents
    FROM ev
    WHERE n = 8 AND (n*c - s)::HUGEINT * (n*c - s) > 4*(n*q - s::HUGEINT*s)
    """,
    doc="Streaming-style anomaly detection as a batch window: flag events "
    "more than 2 trailing-window standard deviations from the trailing "
    "mean (window = previous 8 events per user, event excluded from its "
    "own baseline). The z-score test is CROSS-MULTIPLIED into pure "
    "integer arithmetic — (n*x - S)^2 > 4*(n*Q - S^2) over cent-"
    "quantized values — so there is no sqrt, no division, no float "
    "anywhere: bit-identical cross-engine by construction, the same "
    "discipline as the decimal-exact aggregates. One user-keyed shuffle "
    "whose sort rides the exchange; at 100 TB this is a single window "
    "pass, and the same trailing-(n, S, Q) state machine transfers "
    "verbatim to applyInPandasWithState for the streaming twin.",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_measures(
        load_table(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
    )
    c = F.round(F.col("value") * 100).cast("long")
    # decimal(38,0) quadratics — the Spark twin of the oracle's HUGEINT
    # widening (cents stay long; only squared terms need 128-bit)
    cq = c.cast("decimal(38,0)")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-8, -1)
    )
    stats = ev.select(
        "event_id",
        "user_id",
        c.alias("c"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(c).over(w).alias("s"),
        F.sum(cq * cq).over(w).alias("q"),
    )
    dev = (F.col("n") * F.col("c") - F.col("s")).cast("decimal(38,0)")
    var_n2 = F.col("n") * F.col("q") - F.col("s").cast("decimal(38,0)") * F.col("s")
    return stats.filter((F.col("n") == 8) & (dev * dev > 4 * var_n2)).select(
        "event_id",
        "user_id",
        F.col("c").alias("value_cents"),
        F.col("n").alias("n_window"),
        F.col("s").alias("sum_cents"),
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    e AS (
      SELECT a.p AS u, b.p AS v
      FROM lines a JOIN lines b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 2),
    deg AS (
      SELECT x, count(*)::BIGINT AS d FROM (
        SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
    dir AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN e.v ELSE e.u END AS dst,
             CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN dv.d ELSE du.d END AS dst_d
      FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v),
    wedge AS (
      SELECT a.dst AS v, b.dst AS w
      FROM dir a JOIN dir b ON a.src = b.src
       AND (a.dst_d, a.dst) < (b.dst_d, b.dst)),
    tri AS (
      SELECT count(*)::BIGINT AS n_triangles
      FROM wedge JOIN e ON (e.u = least(wedge.v, wedge.w)
                        AND e.v = greatest(wedge.v, wedge.w)))
    SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
           (SELECT count(*) FROM e)::BIGINT AS n_edges,
           (SELECT count(*) FROM wedge)::BIGINT AS n_wedges,
           n_triangles
    FROM tri
    """,
    doc="Triangle counting over the co-purchase graph (parts adjacent iff "
    "they share >= 2 orders — the support threshold every association "
    "miner applies: singleton co-occurrences on uniformly-drawn baskets "
    "are noise that densifies the graph quadratically with corpus size, "
    "while support-2 edges are stable affinity signal; measured: "
    "1.2M raw edges -> 3.6k support-2 edges at sf0.1) with the "
    "DEGREE-ORDERED node-iterator — the "
    "algorithm that makes triangles tractable at scale: every edge is "
    "directed from its lower-(degree, id) endpoint to the higher one, "
    "wedges are built only at each edge's cheap end, and a wedge closes "
    "into a triangle iff the (v, w) edge exists (one more equi-join). "
    "Directing by degree bounds per-node wedge fan-out by O(sqrt(m)) "
    "instead of max-degree^2 — the difference between a hub node "
    "generating d^2 wedges and the bounded form, i.e. the skew story "
    "for graphs. Every count is an exact integer; the (degree, id) "
    "order is compared as a true TWO-KEY ordering in both engines "
    "(Spark boolean pair-compare, DuckDB row-value compare) — an "
    "arithmetic encoding like deg*1e6+id silently collides once ids "
    "exceed the multiplier (TPC-H SF>=5 has >1e6 parts), corrupting "
    "wedge direction at exactly the scales that matter. Plan: bounded "
    "basket self-join -> degree agg (|nodes| rows; AQE broadcasts it "
    "back while small — no mandatory hint, |nodes| grows with the "
    "corpus) -> wedge equi-join on src -> closure equi-join on the "
    "undirected pair.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select("o", F.col("p").alias("u"))
    b = li.select("o", F.col("p").alias("v"))
    from pyspark.storagelevel import StorageLevel

    # e feeds degrees, wedges AND closure; wedge feeds closure + count.
    # Both are materialized ONCE — but DISK_ONLY, never in the driver
    # JVM's memory store: the co-purchase graph is dense (TPC-H orders
    # draw parts uniformly), so the wedge set is tens of millions of
    # rows at moderate SF (~334 MB deserialized at sf0.01) and a
    # MEMORY_AND_DISK checkpoint pins most of a small driver heap until
    # the ContextCleaner gets around to it — measured as THE cause of a
    # mid-window OOM in a default-1GiB 50-query session. Disk blocks
    # cost a re-read, not residency.
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # deg has |nodes| rows — tiny at test SF but corpus-growing, so no
    # mandatory F.broadcast() hint: AQE picks the broadcast join while it
    # fits and degrades to shuffle instead of OOM when it doesn't
    ranked = (
        e.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    )
    # true two-key (degree, id) ordering — an arithmetic rank encoding
    # collides once ids outgrow the multiplier and silently drops wedges
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    dir_e = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
    )
    w1 = dir_e.select(
        "src", F.col("dst").alias("v"), F.col("dst_d").alias("d1")
    )
    w2 = dir_e.select(
        "src", F.col("dst").alias("w"), F.col("dst_d").alias("d2")
    )
    wedge = (
        w1.join(w2, "src")
        .filter(
            (F.col("d1") < F.col("d2"))
            | ((F.col("d1") == F.col("d2")) & (F.col("v") < F.col("w")))
        )
        .select("v", "w")
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    ec = e.select(F.col("u").alias("cu"), F.col("v").alias("cv"))
    closure = wedge.join(
        ec,
        (F.col("cu") == F.least("v", "w")) & (F.col("cv") == F.greatest("v", "w")),
    )
    n_tri = closure.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = wedge.agg(F.count(F.lit(1)).alias("n_wedges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_tri))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


# ---------------------------------------------------------------------------
# graph_kcore_decomposition
# ---------------------------------------------------------------------------

_KCORE_K = 3
# Bounded peeling rounds, UNROLLED identically in both engines: parity
# holds by construction at any round count; convergence at the fixture
# scales is pinned separately (tests/test_mining.py asserts a further
# round is a fixed point). At 100 TB the round count is the usual
# O(peeling depth) bulk-synchronous iteration — same class as the
# components/label-prop loops.
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    # AS MATERIALIZED on every unrolled CTE: each round references the
    # previous round's edge CTE three times, and inlining would expand
    # the chain into 3^rounds scans of lineitem (observed: fd exhaustion)
    ctes = [
        # part nodes 2p, supplier nodes 2s+1 (the pagerank namespacing)
        "e0 AS MATERIALIZED (SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b"
        " FROM lineitem WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL)",
    ]
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, count(*)::BIGINT AS deg FROM (
        SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
      GROUP BY node HAVING count(*) >= {_KCORE_K})"""
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT e.a, e.b FROM {prev} e"
            f" JOIN d{i} da ON da.node = e.a"
            f" JOIN d{i} db ON db.node = e.b)"
        )
        prev = f"e{i}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, count(*)::BIGINT AS degree,
           CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS side
    FROM (SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
    GROUP BY node HAVING count(*) >= {_KCORE_K}
    """
    )


@register("graph_kcore_decomposition", oracle=_kcore_oracle())
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the bipartite part–supplier graph
    from lineitem (nodes namespaced 2p / 2s+1, the pagerank convention):
    iteratively delete nodes with degree < k — with their edges — until
    the remaining subgraph is stable; survivors with their final in-core
    degrees are the k-core (Seidman 1983), graph-curation's cohesion
    primitive (a crawl page kept only by low-degree link spam peels
    away; a dense topical cluster survives). Spark runs the bounded
    peeling loop — each round ONE degree agg + one semi-join edge
    filter, localCheckpoint-materialized so round r+1 never re-runs
    round r's lineage (the components-loop discipline; driver pulls are
    zero) — and the oracle UNROLLS the identical rounds, so hash parity
    holds by construction at every scale; an extra-round fixed-point
    test pins that _KCORE_ROUNDS rounds suffice at the fixture scales. At
    100 TB this is the O(depth) bulk-synchronous shape of the
    components/label-prop family: per-round cost is one shuffle on
    node id, state is the shrinking edge list itself."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    edges = (
        li.select(
            (F.col("l_partkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(_KCORE_ROUNDS):
        nodes = edges.select(F.col("a").alias("node")).unionAll(
            edges.select(F.col("b").alias("node"))
        )
        deg = (
            nodes.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
        )
        edges = (
            edges.join(deg.select(F.col("node").alias("a")), "a", "leftsemi")
            .join(deg.select(F.col("node").alias("b")), "b", "leftsemi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    survivors = edges.select(F.col("a").alias("node")).unionAll(
        edges.select(F.col("b").alias("node"))
    )
    return (
        survivors.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .filter(F.col("degree") >= _KCORE_K)
        .select(
            "node",
            "degree",
            F.when(F.col("node") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("side"),
        )
    )


# ---------------------------------------------------------------------------
# graph_bfs_layers
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4
_BFS_SEED_MAX = 10  # seed nodes: parts with partkey < 10 present in the graph


def _bfs_oracle() -> str:
    ctes = [
        "e AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem"
        " WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL)",
        f"f0 AS (SELECT DISTINCT 'P' AS node_type, p AS node_id, 0 AS dist"
        f" FROM e WHERE p < {_BFS_SEED_MAX})",
        "v0 AS (SELECT node_type, node_id FROM f0)",
    ]
    for i in range(1, _BFS_ROUNDS + 1):
        prev, side = f"f{i - 1}", ("S" if i % 2 == 1 else "P")
        join_on = "e.p = f.node_id" if side == "S" else "e.s = f.node_id"
        nxt_id = "e.s" if side == "S" else "e.p"
        ctes.append(
            f"f{i} AS (SELECT DISTINCT '{side}' AS node_type,"
            f" {nxt_id} AS node_id, {i} AS dist"
            f" FROM e JOIN {prev} f ON {join_on}"
            f" WHERE NOT EXISTS (SELECT 1 FROM v{i - 1} v"
            f"  WHERE v.node_type = '{side}' AND v.node_id = {nxt_id}))"
        )
        ctes.append(
            f"v{i} AS (SELECT node_type, node_id FROM v{i - 1}"
            f" UNION ALL SELECT node_type, node_id FROM f{i})"
        )
    union = "\n      UNION ALL ".join(
        f"SELECT node_type, node_id, dist::BIGINT AS dist FROM f{i}"
        for i in range(_BFS_ROUNDS + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + union


@register("graph_bfs_layers", oracle=_bfs_oracle())
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round breadth-first search over the bipartite
    part-supplier co-purchase graph — the traversal primitive the graph
    family lacked beside k-core (peeling), PageRank (power iteration),
    and triangles (joins): from the seed layer (part nodes with
    partkey < 10 that appear in any lineitem), expand 4 alternating
    frontier rounds (part -> supplier -> part -> ...), recording each
    node's FIRST discovery distance — the reachability/lineage query of
    supply-chain and curation graphs ('everything within k hops of the
    flagged nodes'). Spark runs the bounded frontier loop — each round
    is ONE equi-join of the frontier against the edge list plus one
    anti-join against the visited set, all key-partitioned shuffles —
    and the oracle UNROLLS the identical rounds, so parity holds by
    construction round for round (the same bounded-unroll discipline as
    graph_kcore_decomposition). Distances are exact integers; frontier
    dedup is DISTINCT on (type, id). At 100 TB: 4 shuffle-join rounds
    over an edge list that never amplifies beyond its true degree, a
    visited set that only grows by frontier size, and no driver-side
    state at all — the textbook Pregel-without-Pregel BFS shape."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    e = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    f0 = (
        e.filter(F.col("p") < _BFS_SEED_MAX)
        .select(
            F.lit("P").alias("node_type"),
            F.col("p").alias("node_id"),
            F.lit(0).alias("dist"),
        )
        .distinct()
    )
    layers = [f0]
    visited = f0.select("node_type", "node_id")
    frontier = f0
    for i in range(1, _BFS_ROUNDS + 1):
        side = "S" if i % 2 == 1 else "P"
        join_key, nxt = ("p", "s") if side == "S" else ("s", "p")
        # The frontier is distinct BY CONSTRUCTION (f0
        # is a distinct; every later frontier is an anti-join of a
        # distinct expansion) and single-typed, so the join-key
        # projection needs no second distinct shuffle.
        nxt_nodes = (
            e.join(
                frontier.select(F.col("node_id").alias(join_key)),
                join_key,
            )
            .select(
                F.lit(side).alias("node_type"),
                F.col(nxt).alias("node_id"),
                F.lit(i).alias("dist"),
            )
            .distinct()
        )
        fresh = nxt_nodes.join(
            visited, ["node_type", "node_id"], "left_anti"
        ).localCheckpoint(eager=True)
        layers.append(fresh)
        visited = visited.unionByName(
            fresh.select("node_type", "node_id")
        ).localCheckpoint(eager=True)
        frontier = fresh
    out = layers[0]
    for lay in layers[1:]:
        out = out.unionByName(lay)
    return out.select(
        "node_type", "node_id", F.col("dist").cast("long").alias("dist")
    )


# ---------------------------------------------------------------------------
# json_kv_profile
# ---------------------------------------------------------------------------

# MAP-cast form, not per-key path extraction: re-extracting each key
# via a '$."<key>"' path string (a) breaks
# on keys containing a double quote, and (b) reads only the FIRST value
# of a duplicate key while Spark's from_json map carries BOTH entries
# (MapData does not enforce key uniqueness; explode emits each entry —
# the collect-to-dict display hides this) — two latent hash divergences
# on dirty JSON. TRY_CAST(props::JSON AS MAP(VARCHAR, VARCHAR)) yields
# the IDENTICAL value canonicalization as Spark's map<string,string>
# (probed: 'abc' / '7' / '1.5' / 'true' / NULL / compact '{"x":1}' /
# '[1,2]'), handles any key bytes, NULLs on every non-object shape
# exactly like from_json, and keeps duplicate entries just like
# MapData — so the contract is simply DUPLICATES PRESERVED.
_JSON_KV_ORACLE = """
    WITH m AS (
      SELECT TRY_CAST(CASE WHEN json_valid(props) THEN props END::JSON
                      AS MAP(VARCHAR, VARCHAR)) AS mp
      FROM events),
    kv AS (
      SELECT map_keys(mp)[u.i] AS key, map_values(mp)[u.i] AS v
      FROM m, unnest(range(1, cardinality(mp)::BIGINT + 1)) u(i)
      WHERE mp IS NOT NULL)
    SELECT key,
           count(*)::BIGINT AS n_present,
           sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_vals,
           sum(CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_numeric,
           count(DISTINCT v)::BIGINT AS n_distinct_vals,
           min(v) AS min_val,
           max(v) AS max_val
    FROM kv GROUP BY key
    """


@register("json_kv_profile", oracle=_JSON_KV_ORACLE)
def json_kv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured SCHEMA PROFILING over the events.props JSON column
    — the discovery query every JSON ingest starts with ('what keys
    exist, how often, what types do their values parse as, what range do
    they span'): every VALID props object is flattened into (key, value)
    pairs (Spark: from_json to map<string,string> + explode — scalars
    coerce to their canonical text, malformed/array/scalar JSON to a
    NULL map, i.e. zero rows, duplicate keys carried as SEPARATE entries
    — MapData does not dedupe and explode emits each — exactly matching
    the oracle's TRY_CAST-to-MAP form probed value-by-value; JSON nulls
    survive as NULL values), then profiled
    per key: presence count, JSON-null count, numeric-parse count
    (TRY_CAST to double on BOTH engines — the malformed-JSON contract's
    try-everything discipline), distinct-value count, and the
    lexicographic value range. Dirty inputs are first-class: the dirty
    fixture's '{bad json' / 'not json at all' / '' rows contribute
    nothing on either engine, its '{"k": "abc"}' row lands in
    n_present - n_numeric. Plan shape: ONE JVM-side JSON parse +
    map-explode (no Python, no UDF) feeding ONE hash aggregate keyed on
    the JSON key — at 100 TB a single shuffle whose key cardinality is
    the SCHEMA size (tens of keys), with count(DISTINCT v) the only
    expander (two-phase partial distinct under AQE)."""
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "v")
    )
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_vals"),
        F.sum(F.when(F.col("v").try_cast("double").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_numeric"),
        F.countDistinct("v").cast("long").alias("n_distinct_vals"),
        F.min("v").alias("min_val"),
        F.max("v").alias("max_val"),
    )
