"""Dataset-assembly operators for training pipelines: deterministic global
shuffle order, snapshot CDC, weighted sampling.

These close the gap between "a corpus exists" and "a corpus ships to a
trainer": training order must be a reproducible global permutation (never
``rand()``, never a single-partition sort), incremental refreshes need a
changed-rows diff between snapshots, and length/quality-weighted sampling
must be engine- and cluster-size-independent. All three build on the
portable ``md5int`` primitive (operators/text.py:76) so DuckDB replays the
exact row set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from petfinder_database_distributor_spark.operators.text import MD5INT_SQL, md5int
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import (
    MEASURE_RANGE,
    finite_measures,
    first_occurrence,
    first_occurrence_sql,
    load_table,
)
from petfinder_database_distributor_spark.util import int_div

_MD5INT = MD5INT_SQL


@register(
    "global_shuffle_index",
    oracle=f"""
    SELECT doc_id,
           row_number() OVER (
               ORDER BY ({_MD5INT.format(x="'ord:' || doc_id")}), doc_id) - 1
             AS shuffle_pos
    FROM documents WHERE doc_id IS NOT NULL
    """,
    doc="Deterministic global shuffle order for training: every document "
    "gets a dense 0-based position in salted-hash order — a reproducible "
    "permutation, stable across engines and cluster sizes (never rand()). "
    "The naive plan (row_number over a global ORDER BY) funnels the whole "
    "corpus through ONE partition; this plan is the scalable two-phase "
    "form: range-repartition by the hash key, "
    "count rows per partition (a |partitions|-row aggregate), turn the "
    "counts into per-partition offsets with a window over that tiny set, "
    "broadcast the offsets back, and add the within-partition row_number. "
    "No stage ever sees more than one partition's rows; the permutation is "
    "identical to the single-partition form because range partitions are "
    "ordered by the same key. NULL doc_id rows are excluded (contract: "
    "their hash is NULL, and Spark/DuckDB disagree on NULL sort order).",
)
def global_shuffle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    return shuffle_index(docs)


def shuffle_layout(docs: DataFrame) -> DataFrame:
    """Phase 1 of the global permutation: (doc_id, hash key, partition id)
    range-partitioned by the key. Split out (un-checkpointed) so the plan
    test can assert the range exchange, which the checkpoint in
    :func:`shuffle_index` otherwise truncates out of explain output."""
    key = md5int(F.concat(F.lit("ord:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", key.alias("k"))
        .repartitionByRange(F.col("k"), F.col("doc_id"))
        .withColumn("pid", F.spark_partition_id())
    )


def shuffle_index(docs: DataFrame) -> DataFrame:
    """Two-phase global permutation over ``docs`` (needs non-null doc_id).

    Shared by the registered query and the adversarial-layout test so the
    plan exists exactly once. No sortWithinPartitions after the range
    exchange: the pid-partitioned rank window performs its own sort, so a
    pre-sort would be paid and then thrown away by the window's Exchange.
    The laid-out frame feeds BOTH the offsets aggregate and the final join
    — localCheckpoint (eager) materializes it once and, unlike persist(),
    releases its blocks on GC instead of pinning a session-lifetime cache
    entry.
    """
    laid = shuffle_layout(docs).localCheckpoint(eager=True)
    # counts is |partitions| rows — the single-partition window over it is a
    # driver-sized job, not a data-sized one.
    offsets = (
        laid.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    local_rank = F.row_number().over(Window.partitionBy("pid").orderBy("k", "doc_id"))
    return (
        laid.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            (F.col("offset") + local_rank - 1).alias("shuffle_pos"),
        )
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH old_snap AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 0
    ), new_snap AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 89 <> 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.o_totalprice AS old_price,
           n.o_totalprice AS new_price
    FROM old_snap o
    FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice <> n.o_totalprice
    """,
    doc="Snapshot CDC: the changed-rows delta (insert/update/delete) "
    "between two versions of a keyed table — the incremental-refresh "
    "primitive for a periodically re-scraped corpus (the reference re-runs "
    "its full pipeline; a 100 TB pipeline ships only the delta). One "
    "full-outer shuffle join on the key classifies every row; unchanged "
    "rows are dropped post-join. The two snapshots are simulated "
    "deterministically from orders (key mod 97 absent from the old "
    "snapshot → inserts; mod 89 absent from the new → deletes; mod 13 "
    "price-bumped → updates; +1.0 on a parquet double is the identical "
    "IEEE value in both engines). At scale both snapshots would be "
    "bucketed on the key, making this a zero-shuffle sort-merge.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old_snap = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("old_key"), F.col("o_totalprice").alias("old_price")
    )
    new_snap = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("new_key"),
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    joined = old_snap.join(new_snap, old_snap.old_key == new_snap.new_key, "full_outer")
    return (
        joined.filter(
            F.col("old_key").isNull()
            | F.col("new_key").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .select(
            F.coalesce(F.col("old_key"), F.col("new_key")).alias("o_orderkey"),
            F.when(F.col("old_key").isNull(), "insert")
            .when(F.col("new_key").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("old_price"),
            F.col("new_price"),
        )
    )


@register(
    "sample_weighted",
    oracle=f"""
    SELECT doc_id, n_chars
    FROM documents
    WHERE n_chars IS NOT NULL
      AND ({_MD5INT.format(x="'wsamp:' || doc_id")}) % 2000
          < least(n_chars, 2000)
    """,
    doc="Length-weighted Bernoulli sampling: each document is kept with "
    "probability min(n_chars, 2000)/2000 — longer documents proportionally "
    "more likely, capped at 1. The coin is the salted portable hash mod "
    "the weight scale (pure integer compare, no floats anywhere), so the "
    "sample is reproducible across engines, runs and cluster sizes, and "
    "the filter is a pure narrow projection — no shuffle at any scale. "
    "NULL doc_id rows fall out naturally (NULL hash coin); NULL n_chars "
    "is excluded EXPLICITLY — least() skips NULLs in both engines, so "
    "without the guard an unknown-length row would be kept with "
    "probability 1, the opposite of a sane weighting contract.",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    coin = md5int(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))) % 2000
    return docs.filter(
        F.col("n_chars").isNotNull()
        & (coin < F.least(F.col("n_chars"), F.lit(2000)))
    ).select("doc_id", "n_chars")


@register(
    "compaction_bin_pack",
    oracle="""
    WITH f AS (SELECT coalesce(source, '') AS source, coalesce(lang, '') AS lang,
                      count(*)::BIGINT AS n_docs,
                      coalesce(sum(n_chars), 0)::BIGINT AS size_chars
               FROM documents GROUP BY 1, 2)
    SELECT source, lang, n_docs, size_chars,
           (coalesce(sum(size_chars) OVER (
                ORDER BY source, lang
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 5000)::BIGINT AS bin_id
    FROM f
    """,
    doc="Small-files compaction planning: roll the per-(source, lang) "
    "partition sizes up, lay the partitions out in deterministic key order, "
    "and assign each to an output bin by cumulative size (target 5000 "
    "chars per bin — stand-in for the 256 MB parquet target). This is the "
    "planner a 100 TB pipeline runs before rewriting a fragmented layout: "
    "the data-sized work is ONE partial-aggregated shuffle down to "
    "|sources|x|langs| metadata rows; the sequential cumulative-sum window "
    "then runs over that LISTING-SCALE table, where a single partition is "
    "the correct plan, not a compromise (same metadata-vs-data argument as "
    "global_shuffle_index's offsets table). NULL source/lang map to the '' "
    "file group on both engines (ORDER BY NULL is engine-dependent; "
    "coalescing before grouping removes the divergence); NULL n_chars "
    "contributes 0 bytes (sum skips NULLs in both engines, coalesced for "
    "the all-NULL group).",
)
def compaction_bin_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    files = docs.groupBy(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("size_chars"),
    )
    cum = F.coalesce(
        F.sum("size_chars").over(
            Window.orderBy("source", "lang").rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
        F.lit(0),
    )
    return files.select(
        "source",
        "lang",
        "n_docs",
        "size_chars",
        int_div(cum, 5000).alias("bin_id"),
    )


@register(
    "validate_constraints",
    oracle="""
    SELECT 'event_id_complete' AS rule,
           count(*)::BIGINT AS n_checked,
           (count(*) - count(event_id))::BIGINT AS n_violations
    FROM events
    UNION ALL
    SELECT 'event_id_unique',
           count(event_id)::BIGINT,
           (count(event_id) - count(DISTINCT event_id))::BIGINT
    FROM events
    UNION ALL
    SELECT 'user_id_complete', count(*)::BIGINT,
           (count(*) - count(user_id))::BIGINT
    FROM events
    UNION ALL
    SELECT 'value_non_negative', count(value)::BIGINT,
           coalesce(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0)::BIGINT
    FROM events
    UNION ALL
    SELECT 'event_type_in_domain', count(event_type)::BIGINT,
           coalesce(sum(CASE WHEN event_type NOT IN
                    ('view', 'click', 'purchase', 'signup') THEN 1 ELSE 0 END), 0)::BIGINT
    FROM events
    UNION ALL
    SELECT 'value_finite', count(value)::BIGINT,
           coalesce(sum(CASE WHEN NOT isfinite(value) THEN 1 ELSE 0 END), 0)::BIGINT
    FROM events
    UNION ALL
    SELECT 'value_in_range', count(value)::BIGINT,
           coalesce(sum(CASE WHEN isfinite(value) AND abs(value) >= 1000000000000.0
                        THEN 1 ELSE 0 END), 0)::BIGINT
    FROM events
    UNION ALL
    SELECT 'value_mass_parity',
           coalesce(sum(CASE WHEN isfinite(value) AND abs(value) < 1000000000000.0
                        THEN 1 ELSE 0 END), 0)::BIGINT,
           (CASE WHEN coalesce(sum(CASE WHEN isfinite(value)
                                         AND abs(value) < 1000000000000.0
                                    THEN CAST(abs(value) AS DECIMAL(38,6))
                                    ELSE CAST(0 AS DECIMAL(38,6)) END),
                          CAST(0 AS DECIMAL(38,6))) * 100
                      >= 9007199254740992 THEN 1 ELSE 0 END)::BIGINT
    FROM events
    UNION ALL
    SELECT 'vec_id_unique', count(vec_id)::BIGINT,
           (count(vec_id) - count(DISTINCT vec_id))::BIGINT
    FROM embeddings
    """,
    doc="Declarative data-validation audit (the Deequ/expectations shape a "
    "pipeline runs BEFORE shipping a snapshot to training): completeness, "
    "key uniqueness, range, and domain-membership rules evaluated over "
    "events in ONE pass — every rule is a conditional aggregate over the "
    "same scan (map-side partials; the single genuinely expensive rule, "
    "key uniqueness, is the one count(DISTINCT) shuffle), then the scalar "
    "results unpivot to one row per rule. At 100 TB this is the cheapest "
    "full-corpus integrity gate there is: one pass, fixed-size output.",
)
def validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("event_id").alias("n_id"),
        F.count_distinct("event_id").alias("n_id_distinct"),
        F.count("user_id").alias("n_user"),
        F.count("value").alias("n_value"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg_value"),
        F.sum(
            F.when(
                F.isnan(F.col("value"))
                | (F.col("value") == F.lit(float("inf")))
                | (F.col("value") == F.lit(float("-inf"))),
                1,
            ).otherwise(0)
        ).alias("nonfinite_value"),
        F.sum(
            F.when(
                ~F.isnan(F.col("value"))
                & (F.abs(F.col("value")) != F.lit(float("inf")))
                & (F.abs(F.col("value")) >= F.lit(MEASURE_RANGE)),
                1,
            ).otherwise(0)
        ).alias("outofrange_value"),
        F.count("event_type").alias("n_type"),
        F.sum(
            F.when(
                ~F.col("event_type").isin("view", "click", "purchase", "signup"), 1
            ).otherwise(0)
        ).alias("bad_type"),
        F.count(
            F.when(
                ~F.isnan(F.col("value"))
                & (F.abs(F.col("value")) != F.lit(float("inf")))
                & (F.abs(F.col("value")) < F.lit(MEASURE_RANGE)),
                1,
            )
        ).alias("n_env_value"),
        F.sum(
            F.when(
                ~F.isnan(F.col("value"))
                & (F.abs(F.col("value")) != F.lit(float("inf")))
                & (F.abs(F.col("value")) < F.lit(MEASURE_RANGE)),
                F.abs(F.col("value")),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(38,6)")
        ).alias("env_mass"),
    )
    rules = F.array(
        F.struct(
            F.lit("event_id_complete").alias("rule"),
            F.col("n_rows").alias("n_checked"),
            (F.col("n_rows") - F.col("n_id")).alias("n_violations"),
        ),
        F.struct(
            F.lit("event_id_unique").alias("rule"),
            F.col("n_id").alias("n_checked"),
            (F.col("n_id") - F.col("n_id_distinct")).alias("n_violations"),
        ),
        F.struct(
            F.lit("user_id_complete").alias("rule"),
            F.col("n_rows").alias("n_checked"),
            (F.col("n_rows") - F.col("n_user")).alias("n_violations"),
        ),
        F.struct(
            F.lit("value_non_negative").alias("rule"),
            F.col("n_value").alias("n_checked"),
            F.coalesce(F.col("neg_value"), F.lit(0)).alias("n_violations"),
        ),
        F.struct(
            F.lit("event_type_in_domain").alias("rule"),
            F.col("n_type").alias("n_checked"),
            F.coalesce(F.col("bad_type"), F.lit(0)).alias("n_violations"),
        ),
        # non-finite measure rule (dirty-data contract): the validator
        # REPORTS NaN/±Inf rows — it is the one query in the value family
        # that must SEE them rather than filter them at entry
        F.struct(
            F.lit("value_finite").alias("rule"),
            F.col("n_value").alias("n_checked"),
            F.coalesce(F.col("nonfinite_value"), F.lit(0)).alias("n_violations"),
        ),
        # exact-arithmetic envelope rule: finite but outside the
        # measure range the decimal/cents pipeline can represent exactly
        F.struct(
            F.lit("value_in_range").alias("rule"),
            F.col("n_value").alias("n_checked"),
            F.coalesce(F.col("outofrange_value"), F.lit(0)).alias("n_violations"),
        ),
        # aggregate-parity envelope rule: the
        # per-VALUE envelope above cannot bound a SUM. DOUBLE-typed
        # decimal-sum outputs (output scale <= 2 by the rescale contract)
        # are last-bit parity-exact only while |sum|*10^2 < 2^53 (DuckDB's
        # decimal->double cast mis-rounds past the mantissa; Spark's is
        # correctly rounded). Since groups partition rows, the decimal-
        # exact TOTAL mass sum(|v|) bounds every group/window sum any
        # registered query can form — one violation flag covers the whole
        # registry. tests/test_dirty_data_contracts.py pins the fixture
        # mass inside the envelope and witnesses the flag flipping on a
        # beyond-mass fixture with cross-engine parity.
        F.struct(
            F.lit("value_mass_parity").alias("rule"),
            F.col("n_env_value").alias("n_checked"),
            F.when(
                F.coalesce(
                    F.col("env_mass"), F.lit(0).cast("decimal(38,6)")
                )
                * 100
                >= F.lit(2**53),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("n_violations"),
        ),
    )
    ev_rules = agg.select(F.explode(rules).alias("r")).select(
        "r.rule", "r.n_checked", "r.n_violations"
    )
    # duplicate-primary-key rule (dirt contract): a duplicate vec_id
    # silently doubles rows through every index join downstream — the
    # validator REPORTS it; first_occurrence() is the canonicalization
    emb_rules = (
        load_table(spark, sf_dir, "embeddings")
        .agg(
            F.count("vec_id").alias("n_checked"),
            (F.count("vec_id") - F.count_distinct("vec_id")).alias("n_violations"),
        )
        .select(
            F.lit("vec_id_unique").alias("rule"), "n_checked", "n_violations"
        )
    )
    return ev_rules.unionByName(emb_rules)


@register(
    "kanonymity_check",
    oracle="""
    SELECT coalesce(source, '') AS source, coalesce(lang, '') AS lang,
           n_chars // 200 AS len_bucket,
           count(*)::BIGINT AS group_size
    FROM documents
    GROUP BY 1, 2, 3
    HAVING count(*) < 5
    """,
    doc="k-anonymity audit over the (source, lang, length-bucket) "
    "quasi-identifier triple: every combination carried by FEWER than k=5 "
    "documents is a re-identification risk the privacy review must see "
    "before release (the 200-char length bucket stands in for the "
    "continuous quasi-identifiers — age, ZIP — that real audits "
    "coarsen). One partial-aggregated shuffle down to |quasi-groups| "
    "rows, then the HAVING keeps only risky groups — output is bounded "
    "by the violation count, not the corpus. NULL source/lang map to the "
    "'' group (coalesce-before-group, as compaction_bin_pack); an "
    "unknown length is its own NULL bucket in both engines (GROUP BY "
    "treats NULLs as equal).",
)
def kanonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.coalesce(F.col("source"), F.lit("")).alias("source"),
            F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
            int_div(F.col("n_chars"), 200).alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 5)
    )


@register(
    "timeseries_gapfill_locf",
    oracle="""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             CAST(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DECIMAL(32,2))
                  AS DOUBLE) AS day_value
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        AND isfinite(value) AND abs(value) < 1000000000000.0
      GROUP BY 1, 2),
    mx AS (SELECT max(day) AS dmax FROM daily),
    spine AS (
      SELECT u.user_id, unnest(range(u.d0, mx.dmax + 1)) AS day
      FROM (SELECT user_id, min(day) AS d0 FROM daily GROUP BY 1) u, mx),
    j AS (SELECT s.user_id, s.day, d.day_value
          FROM spine s LEFT JOIN daily d USING (user_id, day))
    SELECT user_id, day,
           last_value(day_value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
           (day_value IS NOT NULL) AS is_observed
    FROM j
    """,
    doc="Time-series gap filling with last-observation-carried-forward — "
    "the hypertable/continuous-aggregate shape: per-user daily rollup "
    "(decimal-exact sums), a dense date spine from each user's first "
    "observed day to the corpus's last day (explode(sequence), narrow "
    "after a broadcast of the single global-max row), left join the "
    "observations back onto the spine, and fill gaps with "
    "last(ignorenulls) over the per-user ordered window. Spine size is "
    "|users| x |days| — the join and window shuffle ONCE on user_id. "
    "Contract: NULL user_id / ts / value rows are not observations (a "
    "day whose only events carry NULL values is a gap); the first spine "
    "day is observed by construction, so value_filled is never NULL.",
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = finite_measures(
        load_table(spark, sf_dir, "events").filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
    )
    # `daily` feeds THREE consumers (global max, per-user spine starts, and
    # the join probe side) — materialize it once (localCheckpoint: blocks
    # are GC-reclaimed with the plan, unlike persist(), which pins a cache
    # entry for the session lifetime).
    daily = (
        ev.groupBy(
            "user_id", (F.unix_micros("ts") / 86400000000).cast("long").alias("day")
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(32,2)")
            .cast("double")
            .alias("day_value")
        )
        .localCheckpoint(eager=True)
    )
    dmax = daily.agg(F.max("day").alias("dmax"))
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"))
        .crossJoin(F.broadcast(dmax))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("dmax"))).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "day",
        F.last("day_value", ignorenulls=True).over(w).alias("value_filled"),
        F.col("day_value").isNotNull().alias("is_observed"),
    )


@register(
    "rollup_incremental_merge",
    oracle="""
    SELECT epoch_us(ts) // 86400000000 AS day,
           event_type,
           count(*)::BIGINT AS n_events,
           CAST(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DECIMAL(32,2))
                AS DOUBLE) AS total_value
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
      AND isfinite(value) AND abs(value) < 1000000000000.0
    GROUP BY 1, 2
    """,
    doc="Continuous-aggregate maintenance (the hypertable/lambda shape): "
    "CLOSED days are served from a materialized daily rollup (written "
    "once to parquet scratch — the 'refresh' a scheduler runs nightly), "
    "and only the still-open last day is aggregated from raw events at "
    "query time; the union is provably identical to the full aggregate "
    "(the oracle IS the full aggregate). At 100 TB this turns an "
    "every-query full-history scan into [materialized rollup scan + one "
    "day of raw] — the scan cost stops growing with history. Partial "
    "aggregates are decimal-exact, so merging materialized and fresh "
    "halves is bit-identical to aggregating raw history. Contract: rows "
    "with NULL ts/type/value carry no aggregate contribution on either "
    "path.",
)
def rollup_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from petfinder_database_distributor_spark.streaming.incremental import (
        SCRATCH_ROOT,
    )

    ev = finite_measures(
        load_table(spark, sf_dir, "events").filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
        )
    )
    day = (F.unix_micros("ts") / 86400000000).cast("long")

    def daily(df):
        return df.groupBy(day.alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(32,2)")
            .cast("double")
            .alias("total_value"),
        )

    # Cache keyed on the FULL sf_dir path (the staging precedent —
    # basename alone would let /a/sf0.1 serve /b/sf0.1's history), guarded
    # by source existence + mtime; the marker records last_day so cached
    # calls never re-scan raw history just to find the open day.
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    path = f"{SCRATCH_ROOT}/rollup_{tag}"
    marker = f"{path}._ok"
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    if (
        os.path.exists(marker)
        and os.path.exists(src)
        and os.stat(marker).st_mtime > os.stat(src).st_mtime
    ):
        with open(marker) as fh:
            last_day = int(fh.read().strip())
    else:
        last_day = ev.agg(F.max(day).alias("d")).collect()[0].d
        if last_day is None:
            # empty events table: nothing closed, nothing open — writing
            # 'None' to the marker would crash the NEXT (cached) call at
            # int(); skip the cache entirely and return the empty rollup.
            return daily(ev)
        # atomic commit protocol (write elsewhere, then os.replace) —
        # a concurrent reader never sees a half-written rollup
        tmp = f"{path}._tmp"
        daily(ev.filter(day < last_day)).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        # marker last (a crash restages), and via the same tmp+rename
        # protocol as the rollup dir: a plain open/write could expose a
        # truncated marker to a concurrent reader mid-write.
        mtmp = f"{marker}._tmp"
        with open(mtmp, "w") as fh:
            fh.write(str(last_day))
        os.replace(mtmp, marker)
    closed = spark.read.parquet(path)
    # query time: only the open day touches raw events
    fresh = daily(ev.filter(day == last_day))
    return closed.unionByName(fresh)


@register(
    "sample_priority_topk",
    oracle=f"""
    SELECT doc_id, n_chars,
           round(n_chars / ((({_MD5INT.format(x="'pri:' || doc_id")}) % 1000000 + 1)
                            / 1000000.0), 6) AS priority
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0 AND doc_id IS NOT NULL
    ORDER BY priority DESC, doc_id
    LIMIT 200
    """,
    doc="Priority sampling (Duffield-Lund-Thorup): a weighted sample "
    "WITHOUT replacement of exactly k=200 documents — priority = weight "
    "/ u with u a salted-hash uniform in (0, 1], keep the k largest. "
    "Complements sample_weighted (Bernoulli: expected-size, "
    "with-independent-coins): fixed-size samples are what a training-mix "
    "builder actually schedules. Deterministic AND bit-identical "
    "cross-engine by construction — the uniform is an integer hash "
    "scaled by one IEEE division and the priority one more division, "
    "both CORRECTLY-ROUNDED operations (unlike pow/log, which the "
    "textbook u^(1/w) key of A-Res reservoir sampling needs and which "
    "carry no cross-libm guarantee). The plan is a narrow projection + "
    "global top-k = TakeOrderedAndProject — bounded state k at any "
    "corpus size, no sort, no shuffle beyond the k-row gather; the "
    "(k+1)-th priority is the tau threshold for unbiased subset-sum "
    "estimation downstream.",
)
def sample_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
        & (F.col("n_chars") > 0)
        & F.col("doc_id").isNotNull()
    )
    u = (
        md5int(F.concat(F.lit("pri:"), F.col("doc_id").cast("string"))) % 1000000
        + 1
    ) / F.lit(1000000.0)
    pri = F.round(F.col("n_chars") / u, 6)
    return (
        docs.select("doc_id", "n_chars", pri.alias("priority"))
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(200)
    )


_KEYDEDUP_TIEBREAK = ["ts", "user_id", "event_type", "value", "props"]


@register(
    "keydedup_first_occurrence",
    oracle=f"""
    WITH canon AS (
      SELECT * FROM {first_occurrence_sql("events", "event_id", ["ts", "user_id", "event_type", "value", "props"])}
    )
    SELECT coalesce(event_type, '') AS event_type,
           count(*)::BIGINT AS n_rows,
           sum(user_id)::BIGINT AS sum_user,
           sum(epoch_us(ts))::VARCHAR AS sum_ts_us,
           sum(length(props))::BIGINT AS sum_props_len
    FROM canon
    GROUP BY 1
    """,
    doc="Duplicate-primary-key canonicalization (the dirt contract's "
    "registered witness): events is reduced to ONE row per event_id via "
    "the deterministic first-occurrence rule — the row that sorts first "
    "by the content tiebreak (ts, user_id, event_type, value, props), "
    "ASC NULLS LAST, never file/scan order (schema.first_occurrence; "
    "SQL twin schema.first_occurrence_sql keeps the tiebreak from "
    "drifting between engines). NULL-key rows pass through (the "
    "completeness rule reports them). The audit output is one row per "
    "event_type with integer-exact winner checksums (sum of user_id, "
    "epoch-µs, props length over canonical rows) — compact, and any "
    "cross-engine disagreement about WHICH duplicate won flips a "
    "checksum. One key-partitioned shuffle + per-key sort (AQE skew "
    "split applies), then a partial-aggregated rollup to |event types| "
    "rows — the 100 TB shape of an idempotent re-ingest compaction.",
)
def keydedup_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    canon = first_occurrence(ev, "event_id", _KEYDEDUP_TIEBREAK)
    return canon.groupBy(
        F.coalesce(F.col("event_type"), F.lit("")).alias("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_id").alias("sum_user"),
        # epoch-µs mass overflows BIGINT past ~5k rows/group (1.7e15 each;
        # reached at sf0.1, NOT at the sf0.01 gate — 9.2e18/µs
        # epoch ≈ 5.3k rows): DECIMAL(38,0)-exact sum emitted as digit
        # STRING on both engines (the ref_scalar_suite checksum pattern;
        # DuckDB's HUGEINT sum would otherwise silently diverge in repr)
        F.sum(F.unix_micros("ts").cast("decimal(38,0)"))
        .cast("string")
        .alias("sum_ts_us"),
        F.sum(F.length("props")).alias("sum_props_len"),
    )


# ---------------------------------------------------------------------------
# sample_kcenter_greedy
# ---------------------------------------------------------------------------

_KCENTER_K = 8
# same embedding quantization as the ANN oracle family: round(x*1000) as
# int64, so squared-L2 distances are exact integers in both engines
_KC_QE_SQL = "list_transform(embedding::DOUBLE[], x -> round(x * 1000))"
_KC_DIST_SQL = (
    "(list_inner_product({a}, {a}) + list_inner_product({b}, {b})"
    " - 2 * list_inner_product({a}, {b}))::BIGINT"
)


def _kcenter_oracle(k: int = _KCENTER_K) -> str:
    """Unrolled k-step farthest-point-sampling in DuckDB: seed = lowest
    vec_id, then k-1 rounds of (argmax running min-distance, update)."""
    d = _KC_DIST_SQL
    ctes = [
        f"q AS (SELECT vec_id, {_KC_QE_SQL} AS qe FROM embeddings"
        " WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)",
        "s0 AS (SELECT vec_id, qe FROM q ORDER BY vec_id LIMIT 1)",
        "d0 AS (SELECT q.vec_id, q.qe, q.vec_id = s0.vec_id AS picked, "
        + d.format(a="q.qe", b="s0.qe")
        + " AS mind FROM q, s0)",
    ]
    for i in range(1, k):
        ctes.append(
            f"s{i} AS (SELECT vec_id, qe, mind FROM d{i - 1}"
            f" WHERE NOT picked ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"d{i} AS (SELECT d.vec_id, d.qe,"
            f" d.picked OR d.vec_id = s.vec_id AS picked,"
            f" least(d.mind, " + d.format(a="d.qe", b="s.qe") + ") AS mind"
            f" FROM d{i - 1} d, s{i} s)"
        )
    sel = ["SELECT 1::BIGINT AS sel_rank, vec_id, 0::BIGINT AS dist_sq FROM s0"]
    sel += [
        f"SELECT {i + 1}::BIGINT, vec_id, mind::BIGINT FROM s{i}"
        for i in range(1, k)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n    " + "\n    UNION ALL ".join(sel)


_KCENTER_ORACLE = _kcenter_oracle()


def _kc_qe(col: Column) -> Column:
    return F.transform(
        col.cast("array<double>"), lambda x: F.round(x * 1000).cast("long")
    )


def _kc_dist(qe_col: str, center: list[int]) -> Column:
    # One F.expr per center: the element-wise F.lit/zip_with form
    # issues 64+ py4j calls per center per round —
    # ~2k driver round-trips across the k rounds for identical
    # aggregate(zip_with(...)) semantics.
    lits = ",".join(f"{int(v)}L" for v in center)
    return F.expr(
        f"aggregate(zip_with({qe_col}, array({lits}),"
        f" (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )


@register("sample_kcenter_greedy", oracle=_KCENTER_ORACLE)
def sample_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-Center greedy coreset selection (farthest-point sampling; Sener &
    Savarese 2018, the classic active-learning/data-pruning selector):
    seed with the lowest vec_id, then k-1 rounds of "pick the vector
    farthest from everything selected so far" — the 2-approximation of
    the k-Center cover, and the geometry-COVERAGE complement to DSIR's
    distribution-matching draw. dist_sq at selection is the corpus
    covering radius as of that pick (monotone non-increasing — pinned in
    tests). Integer-exact: embeddings quantize to round(x*1000) int64,
    distances are squared L2 (<= 64 * 2000^2 — no overflow), argmax ties
    break on vec_id. Plan shape: k-1 bounded driver iterations, each ONE
    narrow map over the corpus (running-min distance to <=k inlined
    literal centers — 64 ints each, no join, no shuffle) closed by a
    TakeOrderedAndProject(1); the only driver pulls are k single-row
    collects (the same bounded-metadata discipline as the k-means seed
    pulls). DEPLOYMENT POSTURE: this is the EXACTNESS WITNESS, not the
    default-scale path — its k sequential corpus scans are the last
    serial-scan shape in the engine's top-15. Deploy
    sample_kcenter_bucketed (below): two corpus passes total at any k,
    with this query as the quality reference its covering radius is
    audited against."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    # The k-1 rounds below each re-scan the corpus; the quantized frame
    # is the only input they share, so materialize it ONCE (DISK_ONLY —
    # corpus-bulk discipline) instead of paying the parquet scan +
    # quantize transform k times (the witness's sequential shape itself
    # is unchanged — sample_kcenter_bucketed stays the 100 TB path).
    # Persist + try/finally unpersist rather than localCheckpoint:
    # checkpoint blocks are not cache-manager-tracked, so they linger on
    # executors until driver GC (a leak across a 216-query bench
    # session), and the truncated lineage makes the query unrecoverable
    # on executor loss. The persisted plan is re-analyzed per round, but
    # it is three nodes deep — recompute safety and deterministic cleanup
    # win.
    from pyspark.storagelevel import StorageLevel

    q = emb.select("vec_id", _kc_qe(F.col("embedding")).alias("qe")).persist(
        StorageLevel.DISK_ONLY
    )
    try:
        seed_rows = q.orderBy("vec_id").limit(1).collect()
        if not seed_rows:
            # degenerate input: no vectors → empty selection, same schema
            # the oracle produces (its seed CTE is empty too) — never an
            # IndexError
            return spark.createDataFrame(
                [], "sel_rank bigint, vec_id bigint, dist_sq bigint"
            )
        # populate the cache fully before the rounds (count scans every
        # partition of the persisted relation, caching all its columns)
        q.count()
        seed = seed_rows[0]
        selected = [(1, int(seed["vec_id"]), 0, list(seed["qe"]))]
        for i in range(2, _KCENTER_K + 1):
            mind = F.least(
                *[_kc_dist("qe", c[3]) for c in selected]
            ) if len(selected) > 1 else _kc_dist("qe", selected[0][3])
            picked_ids = [c[1] for c in selected]
            nxt = (
                q.filter(~F.col("vec_id").isin(picked_ids))
                .select("vec_id", "qe", mind.alias("mind"))
                .orderBy(F.col("mind").desc(), "vec_id")
                .limit(1)
                .collect()
            )
            if not nxt:
                break
            r = nxt[0]
            selected.append((i, int(r["vec_id"]), int(r["mind"]), list(r["qe"])))
        return spark.createDataFrame(
            [(r, v, d) for r, v, d, _ in selected],
            "sel_rank bigint, vec_id bigint, dist_sq bigint",
        )
    finally:
        q.unpersist()


# ---------------------------------------------------------------------------
# sample_kcenter_bucketed
# ---------------------------------------------------------------------------

_KCB_K = 8
# expected candidate-set size: S = max(1, n // _KCB_TARGET) keeps ~128
# candidates at EVERY corpus scale — the whole point of the variant
_KCB_TARGET = 128
# loud hard bound on the driver pull (ORDER BY vec_id LIMIT, i.e.
# TakeOrderedAndProject — never an unbounded collect even if the hash
# sample comes in heavy); at the expected 128 it never binds
_KCB_CAP = 4096


def _kcb_oracle() -> str:
    d = _KC_DIST_SQL
    h = MD5INT_SQL.format(x="vec_id::VARCHAR")
    ctes = [
        f"q AS (SELECT vec_id, {_KC_QE_SQL} AS qe FROM embeddings"
        " WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)",
        f"nn AS (SELECT greatest(1, count(*) // {_KCB_TARGET}) AS s,"
        " min(vec_id) AS mn FROM q)",
        f"cand AS (SELECT q.vec_id, q.qe FROM q, nn"
        f" WHERE ({h}) % nn.s = 0 OR q.vec_id = nn.mn"
        f" ORDER BY q.vec_id LIMIT {_KCB_CAP})",
        "s0 AS (SELECT vec_id, qe FROM cand ORDER BY vec_id LIMIT 1)",
        "d0 AS (SELECT c.vec_id, c.qe, c.vec_id = s0.vec_id AS picked, "
        + d.format(a="c.qe", b="s0.qe")
        + " AS mind FROM cand c, s0)",
    ]
    for i in range(1, _KCB_K):
        ctes.append(
            f"s{i} AS (SELECT vec_id, qe, mind FROM d{i - 1}"
            f" WHERE NOT picked ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"d{i} AS (SELECT d.vec_id, d.qe,"
            f" d.picked OR d.vec_id = s.vec_id AS picked,"
            f" least(d.mind, " + d.format(a="d.qe", b="s.qe") + ") AS mind"
            f" FROM d{i - 1} d, s{i} s)"
        )
    sel = ["SELECT 1::BIGINT AS sel_rank, vec_id, qe, 0::BIGINT AS dist_sq FROM s0"]
    sel += [
        f"SELECT {i + 1}::BIGINT, vec_id, qe, mind::BIGINT FROM s{i}"
        for i in range(1, _KCB_K)
    ]
    union = "\n      UNION ALL ".join(sel)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    sel AS ({union}),
    rad AS (SELECT coalesce(max(m), 0)::BIGINT AS r FROM (
      SELECT q.vec_id, min({d.format(a="q.qe", b="sel.qe")}) AS m
      FROM q, sel GROUP BY q.vec_id))
    SELECT sel_rank, vec_id, dist_sq, rad.r AS corpus_radius_sq
    FROM sel, rad
    """
    )


@register("sample_kcenter_bucketed", oracle=_kcb_oracle())
def sample_kcenter_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-Center coreset selection WITHOUT the k-round corpus loop — the
    100 TB twin of sample_kcenter_greedy. Greedy
    farthest-point sampling is a 2-approximation but serializes k FULL
    corpus scans; the MapReduce-style variant here (the
    sample-then-solve composition of Ene/Im/Moseley 2011's k-center
    pattern) does the whole job in TWO corpus passes at any k: (1) ONE
    hash-sampled candidate pass — md5int(vec_id) % S == 0 with
    S = max(1, n // 128), so the candidate set is ~128 vectors at every
    corpus scale (plus the min-id vector so it is provably non-empty,
    TakeOrderedAndProject-capped at 4096 as a loud driver-pull bound);
    (2) the EXACT integer greedy over that bounded set (driver-side,
    same quantized squared-L2 and vec_id tie-breaks as the greedy twin);
    (3) ONE corpus pass measuring the TRUE covering radius of the chosen
    centers — max over all vectors of min squared distance to a center
    (broadcast of 8 rows; coalesced to 0 on an empty corpus) — the
    quality certificate against the greedy's radius. Deterministic end
    to end (hash sampling, integer distances, lexical ties), hence
    oracle-checkable: the oracle replays the identical sample + unrolled
    greedy + radius. At 100 TB: two embarrassingly-parallel scans and a
    <=4096-row driver pull replace k serialized scans — the 8x scale
    probe must come in at or under the greedy's 1.7x."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    q = emb.select("vec_id", _kc_qe(F.col("embedding")).alias("qe"))
    nn = q.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"count(*) div {_KCB_TARGET}"),
        ).alias("s"),
        F.min("vec_id").alias("mn"),
    )
    h = md5int(F.col("vec_id").cast("string"))
    cand_rows = (
        q.crossJoin(F.broadcast(nn))
        .filter((h % F.col("s") == 0) | (F.col("vec_id") == F.col("mn")))
        .select("vec_id", "qe")
        .orderBy("vec_id")
        .limit(_KCB_CAP)
        .collect()
    )
    if not cand_rows:
        return spark.createDataFrame(
            [],
            "sel_rank bigint, vec_id bigint, dist_sq bigint,"
            " corpus_radius_sq bigint",
        )
    # exact greedy over the bounded candidate set — pure-Python integers,
    # bit-identical to the oracle's unrolled SQL greedy (same seed, same
    # squared-L2, same (dist desc, vec_id) ties)
    cand = sorted(
        ((int(r["vec_id"]), [int(x) for x in r["qe"]]) for r in cand_rows)
    )

    def dist2(a: list[int], b: list[int]) -> int:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    selected = [(1, cand[0][0], 0, cand[0][1])]
    remaining = dict(cand[1:])
    mind = {v: dist2(vec, cand[0][1]) for v, vec in remaining.items()}
    for i in range(2, _KCB_K + 1):
        if not remaining:
            break
        pick = max(remaining, key=lambda v: (mind[v], -v))
        # (dist desc, vec_id asc) ties — max on (mind, -vec_id)
        selected.append((i, pick, mind[pick], remaining[pick]))
        pvec = remaining.pop(pick)
        del mind[pick]
        for v, vec in remaining.items():
            d = dist2(vec, pvec)
            if d < mind[v]:
                mind[v] = d
    centers = [(r, v, d) for r, v, d, _ in selected]
    center_vecs = [vec for _, _, _, vec in selected]
    radius_col = F.least(
        *[_kc_dist("qe", c) for c in center_vecs]
    ) if len(center_vecs) > 1 else _kc_dist("qe", center_vecs[0])
    rad = q.agg(
        F.coalesce(F.max(radius_col), F.lit(0)).cast("long").alias("r")
    )
    sel_df = spark.createDataFrame(
        centers, "sel_rank bigint, vec_id bigint, dist_sq bigint"
    )
    return sel_df.crossJoin(F.broadcast(rad)).select(
        "sel_rank", "vec_id", "dist_sq", F.col("r").alias("corpus_radius_sq")
    )


# ---------------------------------------------------------------------------
# sample_stratified_neyman
# ---------------------------------------------------------------------------

_NEY_BUDGET = 1000  # total sample size to allocate across strata


_NEYMAN_ORACLE = f"""
    WITH ev AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
        AND isfinite(value) AND abs(value) < 1000000000000.0),
    st AS (
      SELECT event_type, count(*)::HUGEINT AS n, sum(c)::HUGEINT AS s
      FROM ev GROUP BY 1),
    disp AS (
      SELECT e.event_type, st.n,
             sum(abs(st.n * e.c - st.s))::HUGEINT AS adev
      FROM ev e JOIN st USING (event_type)
      GROUP BY e.event_type, st.n),
    wts AS (
      SELECT event_type, n::BIGINT AS n_rows,
             (adev // (n * n))::BIGINT AS mad_cents,
             (n * (adev // (n * n)))::HUGEINT AS w
      FROM disp),
    tot AS (SELECT sum(w)::HUGEINT AS wsum FROM wts),
    base AS (
      SELECT w.event_type, w.n_rows, w.mad_cents,
             (({_NEY_BUDGET}::HUGEINT * w.w) // tot.wsum)::BIGINT AS base_n,
             (({_NEY_BUDGET}::HUGEINT * w.w) % tot.wsum)::HUGEINT AS rem,
             row_number() OVER (
               ORDER BY (({_NEY_BUDGET}::HUGEINT * w.w) % tot.wsum) DESC,
                        w.event_type) AS rrank
      FROM wts w, tot WHERE tot.wsum > 0),
    short AS (SELECT ({_NEY_BUDGET} - sum(base_n))::BIGINT AS leftover FROM base)
    SELECT event_type, n_rows, mad_cents,
           (base_n + CASE WHEN rrank <= short.leftover THEN 1 ELSE 0 END)::BIGINT
             AS alloc_n,
           (rrank <= short.leftover) AS got_bonus
    FROM base, short
    """


@register("sample_stratified_neyman", oracle=_NEYMAN_ORACLE)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-style OPTIMAL stratified-sample allocation (Neyman 1934:
    sample stratum h proportionally to N_h * sigma_h — high-variance
    strata get more budget than proportional allocation gives them),
    made integer-exact end to end by an L1 dispersion proxy: sigma_h is
    replaced with the mean absolute deviation in cents, computed as
    sum(|n*c - S|) div n^2 — all integer (no sqrt, whose operand here
    would exceed 2^53 and hit the probed DuckDB decimal->double
    last-bit mis-rounding; MAD is proportional to sigma for a fixed
    distribution shape, so the allocation ORDER matches Neyman's). The
    1000-row budget is apportioned over w_h = n_h * mad_h by LARGEST
    REMAINDER (Hamilton — the domain_budget_temperature pattern), so
    sum(alloc_n) == 1000 exactly; an all-constant corpus (every
    stratum's dispersion zero => wsum = 0) yields ZERO rows on both
    engines — domain_budget_temperature's wsum-guard contract.
    HUGEINT/decimal(38,0) products throughout (n*c and budget*w overflow int64 inside the
    widened measure envelope). Plan shape: TWO corpus-sized hash aggs
    (moments, then deviations against the broadcast stratum moments) —
    map-side partials both; every window after runs over the
    |event_type|-row register frame. At 100 TB this is the survey-
    sampling design pass every labeling/eval pipeline budgets with."""
    ev = (
        finite_measures(
            load_table(spark, sf_dir, "events").filter(
                F.col("event_type").isNotNull() & F.col("value").isNotNull()
            )
        )
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
    )
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
    )
    disp = (
        ev.join(F.broadcast(st), "event_type")
        .select(
            "event_type",
            "n",
            F.abs(F.col("n") * F.col("c") - F.col("s")).alias("ad"),
        )
        .groupBy("event_type", "n")
        .agg(F.sum("ad").cast("decimal(38,0)").alias("adev"))
    )
    wts = disp.select(
        "event_type",
        F.col("n").cast("long").alias("n_rows"),
        F.expr("CAST(adev div (n * n) AS BIGINT)").alias("mad_cents"),
        F.expr("CAST(n * (adev div (n * n)) AS DECIMAL(38,0))").alias("w"),
    )
    tot = wts.agg(F.sum("w").cast("decimal(38,0)").alias("wsum"))
    base = (
        wts.crossJoin(F.broadcast(tot))
        .filter(F.col("wsum") > F.lit(0))
        .select(
            "event_type",
            "n_rows",
            "mad_cents",
            F.expr(
                f"CAST((CAST({_NEY_BUDGET} AS DECIMAL(38,0)) * w) div wsum"
                " AS BIGINT)"
            ).alias("base_n"),
            F.expr(
                f"CAST((CAST({_NEY_BUDGET} AS DECIMAL(38,0)) * w) % wsum"
                " AS DECIMAL(38,0))"
            ).alias("rem"),
        )
    )
    ranked = base.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "event_type"))
        .alias("rrank"),
    )
    short = ranked.agg(
        (F.lit(_NEY_BUDGET) - F.sum("base_n")).cast("long").alias("leftover")
    )
    return (
        ranked.crossJoin(F.broadcast(short))
        .select(
            "event_type",
            "n_rows",
            "mad_cents",
            (
                F.col("base_n")
                + F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_n"),
            (F.col("rrank") <= F.col("leftover")).alias("got_bonus"),
        )
    )
