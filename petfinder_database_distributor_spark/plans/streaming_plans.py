"""Incremental-pipeline queries (Structured Streaming, SURVEY.md §2.8).

Each query executes real streaming machinery — micro-batch planner, offset
log / checkpoint, state store — over the events table staged as chunked
files (one file = one micro-batch = the reference's unit of work), bounded
with ``Trigger.AvailableNow`` so it terminates with a deterministic result
the driver can hash-compare against DuckDB like any batch query.

T-behavior coverage: T1 (chunked micro-batches), T2 (offset-log
checkpointing; resume exercised in tests/test_streaming.py), T3
(at-least-once replay staged via duplicate_overlap + idempotent sinks),
T5 (maxFilesPerTrigger pacing), T7 (malformed rows dropped, not fatal).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.operators.text import MD5INT_SQL, md5int
from petfinder_database_distributor_spark.plans.llm_pipeline import (
    _HLL_ORACLE_SQL,
    _KMV_K,
    _KMV_M,
)
from petfinder_database_distributor_spark.registry import register
from petfinder_database_distributor_spark.schema import finite_measures
from petfinder_database_distributor_spark.streaming.incremental import (
    SCRATCH_ROOT,
    STREAM_SHUFFLE_PARTITIONS,
    read_event_stream,
    run_upsert_stream,
    scoped_conf,
    stage_event_chunks,
    stateful_user_counters,
    windowed_event_counts,
)


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a bounded streaming query into an in-memory sink and return the
    sink's contents after termination."""
    name = f"mem_{uuid.uuid4().hex[:10]}"
    spark = stream_df.sparkSession
    with scoped_conf(spark, spark__sql__shuffle__partitions=STREAM_SHUFFLE_PARTITIONS):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@register(
    "stream_upsert_merge",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           value AS last_value, epoch_us(ts) AS last_ts_us
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="T1+T2+T3+D2: chunked micro-batch stream → foreachBatch idempotent merge "
    "(latest event per user by content ordering) → versioned atomic snapshots; "
    "final table equals the batch upsert exactly",
)
def stream_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = stage_event_chunks(spark, sf_dir, n_chunks=4)
    final = run_upsert_stream(
        spark,
        stage,
        run_dir=f"{SCRATCH_ROOT}/run_upsert_{sf_dir.strip('/').replace('/', '_')}",
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        max_files=2,  # 2 chunks per batch: same merge semantics, half the snapshot commits
    )
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_micros("ts").alias("last_ts_us"),
    )


@register(
    "stream_windowed_totals",
    oracle="""
    -- FLOOR division (// truncates toward zero): Spark's window('1 day')
    -- floors to the day boundary, so pre-1970 timestamps agree too
    SELECT (epoch_us(ts) // 86400000000)
           - CASE WHEN epoch_us(ts) % 86400000000 < 0 THEN 1 ELSE 0 END
           AS day_idx, event_type,
           count(*) AS n_events,
           CAST(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DECIMAL(32,2)) AS DOUBLE) AS total_value
    FROM events
    WHERE (value IS NULL OR (isfinite(value) AND abs(value) < 1000000000000.0))
    GROUP BY 1, 2
    """,
    doc="Event-time tumbling windows (1 day × event_type) over the micro-batch "
    "stream, complete-mode state; decimal-exact sums match batch bit-for-bit",
)
def stream_windowed_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = stage_event_chunks(spark, sf_dir, n_chunks=4)
    agg = windowed_event_counts(
        finite_measures(read_event_stream(spark, stage, max_files=2))
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_dedup_replay",
    oracle="""
    SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
    FROM events
    """,
    doc="T3 at-least-once replay: every event staged into TWO micro-batches; "
    "streaming dropDuplicates state emits each exactly once (append mode)",
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 files per trigger: the duplicate_overlap copies land in ADJACENT
    # chunks, so pairs still straddle micro-batches and the cross-batch
    # dedup state is exercised at half the state-store cycles.
    stage = stage_event_chunks(spark, sf_dir, n_chunks=4, duplicate_overlap=True)
    deduped = (
        read_event_stream(spark, stage, max_files=2)
        .dropDuplicates(["event_id"])
        .select(
            "event_id", "user_id", "event_type", "value",
            F.unix_micros("ts").alias("ts_us"),
        )
    )
    return _run_to_memory(deduped, "append")


@register(
    "stream_stateful_counters",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    WHERE (value IS NULL OR (isfinite(value) AND abs(value) < 1000000000000.0))
    GROUP BY user_id
    """,
    doc="A2 running counters as a custom stateful operator "
    "(applyInPandasWithState): per-user running totals emitted per batch; "
    "the final (max-count) emission per user equals the batch aggregate",
)
def stream_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 files per trigger: state still spans micro-batches (the semantics
    # under test) at half the per-batch Python state-store round-trips.
    stage = stage_event_chunks(spark, sf_dir, n_chunks=4)
    counters = stateful_user_counters(
        finite_measures(read_event_stream(spark, stage, max_files=2))
    )
    emitted = _run_to_memory(counters, "update")
    # Running totals are monotone in n_events; keep each user's final emission.
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE (value IS NULL OR (isfinite(value) AND abs(value) < 1000000000000.0))
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, min(epoch_us(ts)) AS start_us,
           max(epoch_us(ts)) + 1800000000 AS end_us,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM sess GROUP BY user_id, sid
    """,
    doc="Watermarked session windows (30 min gap) in APPEND mode: sessions "
    "merge while consecutive events are < gap apart and emit exactly once "
    "when the watermark passes session end. A far-future sentinel event "
    "closes the books so the bounded run emits EVERY session — the oracle is "
    "the classic lag/cumsum gaps-and-islands restatement (note >= on the "
    "boundary: Spark merges only strictly-overlapping session windows)",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = stage_event_chunks(
        spark, sf_dir, n_chunks=4, contiguous=True, sentinel=True
    )
    # 2 files per trigger: the sentinel file is mtime-last, so it still
    # arrives in its own final batch and flushes every session.
    agg = (
        finite_measures(read_event_stream(spark, stage, max_files=2))
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("total_cents"),
        )
    )
    emitted = _run_to_memory(agg, "append")
    return emitted.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.unix_micros("sw.start").alias("start_us"),
        F.unix_micros("sw.end").alias("end_us"),
        "n_events",
        "total_cents",
    )


@register(
    "stream_stream_interval_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    doc="Stream-stream inner join with an event-time interval condition "
    "(purchase within 30 min of a click, same user): both sides are "
    "watermarked 1 h so the join state is BOUNDED — a click is evicted once "
    "the purchase watermark passes its 30-min window, which is what makes "
    "this shape runnable forever at scale. Time-contiguous micro-batches "
    "keep arrivals inside the 1 h delay, so the bounded run emits every "
    "pair and the batch self-join oracle is exact",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 2 files per trigger: inner-join rows emit on match (state eviction is
    # the only watermark effect), so batch granularity can't change the
    # result — and each micro-batch pays a full state-store cycle across
    # every shuffle partition, the dominant cost of this bounded run.
    stage = stage_event_chunks(spark, sf_dir, n_chunks=4, contiguous=True)
    clicks = (
        read_event_stream(spark, stage, max_files=2)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        read_event_stream(spark, stage, max_files=2)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    emitted = _run_to_memory(joined, "append")
    return emitted.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("delay_us"),
    )


@register(
    "stream_sketch_hll",
    # Identical contract to the batch sketch: the streaming register state
    # must converge to exactly the batch registers (max is the canonical
    # mergeable monoid — sketch_hll_mergeable proves merge==direct), so
    # the SAME oracle hash-checks the streaming path.
    oracle=_HLL_ORACLE_SQL,  # the batch sketch's SQL — same contract
    doc="Unbounded streaming distinct-count with O(m) state: the event "
    "stream folds into 512 HLL registers via a streaming max-aggregate "
    "(complete mode), so the state store holds 512 rows FOREVER — "
    "contrast dropDuplicates-style distinct whose state grows with the "
    "key universe. The final micro-batch's registers equal the batch "
    "sketch bit-for-bit (mergeability is the monoid property the "
    "sketch family pins), so the batch oracle hash-checks a STREAMING "
    "query. Estimate math reuses _hll_rows/_hll_estimates — one place "
    "per engine.",
)
def stream_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.plans.llm_pipeline import (
        _hll_estimates,
        _hll_rows,
        _hll_s_occ,
    )

    stage = stage_event_chunks(spark, sf_dir, n_chunks=4)
    stream = read_event_stream(spark, stage, max_files=2).filter(
        F.col("user_id").isNotNull()
    )
    regs_stream = _hll_rows(stream).groupBy("bucket").agg(F.max("rho").alias("m_j"))
    regs = _run_to_memory(regs_stream, "complete")
    s = regs.agg(
        F.count(F.lit(1)).alias("occupied"),
        _hll_s_occ().alias("s_occ"),
    )
    return _hll_estimates(s)


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events,
           CAST(CAST(round(sum(CAST(e.value AS DECIMAL(18,6))), 2) AS DECIMAL(32,2)) AS DOUBLE)
             AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.value IS NOT NULL AND isfinite(e.value) AND abs(e.value) < 1000000000000.0
    GROUP BY 1
    """,
    doc="Stream-static enrichment join (the dimension-lookup pattern every "
    "production stream runs): the micro-batch event stream joins the static "
    "customer table per batch — Spark re-plans the static side each "
    "micro-batch, so the dim join is a broadcast hash join inside every "
    "batch, never a stream-stream state store — then aggregates per market "
    "segment in complete mode. NULL-value events are excluded up front "
    "(contract: a NULL measure contributes neither to the count nor the "
    "sum; Spark's sum would skip it but count(*) would not, so both "
    "engines filter). Final state equals the batch join bit-for-bit.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.schema import load_table

    stage = stage_event_chunks(spark, sf_dir, n_chunks=4)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = (
        finite_measures(read_event_stream(spark, stage, max_files=2))
        .filter(F.col("value").isNotNull())
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(32,2)")
            .cast("double")
            .alias("total_value"),
        )
    )
    return _run_to_memory(enriched, "complete")


@register(
    "stream_late_data_drop",
    # The oracle models the WATERMARK ITSELF, not a row-count proxy
    # (a one-row input tells the two apart): a chunk-0 row is dropped iff
    # its day-window had already CLOSED when it arrived — window_end <=
    # watermark = (max ts of the earlier-arriving chunks) MINUS the
    # 1-hour delay, i.e. window_end + 1h <= m (subtracting the delay there
    # has the wrong sign and over-drops any corpus whose day boundary falls
    # within an hour ABOVE the watermark). late_max applies the SAME
    # finite-measure predicate as the aggregation because Spark's plan
    # filters finite_measures BEFORE the EventTimeWatermark node — a
    # non-finite row with the latest ts never advances the real watermark,
    # so it must not advance the modeled one either. With nothing arriving
    # earlier (the whole corpus fits in chunk 0) nothing drops, which a
    # "drop the first ceil(n/4) ids" model gets wrong on degenerate sizes;
    # at the fixture scales the two models agree exactly (quarter
    # boundaries are days apart).
    oracle="""
    WITH per AS (SELECT (count(*) + 3) // 4 AS p FROM events),
    late_max AS (SELECT max(epoch_us(ts)) AS m
                 FROM events, per
                 WHERE event_id >= per.p
                   AND (value IS NULL
                        OR (isfinite(value) AND abs(value) < 1000000000000.0)))
    -- FLOOR division (// truncates toward zero): Spark's window('1 day')
    -- floors to the day boundary, so pre-1970 timestamps agree too
    SELECT day_idx,
           count(*)::BIGINT AS n_events,
           CAST(CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DECIMAL(32,2))
                AS DOUBLE) AS total_value
    FROM (SELECT event_id, value,
                 (epoch_us(ts) // 86400000000)
                 - CASE WHEN epoch_us(ts) % 86400000000 < 0 THEN 1 ELSE 0 END
                 AS day_idx
          FROM events) e, per, late_max
    WHERE (value IS NULL OR (isfinite(value) AND abs(value) < 1000000000000.0))
      AND NOT (e.event_id < per.p
               AND late_max.m IS NOT NULL
               AND (e.day_idx + 1) * 86400000000 + 3600000000 <= late_max.m)
    GROUP BY 1
    """,
    doc="Watermark late-data semantics, actually exercised: the staged "
    "chunks arrive OUT OF ORDER (the earliest-time quarter of the stream "
    "arrives last), so by the time it shows up the 1-hour watermark has "
    "advanced past its entire time range and every row in it is dropped "
    "before the day-window aggregation — the bounded-state guarantee a "
    "100 TB stream depends on (without the watermark, state for every day "
    "ever seen stays resident forever waiting for stragglers). The other "
    "streaming queries deliver in order, so this is the only query where "
    "the drop path fires. Append mode + the far-future sentinel flush; "
    "the oracle restates the dropped set exactly: the first "
    "ceil(n/4) event_ids (chunk 0 of the contiguous staging — event_id "
    "is ts-monotone in the testdata, verified 0 inversions).",
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = stage_event_chunks(
        spark, sf_dir, n_chunks=4, contiguous=True, sentinel=True, late=True
    )
    # The sentinel must reach the aggregation: a pre-agg filter on
    # event_type gets PUSHED BELOW the EventTimeWatermark node by Catalyst
    # (it doesn't reference ts), so the sentinel would never advance the
    # watermark and the final real window would never flush. Instead the
    # sentinel rides through as its own (window, is_sentinel=true) group
    # and is dropped POST-agg — the session-window query's pattern.
    is_sentinel = F.coalesce(F.col("event_type"), F.lit("")) == "__sentinel__"
    agg = (
        finite_measures(read_event_stream(spark, stage, max_files=1))
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 day").alias("w"), is_sentinel.alias("is_sentinel")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(32,2)")
            .cast("double")
            .alias("total_value"),
        )
    )
    emitted = _run_to_memory(agg, "append")
    return emitted.filter(~F.col("is_sentinel")).select(
        (F.unix_micros(F.col("w.start")) / 86400000000).cast("long").alias("day_idx"),
        "n_events",
        "total_value",
    )


@register(
    "stream_snapshot_merge",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           value AS last_value, epoch_us(ts) AS last_ts_us
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="T1+T3 through the manifest-committed snapshot table: each micro-"
    "batch lands as ONE atomic snapshot version via snapshot_merge (pointer-"
    "swap commit, sources/snapshot.py), so readers serve a consistent table "
    "at every instant of the stream, and the last two triggers' versions "
    "are retained for time travel (older ones are vacuumed). The winner "
    "rule (latest event per user by content ordering) makes replays "
    "idempotent — at-least-once delivery, exactly-once-effective state — "
    "and the final committed version equals the batch upsert exactly, "
    "which is what the oracle states. The same sink as stream_upsert_merge "
    "(run_upsert_stream), fed a filtered stream: NULL user_id/ts rows are "
    "excluded (keyless rows cannot merge; NULL-ts rows have no position in "
    "the content order).",
)
def stream_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = stage_event_chunks(spark, sf_dir, n_chunks=4)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    cleaned = read_event_stream(spark, stage, max_files=2).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    final = run_upsert_stream(
        spark,
        cleaned,
        run_dir=f"{SCRATCH_ROOT}/run_snapmerge_{tag}",
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
    )
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_micros("ts").alias("last_ts_us"),
    )


@register(
    "stream_anomaly_zscore",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(round(value * 100) AS BIGINT) AS c,
             count(*) OVER w AS n,
             sum(CAST(round(value * 100) AS BIGINT)) OVER w AS s,
             -- HUGEINT quadratics — same widening as the batch twin
             -- (the Spark side is arbitrary-precision Python ints)
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
    doc="The z-score anomaly detector as a LIVE stateful stream "
    "(applyInPandasWithState, streaming/incremental.py::"
    "stateful_anomaly_flags): per-user state is the trailing 8 "
    "cent-quantized values — O(window) bytes per key forever, the "
    "bounded-state requirement of an unbounded stream — and each "
    "arriving event is tested with the same cross-multiplied "
    "pure-integer comparison as the batch twin (events_anomaly_zscore), "
    "so the stream's lifetime output is BIT-EQUAL to the batch window "
    "query: the oracle is literally the same SQL. Time-contiguous "
    "micro-batches make arrival order event-time order across batches; "
    "an in-batch sort imposes it within one. This is the operator shape "
    "a 100 TB event firehose needs for online outlier flagging: one "
    "user-keyed state store, no rescans, no windows over history.",
)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.streaming.incremental import (
        stateful_anomaly_flags,
    )

    stage = stage_event_chunks(spark, sf_dir, n_chunks=4, contiguous=True)
    ev = finite_measures(read_event_stream(spark, stage, max_files=2)).filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    return _run_to_memory(stateful_anomaly_flags(ev), "update")


@register(
    "stream_retention_cohorts",
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
    doc="The retention-cohort matrix maintained INCREMENTALLY — the "
    "classic re-run-it-daily analytics query as a stateful stream "
    "(streaming/incremental.py::stateful_retention_cells): per-user "
    "state is (first-seen week, offsets already counted), each event "
    "emits one (cohort_week, week_offset) MEMBERSHIP row the first time "
    "its cell appears and nothing afterwards, so the lifetime output has "
    "exactly one row per (user, offset) and the final matrix is a plain "
    "count per cell. Incremental == batch: with event-time arrival order "
    "(time-contiguous staging across batches, in-batch sort within one), "
    "first-seen week IS min week, so the stream's matrix equals the "
    "batch twin events_retention_cohorts — the oracle is literally its "
    "SQL. At 100 TB this replaces a daily two-pass corpus re-aggregation "
    "with one user-keyed state store and O(new events) per trigger; "
    "epoch-week integers are computed JVM-side before Python.",
)
def stream_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from petfinder_database_distributor_spark.streaming.incremental import (
        stateful_retention_cells,
    )
    from petfinder_database_distributor_spark.util import int_div

    stage = stage_event_chunks(spark, sf_dir, n_chunks=4, contiguous=True)
    ev = (
        read_event_stream(spark, stage, max_files=2)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            int_div(F.unix_micros("ts"), 604800000000).alias("week"),
        )
    )
    cells = _run_to_memory(stateful_retention_cells(ev), "update")
    return cells.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


# ---------------------------------------------------------------------------
# stream_sketch_kmv
# ---------------------------------------------------------------------------

_KMV_STREAM_ORACLE = f"""
    WITH hx AS (SELECT DISTINCT {{h}} AS h
                FROM events WHERE user_id IS NOT NULL),
    allr AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM hx),
    allg AS (SELECT count(*) AS cnt,
                    max(h) FILTER (WHERE rk <= {_KMV_K}) AS kth
             FROM allr HAVING count(*) > 0)
    SELECT 'ALL' AS scope,
           CASE WHEN cnt < {_KMV_K} THEN cnt
                ELSE (({_KMV_K} - 1)::HUGEINT * {_KMV_M} // kth)::BIGINT
           END AS est_distinct,
           CASE WHEN cnt >= {_KMV_K} THEN kth ELSE NULL END AS kth_hash
    FROM allg
    """.format(h=MD5INT_SQL.format(x="user_id::VARCHAR"))


@register("stream_sketch_kmv", oracle=_KMV_STREAM_ORACLE)
def stream_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV distinct sketch maintained over an UNBOUNDED stream with
    O(k) state — the DataSketches-theta production shape that
    dropDuplicates-style streaming distinct (state grows with the key
    universe) cannot give: each micro-batch reduces to its own 64-hash
    register (distinct + TakeOrderedAndProject inside foreachBatch),
    which merges into the running register driver-side — the union's
    k-minima, 64 longs FOREVER, the sketch-merge monoid
    sketch_kmv_distinct's test proves equal to direct construction. The
    final register's estimate therefore equals the batch sketch
    bit-for-bit, so a batch oracle hash-checks a STREAMING query (the
    stream_sketch_hll discipline; mergeability is exactly why these
    sketches exist at 100 TB — per-executor partial registers merge the
    same way). Below k the register IS the exact distinct set, so
    est_distinct is exact there by construction; an empty stream yields
    the typed zero-row frame."""
    stage = stage_event_chunks(spark, sf_dir, n_chunks=4)
    stream = read_event_stream(spark, stage, max_files=2).filter(
        F.col("user_id").isNotNull()
    )
    sketch: list[int] = []

    def merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
        local = (
            batch_df.select(
                md5int(F.col("user_id").cast("string")).alias("h")
            )
            .distinct()
            .orderBy("h")
            .limit(_KMV_K)
            .collect()
        )
        merged = sorted(set(sketch) | {int(r["h"]) for r in local})
        sketch[:] = merged[:_KMV_K]

    with scoped_conf(
        spark, spark__sql__shuffle__partitions=STREAM_SHUFFLE_PARTITIONS
    ):
        # temporary checkpoint (auto-created, auto-deleted): the register
        # rebuilds from scratch per call, so there is no resume state
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .queryName(f"kmv_{uuid.uuid4().hex[:10]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if not sketch:
        return spark.createDataFrame(
            [], "scope string, est_distinct bigint, kth_hash bigint"
        )
    cnt = len(sketch)
    if cnt < _KMV_K:
        est, kth = cnt, None
    else:
        kth = sketch[-1]
        est = (_KMV_K - 1) * _KMV_M // kth
    return spark.createDataFrame(
        [("ALL", est, kth)], "scope string, est_distinct bigint, kth_hash bigint"
    )
