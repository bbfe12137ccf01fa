"""Incremental pipeline operators — Structured Streaming restatement of the
reference's hand-rolled continuous loop (SURVEY.md §2.8).

Reference behavior → Spark mapping implemented here:

- T1 micro-batch loop (one search page per unit, ``server.py:318-404``) →
  a chunked file-stream source: the table is staged as N parquet files and
  read with ``maxFilesPerTrigger=1`` so each file is one micro-batch.
- T2 checkpoint/resume after every unit (``server.py:377-378``) →
  ``option("checkpointLocation", ...)``; the offset log IS the reference's
  ``scraping_progress.json`` with the bookkeeping managed by the engine.
- T3 at-least-once + idempotent upsert (``server.py:200-203``,
  ``pet_scraper.py:410-498``) → ``foreachBatch`` merge whose winner is
  decided by CONTENT ordering columns (not arrival time), so replaying a
  batch cannot change the result — exactly-once-effective.
- O5 atomic commit via tmp+fsync+rename (``pet_scraper.py:468-488``) →
  the snapshot table's commit (``sources/snapshot.py``): each batch is one
  ``snapshot_merge``, whose pointer swap publishes a complete new version,
  so readers always see the latest committed one and a batch that dies
  mid-write leaves the previous version serving. At 100 TB the same
  ``foreachBatch`` body targets a Delta/Iceberg MERGE (partition
  overwrite), keeping this exact plan shape.
- T5 rate pacing → ``maxFilesPerTrigger`` (volume-based pacing); T6
  graceful stop → ``query.stop()`` / bounded ``availableNow`` triggers.

Every query here runs REAL streaming machinery (micro-batch planner,
offset log, state store) but terminates via ``Trigger.AvailableNow`` and
produces a deterministic result, so the driver can hash-compare it against
a DuckDB oracle like any batch query.
"""

from __future__ import annotations

import glob
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.schema import load_table
from petfinder_database_distributor_spark.sources.snapshot import (
    latest_version,
    snapshot_merge,
    snapshot_read,
    snapshot_vacuum,
)

# State-store tasks pay per-partition file overhead every micro-batch, so a
# bounded stream wants far fewer shuffle partitions than a batch scan-heavy
# job (2-3× wall-clock at test scale). Sized for the test SFs; at real
# scale set ~2× executor cores BEFORE the first run — the state-store
# partition count freezes into the checkpoint.
STREAM_SHUFFLE_PARTITIONS = 8


@contextmanager
def scoped_conf(spark: SparkSession, **settings: str | int):
    """Temporarily set runtime SQL confs, restoring previous values."""
    keys = {k.replace("__", "."): str(v) for k, v in settings.items()}
    old: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in old.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)

# Scratch space for staged chunks / checkpoints / state versions. Kept
# inside the repo (gitignored); on a cluster this would be object storage.
SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".stream_scratch",
)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _cents_half_away(values) -> "object":
    """Quantize a dollars Series to integer cents rounding half AWAY from
    zero — the semantics of Spark ``F.round`` and DuckDB ``round()``.
    pandas ``Series.round()`` is banker's (half-to-even), so a value whose
    ``value*100`` lands exactly on .5 in IEEE double (0.125, 0.375, ...)
    would quantize differently from the batch twin / oracle and silently
    flip near-threshold verdicts."""
    import numpy as np  # noqa: PLC0415 — executor-side import

    scaled = values.to_numpy(dtype="float64") * 100.0
    # comparison form, not floor(a + 0.5): the +0.5 IEEE addition can
    # round UP across the integer boundary when a's fraction is within
    # an ulp below .5 (spacing > 2^-52 at large magnitudes), silently
    # disagreeing with both engines' round; a >= floor(a)+0.5 is
    # representation-exact at every magnitude
    a = np.abs(scaled)
    fl = np.floor(a)
    out = fl + (a - fl >= 0.5)
    return np.copysign(out, scaled).astype("int64")


# Staged chunk layouts are pure functions of (sf_dir, params) over an
# immutable input table — stage each layout ONCE per process (and reuse a
# completed staging from an earlier process via the _ok marker) instead of
# re-scanning + re-writing the events table for every streaming query that
# shares it. The sentinel variant is its OWN layout (separate dir), so the
# sentinel row can never leak into queries that share the plain staging.
_STAGE_MEMO: set[str] = set()


def staged_once(path: str, src: str, build) -> str:
    """THE staging-guard protocol, in one place (event/document/embedding
    chunk layouts, the MinHash band index, the IVF+PQ index root all use
    it): run ``build(path)`` once, publish completion via an ``_ok``
    marker written LAST (a crashed staging is restaged, never reused),
    and reuse an existing staging only while the marker is NEWER than the
    source table (``src``) — a marker without the mtime check would
    silently serve stale replicas after the driver regenerates testdata.
    A per-process memo skips even the two stat calls on the hot path.
    ``build`` owns clearing its own directory (staging layouts differ:
    some _fresh_dir, some rmtree a whole table root)."""
    marker = f"{path}._ok"
    if path in _STAGE_MEMO or (
        os.path.exists(marker)
        and os.path.exists(path)  # an orphaned marker (stage dir deleted,
        # sibling marker left behind) must restage, not serve a ghost dir
        and os.path.exists(src)
        and os.stat(marker).st_mtime > os.stat(src).st_mtime
    ):
        _STAGE_MEMO.add(path)
        return path
    build(path)
    with open(marker, "w"):
        pass  # marker last: a crashed staging is restaged, never reused
    _STAGE_MEMO.add(path)
    return path


def stage_event_chunks(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    duplicate_overlap: bool = False,
    subset: int | None = None,
    contiguous: bool = False,
    sentinel: bool = False,
    late: bool = False,
) -> str:
    """Stage the events table as ``n_chunks`` single parquet files (one
    micro-batch each, T1's unit of work). ``duplicate_overlap`` writes every
    event into two different chunks — the at-least-once replay scenario the
    reference defends against with its dup-check (T3). ``subset`` stages
    only the first ``subset`` chunks (the crash-then-resume scenario, T2).
    ``sentinel`` appends the far-future watermark-flush chunk (see
    :func:`add_sentinel_chunk`). ``late`` (with ``contiguous``) rotates the
    ARRIVAL order so the earliest-time chunk arrives last — the late-data
    scenario a watermark exists to bound: by the time chunk 0 shows up the
    watermark has passed its whole time range and every row in it is
    dropped.

    Files are committed with the reference's own atomic protocol (write
    elsewhere, then ``os.replace``) so a concurrently-starting reader never
    sees a partial file."""
    tag = "_".join(
        [sf_dir.strip("/").replace("/", "_"), str(n_chunks)]
        + (["dup"] if duplicate_overlap else [])
        + ([f"sub{subset}"] if subset is not None else [])
        + (["contig"] if contiguous else [])
        + (["sent"] if sentinel else [])
        + (["late"] if late else [])
    )
    stage = f"{SCRATCH_ROOT}/stage_{tag}"

    def build(stage: str) -> None:
        _build_event_chunks(
            spark, sf_dir, stage, n_chunks, duplicate_overlap, subset,
            contiguous, sentinel, late,
        )

    return staged_once(stage, f"{sf_dir.rstrip('/')}/events.parquet", build)


def _build_event_chunks(
    spark: SparkSession,
    sf_dir: str,
    stage: str,
    n_chunks: int,
    duplicate_overlap: bool,
    subset: int | None,
    contiguous: bool,
    sentinel: bool,
    late: bool,
) -> None:
    _fresh_dir(stage)
    events = load_table(spark, sf_dir, "events")
    n_stage = subset if subset is not None else n_chunks
    # One partitioned write job stages every chunk at once (a per-chunk
    # filter+write loop costs one full scan per chunk); files are then
    # renamed into the flat layout the file-stream source watches.
    if contiguous:
        # time-ordered chunks (event_id is ingest order): chunk i holds the
        # i-th contiguous id range — arrival order matches event time, the
        # normal case for watermarked sources.
        total = events.count()
        per = -(-total // n_chunks)
        chunk_of = F.least(
            F.floor(F.col("event_id") / per).cast("long"), F.lit(n_chunks - 1)
        )
    else:
        chunk_of = F.col("event_id") % n_chunks
    assignments = F.array(chunk_of, (chunk_of + 1) % n_chunks) if duplicate_overlap else F.array(chunk_of)
    staged = events.select(
        "*", F.explode(assignments).alias("__chunk")
    ).filter(F.col("__chunk") < n_stage)
    tmp = f"{stage}/_tmp"
    staged.repartition(n_stage, "__chunk").write.mode("overwrite").partitionBy(
        "__chunk"
    ).parquet(tmp)
    # The file-stream source orders files by modification time, and
    # os.replace preserves the mtimes of the parallel write tasks (which
    # finish in arbitrary order) — stamp strictly increasing mtimes so
    # micro-batch order is the chunk order, deterministically.
    base_t = os.stat(tmp).st_mtime
    for i in range(n_stage):
        parts = glob.glob(f"{tmp}/__chunk={i}/part-*.parquet")
        # `late` rotates arrival order: chunks 1..n-1 first, chunk 0 last
        pos = (i - 1) % n_stage if late else i
        for j, part in enumerate(sorted(parts)):
            dest = f"{stage}/chunk_{i}_{j}.parquet"
            os.replace(part, dest)
            os.utime(dest, (base_t + pos, base_t + pos))
    shutil.rmtree(tmp)
    if sentinel:
        add_sentinel_chunk(spark, stage, sf_dir)


def read_event_stream(spark: SparkSession, stage_dir: str, max_files: int = 1) -> DataFrame:
    """File-stream source over staged chunks, one file per micro-batch.
    Schema is explicit (streaming sources never infer)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(stage_dir)
    )


def foreach_batch_upsert(table_dir: str, key_cols: list[str], order_cols: list[str]):
    """T3/D2 idempotent merge sink: each micro-batch is one
    :func:`snapshot_merge` into the snapshot table at ``table_dir`` — the
    batch unioned with the latest version, one row per key, the winner
    chosen by the CONTENT ordering columns (descending), never by arrival
    order, so replaying any batch, under its own id or another, changes
    nothing. The commit is the snapshot pointer swap (O5): a batch that
    dies before it leaves the previous version serving, and its replay
    starts from that version. Versions older than the last two are
    vacuumed, keeping one fallback."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_merge(batch_df.sparkSession, table_dir, batch_df, key_cols, order_cols)
        snapshot_vacuum(table_dir, keep_last=2)

    return merge


def run_upsert_stream(
    spark: SparkSession,
    stream: str | DataFrame,
    run_dir: str,
    key_cols: list[str],
    order_cols: list[str],
    fresh: bool = True,
    max_files: int = 1,
) -> DataFrame:
    """Run ``stream`` through the foreachBatch upsert to completion
    (availableNow) and return the final table snapshot. ``stream`` is a
    staged event-chunk directory, read ``max_files`` chunks per trigger
    (the T5 pacing knob: each batch commits one full snapshot, so fewer,
    larger batches trade commit granularity for throughput), or a
    streaming DataFrame the caller built. ``fresh=False`` reuses the
    existing checkpoint + table — the T2 resume path: only files not yet
    recorded in the offset log are processed."""
    if fresh:
        _fresh_dir(run_dir)
    table_dir = f"{run_dir}/table"
    if isinstance(stream, str):
        stream = read_event_stream(spark, stream, max_files=max_files)
    with scoped_conf(spark, spark__sql__shuffle__partitions=STREAM_SHUFFLE_PARTITIONS):
        query = (
            stream.writeStream.foreachBatch(
                foreach_batch_upsert(table_dir, key_cols, order_cols)
            )
            .option("checkpointLocation", f"{run_dir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    if latest_version(table_dir) is None:
        # zero micro-batches (empty staging): the upsert table was never
        # committed — the merged state of nothing is the empty table,
        # with the stream's schema (degenerate-input contract)
        return spark.createDataFrame([], stream.schema)
    return snapshot_read(spark, table_dir)


def windowed_event_counts(stream: DataFrame) -> DataFrame:
    """Event-time tumbling-window aggregation (1 day × event_type): the
    shape watermarked late-data aggs take. Output key is the epoch-aligned
    day index (integer) so results compare engine-portably; the value sum
    is decimal-exact (order-independent)."""
    return (
        stream.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(32,2)")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            (F.unix_micros(F.col("w.start")) / F.lit(86_400_000_000)).cast("long").alias("day_idx"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stateful_user_counters(stream: DataFrame) -> DataFrame:
    """A2's running counters as a custom stateful operator
    (``applyInPandasWithState``): per-user event count + exact value total
    (integer cents, so accumulation order can't change the result). Emits
    the updated running totals every time a user appears in a batch —
    monotone, so the final value per user is the row with max n_events."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            cents += int(_cents_half_away(pdf["value"]).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_cents long",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def add_sentinel_chunk(spark: SparkSession, stage_dir: str, sf_dir: str) -> str:
    """Append one FINAL micro-batch containing a single far-future sentinel
    event (user_id = -1, ts = max+30 days). Its arrival pushes the watermark
    past every real event, so append-mode stateful operators flush ALL of
    their state in the trailing no-data batch — the bounded-stream analog of
    'the day ended, close the books' (the reference's end-of-epoch sweep,
    server.py:384-392). Callers filter user_id < 0 out of the result."""
    chunks = glob.glob(f"{stage_dir}/chunk_*.parquet")
    if not chunks:
        # empty corpus staged zero chunks: there is no state to flush and
        # max(ts) is NULL (a NULL-ts sentinel would poison the watermark);
        # the bounded run simply emits nothing (degenerate-input contract)
        return stage_dir
    ev = load_table(spark, sf_dir, "events")
    row = ev.select(
        F.max("event_id").alias("event_id"), F.max("ts").alias("ts")
    ).select(
        (F.col("event_id") + 1).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("__sentinel__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    tmp = f"{stage_dir}/_sentinel_tmp"
    row.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = sorted(glob.glob(f"{tmp}/part-*.parquet"))[0]
    last_t = max(os.stat(p).st_mtime for p in chunks)
    dest = f"{stage_dir}/chunk_sentinel_0.parquet"
    os.replace(part, dest)
    os.utime(dest, (last_t + 1, last_t + 1))
    shutil.rmtree(tmp)
    return stage_dir


def stage_document_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> str:
    """Stage the documents table as ``n_chunks`` single parquet files in
    ASCENDING doc_id ranges with strictly increasing mtimes — the ingest
    stream for incremental dedup: arrival order == id order, so the
    streaming first-occurrence-wins rule composes to the same global
    semantics as one batch dedup over the whole corpus (the oracle states
    exactly that). NULL-id docs are excluded (no identity to dedup)."""
    from pyspark.sql import Window

    tag = f"docs_{sf_dir.strip('/').replace('/', '_')}_{n_chunks}"
    stage = f"{SCRATCH_ROOT}/stage_{tag}"

    def build(stage: str) -> None:
        _build_document_chunks(spark, sf_dir, stage, n_chunks)

    return staged_once(stage, f"{sf_dir.rstrip('/')}/documents.parquet", build)


def _build_document_chunks(
    spark: SparkSession, sf_dir: str, stage: str, n_chunks: int
) -> None:
    from pyspark.sql import Window

    _fresh_dir(stage)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())
    total = docs.count()
    per = -(-total // n_chunks)
    # row_number (not raw id arithmetic): chunk ranges stay balanced even
    # for sparse id spaces; the one-off global sort is staging cost only
    rn = F.row_number().over(Window.orderBy("doc_id")) - 1
    staged = docs.withColumn(
        "__chunk",
        F.least(F.floor(rn / per).cast("long"), F.lit(n_chunks - 1)),
    )
    tmp = f"{stage}/_tmp"
    staged.repartition(n_chunks, "__chunk").write.mode("overwrite").partitionBy(
        "__chunk"
    ).parquet(tmp)
    base_t = os.stat(tmp).st_mtime
    for i in range(n_chunks):
        parts = glob.glob(f"{tmp}/__chunk={i}/part-*.parquet")
        for j, part in enumerate(sorted(parts)):
            dest = f"{stage}/chunk_{i}_{j}.parquet"
            os.replace(part, dest)
            os.utime(dest, (base_t + i, base_t + i))
    shutil.rmtree(tmp)


def read_document_stream(
    spark: SparkSession, stage_dir: str, max_files: int = 1
) -> DataFrame:
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(stage_dir)
    )


def stateful_anomaly_flags(stream: DataFrame, window: int = 8) -> DataFrame:
    """The batch z-score anomaly test (plans/advanced_relational.py::
    events_anomaly_zscore) as a CUSTOM STATEFUL streaming operator
    (``applyInPandasWithState``): per user, keep the trailing ``window``
    cent-quantized values as state (a bounded array — O(window) bytes per
    key forever), and flag an arriving event when its deviation from the
    trailing mean exceeds 2 trailing standard deviations. The test is the
    same cross-multiplied pure-integer comparison as the batch twin —
    (n*x - S)^2 > 4*(n*Q - S^2) — so no float ever enters state or
    output, and the streaming result is BIT-EQUAL to the batch query
    whenever arrival order is event-time order (the time-contiguous
    staging guarantees it across batches; an explicit in-batch sort
    guarantees it within one)."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        (vals,) = state.get if state.exists else ([],)
        vals = list(vals)
        out = []
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        # arrival order within a micro-batch is partition-arbitrary; the
        # contract is event-time order, so impose it before folding state
        batch = batch.sort_values(["ts", "event_id"])
        cents = _cents_half_away(batch["value"])
        for eid, c in zip(batch["event_id"].astype("int64"), cents):
            if len(vals) >= window:
                w = vals[-window:]
                n, s = window, sum(w)
                q = sum(x * x for x in w)
                dev = n * int(c) - s
                if dev * dev > 4 * (n * q - s * s):
                    out.append((int(eid), int(key[0]), int(c), n, s))
            vals = (vals + [int(c)])[-window:]
        state.update((vals,))
        yield pd.DataFrame(
            out,
            columns=["event_id", "user_id", "value_cents", "n_window", "sum_cents"],
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "event_id long, user_id long, value_cents long,"
            " n_window long, sum_cents long"
        ),
        stateStructType="vals array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_retention_cells(stream: DataFrame) -> DataFrame:
    """The retention-cohort matrix maintained INCREMENTALLY
    (``applyInPandasWithState``): per-user state is (cohort_week = the
    week of the user's first event, the set of week_offsets already
    counted) — O(active weeks) per key, bounded by the corpus's week
    span, never by event volume. Each arriving event contributes one
    (user_id, cohort_week, week_offset) MEMBERSHIP row the first time
    its (user, offset) cell appears and nothing afterwards, so the
    stream's lifetime output has exactly one row per matrix membership
    and the final matrix is a plain count per cell — the stateful-upsert
    analog of the batch twin's countDistinct.

    Incremental == batch requires arrival order to be event-time order
    (cohort_week = first-seen week must equal min week): the
    time-contiguous staging guarantees it across micro-batches, an
    explicit in-batch sort within one. ``week`` is computed JVM-side
    (exact integer epoch-week, same formula as events_retention_cohorts)
    before entering Python — the stateful kernel never touches a
    timestamp dtype."""
    import pandas as pd  # noqa: PLC0415 — executor-side import

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        cohort, seen = state.get if state.exists else (None, [])
        seen = set(seen)
        out = []
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        batch = batch.sort_values(["week", "event_id"])
        for w in batch["week"].astype("int64"):
            w = int(w)
            if cohort is None:
                cohort = w
            off = w - cohort
            if off not in seen:
                seen.add(off)
                out.append((int(key[0]), cohort, off))
        state.update((cohort, sorted(seen)))
        yield pd.DataFrame(
            out, columns=["user_id", "cohort_week", "week_offset"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, cohort_week long, week_offset long",
        stateStructType="cohort long, seen array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stage_embedding_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4, arrivals_only: bool = True
) -> str:
    """Stage embedding vectors as ``n_chunks`` single parquet files in
    ascending vec_id ranges with strictly increasing mtimes — the vector
    INGEST stream for ANN index maintenance. ``arrivals_only`` stages just
    the held-out arrival slice (vec_id % 5 = 0, the complement of the
    staged corpus index) — the vectors a live pipeline would be adding to
    an already-trained index. NULL-id/NULL-vector rows are excluded (the
    vector family's null contract)."""
    from pyspark.sql import Window

    tag = (
        f"emb_{sf_dir.strip('/').replace('/', '_')}_{n_chunks}"
        + ("_arr" if arrivals_only else "")
    )
    stage = f"{SCRATCH_ROOT}/stage_{tag}"

    def build(stage: str) -> None:
        _build_embedding_chunks(spark, sf_dir, stage, n_chunks, arrivals_only)

    return staged_once(stage, f"{sf_dir.rstrip('/')}/embeddings.parquet", build)


def _build_embedding_chunks(
    spark: SparkSession,
    sf_dir: str,
    stage: str,
    n_chunks: int,
    arrivals_only: bool,
) -> None:
    from pyspark.sql import Window

    _fresh_dir(stage)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    if arrivals_only:
        emb = emb.filter(F.col("vec_id") % 5 == 0)
    total = emb.count()
    per = -(-total // n_chunks)
    rn = F.row_number().over(Window.orderBy("vec_id")) - 1
    staged = emb.withColumn(
        "__chunk",
        F.least(F.floor(rn / per).cast("long"), F.lit(n_chunks - 1)),
    )
    tmp = f"{stage}/_tmp"
    staged.repartition(n_chunks, "__chunk").write.mode("overwrite").partitionBy(
        "__chunk"
    ).parquet(tmp)
    base_t = os.stat(tmp).st_mtime
    for i in range(n_chunks):
        parts = glob.glob(f"{tmp}/__chunk={i}/part-*.parquet")
        for j, part in enumerate(sorted(parts)):
            dest = f"{stage}/chunk_{i}_{j}.parquet"
            os.replace(part, dest)
            os.utime(dest, (base_t + i, base_t + i))
    shutil.rmtree(tmp)


def read_embedding_stream(
    spark: SparkSession, stage_dir: str, max_files: int = 1
) -> DataFrame:
    schema = "vec_id long, embedding array<float>, label int"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(stage_dir)
    )
