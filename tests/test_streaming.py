"""T2 checkpoint/resume semantics (SURVEY.md §2.8): a restarted streaming
query with the same checkpointLocation processes ONLY data not yet recorded
in the offset log, and the final table equals the batch upsert."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from petfinder_database_distributor_spark.schema import load_table
from petfinder_database_distributor_spark.sources.snapshot import (
    latest_version,
    snapshot_read,
)
from petfinder_database_distributor_spark.streaming.incremental import (
    SCRATCH_ROOT,
    run_upsert_stream,
    stage_event_chunks,
)
from tests.conftest import SF_SMALL


def _expected_upsert(events_df):
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events_df.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("user_id", "event_id")
    )


def _pairs(df):
    return sorted((r.user_id, r.event_id) for r in df.collect())


def test_checkpoint_resume(spark):
    full_stage = stage_event_chunks(spark, SF_SMALL, n_chunks=4)
    live = f"{SCRATCH_ROOT}/test_resume_live"
    run_dir = f"{SCRATCH_ROOT}/test_resume_run"
    shutil.rmtree(live, ignore_errors=True)
    os.makedirs(live)

    events = load_table(spark, SF_SMALL, "events")

    import glob as _glob

    def _copy_chunk(i: int) -> None:
        for src in _glob.glob(f"{full_stage}/chunk_{i}_*.parquet"):
            shutil.copy(src, f"{live}/{os.path.basename(src)}")

    # Phase 1: only chunks 0–1 exist; run to completion and "crash".
    for i in (0, 1):
        _copy_chunk(i)
    partial = run_upsert_stream(
        spark, live, run_dir, ["user_id"], ["ts", "event_id"], fresh=True
    )
    expect_partial = _expected_upsert(events.filter(F.col("event_id") % 4 <= 1))
    assert _pairs(partial.select("user_id", "event_id")) == _pairs(expect_partial)

    # Phase 2: more chunks arrive; restart with the SAME checkpoint.
    for i in (2, 3):
        _copy_chunk(i)
    final = run_upsert_stream(
        spark, live, run_dir, ["user_id"], ["ts", "event_id"], fresh=False
    )
    assert _pairs(final.select("user_id", "event_id")) == _pairs(_expected_upsert(events))

    # The offset log resumed (batch ids continued past phase 1) rather than
    # reprocessing from scratch: 4 single-file micro-batches → final v3.
    assert latest_version(f"{run_dir}/table") == 3


def test_batch_dying_mid_write_is_redone_on_restart(spark, monkeypatch):
    """A micro-batch whose table write dies after the write began and
    before its commit leaves the previous version serving, and the query
    restarted from the same checkpoint redoes that batch: the final table
    equals the batch upsert. The reference's crashed batch is simply redone
    too (tmp + fsync + rename, pet_scraper.py:410-488)."""
    from pyspark.sql.readwriter import DataFrameWriter

    stage = stage_event_chunks(spark, SF_SMALL, n_chunks=4)
    run_dir = f"{SCRATCH_ROOT}/test_crash_mid_write"
    table_dir = f"{run_dir}/table"
    events = load_table(spark, SF_SMALL, "events")
    real_parquet = DataFrameWriter.parquet
    table_writes = []

    def dying_parquet(self, path, *args, **kwargs):
        if path.startswith(table_dir):
            table_writes.append(path)
            if len(table_writes) == 2:  # batch 1's table write
                # the job starts and its tasks write their output under
                # _temporary, where a killed job leaves it
                real_parquet(
                    self, os.path.join(path, "_temporary", "0", "_temporary"),
                    *args, **kwargs,
                )
                raise RuntimeError("executor lost mid-write")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", dying_parquet)
    with pytest.raises(Exception, match="executor lost mid-write"):
        run_upsert_stream(
            spark, stage, run_dir, ["user_id"], ["ts", "event_id"], fresh=True
        )
    monkeypatch.undo()

    # the gap: readers see batch 0's version, untouched by the dead write
    assert latest_version(table_dir) == 0
    assert _pairs(snapshot_read(spark, table_dir).select("user_id", "event_id")) == (
        _pairs(_expected_upsert(events.filter(F.col("event_id") % 4 == 0)))
    )

    final = run_upsert_stream(
        spark, stage, run_dir, ["user_id"], ["ts", "event_id"], fresh=False
    )
    assert _pairs(final.select("user_id", "event_id")) == _pairs(_expected_upsert(events))
    # batch 1 committed once, on its replay; the sink keeps the last two
    # versions, and the dead write's output went with version 1's directory
    assert latest_version(table_dir) == 3
    assert sorted(os.listdir(f"{table_dir}/data")) == ["v2", "v3"]


def test_watermark_append_mode_closes_windows(spark):
    """Watermarked event-time aggregation in APPEND mode: only windows the
    watermark has passed are emitted, each exactly once, and their values
    agree with the batch aggregate (late-data handling, SURVEY.md §2.8)."""
    from petfinder_database_distributor_spark.streaming.incremental import (
        read_event_stream,
        stage_event_chunks,
    )

    # time-contiguous chunks: arrival order matches event time, so closed
    # windows are complete. (Interleaved chunks would make 3/4 of each
    # window's data arrive behind the watermark and be dropped — correct
    # behavior, but not what this test pins.)
    stage = stage_event_chunks(spark, SF_SMALL, n_chunks=4, contiguous=True)
    agg = (
        read_event_stream(spark, stage)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("w.start").alias("start_us"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table("wm_append").collect()

    batch = {
        r["start_us"]: r["n"]
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros("w.start").alias("start_us"), "n")
        .collect()
    }
    assert emitted, "watermark must close at least the early windows"
    seen = [r["start_us"] for r in emitted]
    assert len(seen) == len(set(seen)), "append mode must emit each window once"
    for r in emitted:
        assert batch[r["start_us"]] == r["n"], "closed windows must be final"
    # the last (still-open) window must NOT have been emitted
    assert max(batch) not in seen


def test_foreach_batch_merge_is_replay_idempotent(spark):
    """T3: re-delivering a micro-batch to the merge sink (at-least-once
    delivery) must not change the table — the winner is chosen by content
    ordering, not arrival order — whether the replay carries the batch's
    own id (the sink committed, the offset commit did not) or a later
    one."""
    from petfinder_database_distributor_spark.streaming.incremental import (
        foreach_batch_upsert,
    )

    run_dir = f"{SCRATCH_ROOT}/test_replay"
    shutil.rmtree(run_dir, ignore_errors=True)
    table_dir = f"{run_dir}/table"
    ev = load_table(spark, SF_SMALL, "events").select("user_id", "event_id", "ts")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    merge = foreach_batch_upsert(table_dir, ["user_id"], ["ts", "event_id"])
    merge(b0, 0)
    merge(b1, 1)
    once = _pairs(snapshot_read(spark, table_dir))
    merge(b1, 1)  # replay of batch 1 under its own id
    assert _pairs(snapshot_read(spark, table_dir)) == once
    merge(b1, 2)  # replay of batch 1 under a later id
    assert _pairs(snapshot_read(spark, table_dir)) == once


def test_graceful_stop_between_batches(spark):
    """T6 graceful stop (server.py:442-446, stop-flag checks :347-372): a
    continuously-triggered query is stopped mid-stream with query.stop();
    restarting from the same checkpoint completes the remaining work and
    the final table equals the batch result — stop loses nothing because
    the offset log commits per batch and the merge sink is idempotent."""
    import time

    from petfinder_database_distributor_spark.streaming.incremental import (
        STREAM_SHUFFLE_PARTITIONS,
        foreach_batch_upsert,
        read_event_stream,
        run_upsert_stream,
        scoped_conf,
    )

    stage = stage_event_chunks(spark, SF_SMALL, n_chunks=4)
    run_dir = f"{SCRATCH_ROOT}/test_graceful_stop"
    shutil.rmtree(run_dir, ignore_errors=True)
    table_dir = f"{run_dir}/table"

    with scoped_conf(spark, spark__sql__shuffle__partitions=STREAM_SHUFFLE_PARTITIONS):
        q = (
            read_event_stream(spark, stage)
            .writeStream.foreachBatch(
                foreach_batch_upsert(table_dir, ["user_id"], ["ts", "event_id"])
            )
            .option("checkpointLocation", f"{run_dir}/ckpt")
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        # let at least one micro-batch commit, then pull the stop flag
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["batchId"] >= 1:
                break
            time.sleep(0.2)
        assert q.lastProgress and q.lastProgress["batchId"] >= 1
        q.stop()  # T6: graceful stop between (or mid-) batches
        q.awaitTermination()

    # Restart from the same checkpoint; only unprocessed files remain.
    final = run_upsert_stream(
        spark, stage, run_dir, ["user_id"], ["ts", "event_id"], fresh=False
    )
    events = load_table(spark, SF_SMALL, "events")
    assert _pairs(final.select("user_id", "event_id")) == _pairs(
        _expected_upsert(events)
    )


def test_late_data_drop_actually_drops(spark):
    """The late-arriving quarter must be DROPPED, not merely reordered: the
    emitted per-day totals cover exactly the events outside chunk 0
    (first ceil(n/4) event_ids), strictly fewer than the full table. If the
    staging ever regressed to in-order arrival the query would silently
    emit everything and the oracle gate alone couldn't tell why."""
    from petfinder_database_distributor_spark.registry import load_all

    out = load_all()["stream_late_data_drop"].fn(spark, SF_SMALL)
    emitted = out.agg(F.sum("n_events")).collect()[0][0]
    events = load_table(spark, SF_SMALL, "events")
    total = events.count()
    chunk0 = -(-total // 4)
    assert emitted == total - chunk0, (
        f"emitted {emitted}, expected {total} - {chunk0} late-dropped"
    )
    assert emitted < total, "the drop path must actually fire"
