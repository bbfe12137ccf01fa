"""ingest_verify: the reference's scrape and verify loop.

One Structured Streaming query drains pre-staged batch files of generated
pet pages, one file per micro-batch. Each micro-batch runs extract
(``regex_field_columns`` and the ``functions.scalars`` clean stack),
validate (``operators.filters``), ``operators.dedup.key_dedup`` and
``sources.snapshot.snapshot_merge`` into one keyed table. Every
``EPOCH_EVERY``-th batch also runs a verification epoch:
``snapshot_delete`` of that epoch's dead links, ``snapshot_compact`` and
``snapshot_vacuum``. Closed loop: the next batch starts when the previous
one committed. Batch 0 and the first cycle after it (``WARM_BATCHES``)
warm every code path and the JIT and are not timed; the timed phase is
``ceil(seconds / CYCLE_S)`` further cycles of ``EPOCH_EVERY`` batches, the
last of each with an epoch.

The operation is a commit: its latency runs from the batch being handed
to the micro-batch function to its last version being visible through
``latest_version``, and ``cpu_ms_per_op`` is the CPU time of this process
and its JVM over the timed batches, per batch.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

import checks
import gen
import stats
from common import KEY, ORDER, Run, build_base, dir_bytes, exec_metrics, new_bytes
from spans import job_group, process_tree_cpu_s

BASE_ROWS = 20_000
BATCH_ROWS = 1_000
EPOCH_EVERY = 4  # batch 0 (warm-up) and then the last batch of every cycle
# Untimed: batch 0 and one whole cycle. The first cycle after batch 0 took
# 1.6-1.8x the CPU time of the later ones (JIT compilation), so timing it
# measured the warm-up more than the engine.
WARM_BATCHES = 1 + EPOCH_EVERY
DEAD_PER_EPOCH = 200
CYCLE_S = 12  # about the time of one cycle with the engine on 2 of 4 cores


def extract_pages(df):
    """The plan that extracts and cleans one micro-batch of pages with the
    engine's public operators (lazy: no job runs)."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.functions.scalars import (
        clean_text,
        extract_name_from_about,
        normalize_url,
        parse_boolean,
    )
    from petfinder_database_distributor_spark.operators.extraction import regex_field_columns
    from petfinder_database_distributor_spark.schema import PETS_BOOL_FIELDS, PETS_FIELDS

    raw = regex_field_columns(df, "html", {f: f for f in PETS_FIELDS}, keep=("seq",))
    cols = []
    for c in gen.TABLE_COLUMNS:
        if c == "seq":
            cols.append(F.col("seq"))
        elif c == "link":
            cols.append(normalize_url(clean_text(F.col(c))).alias(c))
        elif c == "name":
            cols.append(extract_name_from_about(clean_text(F.col(c))).alias(c))
        elif c in PETS_BOOL_FIELDS:
            cols.append(parse_boolean(F.col(c)).alias(c))
        else:
            cols.append(clean_text(F.col(c)).alias(c))
    return raw.select(*cols)


def validate_pages(typed):
    """The plan that validates and dedups cleaned pages (lazy: no job runs)."""
    from pyspark.sql import functions as F

    from petfinder_database_distributor_spark.operators.dedup import key_dedup
    from petfinder_database_distributor_spark.operators.filters import (
        nonblank_key_filter,
        null_ratio_filter,
        placeholder_name_filter,
    )
    from petfinder_database_distributor_spark.schema import PETS_BOOL_FIELDS, PETS_CHECKED_FIELDS

    valid = null_ratio_filter(
        placeholder_name_filter(nonblank_key_filter(typed)),
        [c for c in PETS_CHECKED_FIELDS if c not in PETS_BOOL_FIELDS],
        PETS_BOOL_FIELDS,
    )
    return key_dedup(valid, KEY, [F.col("seq").desc()])


def stage_batches(plan: gen.IngestPlan, src: str) -> None:
    """One JSON-lines file per batch, with increasing modification times so
    the file source hands them over in batch order."""
    os.makedirs(src)
    t0 = int(time.time()) - len(plan.batches) - 10
    for b, pages in enumerate(plan.batches):
        path = os.path.join(src, f"batch-{b:05d}.json")
        with open(path, "w") as fh:
            for seq, html in pages:
                fh.write(json.dumps({"seq": seq, "html": html}) + "\n")
        os.utime(path, (t0 + b, t0 + b))


def run(r: Run) -> dict:
    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_version,
        read_manifest,
        snapshot_compact,
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
        snapshot_vacuum,
    )

    t_setup = time.perf_counter()
    session_s = r.start_spark()
    spark = r.spark
    # The timed phase is whole verification cycles, so every run times the
    # same mix of plain and epoch batches: one cycle per CYCLE_S of --seconds.
    cycles = max(1, math.ceil(r.seconds / CYCLE_S))
    n_batches = WARM_BATCHES + cycles * EPOCH_EVERY
    with r.tracer.span("gen.ingest_plan"):
        plan = gen.ingest_plan(r.seed, BASE_ROWS, n_batches, BATCH_ROWS, EPOCH_EVERY, DEAD_PER_EPOCH)
    src = os.path.join(r.work, "pages")
    table = os.path.join(r.work, "pets")
    with r.tracer.span("gen.stage"):
        stage_batches(plan, src)
    builds, _ = build_base(r, plan.base_rows, table)

    done = threading.Event()
    state = {"applied": 0, "timed_from": None, "timed_to": None, "error": None}
    # per timed batch: (batch, latency_s, merge_s, epoch op seconds, bytes written, live files)
    per_batch: list[tuple] = []
    groups: list[str] = []

    def commit(name: str, call) -> tuple[int, float, int]:
        """Run one snapshot call; returns (version, seconds, bytes written)."""
        t0 = time.perf_counter()
        with r.tracer.span(f"snapshot.{name}"):
            v = call()
        return v, time.perf_counter() - t0, new_bytes(table, v)

    def handle(df, epoch_id):
        b = state["applied"]
        try:
            now = time.perf_counter()
            if b >= len(plan.batches) or done.is_set():
                return
            if b == WARM_BATCHES:
                state["timed_from"] = now
                state["cpu_from"] = process_tree_cpu_s(os.getpid())
            group = f"pb-ingest-b{b}"
            with r.tracer.span("ingest.batch", batch=b):
                with r.tracer.span("plans.build", batch=b), job_group(spark, f"{group}-build", r.traced):
                    extracted = extract_pages(df)
                # The cleaned columns are materialized (one job) before the
                # filters: with all 17 fields inlined into the filter
                # conditions, Catalyst spends about 27 s optimizing the plan
                # of a 1,000-page batch.
                with job_group(spark, group, r.traced):
                    typed = extracted.localCheckpoint()
                with r.tracer.span("plans.build", batch=b), job_group(spark, f"{group}-build", r.traced):
                    cleaned = validate_pages(typed)
                with job_group(spark, group, r.traced):
                    v, merge_s, written = commit(
                        "merge", lambda: snapshot_merge(spark, table, cleaned, KEY, ORDER)
                    )
                    epoch = {}
                    if b in plan.dead_links:
                        dead = spark.createDataFrame([(x,) for x in plan.dead_links[b]], "link string")
                        v, epoch["delete"], w = commit(
                            "delete", lambda: snapshot_delete(spark, table, dead, KEY)
                        )
                        written += w
                        v, epoch["compact"], w = commit("compact", lambda: snapshot_compact(spark, table))
                        written += w
                        t0 = time.perf_counter()
                        with r.tracer.span("snapshot.vacuum"):
                            snapshot_vacuum(table, keep_last=2)
                        epoch["vacuum"] = time.perf_counter() - t0
                    visible = latest_version(table) == v
            latency = time.perf_counter() - now
            r.check(None if visible else f"batch {b}: v{v} not visible")
            if b >= WARM_BATCHES:
                groups.append(group)
                live = len(read_manifest(table, v)["files"])
                per_batch.append((b, latency, merge_s, epoch, written, live))
            state["applied"] = b + 1
            if state["applied"] == len(plan.batches):
                state["timed_to"] = time.perf_counter()
                state["cpu_to"] = process_tree_cpu_s(os.getpid())
                done.set()
        except Exception as exc:  # noqa: BLE001 -- re-raised by the main thread
            state["error"] = exc
            done.set()
            raise

    reader = (
        spark.readStream.schema("seq long, html string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    query = (
        reader.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(r.work, "checkpoint"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        while not done.wait(0.05) and query.isActive:
            pass
        # the progress of the last timed batch lands just after it returns
        last = len(per_batch)
        deadline = time.perf_counter() + 5
        while time.perf_counter() < deadline and not any(
            p["batchId"] >= last for p in query.recentProgress
        ):
            time.sleep(0.05)
        progress = query.recentProgress
    finally:
        query.stop()
    if state["error"] is not None:
        raise state["error"]
    if state["timed_from"] is None or not per_batch:
        raise RuntimeError("no timed micro-batch ran")
    setup_s = state["timed_from"] - t_setup - sum(builds) + statistics.median(builds)
    wall = state["timed_to"] - state["timed_from"]
    r.timed = (state["timed_from"], state["timed_to"])
    applied = state["applied"]

    # correctness: the final table against the last-write-wins model
    expected = plan.expected(applied)
    with r.tracer.span("check.final_table"):
        final = snapshot_read(spark, table).select(*gen.TABLE_COLUMNS).toArrow().to_pylist()
        r.check(checks.final_table(final, expected))

    lat = [p[1] for p in per_batch]
    tail, pct, n = stats.tail(lat)
    rows = sum(len(plan.winners[p[0]]) for p in per_batch)
    r.detail.update(
        session_start_s=session_s,
        base_build_s=builds,
        batches_timed=len(per_batch),
        timed_s=wall,
        ingest_rows_per_s=rows / wall,
        commit_p50_s=statistics.median(lat),
        commit_tail_s=tail,
        commit_tail_percentile=pct,
        commit_samples=n,
        space_amp_x=dir_bytes(table) / gen.csv_bytes(expected.values()),
    )
    if r.traced:
        layer_metrics(r, plan, per_batch, progress, groups)
    return {
        "setup_s": setup_s,
        "cpu_ms_per_op": (state["cpu_to"] - state["cpu_from"]) * 1000 / len(per_batch),
    }


def layer_metrics(r: Run, plan, per_batch, progress, groups) -> None:
    med = statistics.median
    L = r.layers
    build: dict[int, float] = {}  # batch -> seconds in its two plan builds
    for sp in r.tracer.spans:
        if sp["name"] == "plans.build" and sp["batch"] >= WARM_BATCHES:
            build[sp["batch"]] = build.get(sp["batch"], 0.0) + sp["end"] - sp["start"]
    L["plans.build_s"] = med(build.values())
    L["snapshot.merge_s"] = med([p[2] for p in per_batch])
    for name in ("delete", "compact", "vacuum"):
        xs = [p[3][name] for p in per_batch if name in p[3]]
        L[f"snapshot.{name}_s"] = med(xs) if xs else 0.0
    L["snapshot.bytes_written"] = med([p[4] for p in per_batch])
    user = sum(gen.csv_bytes(plan.winners[p[0]].values()) for p in per_batch)
    L["snapshot.write_amp_x"] = sum(p[4] for p in per_batch) / user
    L["snapshot.live_files"] = med([p[5] for p in per_batch])
    timed = {p[0] for p in per_batch}
    pages = sum(len(plan.batches[b]) for b in timed)
    L["ingest.useful_row_frac"] = sum(len(plan.winners[b]) for b in timed) / pages
    # micro-batch progress: batch ids equal batch indices (one file each)
    prog = [p for p in progress if p["batchId"] in timed and p["numInputRows"] > 0]
    if prog:
        trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
        add = [p["durationMs"].get("addBatch", 0) for p in prog]
        L["streaming.trigger_ms"] = med(trig)
        L["streaming.add_batch_ms"] = med(add)
        L["streaming.overhead_ms"] = med([t - a for t, a in zip(trig, add)])
        L["streaming.input_rows"] = sum(p["numInputRows"] for p in prog)
    exec_metrics(r, groups)
