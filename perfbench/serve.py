"""serve_under_ingest: the serving layer answering clients while a writer
commits.

The server (``serving.http_server.serve_export`` with ``snapshot_dir``)
runs in its own process over a snapshot table and a single-file CSV
artifact from ``sources.export.write_csv_table``. This process runs
``CLIENTS`` closed-loop client connections with the generated request mix
(``/pets`` at the latest version, ``/pets?version=`` over every retained
version, ``/pets.csv``) and one writer thread that commits a
``snapshot_merge`` on the generated open-loop schedule.

The operation is an HTTP request: its latency runs from sending it to
the last body byte, and ``cpu_ms_per_op`` is the serving process's CPU
time over the timed phase per request served in it. A commit is timed
from when it was due to its version being visible through
``latest_version``; the writer also reports how late it started.
"""

from __future__ import annotations

import hashlib
import http.client
import itertools
import os
import statistics
import subprocess
import sys
import threading
import time

import checks
import gen
import stats
from common import HERE, KEY, ORDER, ROOT, Run, arrow_schema, build_base, exec_metrics, new_bytes
from spans import job_group, process_tree_cpu_s

BASE_ROWS = 1_000  # JSON bodies of about 0.6 MB; 5,000 rows gave 3 MB bodies and a wider spread
WRITE_ROWS = 50
WRITE_INTERVAL_S = 2.0
WARM_WRITES = 4  # committed in set-up, so the timed phase starts with 5 versions
WARM_REQUESTS = 6
# One client connection: with two, the serving process's request threads
# contend for one interpreter lock, which cost 20 % more CPU per request
# and 10 % fewer requests per second.
CLIENTS = 1
API_KEY = "perfbench-key"


class Server:
    """The serving process; stops it when the block ends."""

    def __init__(self, artifact: str, table: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "serve_proc.py"), ROOT, artifact, table, API_KEY],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline()
        if not line.strip():
            self.stop()
            raise RuntimeError("serving process did not start")
        self.port = int(line)

    def get(self, path: str) -> tuple[int, bytes, float, float, float]:
        """One request on a fresh connection: (status, body, start, first
        byte, end) with perf_counter times."""
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            t0 = time.perf_counter()
            conn.request("GET", path, headers={"X-API-Key": API_KEY})
            resp = conn.getresponse()
            t1 = time.perf_counter()
            body = resp.read()
            return resp.status, body, t0, t1, time.perf_counter()
        finally:
            conn.close()

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.stop()


def csv_artifact(spark, frame, path: str) -> bytes:
    """Write the reference's one-file CSV serving artifact; returns its bytes."""
    from petfinder_database_distributor_spark.sources.export import encode_for_export, write_csv_table

    strings = [c for c in gen.TABLE_COLUMNS[:-1] if c not in gen.PET_BOOL_FIELDS]
    encoded = encode_for_export(
        frame, strings, gen.PET_BOOL_FIELDS, text_cols=["about_me"],
        order_col="seq", column_order=gen.TABLE_COLUMNS[:-1],
    ).drop("seq")
    write_csv_table(encoded, path, single_file=True)
    (part,) = [f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".csv")]
    with open(os.path.join(path, part), "rb") as fh:
        return fh.read()


def run(r: Run) -> dict:
    import pyarrow as pa

    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_version,
        read_manifest,
        snapshot_merge,
    )

    t_setup = time.perf_counter()
    session_s = r.start_spark()
    spark = r.spark
    n_writes = WARM_WRITES + int(r.seconds / WRITE_INTERVAL_S) + 2
    with r.tracer.span("gen.serve_plan"):
        plan = gen.serve_plan(r.seed, BASE_ROWS, n_writes, WRITE_ROWS, WRITE_INTERVAL_S, n_requests=20_000)
    table = os.path.join(r.work, "pets")
    builds, base = build_base(r, plan.base_rows, table)
    with r.tracer.span("export.write_csv_table"):
        artifact = csv_artifact(spark, base, os.path.join(r.work, "export"))
    artifact_sha = hashlib.sha256(artifact).hexdigest()
    lines = artifact.count(b"\n")
    r.check(None if lines == BASE_ROWS + 1 else f"CSV artifact has {lines} lines for {BASE_ROWS} rows")
    schema = arrow_schema()

    def merge(i: int) -> tuple[int, float]:
        """Commit writer batch ``i``; returns (version, merge seconds)."""
        with r.tracer.span("gen.writer_batch"):
            batch = spark.createDataFrame(pa.Table.from_pylist(plan.writer_batches[i], schema=schema))
        t0 = time.perf_counter()
        with r.tracer.span("snapshot.merge"):
            v = snapshot_merge(spark, table, batch, KEY, ORDER)
        return v, time.perf_counter() - t0

    committed = {"v": 0}
    for i in range(WARM_WRITES):
        committed["v"], _ = merge(i)

    with Server(os.path.join(r.work, "export"), table) as server:
        reqs = itertools.cycle(plan.requests)
        lock = threading.Lock()

        def request(kind: str, u: float) -> dict | None:
            """Send one request and check its response; None when it failed
            without a response."""
            v_start = committed["v"]
            if kind == "latest":
                path = "/pets"
            elif kind == "version":
                path = f"/pets?version={min(int(u * (v_start + 1)), v_start)}"
            else:
                path = "/pets.csv"
            try:
                with r.tracer.span("serving.request", kind=kind):
                    status, body, t0, t1, t2 = server.get(path)
            except (OSError, http.client.HTTPException) as exc:
                r.check(f"{path}: {type(exc).__name__}: {exc}")
                return None
            rec = {"kind": kind, "start": t0, "first": t1, "end": t2, "bytes": len(body)}
            if status != 200:
                r.check(f"{path}: HTTP {status}")
            elif kind == "csv":
                r.check(checks.csv_body(body, artifact_sha))
            elif kind == "version":
                r.check(checks.version_body(body, int(path.rsplit("=", 1)[1]), plan.counts))
            else:
                r.check(checks.latest_body(body, v_start, latest_version(table), plan.counts))
            return rec

        for _ in range(WARM_REQUESTS):
            with lock:
                kind, u = next(reqs)
            request(kind, u)

        cpu0 = process_tree_cpu_s(server.proc.pid)
        t_start = time.perf_counter()
        setup_s = t_start - t_setup
        deadline = t_start + r.seconds
        records: list[dict] = []
        late: list[dict] = []
        commits: list[dict] = []  # timed writer commits
        errors: list[Exception] = []

        def client() -> None:
            try:
                while time.perf_counter() < deadline:
                    with lock:
                        kind, u = next(reqs)
                    rec = request(kind, u)
                    if rec is None:
                        continue
                    if rec["end"] <= deadline:
                        records.append(rec)
                    else:
                        late.append(rec)  # served while the CPU time was counted
            except Exception as exc:  # noqa: BLE001 -- re-raised by the main thread
                errors.append(exc)

        def writer() -> None:
            try:
                for k, due_off in enumerate(plan.writer_due_s):
                    i = WARM_WRITES + k
                    due = t_start + due_off
                    if due >= deadline or i >= len(plan.writer_batches):
                        return
                    time.sleep(max(0.0, due - time.perf_counter()))
                    began = time.perf_counter()
                    with job_group(spark, f"pb-serve-w{i}", r.traced):
                        v, merge_s = merge(i)
                    visible = time.perf_counter()
                    committed["v"] = v
                    ok = v == i + 1 and latest_version(table) >= v
                    r.check(None if ok else f"writer commit {i}: version {v}")
                    commits.append({"i": i, "v": v, "due": due, "late": began - due,
                                    "visible": visible, "merge_s": merge_s})
            except Exception as exc:  # noqa: BLE001 -- re-raised by the main thread
                errors.append(exc)

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        cpu1 = process_tree_cpu_s(server.proc.pid)
        wall = max(rec["end"] for rec in records) - t_start if records else r.seconds
        r.timed = (t_start, t_start + wall)
    if errors:
        raise errors[0]
    if not records or not commits:
        raise RuntimeError("no timed request or commit completed")

    lat = [rec["end"] - rec["start"] for rec in records]
    tail, pct, n = stats.tail(lat)
    commit_lat = [c["visible"] - c["due"] for c in commits]
    ctail, cpct, cn = stats.tail(commit_lat)
    latest = sorted((rec for rec in records if rec["kind"] == "latest"), key=lambda rec: rec["start"])
    firsts, lags = set(), []
    for c in commits:
        first = next((rec for rec in latest if rec["start"] >= c["visible"]), None)
        if first is not None:
            firsts.add(id(first))
            lags.append(first["end"] - c["due"])
    r.detail.update(
        session_start_s=session_s,
        base_build_s=builds,
        requests_timed=len(records),
        timed_s=wall,
        serve_p50_ms=statistics.median(lat) * 1000,
        serve_tail_ms=tail * 1000,
        serve_tail_percentile=pct,
        serve_samples=n,
        serve_rps=len(records) / wall,
        commit_p50_s=statistics.median(commit_lat),
        commit_tail_s=ctail,
        commit_tail_percentile=cpct,
        commit_samples=cn,
        fresh_lag_p50_s=statistics.median(lags) if lags else None,
    )
    if r.traced:
        med = statistics.median
        L = r.layers
        L["snapshot.merge_s"] = med([c["merge_s"] for c in commits])
        written = [new_bytes(table, c["v"]) for c in commits]
        L["snapshot.bytes_written"] = med(written)
        user = sum(gen.csv_bytes(plan.writer_batches[c["i"]]) for c in commits)
        L["snapshot.write_amp_x"] = sum(written) / user
        L["snapshot.live_files"] = med([len(read_manifest(table, c["v"])["files"]) for c in commits])
        first = [(rec["first"] - rec["start"]) * 1000 for rec in latest if id(rec) in firsts]
        repeat = [(rec["first"] - rec["start"]) * 1000 for rec in latest if id(rec) not in firsts]
        L["serving.first_read_ms"] = med(first) if first else 0.0
        L["serving.repeat_read_ms"] = med(repeat) if repeat else 0.0
        L["serving.body_ms"] = med([(rec["end"] - rec["first"]) * 1000 for rec in records])
        L["serving.response_bytes"] = med([rec["bytes"] for rec in records])
        L["gen.writer_lateness_ms"] = med([c["late"] * 1000 for c in commits])
        exec_metrics(r, [f"pb-serve-w{c['i']}" for c in commits])
    return {
        "setup_s": setup_s - sum(builds) + statistics.median(builds),
        "cpu_ms_per_op": (cpu1 - cpu0) * 1000 / (len(records) + len(late)),
    }
