"""Run context shared by the workloads: paths, the Spark session, failure
accounting, and the result lines."""

from __future__ import annotations

import json
import os
import sys
import threading
import time

import gen
from spans import RssSampler, SparkCounters, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# The keyed pets table: merge key and the column that orders its versions.
KEY = ["link"]
ORDER = ["seq"]
BUILD_REPS = 3  # base-table builds per run; setup_s counts their median

# The end-to-end metrics every workload reports (BENCHMARK.json
# ``end_to_end``). ``cpu_ms_per_op`` is the CPU time (user and system) the
# engine spends on one operation of the workload, over the timed phase: a
# micro-batch commit (ingest_verify: this process and its JVM) or an HTTP
# request (serve_under_ingest: the serving process). Each workload also
# prints its wall-clock figures (``commit_p50_s``, ``serve_p50_ms``,
# ``serve_rps`` ...) on the line before the result. They stay off the
# result line because on a shared 4-vCPU VM they follow the other
# tenants' load more than CPU time does: three busy loops beside
# ingest_verify doubled ``commit_p50_s`` and moved its CPU time per commit
# by under 1 %, and over 10 seeds the quartile spread of the wall-clock
# medians reached 0.26-0.43 of the median, past the largest bound (0.25).
E2E_UNITS = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "rss_mb": "MB",
}

# Per-layer metrics: name -> (unit, the end-to-end figures it should
# move, the workloads that call the layer). Durations are medians per call
# of the layer; exec.* and plans.* are per operation (a micro-batch or a
# writer commit); streaming.input_rows is the total of the timed phase.
# A traced run prints all of them on the detail line and writes them with
# its spans.
LAYERS = {
    "session.start_s": ("s", "setup_s", "all"),
    "plans.build_s": ("s", "commit_p50_s", "ingest_verify"),
    "plans.eager_jobs": ("count", "commit_p50_s", "ingest_verify"),
    "exec.run_s": ("s", "commit_p50_s", "all"),
    "exec.jobs": ("count", "commit_p50_s", "all"),
    "exec.tasks": ("count", "commit_p50_s", "all"),
    "exec.shuffle_bytes": ("bytes", "commit_p50_s", "all"),
    "exec.spill_bytes": ("bytes", "commit_p50_s", "all"),
    "exec.python_udf_ms": ("ms", "commit_p50_s", "all"),
    "streaming.trigger_ms": ("ms", "commit_p50_s ingest_rows_per_s", "ingest_verify"),
    "streaming.add_batch_ms": ("ms", "commit_p50_s ingest_rows_per_s", "ingest_verify"),
    "streaming.overhead_ms": ("ms", "ingest_rows_per_s", "ingest_verify"),
    "streaming.input_rows": ("count", "ingest_rows_per_s", "ingest_verify"),
    "ingest.useful_row_frac": ("ratio", "ingest_rows_per_s", "ingest_verify"),
    "snapshot.merge_s": ("s", "commit_p50_s", "all"),
    "snapshot.delete_s": ("s", "commit_tail_s", "ingest_verify"),
    "snapshot.compact_s": ("s", "commit_tail_s", "ingest_verify"),
    "snapshot.vacuum_s": ("s", "commit_tail_s", "ingest_verify"),
    "snapshot.bytes_written": ("bytes", "ingest_rows_per_s space_amp_x", "all"),
    "snapshot.write_amp_x": ("x", "ingest_rows_per_s space_amp_x", "all"),
    "snapshot.live_files": ("count", "commit_p50_s serve_tail_ms", "all"),
    "serving.first_read_ms": ("ms", "serve_tail_ms fresh_lag_p50_s", "serve_under_ingest"),
    "serving.repeat_read_ms": ("ms", "serve_p50_ms serve_rps", "serve_under_ingest"),
    "serving.body_ms": ("ms", "serve_p50_ms", "serve_under_ingest"),
    "serving.response_bytes": ("bytes", "serve_p50_ms", "serve_under_ingest"),
    "gen.writer_lateness_ms": ("ms", "validity of the open loop", "serve_under_ingest"),
}

# The per-layer metrics of the result line (BENCHMARK.json ``per_layer``):
# those measured on every workload, so none reads a constant 0 on one.
# Spill and Python-worker time are left out: neither workload has any.
RESULT_LAYERS = [
    name for name, (_, _, where) in LAYERS.items()
    if where == "all" and name not in ("exec.spill_bytes", "exec.python_udf_ms")
]


class Run:
    """One benchmark run: its arguments, work directory, tracer, failure
    counts and the details printed beside the result."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_id = f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}"
        self.work = os.path.join(WORK_ROOT, workload)
        self.tracer = Tracer(self.run_id, traced)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()
        self.detail: dict = {"workload": workload, "seed": seed, "traced": traced}
        self.layers = dict.fromkeys(LAYERS, 0.0)
        self.spark = None
        self.counters: SparkCounters | None = None
        self.rss = RssSampler()
        self.timed = (0.0, 0.0)  # perf_counter start and end of the timed phase

    # -- failures ------------------------------------------------------
    def check(self, error: str | None) -> None:
        """Count one checked operation; ``error`` says why it failed."""
        with self._lock:  # called from the client and writer threads
            self.attempted += 1
            if error is not None:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(error[:300])

    # -- environment ---------------------------------------------------
    def prepare(self) -> None:
        """Start from the same state every run: an empty work directory,
        the engine pinned to half the machine's cores, scratch kept in the
        checkout."""
        import shutil

        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # The engine gets half the machine's cores; the other half runs its
        # Spark driver, JIT and GC threads, the serving process and the clients.
        # On 4 cores with hypervisor steal, local[4] ran 1.2-1.7x slower
        # per micro-batch than local[2] and spread twice as wide.
        machine = len(os.sched_getaffinity(0))
        cpus = max(1, machine // 2)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        self.detail["cpus"] = {"machine": machine, "engine": cpus}
        self._cpu_at_start = _cpu_jiffies()

    def start_spark(self) -> float:
        """Start the engine's session and run a first job; returns the
        seconds that took."""
        from petfinder_database_distributor_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name=f"perfbench_{self.workload}",
                extra_conf={
                    "spark.local.dir": tmp,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                },
            )
            self.spark.range(1000).selectExpr("sum(id)").collect()
        start_s = time.perf_counter() - t0
        self.counters = SparkCounters(self.spark)
        self.layers["session.start_s"] = start_s
        return start_s

    def calibrate(self) -> None:
        """The repository's load calibration, recorded with every result."""
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        import bench

        with self.tracer.span("calibrate"):
            cal = bench.calibration(self.spark) if self.spark is not None else {}
        cal.setdefault("loadavg", [round(x, 2) for x in os.getloadavg()])
        # CPU time the machine's hypervisor gave elsewhere during the run
        cpu = [a - b for a, b in zip(_cpu_jiffies(), self._cpu_at_start)]
        cal["steal_frac"] = round(cpu[7] / max(sum(cpu), 1), 4) if len(cpu) > 7 else None
        self.detail["calibration"] = cal

    def stop_spark(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # noqa: SLF001
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 -- the JVM ignored EOF; end it
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001

    # -- output --------------------------------------------------------
    def result(self, e2e: dict[str, float]) -> dict:
        """The final result line: end-to-end metrics untraced, per-layer
        metrics traced."""
        if self.traced:
            metrics = {k: {"value": float(self.layers[k]), "unit": LAYERS[k][0]} for k in RESULT_LAYERS}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": E2E_UNITS[k]} for k in E2E_UNITS}
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": metrics,
        }


def _cpu_jiffies() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal ...)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh)
        fh.write("\n")


def arrow_schema():
    """The pets table (``gen.TABLE_COLUMNS``) as an Arrow schema."""
    import pyarrow as pa

    return pa.schema(
        [
            (c, pa.bool_() if c in gen.PET_BOOL_FIELDS else pa.int64() if c == "seq" else pa.string())
            for c in gen.TABLE_COLUMNS
        ]
    )


def table_frame(spark, rows, path: str):
    """Generated rows as a Spark frame, through a parquet file written with
    pyarrow (much faster than shipping Python rows through Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, schema=arrow_schema()), path)
    return spark.read.parquet(path)


def build_base(r: Run, rows, table: str) -> tuple[list[float], object]:
    """Write the base snapshot table ``BUILD_REPS`` times, each into its own
    directory, the last into ``table``. Set-up counts the median build, so
    one slow build does not move setup_s. Returns the build seconds and the
    frame of the last build."""
    from petfinder_database_distributor_spark.sources.snapshot import snapshot_write

    builds = []
    for rep in range(BUILD_REPS):
        t0 = time.perf_counter()
        with r.tracer.span("snapshot.write", rep=rep):
            base = table_frame(r.spark, rows, os.path.join(r.work, f"base-{rep}.parquet"))
            snapshot_write(r.spark, table if rep == BUILD_REPS - 1 else f"{table}-rep{rep}", base)
        builds.append(time.perf_counter() - t0)
    return builds, base


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def new_bytes(table: str, version: int) -> int:
    """Bytes of the files the manifest of ``version`` names and that of
    ``version - 1`` does not: what the commit of ``version`` wrote."""
    from petfinder_database_distributor_spark.sources.snapshot import read_manifest

    def files(v: int) -> set[str]:
        m = read_manifest(table, v)
        return set(m.get("files", [])) | set(m.get("tombstones", []))

    old = files(version - 1) if version > 0 else set()
    return sum(os.path.getsize(os.path.join(table, rel)) for rel in files(version) - old)


def exec_metrics(r: Run, groups: list[str]) -> None:
    """exec.* and plans.eager_jobs per operation, from the status tracker
    and the SQL status store. ``groups`` are the job groups of the timed
    operations, each with an optional ``-build`` sibling for the jobs run
    while building plans."""
    c = r.counters
    both = [x for g in groups for x in (g, f"{g}-build")]
    sql = c.sql(both)
    ops = len(groups)
    L = r.layers
    L["plans.eager_jobs"] = sum(len(c.jobs(f"{g}-build")) for g in groups) / ops
    L["exec.run_s"] = sql["run_s"] / ops
    L["exec.jobs"] = sum(len(c.jobs(g)) for g in both) / ops
    L["exec.tasks"] = c.tasks(both) / ops
    L["exec.shuffle_bytes"] = sql["shuffle_bytes"] / ops
    L["exec.spill_bytes"] = sql["spill_bytes"] / ops
    L["exec.python_udf_ms"] = sql["python_udf_ms"] / ops
