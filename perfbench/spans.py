"""Spans, Spark counters and memory sampling for the benchmark.

A span is recorded around each call the benchmark makes into a layer of
the engine: name, start, end, parent span and run id. Spans stay in memory
and are written out when the run ends. With tracing off, ``span`` records
nothing, so the untraced run measures the end-to-end metrics.

Spark counters come from the engine's own bookkeeping after the work is
done: jobs and stages from the status tracker, per-operator SQL metrics
from ``sharedState().statusStore()`` (it works with the UI off). Work is
labelled with a job group whose id is also its ``spark.job.description``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import statistics
import threading
import time

RSS_INTERVAL_S = 0.25
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "run": self.run_id, **attrs}
                )

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, fh)
            fh.write("\n")


@contextlib.contextmanager
def job_group(spark, group: str, enabled: bool):
    """Label the Spark work of the enclosed block (this thread only) with
    ``group`` as job group and ``spark.job.description``."""
    if not enabled:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001 -- not exposed on the Python SparkContext


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_TOTAL = re.compile(r"^\s*(?:total \([^\n]*\)\n)?\s*([-0-9.,]+)\s*([A-Za-z]*)")


def metric_total(text: str) -> float:
    """The total of a formatted SQL metric: a plain number, or a
    ``total (min, med, max ...)`` block whose first figure is the sum,
    with a size or time unit."""
    m = _TOTAL.match(text or "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Per-label work counters read back from Spark after the fact."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def tasks(self, groups: list[str]) -> int:
        n = 0
        for group in groups:
            for job in self.jobs(group):
                info = self.tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    stage = self.tracker.getStageInfo(sid)
                    n += stage.numTasks if stage else 0
        return n

    def sql(self, groups: list[str]) -> dict:
        """Totals over every SQL execution run in one of ``groups``: wall
        time, shuffle bytes written, spill, and the time of Python-worker
        operators."""
        wanted = set(groups)
        out = {"run_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "python_udf_ms": 0.0}
        for e in _scala_iter(self.store.executionsList()):
            if str(e.description()) not in wanted:
                continue
            done = e.completionTime()
            if done.isDefined():
                out["run_s"] += (done.get().getTime() - e.submissionTime()) / 1000.0
            values = {
                kv._1(): kv._2()
                for kv in _scala_iter(self.store.executionMetrics(e.executionId()))
            }
            for node in _scala_iter(self.store.planGraph(e.executionId()).allNodes()):
                python = node.name() in PYTHON_NODES
                for m in _scala_iter(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    name = m.name()
                    if name == "shuffle bytes written":
                        out["shuffle_bytes"] += metric_total(text)
                    elif name == "spill size":
                        out["spill_bytes"] += metric_total(text)
                    elif python and m.metricType() == "timing":
                        out["python_udf_ms"] += metric_total(text)
        return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def process_tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, in MiB."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system, including reaped children) spent so
    far by ``root`` and its live descendants."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total * _TICK_S


class RssSampler:
    """Samples the process tree's resident memory on a background thread.
    Use as a context manager."""

    def __init__(self):
        self.samples: list[tuple[float, float]] = []  # (perf_counter, MiB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.samples.append((time.perf_counter(), process_tree_rss_mb(root)))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    @property
    def peak_mb(self) -> float:
        return max(mb for _, mb in self.samples)

    def median_mb(self, t0: float, t1: float) -> float:
        """Median of the samples taken between ``t0`` and ``t1``."""
        return statistics.median(mb for t, mb in self.samples if t0 <= t <= t1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
