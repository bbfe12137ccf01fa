"""bench.py fault isolation: an exception in one query must not abort the
whole bench and lose its record. The timing loop must survive failing
queries — at plan time AND at action time — record null + a one-line
error for them, and still produce timings for everything else. The
record also counts each query's Spark jobs, and every bench name its
callers use must exist."""

from __future__ import annotations

import ast
import glob
import json
import os

import bench
from bench import run_queries
from tests.conftest import SF_SMALL


class FakeSpec:
    def __init__(self, fn):
        self.fn = fn


def ok_query(spark, sf_dir):
    return spark.range(10)


def plan_time_boom(spark, sf_dir):
    raise ValueError("broken at plan construction")


def action_time_boom(spark, sf_dir):
    from pyspark.sql import functions as F

    # Analyzes fine; every task throws at execution (a valid-looking
    # plan, dead at the action).
    return spark.range(10).select(
        F.assert_true(F.col("id") < 0, F.lit("dead at action")).alias("x")
    )


def test_bench_isolates_failures_and_times_the_rest(spark):
    specs = {
        "good_one": FakeSpec(ok_query),
        "bad_plan": FakeSpec(plan_time_boom),
        "bad_action": FakeSpec(action_time_boom),
        "good_two": FakeSpec(ok_query),
    }
    names = list(specs)
    timings, errors, _jobs = run_queries(spark, specs, names, SF_SMALL, passes=2)

    assert timings["good_one"] is not None and timings["good_two"] is not None
    assert timings["bad_plan"] is None and timings["bad_action"] is None
    assert "ValueError" in errors["bad_plan"]
    assert "bad_action" in errors  # surfaced, class varies by Spark wrapping
    assert "\n" not in errors["bad_plan"] and len(errors["bad_plan"]) <= 200

    # The output contract downstream of the loop: total over non-null only,
    # JSON-serializable with nulls in place.
    total = round(sum(t for t in timings.values() if t is not None), 4)
    line = json.dumps({"value": total, "queries": timings, "errors": errors})
    parsed = json.loads(line)
    assert parsed["queries"]["bad_plan"] is None


def test_bench_records_jobs_of_build_and_write(spark):
    """The record counts the Spark jobs of each query's last pass: one
    ``collect`` fired while the frame is built plus the ``noop`` write.
    A failing query records no count, and the compact tail line carries
    no jobs map, so it stays under its budget."""
    from bench import compact_summary

    def eager_build(spark_, sf_dir):
        spark_.range(10).collect()
        return spark_.range(10)

    specs = {"eager": FakeSpec(eager_build), "bad_plan": FakeSpec(plan_time_boom)}
    timings, errors, jobs = run_queries(spark, specs, list(specs), SF_SMALL)
    assert jobs == {"eager": 2}
    line = compact_summary(timings, errors, total=1.0, sf=0.001)
    assert len(line) <= 1800 and "jobs" not in json.loads(line)


def test_compact_summary_fits_tail_capture_and_parses(spark):
    """A runner that keeps only the last 2000 chars of stdout must still
    get a parseable record, so bench ends with a < 1.8 KB self-contained
    JSON line (total + headline + top-15 + error count)."""
    from bench import HEADLINE, compact_summary

    # Worst realistic case: ~100 long-named queries, all timed, plus errors.
    timings = {f"some_quite_long_query_name_number_{i:03d}": i / 7.0 for i in range(100)}
    for h in HEADLINE:
        timings[h] = 1.23
    errors = {"broken_one": "ValueError: x" * 10}
    line = compact_summary(timings, errors, total=123.45, sf=0.1)
    assert len(line) <= 1800
    parsed = json.loads(line)
    assert parsed["value"] == 123.45
    assert set(parsed["headline"]) == set(HEADLINE)
    assert len(parsed["top15"]) == 15
    assert parsed["n_errors"] == 1
    # Every value in top15 is among the largest timings (sorted desc).
    assert min(parsed["top15"].values()) >= sorted(
        (t for t in timings.values() if t is not None), reverse=True
    )[14]


def test_calibration_probe_records_floor_and_load(spark):
    """A loaded machine can read 3x an idle re-run of identical code, so
    the record carries a machine-load calibration: a fixed reference
    job's best-of-3 floor plus os.getloadavg(), and the compact tail line
    keeps it even under the shed-to-fit loop."""
    from bench import calibration, compact_summary

    cal = calibration(spark)
    assert cal["floor_sec"] > 0
    assert len(cal["loadavg"]) == 3
    timings = {f"q{i}": i / 7.0 for i in range(100)}
    line = compact_summary(timings, {}, total=1.0, sf=0.1, calibration=cal)
    assert len(line) <= 1800
    assert json.loads(line)["calibration"]["floor_sec"] == cal["floor_sec"]


def test_bench_failed_query_not_retried_in_pass_two(spark):
    calls = {"n": 0}

    def counting_boom(spark_, sf_dir):
        calls["n"] += 1
        raise RuntimeError("always fails")

    specs = {"boom": FakeSpec(counting_boom)}
    run_queries(spark, specs, ["boom"], SF_SMALL, passes=2)
    assert calls["n"] == 1, "a failed query must not pay the second pass"


def test_write_self_record_roundtrip_and_readonly(tmp_path):
    """The full per-query record lands in a JSON file that a 2000-char
    stdout capture can't truncate, tagged with the core count it ran on;
    an unwritable target degrades silently (the stdout record still
    stands)."""
    import json

    from bench import write_self_record

    out = {"metric": "headline_queries_wall", "value": 1.23,
           "queries": {"q": 0.5}, "sf": 0.1,
           "calibration": {"floor_sec": 0.12, "loadavg": [1.0, 1.0, 1.0]}}
    p = write_self_record(out, 8, path=str(tmp_path / "BENCH_SELF_c8.json"))
    assert p is not None
    record = json.loads(open(p).read())
    assert record == {**out, "cpus": 8}
    assert record["calibration"]["floor_sec"] == 0.12
    assert write_self_record(out, 8, path=str(tmp_path / "nodir" / "x.json")) is None


def test_write_self_record_default_target_is_per_core_count(monkeypatch, tmp_path):
    """Default target: ``BENCH_SELF_c{cpus}.json`` in the gitignored
    record directory, one file per core count, never the repo root."""
    import bench

    monkeypatch.setattr(bench, "SELF_RECORD_DIR", str(tmp_path / "records"))
    p4 = bench.write_self_record({"value": 1.0}, 4)
    p8 = bench.write_self_record({"value": 2.0}, 8)
    assert p4 == str(tmp_path / "records" / "BENCH_SELF_c4.json")
    assert p8 == str(tmp_path / "records" / "BENCH_SELF_c8.json")
    assert json.loads(open(p4).read()) == {"value": 1.0, "cpus": 4}


def test_bench_names_used_by_callers_exist():
    """Every ``from bench import X`` and ``bench.X`` in the tools, the
    tests and the benchmark names something the bench module has. The
    benchmark calls ``bench.calibration``, so without this check a rename
    breaks the benchmark run instead of a test. Spark-free: the files are
    parsed, not imported."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    used = set()
    for d in ("tools", "tests", "perfbench"):
        for path in glob.glob(os.path.join(root, d, "*.py")):
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            rel = os.path.relpath(path, root)
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and node.module == "bench":
                    used.update((rel, alias.name) for alias in node.names)
                elif (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "bench"
                ):
                    used.add((rel, node.attr))
    assert ("perfbench/common.py", "calibration") in used
    assert [(rel, name) for rel, name in sorted(used) if not hasattr(bench, name)] == []
