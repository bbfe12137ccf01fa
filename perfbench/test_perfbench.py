"""Tests of the benchmark itself: the tail rule, generator determinism,
the correctness checks and the metric names. No Spark needed.

    python -m pytest perfbench/
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from common import E2E_UNITS, LAYERS, RESULT_LAYERS  # noqa: E402
from ingest import stage_batches  # noqa: E402
from spans import process_tree_cpu_s  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def small_ingest(seed: int) -> gen.IngestPlan:
    return gen.ingest_plan(seed, base_rows=300, n_batches=9, batch_rows=100, epoch_every=4, dead_per_epoch=20)


def small_serve(seed: int) -> gen.ServePlan:
    return gen.serve_plan(seed, base_rows=300, n_writes=6, write_rows=40, write_interval_s=2.0, n_requests=200)


# -- tail rule -----------------------------------------------------------


@pytest.mark.parametrize(
    ("n", "pct"),
    [(1, 100.0), (10, 100.0), (11, 100 / 11), (20, 50.0), (40, 75.0), (200, 95.0), (333, 100 * 323 / 333)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(n, 0, -1)]
    value, p, count = stats.tail(values)
    assert (p, count) == (pct, n)
    beyond = sum(v > value for v in values)
    if n > 10:
        assert beyond == 10
        assert value == stats.percentile(values, p)
        # any higher percentile leaves fewer than ten samples beyond it
        assert sum(v > stats.percentile(values, p + 0.01) for v in values) < 10
    else:
        assert value == max(values)


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        stats.tail([])


def test_percentile_is_nearest_rank():
    assert stats.percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 75) == 3.0
    assert stats.percentile([1.0, 2.0], 100) == 2.0


# -- generator -----------------------------------------------------------


def staged_bytes(plan: gen.IngestPlan, tmp_path, name: str) -> dict[str, bytes]:
    src = tmp_path / name
    stage_batches(plan, str(src))
    return {f: (src / f).read_bytes() for f in sorted(os.listdir(src))}


def test_ingest_inputs_are_byte_identical_for_a_seed(tmp_path):
    a, b = small_ingest(7), small_ingest(7)
    assert staged_bytes(a, tmp_path, "a") == staged_bytes(b, tmp_path, "b")
    assert a.base_rows == b.base_rows and a.dead_links == b.dead_links
    assert staged_bytes(small_ingest(8), tmp_path, "c") != staged_bytes(a, tmp_path, "d")


def test_serve_inputs_are_identical_for_a_seed():
    a, b, c = small_serve(7), small_serve(7), small_serve(8)

    def digest(p: gen.ServePlan) -> str:
        blob = json.dumps([p.base_rows, p.writer_batches, p.writer_due_s, p.requests, p.counts])
        return hashlib.sha256(blob.encode()).hexdigest()

    assert digest(a) == digest(b)
    assert digest(a) != digest(c)


def test_ingest_plan_has_the_stated_shares_and_epochs():
    plan = gen.ingest_plan(3, base_rows=2000, n_batches=9, batch_rows=1000, epoch_every=4, dead_per_epoch=50)
    pages = sum(len(b) for b in plan.batches)
    committed = sum(len(w) for w in plan.winners)
    assert 0.90 < committed / pages < 0.95  # ~5 % invalid and ~2 % in-batch duplicates dropped
    assert sorted(plan.dead_links) == [0, 4, 8]
    model = plan.expected(len(plan.batches))
    assert not set(model) & {x for dead in plan.dead_links.values() for x in dead}
    assert all(len(row) == len(gen.TABLE_COLUMNS) for row in model.values())


def test_pages_carry_all_pets_schema_fields():
    plan = small_ingest(1)
    _, html = plan.batches[0][0]
    fields = ["link", "pet_type", *gen.PET_STRING_FIELDS, *gen.PET_BOOL_FIELDS]
    assert len(fields) == 17
    for f in fields:
        assert f"<{f}>" in html


def test_serve_counts_follow_the_writer_batches():
    plan = small_serve(5)
    assert plan.counts[0] == 300
    assert all(b >= a for a, b in zip(plan.counts, plan.counts[1:]))
    assert plan.counts[-1] - plan.counts[0] < sum(len(b) for b in plan.writer_batches)  # some re-seen keys
    assert sorted(plan.writer_due_s) == plan.writer_due_s


def test_every_request_block_holds_the_exact_mix():
    plan = gen.serve_plan(4, base_rows=300, n_writes=1, write_rows=40, write_interval_s=2.0, n_requests=95)
    kinds = [kind for kind, _ in plan.requests]
    assert len(kinds) == 95
    for i in range(0, 90, gen.MIX_BLOCK):
        block = kinds[i : i + gen.MIX_BLOCK]
        assert (block.count("latest"), block.count("version"), block.count("csv")) == (8, 1, 1)
    assert kinds[:10] != kinds[10:20]  # each block in its own seeded order
    # the versions asked for spread evenly whatever the seed
    for seed in range(5):
        plan = gen.serve_plan(seed, base_rows=30, n_writes=1, write_rows=4, write_interval_s=2.0, n_requests=1000)
        draws = [u for kind, u in plan.requests if kind == "version"]
        assert abs(sum(draws) / len(draws) - 0.5) < 0.02
        assert all(sum(lo <= u < lo + 0.25 for u in draws) in range(23, 28) for lo in (0, 0.25, 0.5, 0.75))


def test_process_tree_cpu_counts_this_process():
    before = process_tree_cpu_s(os.getpid())
    t_end = time.thread_time() + 0.3
    while time.thread_time() < t_end:
        pass
    assert process_tree_cpu_s(os.getpid()) - before >= 0.2


# -- correctness checks --------------------------------------------------


def test_final_table_check_rejects_tampering():
    plan = small_ingest(2)
    model = plan.expected(len(plan.batches))
    rows = [dict(r) for r in model.values()]
    assert checks.final_table(rows, model) is None
    assert checks.final_table(rows[::-1], model) is None  # order does not matter
    assert checks.final_table(rows[1:], model) is not None
    tampered = [dict(r) for r in rows]
    tampered[0]["name"] = tampered[0]["name"] + "x"
    assert checks.final_table(tampered, model) is not None
    dead = plan.dead_links[0][0]
    assert checks.final_table(rows + [dict(rows[0], link=dead)], model) is not None


def body(n: int) -> bytes:
    return json.dumps({"count": n, "pets": [{"link": "x"}] * n}).encode()


def test_version_check_rejects_a_wrong_count():
    counts = [300, 340, 371]
    assert checks.version_body(body(340), 1, counts) is None
    assert checks.version_body(body(371), 1, counts) is not None
    assert checks.version_body(b'{"error": "unknown snapshot version"}', 1, counts) is not None


def test_latest_check_accepts_only_versions_during_the_request():
    counts = [300, 340, 371, 400]
    assert checks.latest_body(body(340), 1, 2, counts) is None
    assert checks.latest_body(body(371), 1, 2, counts) is None
    assert checks.latest_body(body(300), 1, 2, counts) is not None
    assert checks.latest_body(body(400), 1, 2, counts) is not None


def test_csv_check_rejects_a_changed_byte():
    artifact = b"link,name\nhttps://www.petfinder.com/pet/1/details/,Rex\n"
    sha = hashlib.sha256(artifact).hexdigest()
    assert checks.csv_body(artifact, sha) is None
    assert checks.csv_body(artifact.replace(b"Rex", b"Rey"), sha) is not None


# -- metric names --------------------------------------------------------


def test_metric_names_are_well_formed():
    names = list(E2E_UNITS) + list(LAYERS)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    assert set(RESULT_LAYERS) <= set(LAYERS)


def test_benchmark_json_matches_the_code():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(E2E_UNITS)
    assert [m["name"] for m in spec["per_layer"]] == RESULT_LAYERS
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        unit = E2E_UNITS.get(m["name"]) or LAYERS[m["name"]][0]
        assert m["unit"] == unit
    import run

    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
