"""Model-based randomized sequence test for the snapshot table format.

The directed suite (tests/test_snapshot_table.py) pins each operation and
a set of hand-picked interactions; this walk checks COMPOSITIONS the
directed tests don't enumerate: seeded random sequences of
write / append / delete / merge / compact / restore / vacuum, with a
pure-Python reference model tracking, per version, the file-row multiset
and the accumulated tombstone keys — exactly the two things a manifest
records. After every op the current read must equal the model; at the end
every RETAINED version's time-travel read must equal the model and every
vacuumed version must refuse.

Reference semantics (from the implementation + directed tests):
- write(df):    rows = df, tombstones = {}
- append(df):   rows += df, tombstones carry (appended rows with
                tombstoned keys stay filtered — resurrection is merge's)
- delete(keys): rows carry, tombstones += keys
- merge(upd):   rows = winner-per-key(visible ∪ upd, max order),
                tombstones = {} (folded)
- compact:      rows = visible, tombstones = {} (folded), content equal
- restore(tv):  rows = rows(tv), tombstones = tombstones(tv) (manifest
                carry-forward — including the target's tombstones)
- read(v):      rows(v) minus rows whose key is tombstoned at v
"""

from __future__ import annotations

import random
import shutil

import pytest
from pyspark.sql import functions as F  # noqa: F401 (parity with suite style)

from petfinder_database_distributor_spark.sources.snapshot import (
    snapshot_append,
    snapshot_compact,
    snapshot_delete,
    snapshot_merge,
    snapshot_read,
    snapshot_restore,
    snapshot_vacuum,
    snapshot_write,
)
from petfinder_database_distributor_spark.streaming.incremental import SCRATCH_ROOT
from tests.test_snapshot_table import _partition_files

# heavy tail — model-based randomized walks (~55 s);
# excluded from the default fast set, run with -m slow.
pytestmark = pytest.mark.slow


SCHEMA = "k long, v long, o long"
KEYS = list(range(12))  # small key space → frequent collisions on purpose


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _visible(rows, tombs):
    return sorted(r for r in rows if r[0] not in tombs)


def _read(spark, table_dir, version=None):
    return sorted(
        tuple(r) for r in snapshot_read(spark, table_dir, version).collect()
    )


def _winner(rows):
    best = {}
    for r in rows:
        if r[0] not in best or r[2] > best[r[0]][2]:
            best[r[0]] = r
    return sorted(best.values())


@pytest.mark.parametrize("seed", [11, 42])
def test_snapshot_random_walk_matches_model(spark, seed):
    rng = random.Random(seed)
    table_dir = f"{SCRATCH_ROOT}/snapshot_model_walk_{seed}"
    shutil.rmtree(table_dir, ignore_errors=True)

    t = 0  # strictly-increasing order column — no winner ties, ever

    def batch(n):
        nonlocal t
        out = []
        for _ in range(n):
            t += 1
            out.append((rng.choice(KEYS), rng.randrange(1000), t))
        return out

    # version -> (file-row multiset, tombstone key set); None = vacuumed
    model: dict[int, tuple[list, set] | None] = {}
    first = batch(4)
    v = snapshot_write(spark, table_dir, _df(spark, first))
    model[v] = (list(first), set())

    for step in range(24):
        rows, tombs = model[v]
        op = rng.choices(
            ["append", "merge", "delete", "compact", "restore", "vacuum"],
            weights=[30, 25, 20, 8, 9, 8],
        )[0]
        if op == "append":
            b = batch(rng.randint(1, 3))
            v = snapshot_append(spark, table_dir, _df(spark, b))
            model[v] = (rows + b, set(tombs))
        elif op == "merge":
            b = batch(rng.randint(1, 3))
            v = snapshot_merge(
                spark, table_dir, _df(spark, b), key_cols=["k"], order_cols=["o"]
            )
            model[v] = (_winner(_visible(rows, tombs) + b), set())
        elif op == "delete":
            ks = sorted(rng.sample(KEYS, rng.randint(1, 3)))
            v = snapshot_delete(
                spark,
                table_dir,
                spark.createDataFrame([(k,) for k in ks], "k long"),
                ["k"],
            )
            model[v] = (list(rows), tombs | set(ks))
        elif op == "compact":
            v = snapshot_compact(spark, table_dir, target_files=1)
            model[v] = (_visible(rows, tombs), set())
        elif op == "restore":
            retained = [w for w, m in model.items() if m is not None]
            tv = rng.choice(retained)
            v = snapshot_restore(table_dir, tv)
            trows, ttombs = model[tv]
            model[v] = (list(trows), set(ttombs))
        else:  # vacuum
            keep = rng.randint(2, 4)
            dropped = snapshot_vacuum(table_dir, keep_last=keep)
            expected = sorted(w for w in model if model[w] is not None)[:-keep]
            assert dropped == expected, f"step {step}: vacuum dropped {dropped}"
            for w in dropped:
                model[w] = None
            continue  # vacuum makes no new version

        got = _read(spark, table_dir)
        rows_v, tombs_v = model[v]
        assert got == _visible(rows_v, tombs_v), (
            f"seed {seed} step {step} op {op} v{v}: read != model"
        )

    # end-state: every retained version time-travels to its model state,
    # every vacuumed version refuses
    for w, m in model.items():
        if m is None:
            with pytest.raises(FileNotFoundError):
                snapshot_read(spark, table_dir, w).collect()
        else:
            assert _read(spark, table_dir, w) == _visible(*m), f"v{w} drifted"
    shutil.rmtree(table_dir, ignore_errors=True)


@pytest.mark.parametrize("seed", [23])
def test_partitioned_merge_walk_matches_model_and_reuses_files(spark, seed):
    """Random walk over partition-scoped merges and key deletes on a
    partitioned table (a flat file list whose files each hold one value
    of ``p``, that value their zone map): after every step, (a) the full
    read equals a dict-model upsert, (b) a zone-map-pruned
    single-partition read equals the model filtered, (c) after a merge
    on a base without tombstones, every partition the batch did NOT
    touch carries its previous file list forward VERBATIM and every new
    file holds a touched value -- the O(changed partitions) claim
    checked compositionally, not once -- and (d) after a merge on a base
    with tombstones, they are folded: none is carried, so a deleted key
    that later merges leave untouched stays deleted."""
    import random as _random

    from petfinder_database_distributor_spark.sources.snapshot import (
        read_manifest,
        snapshot_merge_partitioned,
        snapshot_read_partitioned,
    )

    rng = _random.Random(seed)
    table_dir = f"{SCRATCH_ROOT}/snapshot_model_part_{seed}"
    shutil.rmtree(table_dir, ignore_errors=True)
    t = 0
    state: dict[int, tuple] = {}  # k -> (k, v, o, p): the upsert model
    hist: dict[int, list] = {}  # version -> sorted expected rows
    n_deletes = 0

    def pcol(k: int) -> int:
        return k % 3  # stable function of the key — the documented contract

    v = None
    for step in range(16):
        prev = read_manifest(table_dir, v) if v is not None else None
        if prev is not None and state and rng.random() < 0.3:
            ks = sorted(rng.sample(sorted(state), min(len(state), rng.randint(1, 2))))
            v = snapshot_delete(
                spark, table_dir, spark.createDataFrame([(k,) for k in ks], "k long"), ["k"]
            )
            n_deletes += 1
            for k in ks:
                del state[k]
            touched = None
        else:
            b = []
            for _ in range(rng.randint(1, 4)):
                t += 1
                k = rng.choice(KEYS)
                b.append((k, rng.randrange(1000), t, pcol(k)))
            df = spark.createDataFrame(b, "k long, v long, o long, p long")
            v = snapshot_merge_partitioned(
                spark, table_dir, df, key_cols=["k"], order_cols=["o"],
                partition_col="p",
            )
            for r in b:  # batch o values are increasing within the batch too
                if r[0] not in state or r[2] > state[r[0]][2]:
                    state[r[0]] = r
            touched = {pcol(r[0]) for r in b}
        hist[v] = sorted(state.values())
        got = sorted(
            tuple(r)
            for r in snapshot_read_partitioned(spark, table_dir).collect()
        )
        assert got == hist[v], f"seed {seed} step {step}: full read != model"
        probe = rng.choice([0, 1, 2])
        pruned = snapshot_read_partitioned(spark, table_dir, values=[probe])
        assert sorted(tuple(r) for r in pruned.collect()) == [
            r for r in hist[v] if r[3] == probe
        ]
        now = read_manifest(table_dir, v)
        scanned = _partition_files(now, "p", probe) + now.get("tombstones", [])
        assert all(any(u.endswith(f) for f in scanned) for u in pruned.inputFiles())
        if touched is None or prev is None:
            continue
        assert not now.get("tombstones"), f"step {step}: tombstones not folded"
        if prev.get("tombstones"):
            assert not set(now["files"]) & set(prev["files"]), (
                f"step {step}: a file with pending deletes was carried"
            )
            continue
        for part in (0, 1, 2):
            if part not in touched:
                assert _partition_files(now, "p", part) == _partition_files(
                    prev, "p", part
                ), f"step {step}: untouched partition {part} was rewritten"
        for f in set(now["files"]) - set(prev["files"]):
            (lo, hi) = now["file_stats"][f]["p"]
            assert lo == hi and lo in touched, f"step {step}: {f} rewritten"
    assert n_deletes >= 2, "the walk must exercise deletes"

    # time travel across the whole chain, then vacuum and re-check the tail
    for w, expect in hist.items():
        got = sorted(
            tuple(r)
            for r in snapshot_read_partitioned(spark, table_dir, version=w).collect()
        )
        assert got == expect, f"v{w} drifted"
    snapshot_vacuum(table_dir, keep_last=3)
    for w in sorted(hist)[-3:]:
        got = sorted(
            tuple(r)
            for r in snapshot_read_partitioned(spark, table_dir, version=w).collect()
        )
        assert got == hist[w]
    shutil.rmtree(table_dir, ignore_errors=True)


@pytest.mark.parametrize("seed", [31])
def test_group_commit_walk_reads_are_always_mutually_consistent(spark, seed):
    """Model walk over the GROUP (multi-table family) layer — the third
    commit path beside flat and partitioned tables: random interleavings
    of member-scoped maintenance ("append": one member advances) and
    family-wide rebuilds ("retrain": every member advances), committed
    through the optimistic group protocol. After every group commit the
    manifest must equal the model member-map, every group time-travel
    read of every member must return the member content AT THE PINNED
    VERSION (never a newer table version that landed after the group —
    the mixed-epoch hazard the layer exists to kill), and group numbers
    are gapless."""
    import random as _random

    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_group,
        read_group_manifest,
        snapshot_commit_group_optimistic,
        snapshot_read_group,
        snapshot_write,
    )

    rng = _random.Random(seed)
    root = f"{SCRATCH_ROOT}/group_model_walk_{seed}"
    shutil.rmtree(root, ignore_errors=True)
    names = ["a", "b", "c"]
    t = 0

    def fresh_rows():
        nonlocal t
        t += 1
        return [(t, rng.randrange(1000), t)]

    # per member: version -> expected rows; and current version
    content = {n: {} for n in names}
    cur = {}
    for n in names:
        rows = fresh_rows()
        v = snapshot_write(spark, f"{root}/{n}", _df(spark, rows))
        content[n][v] = sorted(rows)
        cur[n] = v
    g = snapshot_commit_group_optimistic(
        root, lambda base, mem: dict(cur), operation="train"
    )
    groups = {g: dict(cur)}

    for step in range(10):
        if rng.random() < 0.6:  # member maintenance: one table advances
            n = rng.choice(names)
            rows = fresh_rows()
            v = snapshot_write(
                spark, f"{root}/{n}", _df(spark, rows), base_version=cur[n]
            )
            content[n][v] = sorted(rows)
            cur[n] = v
            g = snapshot_commit_group_optimistic(
                root, lambda base, mem, n=n, v=v: {**mem, n: v},
                operation="append",
            )
        else:  # family rebuild: every member advances together
            for n in names:
                rows = fresh_rows()
                v = snapshot_write(
                    spark, f"{root}/{n}", _df(spark, rows), base_version=cur[n]
                )
                content[n][v] = sorted(rows)
                cur[n] = v
            g = snapshot_commit_group_optimistic(
                root, lambda base, mem: dict(cur), operation="retrain"
            )
        groups[g] = dict(cur)
        assert latest_group(root) == g
        assert read_group_manifest(root, g)["members"] == groups[g]

    assert sorted(groups) == list(range(len(groups))), "group numbers must be gapless"
    # time travel: every group pins every member to ITS version's content,
    # regardless of the table commits that landed in later groups
    for gv, members in groups.items():
        for n in names:
            got = sorted(
                tuple(r)
                for r in snapshot_read_group(spark, root, n, group=gv).collect()
            )
            assert got == content[n][members[n]], (
                f"seed {seed} g{gv} member {n}: mixed-epoch read"
            )
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("seed", [7])
def test_snapshot_crash_injection_walk(spark, seed, monkeypatch):
    """Crash-injection walk over the same op set: every committing op
    passes through exactly two _fsync_replace calls (manifest, pointer),
    and a crash at ANY of the four points — before either write, or
    after writing the ._tmp but before the atomic replace — must leave
    the table byte-for-byte at the previous version AND leave no state
    that poisons an immediate retry of the same op. The directed suite
    pins three of these points once each; this walk composes all four
    with every op type and proves retryability, not just invisibility."""
    import random as _random

    from petfinder_database_distributor_spark.sources import snapshot as snap

    rng = _random.Random(seed)
    table_dir = f"{SCRATCH_ROOT}/snapshot_crash_walk_{seed}"
    shutil.rmtree(table_dir, ignore_errors=True)
    real_fsync_replace = snap._fsync_replace
    t = 0

    def batch(n):
        nonlocal t
        out = []
        for _ in range(n):
            t += 1
            out.append((rng.choice(KEYS), rng.randrange(1000), t))
        return out

    first = batch(4)
    v = snapshot_write(spark, table_dir, _df(spark, first))
    model = {v: (list(first), set())}

    def inject(crash_call: int, torn: bool):
        state = {"n": 0}

        def crashing(tmp_path, final_path, payload):
            state["n"] += 1
            if state["n"] == crash_call:
                if torn:  # write the tmp, die before the atomic replace
                    with open(tmp_path, "w") as fh:
                        fh.write(payload)
                raise OSError("injected crash")
            return real_fsync_replace(tmp_path, final_path, payload)

        monkeypatch.setattr(snap, "_fsync_replace", crashing)

    for step in range(16):
        rows, tombs = model[v]
        op = rng.choice(["append", "merge", "delete", "compact", "restore"])
        b = batch(rng.randint(1, 3))
        ks = sorted(rng.sample(KEYS, rng.randint(1, 2)))
        tv = rng.choice(sorted(model))

        def run():
            if op == "append":
                return snapshot_append(spark, table_dir, _df(spark, b))
            if op == "merge":
                return snapshot_merge(
                    spark, table_dir, _df(spark, b), key_cols=["k"], order_cols=["o"]
                )
            if op == "delete":
                return snapshot_delete(
                    spark,
                    table_dir,
                    spark.createDataFrame([(k,) for k in ks], "k long"),
                    ["k"],
                )
            if op == "compact":
                return snapshot_compact(spark, table_dir, target_files=1)
            return snapshot_restore(table_dir, tv)

        if rng.random() < 0.6:  # crash this op at a random point, then retry
            inject(crash_call=rng.randint(1, 2), torn=rng.random() < 0.5)
            with pytest.raises(OSError, match="injected"):
                run()
            monkeypatch.setattr(snap, "_fsync_replace", real_fsync_replace)
            assert snap.latest_version(table_dir) == v, "crash must be invisible"
            assert _read(spark, table_dir) == _visible(rows, tombs), (
                f"seed {seed} step {step} op {op}: crashed op leaked state"
            )
        nv = run()  # the retry (or the uninjected op) must land cleanly
        assert nv == v + 1
        if op == "append":
            model[nv] = (rows + b, set(tombs))
        elif op == "merge":
            model[nv] = (_winner(_visible(rows, tombs) + b), set())
        elif op == "delete":
            model[nv] = (list(rows), tombs | set(ks))
        elif op == "compact":
            model[nv] = (_visible(rows, tombs), set())
        else:
            trows, ttombs = model[tv]
            model[nv] = (list(trows), set(ttombs))
        v = nv
        assert _read(spark, table_dir) == _visible(*model[v]), (
            f"seed {seed} step {step} op {op} v{v}: retry diverged from model"
        )

    # the crash debris (orphan manifests/tmps/staged dirs) must not
    # confuse retention: vacuum still serves the retained tail exactly
    snapshot_vacuum(table_dir, keep_last=3)
    for w in sorted(model)[-3:]:
        assert _read(spark, table_dir, w) == _visible(*model[w])
    shutil.rmtree(table_dir, ignore_errors=True)
