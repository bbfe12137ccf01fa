"""Manifest-committed snapshots: the commit must be all-or-nothing at every
intermediate crash point, old versions must stay readable (time travel /
serving-during-rewrite), and concurrent writers must conflict loudly
instead of clobbering each other."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.sources.snapshot import (
    SnapshotConflictError,
    latest_version,
    read_manifest,
    snapshot_merge,
    snapshot_read,
    snapshot_write,
)
from petfinder_database_distributor_spark.streaming.incremental import SCRATCH_ROOT


@pytest.fixture()
def table_dir():
    d = f"{SCRATCH_ROOT}/snaptest"
    shutil.rmtree(d, ignore_errors=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


def _as_dict(df):
    return {r["k"]: r["v"] for r in df.collect()}


def test_write_read_roundtrip_and_versions(spark, table_dir):
    v0 = snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    v1 = snapshot_write(
        spark, table_dir, _rows(spark, [(1, "a2"), (3, "c")]), base_version=v0
    )
    assert (v0, v1) == (0, 1)
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a2", 3: "c"}
    # time travel: the superseded snapshot is intact, not rewritten
    assert _as_dict(snapshot_read(spark, table_dir, version=0)) == {1: "a", 2: "b"}


def test_merge_keeps_winner_and_old_snapshot_serves(spark, table_dir):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "old"), (2, "keep")]))
    old_reader = snapshot_read(spark, table_dir)  # resolved BEFORE the merge
    snapshot_merge(
        spark,
        table_dir,
        _rows(spark, [(1, "znew"), (3, "ins")]),
        key_cols=["k"],
        order_cols=["v"],
    )
    assert _as_dict(snapshot_read(spark, table_dir)) == {
        1: "znew",
        2: "keep",
        3: "ins",
    }
    # the reference's serving-during-rewrite guarantee at table level: a
    # reader that resolved the old manifest keeps its exact file list
    assert _as_dict(old_reader) == {1: "old", 2: "keep"}


def test_crash_before_any_metadata_is_invisible(spark, table_dir):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    # crash point 1: data files of the next version landed, no manifest,
    # no pointer — simulate by writing the directory Spark would write
    df = _rows(spark, [(9, "torn")])
    df.write.mode("overwrite").parquet(os.path.join(table_dir, "data", "v1"))
    assert latest_version(table_dir) == 0
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a"}


def test_crash_after_manifest_before_pointer_is_invisible(spark, table_dir):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    df = _rows(spark, [(9, "torn")])
    df.write.mode("overwrite").parquet(os.path.join(table_dir, "data", "v1"))
    files = sorted(
        f"data/v1/{n}"
        for n in os.listdir(os.path.join(table_dir, "data", "v1"))
        if n.endswith(".parquet")
    )
    with open(os.path.join(table_dir, "_manifests", "v1.json"), "w") as fh:
        json.dump({"version": 1, "files": files, "n_files": len(files), "columns": ["k", "v"]}, fh)
    # crash point 2: manifest committed, pointer swap never happened
    assert latest_version(table_dir) == 0
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a"}
    # recovery: the NEXT writer claims version 1's slot is taken — it must
    # still commit correctly as a later version over the true latest
    v = snapshot_write(spark, table_dir, _rows(spark, [(2, "b")]), base_version=0)
    assert v == 1  # orphaned attempt is overwritten (mode=overwrite)
    assert _as_dict(snapshot_read(spark, table_dir)) == {2: "b"}


def test_torn_pointer_tmp_is_invisible(spark, table_dir):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    # crash point 3: mid-write of the pointer tmp (truncated content) —
    # os.replace never ran, so readers never open the tmp
    with open(os.path.join(table_dir, "_latest._tmp"), "w") as fh:
        fh.write("9")  # truncated/garbage staging content
    assert latest_version(table_dir) == 0
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a"}


def test_concurrent_writer_conflicts_loudly(spark, table_dir):
    v0 = snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    # writer A and writer B both read v0; A commits first
    snapshot_write(spark, table_dir, _rows(spark, [(1, "A")]), base_version=v0)
    with pytest.raises(SnapshotConflictError, match="advanced to v1"):
        snapshot_write(spark, table_dir, _rows(spark, [(1, "B")]), base_version=v0)
    # loser retries on fresh state and succeeds
    v2 = snapshot_write(
        spark, table_dir, _rows(spark, [(1, "B2")]), base_version=latest_version(table_dir)
    )
    assert v2 == 2 and _as_dict(snapshot_read(spark, table_dir)) == {1: "B2"}


def test_reader_uses_manifest_not_directory_listing(spark, table_dir):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    man = read_manifest(table_dir, 0)
    # plant an alien parquet file INSIDE the live data dir: a listing-based
    # reader would pick it up; the manifest-based reader must not
    alien = _rows(spark, [(666, "alien")])
    alien.write.mode("overwrite").parquet(os.path.join(table_dir, "data", "v0", "alien"))
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a"}
    assert read_manifest(table_dir, 0) == man


def test_merge_is_idempotent_on_replay(spark, table_dir):
    """At-least-once delivery: replaying the same batch produces a new
    version with IDENTICAL content (same winner rule as upsert_merge)."""
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    batch = _rows(spark, [(2, "z"), (3, "c")])
    snapshot_merge(spark, table_dir, batch, key_cols=["k"], order_cols=["v"])
    first = _as_dict(snapshot_read(spark, table_dir))
    snapshot_merge(spark, table_dir, batch, key_cols=["k"], order_cols=["v"])
    assert _as_dict(snapshot_read(spark, table_dir)) == first


def test_stream_merge_commits_one_version_per_batch(spark):
    """The registered streaming query routes every micro-batch through
    snapshot_merge: with 4 staged chunks at 2 files/trigger, the committed
    chain must be exactly versions {0, 1}, every prefix must stay readable
    (the audit-log / time-travel property), and per-user rows must be the
    content-ordered winner at each version."""
    from petfinder_database_distributor_spark.registry import load_all
    from petfinder_database_distributor_spark.sources.snapshot import (
        latest_version,
        snapshot_read,
    )
    from petfinder_database_distributor_spark.streaming.incremental import (
        SCRATCH_ROOT,
    )
    from tests.conftest import SF_SMALL

    final = load_all()["stream_snapshot_merge"].fn(spark, SF_SMALL)
    n_final = final.count()
    tag = SF_SMALL.strip("/").replace("/", "_").replace(".", "_")
    table_dir = f"{SCRATCH_ROOT}/run_snapmerge_{tag}/table"
    assert latest_version(table_dir) == 1, "4 chunks / 2 per trigger = 2 commits"
    v0 = snapshot_read(spark, table_dir, version=0)
    assert 0 < v0.count() <= n_final, "the first trigger's snapshot must persist"
    # v0 is itself a merged table: one row per user
    assert v0.groupBy("user_id").count().filter("count > 1").count() == 0


def test_compaction_preserves_content_and_old_readers(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        read_manifest,
        snapshot_compact,
    )

    # many-file version: one file per row via repartition
    df = _rows(spark, [(i, f"v{i}") for i in range(8)]).repartition(8)
    snapshot_write(spark, table_dir, df)
    before = read_manifest(table_dir, 0)
    assert before["n_files"] > 1, "fixture must actually be fragmented"
    old_reader = snapshot_read(spark, table_dir)  # pre-compaction file list
    v = snapshot_compact(spark, table_dir, target_files=1)
    after = read_manifest(table_dir, v)
    assert after["n_files"] == 1
    assert _as_dict(snapshot_read(spark, table_dir)) == {
        i: f"v{i}" for i in range(8)
    }, "compaction must not change content"
    assert _as_dict(old_reader) == {i: f"v{i}" for i in range(8)}
    assert read_manifest(table_dir, 0) == before, "old version untouched"


def test_vacuum_bounds_retention_keeps_serving(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_vacuum,
    )

    for i in range(4):  # versions 0..3
        snapshot_write(
            spark, table_dir, _rows(spark, [(1, f"v{i}")]),
            base_version=(i - 1) if i else None,
        )
    gone = snapshot_vacuum(table_dir, keep_last=2)
    assert gone == [0, 1]
    # retained versions serve; vacuumed ones fail cleanly
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "v3"}
    assert _as_dict(snapshot_read(spark, table_dir, version=2)) == {1: "v2"}
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, table_dir, version=0)
    # idempotent; keep_last clamps so the current version is never eligible
    assert snapshot_vacuum(table_dir, keep_last=2) == []
    assert snapshot_vacuum(table_dir, keep_last=0) == [2]
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "v3"}
    # the next commit after a vacuum continues the version chain
    v = snapshot_write(spark, table_dir, _rows(spark, [(1, "v4")]), base_version=3)
    assert v == 4


def test_first_writer_race_conflicts_too(spark, table_dir):
    """base_version=None is a claim ('I read an empty table'), not a
    bypass: a first writer that lost the race to another first writer must
    conflict instead of silently replacing the winner's v0."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        SnapshotConflictError,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "winner")]))
    with pytest.raises(SnapshotConflictError, match="read empty"):
        snapshot_write(spark, table_dir, _rows(spark, [(1, "loser")]))
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "winner"}


def _prows(spark, triples):
    return spark.createDataFrame(triples, "k long, v string, pt long")


def _partition_files(manifest, col, value):
    """The files of ``manifest`` whose zone map on ``col`` is ``value``
    alone: one partition's files, in manifest order."""
    stats = manifest.get("file_stats", {})
    return [f for f in manifest["files"] if stats.get(f, {}).get(col) == [value, value]]


def test_partitioned_merge_reuses_unaffected_files(spark, table_dir):
    """The O(changed-partitions) claim, checked at manifest level: the
    manifest is one flat file list whose files each hold one partition
    value, recorded as their zone map. A merge touching only partition 1
    must (a) carry partition 0's and 2's files forward VERBATIM, zone
    maps included, (b) write new files only for partition 1, and (c)
    read back as the correct full merge."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        read_manifest,
        snapshot_merge_partitioned,
        snapshot_read_partitioned,
    )

    base = _prows(
        spark,
        [(1, "a", 0), (2, "b", 0), (3, "c", 1), (4, "d", 2)],
    )
    snapshot_merge_partitioned(
        spark, table_dir, base, key_cols=["k"], order_cols=["v"],
        partition_col="pt",
    )
    m0 = read_manifest(table_dir, 0)
    batch = _prows(spark, [(3, "z", 1), (5, "e", 1)])  # only partition 1
    v = snapshot_merge_partitioned(
        spark, table_dir, batch, key_cols=["k"], order_cols=["v"],
        partition_col="pt",
    )
    m1 = read_manifest(table_dir, v)
    assert "partitions" not in m0 and m0["partition_col"] == "pt"
    assert sorted(m0["files"]) == sorted(
        f for val in (0, 1, 2) for f in _partition_files(m0, "pt", val)
    ), "every file holds one partition value"
    assert _partition_files(m1, "pt", 0) == _partition_files(m0, "pt", 0), "p0 files reused"
    assert _partition_files(m1, "pt", 2) == _partition_files(m0, "pt", 2), "p2 files reused"
    p1 = _partition_files(m1, "pt", 1)
    assert p1 != _partition_files(m0, "pt", 1), "p1 rewritten"
    assert all(f.startswith("data/v1/") for f in p1)
    assert set(m1["files"]) - set(m0["files"]) == set(p1), "only p1 is new"
    got = {
        r["k"]: (r["v"], r["pt"])
        for r in snapshot_read_partitioned(spark, table_dir).collect()
    }
    assert got == {
        1: ("a", 0), 2: ("b", 0), 3: ("z", 1), 4: ("d", 2), 5: ("e", 1)
    }


def test_partitioned_read_prunes_at_manifest_level(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_merge_partitioned,
        snapshot_read_partitioned,
    )

    snapshot_merge_partitioned(
        spark, table_dir,
        _prows(spark, [(1, "a", 0), (3, "c", 1), (4, "d", 2)]),
        key_cols=["k"], order_cols=["v"], partition_col="pt",
    )
    pruned = snapshot_read_partitioned(spark, table_dir, values=[1])
    assert {r["k"] for r in pruned.collect()} == {3}
    # the pruned scan's file list must not mention other partitions
    files = pruned.inputFiles()
    assert files and all("/1/" in f for f in files), files
    # empty selection keeps the schema
    empty = snapshot_read_partitioned(spark, table_dir, values=[99])
    assert empty.columns == ["k", "v", "pt"] and empty.count() == 0


def test_partitioned_merge_keeps_deleted_keys_deleted(spark, table_dir):
    """A partition-scoped merge on a base with tombstones folds them: a
    key deleted and then left untouched by later merges stays deleted,
    and the files that held it are not carried forward with their
    deletes dropped."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_merge_partitioned,
        snapshot_read_partitioned,
    )

    def merge(rows):
        return snapshot_merge_partitioned(
            spark, table_dir, _prows(spark, rows),
            key_cols=["k"], order_cols=["v"], partition_col="pt",
        )

    merge([(1, "a", 0), (2, "b", 0), (3, "c", 1)])
    snapshot_delete(spark, table_dir, spark.createDataFrame([(1,)], "k long"), ["k"])
    v = merge([(3, "z", 1)])
    m = read_manifest(table_dir, v)
    assert not m.get("tombstones")
    got = {r["k"]: r["v"] for r in snapshot_read_partitioned(spark, table_dir).collect()}
    assert got == {2: "b", 3: "z"}, "deleted key 1 came back"
    v = merge([(3, "zz", 1)])  # no tombstones now: partition 0 is carried
    assert _partition_files(read_manifest(table_dir, v), "pt", 0) == _partition_files(
        m, "pt", 0
    )
    assert _as_dict(snapshot_read(spark, table_dir)) == {2: "b", 3: "zz"}


def test_date_zone_maps_commit_and_prune(spark, table_dir):
    """Zone maps of date columns are stored as ISO text, and probes go
    through the same conversion: a date-partitioned table commits,
    prunes by date and reads back every row. A column whose bounds have
    no JSON form (decimal) gets no zone map, so pruning keeps its
    files."""
    import datetime
    from decimal import Decimal

    from petfinder_database_distributor_spark.sources.snapshot import (
        prune_files,
        prune_values,
        snapshot_merge_partitioned,
        snapshot_read_partitioned,
    )

    days = [datetime.date(2024, 1, d) for d in (1, 2, 3)]
    rows = [(k, f"v{k}", days[k % 3], Decimal(k)) for k in range(12)]
    df = spark.createDataFrame(rows, "k long, v string, d date, amount decimal(10,0)")
    snapshot_merge_partitioned(
        spark, table_dir, df, key_cols=["k"], order_cols=["v"], partition_col="d"
    )
    m = read_manifest(table_dir, 0)
    assert sorted({tuple(m["file_stats"][f]["d"]) for f in m["files"]}) == [
        (d.isoformat(), d.isoformat()) for d in days
    ]
    one = snapshot_read_partitioned(spark, table_dir, values=[days[1]])
    assert sorted(r["k"] for r in one.collect()) == [1, 4, 7, 10]
    assert all(any(u.endswith(f) for f in _partition_files(m, "d", "2024-01-02"))
               for u in one.inputFiles())
    got = snapshot_read_partitioned(spark, table_dir).collect()
    assert sorted(tuple(r) for r in got) == sorted(rows)
    assert len(prune_files(m, "d", days[2], None)) == len(
        _partition_files(m, "d", "2024-01-03")
    )
    # a flat write with date, timestamp and decimal zone maps commits too
    flat_df = df.withColumn("ts", F.col("d").cast("timestamp")).coalesce(1)
    snapshot_write(spark, f"{table_dir}_flat", flat_df, stats_cols=["d", "amount", "ts"])
    flat = read_manifest(f"{table_dir}_flat", 0)
    (f,) = flat["files"]
    assert flat["file_stats"][f]["d"] == ["2024-01-01", "2024-01-03"]
    assert "amount" not in flat["file_stats"][f]
    late = prune_files(flat, "ts", datetime.datetime(2025, 1, 1), None)
    assert late == ([] if "ts" in flat["file_stats"][f] else [f])
    assert prune_values(flat, "amount", [Decimal(5)]) == [f]
    assert prune_values(flat, "d", [datetime.date(2024, 2, 1)]) == []
    assert snapshot_read(spark, f"{table_dir}_flat").count() == 12
    shutil.rmtree(f"{table_dir}_flat", ignore_errors=True)


def test_zone_maps_are_a_table_property(spark, table_dir):
    """``stats_cols`` given to a write is recorded in the manifest, and
    every later rewrite collects zone maps for its new files from it: a
    merge and a compaction keep pruning alive. A table that declares
    none records none."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        prune_files,
        snapshot_compact,
        snapshot_merge,
    )

    df = spark.range(400).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    snapshot_write(spark, table_dir, df.repartitionByRange(4, "k"), stats_cols=["k"])
    v = snapshot_merge(spark, table_dir, _rows(spark, [(5, "x")]), ["k"], ["v"])
    m = read_manifest(table_dir, v)
    assert m["stats_cols"] == ["k"] and set(m["file_stats"]) == set(m["files"])
    v = snapshot_compact(spark, table_dir, target_files=1)
    m = read_manifest(table_dir, v)
    assert m["stats_cols"] == ["k"] and set(m["file_stats"]) == set(m["files"])
    assert prune_files(m, "k", 1000, 2000) == []
    plain = f"{table_dir}_plain"
    snapshot_write(spark, plain, df)
    v = snapshot_merge(spark, plain, _rows(spark, [(5, "x")]), ["k"], ["v"])
    assert "stats_cols" not in read_manifest(plain, v)
    assert "file_stats" not in read_manifest(plain, v)
    shutil.rmtree(plain, ignore_errors=True)


def test_vacuum_preserves_files_reused_by_retained_manifests(spark, table_dir):
    """The file-sharing hazard: after two partition-scoped merges, v2's
    manifest still points into data/v0/ for never-touched partitions —
    vacuuming v0 and v1 must delete only UNREFERENCED files and the
    latest version must remain fully readable."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_merge_partitioned,
        snapshot_read_partitioned,
        snapshot_vacuum,
    )

    snapshot_merge_partitioned(
        spark, table_dir,
        _prows(spark, [(1, "a", 0), (3, "c", 1), (4, "d", 2)]),
        key_cols=["k"], order_cols=["v"], partition_col="pt",
    )
    for i, val in enumerate(["x", "y"]):  # v1, v2 touch only partition 1
        snapshot_merge_partitioned(
            spark, table_dir, _prows(spark, [(3, val, 1)]),
            key_cols=["k"], order_cols=["v"], partition_col="pt",
        )
    gone = snapshot_vacuum(table_dir, keep_last=1)
    assert gone == [0, 1]
    got = {
        r["k"]: r["v"]
        for r in snapshot_read_partitioned(spark, table_dir).collect()
    }
    assert got == {1: "a", 3: "y", 4: "d"}, "reused v0 files must survive"
    import os as _os

    v0 = f"{table_dir}/data/v0"
    remaining = [f for _r, _d, fs in _os.walk(v0) for f in fs]
    assert remaining, "partitions 0/2 still live in v0's directory"


def test_late_racer_fails_at_commit_without_clobbering(spark, table_dir):
    """The entry check alone is check-then-act
    across the whole Spark write. A racer that passed the entry check,
    finished its data write into its own unique directory, and only then
    reaches the metadata commit must fail THERE — and the winner's
    committed files must be byte-for-byte untouched."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        _commit_metadata,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "base")]))  # v0
    # writers A and B both read v0; A commits v1 first
    snapshot_write(spark, table_dir, _rows(spark, [(1, "A")]), base_version=0)
    winner_files = read_manifest(table_dir, 1)["files"]
    # B's Spark write already landed — in B's OWN unique directory, so
    # nothing of A's is overwritten no matter the interleaving
    sub = os.path.join(table_dir, "data", "v1", "racertoken")
    _rows(spark, [(1, "B")]).write.mode("overwrite").parquet(sub)
    b_manifest = {
        "version": 1,
        "files": sorted(
            f"data/v1/racertoken/{n}"
            for n in os.listdir(sub)
            if n.endswith(".parquet")
        ),
        "n_files": 1,
        "columns": ["k", "v"],
    }
    with pytest.raises(SnapshotConflictError, match="advanced to v1"):
        _commit_metadata(table_dir, 1, 0, b_manifest)
    # the winner's commit is fully intact: same manifest, same files, same rows
    assert read_manifest(table_dir, 1)["files"] == winner_files
    assert all(os.path.exists(os.path.join(table_dir, f)) for f in winner_files)
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "A"}


def test_same_version_writers_use_distinct_data_dirs(spark, table_dir):
    """Two sequential commits never share a data directory, and each
    version's files live under a writer-unique token subdirectory — the
    structural property that makes the race above unable to clobber."""
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    snapshot_write(spark, table_dir, _rows(spark, [(1, "b")]), base_version=0)
    f0 = read_manifest(table_dir, 0)["files"][0]
    f1 = read_manifest(table_dir, 1)["files"][0]
    # layout: data/v{N}/{token}/part-*.parquet
    assert f0.split("/")[:2] == ["data", "v0"] and len(f0.split("/")) == 4
    assert f1.split("/")[:2] == ["data", "v1"] and len(f1.split("/")) == 4


def test_partitioned_write_rejects_null_partition_values(spark, table_dir):
    """NULL partition values would vanish silently (col == None is SQL
    NULL, matches nothing). The writer must refuse the commit loudly
    instead."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_write_partitioned,
    )

    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", None)], "k long, v string, pt long"
    )
    with pytest.raises(ValueError, match="NULL 'pt'"):
        snapshot_write_partitioned(spark, table_dir, df, "pt")
    assert latest_version(table_dir) is None, "nothing may be committed"


def test_vacuum_reclaims_shared_files_after_referencing_manifests_expire(
    spark, table_dir
):
    """A file that survived an earlier vacuum
    because a then-retained manifest referenced it must STILL be
    reclaimable after that referencing manifest itself expires — the walk
    is keyed off the data directory's existence, not the (long-gone)
    manifest's."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_merge_partitioned,
        snapshot_vacuum,
    )

    full = _prows(spark, [(1, "a", 0), (3, "c", 1), (4, "d", 2)])
    snapshot_merge_partitioned(  # v0: all three partitions
        spark, table_dir, full, key_cols=["k"], order_cols=["v"],
        partition_col="pt",
    )
    for val in ("x", "y"):  # v1, v2: touch only partition 1
        snapshot_merge_partitioned(
            spark, table_dir, _prows(spark, [(3, val, 1)]),
            key_cols=["k"], order_cols=["v"], partition_col="pt",
        )
    # v3 rewrites every partition → references no v0 files at all
    snapshot_merge_partitioned(
        spark, table_dir,
        _prows(spark, [(1, "a2", 0), (3, "z", 1), (4, "d2", 2)]),
        key_cols=["k"], order_cols=["v"], partition_col="pt",
    )
    # first vacuum: v0's manifest expires but its p0/p2 files survive
    # (retained v2 still points at them)
    assert snapshot_vacuum(table_dir, keep_last=2) == [0, 1]
    v0 = os.path.join(table_dir, "data", "v0")
    assert [f for _r, _d, fs in os.walk(v0) for f in fs], "shared files kept"
    # second vacuum: v2 expires too — NOW v0's files are unreferenced and
    # must be reclaimed even though v0's manifest is long gone
    assert snapshot_vacuum(table_dir, keep_last=1) == [2]
    assert not [f for _r, _d, fs in os.walk(v0) for f in fs], (
        "files shared into expired manifests must not leak forever"
    )


def test_read_of_zero_file_manifest_fails_cleanly(spark, table_dir):
    """A committed version whose manifest lists no
    parquet files (an empty-DataFrame commit can emit zero part files)
    must raise the same clean empty-table error as the partitioned
    reader, not an unrelated Spark no-paths failure."""
    os.makedirs(os.path.join(table_dir, "_manifests"))
    with open(os.path.join(table_dir, "_manifests", "v0.json"), "w") as fh:
        json.dump({"version": 0, "files": [], "n_files": 0, "columns": ["k"]}, fh)
    with open(os.path.join(table_dir, "_latest"), "w") as fh:
        fh.write("0")
    with pytest.raises(FileNotFoundError, match="no data files"):
        snapshot_read(spark, table_dir)


def test_tombstone_delete_reuses_files_and_hides_rows(spark, table_dir):
    """Merge-on-read deletes: the delete commit must reuse every data
    file unchanged (manifest-level check), the new version's read must
    exclude the keys, and time travel to the pre-delete version must
    still serve them."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(i, f"v{i}") for i in range(6)]))
    m0 = read_manifest(table_dir, 0)
    keys = spark.createDataFrame([(1,), (4,)], "k long")
    v = snapshot_delete(spark, table_dir, keys, key_cols=["k"])
    m1 = read_manifest(table_dir, v)
    assert m1["files"] == m0["files"], "delete must not rewrite data files"
    assert len(m1["tombstones"]) >= 1 and m1["key_cols"] == ["k"]
    assert set(_as_dict(snapshot_read(spark, table_dir))) == {0, 2, 3, 5}
    assert set(_as_dict(snapshot_read(spark, table_dir, version=0))) == set(range(6))


def test_delete_of_repeated_keys_is_one_job_and_one_file(spark, table_dir):
    """A ``keys_df`` that names every key twice deletes the same rows as
    naming each once, through the Spark reader and the Spark-free one,
    and the delete commits one tombstone file in one Spark job: the keys
    are not deduplicated with a shuffle."""
    from bench import count_jobs
    from petfinder_database_distributor_spark.serving.http_server import (
        load_snapshot_rows,
    )
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
    )

    snapshot_write(
        spark, table_dir,
        spark.range(2000).select(F.col("id").alias("k"), F.col("id").cast("string").alias("v")),
    )
    keys = spark.range(0, 2000, 10).select(F.col("id").alias("k"))
    v, jobs = count_jobs(
        spark, lambda: snapshot_delete(spark, table_dir, keys.unionAll(keys), ["k"])
    )
    assert jobs == 1
    assert len(read_manifest(table_dir, v)["tombstones"]) == 1
    live = set(range(2000)) - set(range(0, 2000, 10))
    assert set(_as_dict(snapshot_read(spark, table_dir))) == live
    assert {r["k"] for r in load_snapshot_rows(table_dir)} == live


def test_tombstone_read_builds_without_a_job(spark, table_dir):
    """Building the read of a version with tombstones is lazy: the
    tombstone scan gets its schema from one footer read on the driver,
    not from Spark's inference, which would launch a job before any
    action. The action itself runs in the same group, so the group is
    really tracked."""
    import uuid

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(i, f"v{i}") for i in range(4)]))
    snapshot_delete(spark, table_dir, spark.createDataFrame([(2,)], "k long"), ["k"])
    snapshot_delete(spark, table_dir, spark.createDataFrame([(3,)], "k long"), ["k"])
    sc = spark.sparkContext
    group = f"tombstone-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = snapshot_read(spark, table_dir)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert set(_as_dict(df)) == {0, 1}
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001 -- not exposed on the Python SparkContext


def test_tombstones_accumulate_and_compaction_folds_them(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_delete,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(i, f"v{i}") for i in range(6)]))
    snapshot_delete(spark, table_dir, spark.createDataFrame([(0,)], "k long"), ["k"])
    snapshot_delete(spark, table_dir, spark.createDataFrame([(5,)], "k long"), ["k"])
    m2 = read_manifest(table_dir, 2)
    assert len(m2["tombstones"]) == 2, "delete commits accumulate tombstones"
    assert set(_as_dict(snapshot_read(spark, table_dir))) == {1, 2, 3, 4}
    # compaction folds the deletes into fresh files and clears tombstones
    v = snapshot_compact(spark, table_dir, target_files=1)
    m3 = read_manifest(table_dir, v)
    assert "tombstones" not in m3 and m3["files"] != m2["files"]
    assert set(_as_dict(snapshot_read(spark, table_dir))) == {1, 2, 3, 4}
    # key_cols mismatch on a tombstoned chain is refused loudly
    snapshot_delete(spark, table_dir, spark.createDataFrame([(2,)], "k long"), ["k"])
    with pytest.raises(ValueError, match="key_cols mismatch"):
        snapshot_delete(
            spark, table_dir, spark.createDataFrame([("x",)], "v string"), ["v"]
        )


def test_merge_after_delete_respects_and_can_resurrect(spark, table_dir):
    """A merge folds tombstones (deleted rows stay gone) — but an UPDATE
    for a deleted key re-inserts it: deletion removes rows, it does not
    ban keys."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    snapshot_delete(spark, table_dir, spark.createDataFrame([(1,)], "k long"), ["k"])
    snapshot_merge(
        spark, table_dir, _rows(spark, [(3, "c")]), key_cols=["k"], order_cols=["v"]
    )
    assert _as_dict(snapshot_read(spark, table_dir)) == {2: "b", 3: "c"}
    snapshot_merge(
        spark, table_dir, _rows(spark, [(1, "reborn")]),
        key_cols=["k"], order_cols=["v"],
    )
    assert _as_dict(snapshot_read(spark, table_dir)) == {
        1: "reborn", 2: "b", 3: "c",
    }


def test_vacuum_respects_carried_forward_tombstones(spark, table_dir):
    """A tombstone file is committed once but referenced by every later
    delete-chain manifest: vacuum must keep it while ANY retained
    manifest lists it, and reclaim it after the chain is compacted
    away."""
    import os as _os

    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_compact,
        snapshot_delete,
        snapshot_vacuum,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(i, f"v{i}") for i in range(6)]))
    snapshot_delete(spark, table_dir, spark.createDataFrame([(0,)], "k long"), ["k"])  # v1
    snapshot_delete(spark, table_dir, spark.createDataFrame([(5,)], "k long"), ["k"])  # v2
    # retain v2+v3: v1's manifest dies but its tombstone file is carried
    # forward by v2's manifest and must survive
    snapshot_delete(spark, table_dir, spark.createDataFrame([(3,)], "k long"), ["k"])  # v3
    assert snapshot_vacuum(table_dir, keep_last=2) == [0, 1]
    t1 = _os.path.join(table_dir, "tombstones", "v1")
    assert [f for _r, _d, fs in _os.walk(t1) for f in fs], (
        "v1's tombstone is still referenced by retained manifests"
    )
    assert set(_as_dict(snapshot_read(spark, table_dir))) == {1, 2, 4}
    # compaction ends the chain; vacuuming everything else reclaims v1's
    # tombstone even though v1's manifest died a vacuum ago
    snapshot_compact(spark, table_dir, target_files=1)  # v4, no tombstones
    assert snapshot_vacuum(table_dir, keep_last=1) == [2, 3]
    assert not _os.path.exists(t1) or not [
        f for _r, _d, fs in _os.walk(t1) for f in fs
    ], "expired tombstone files must be reclaimed"
    assert set(_as_dict(snapshot_read(spark, table_dir))) == {1, 2, 4}


def test_append_reuses_old_files_and_adds_new(spark, table_dir):
    """Append-only commit: O(batch) — the old version's files appear
    verbatim in the new manifest, only the batch's files are new, and
    both versions read correctly (time travel untouched)."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    m0 = read_manifest(table_dir, 0)
    v = snapshot_append(spark, table_dir, _rows(spark, [(3, "c")]))
    m1 = read_manifest(table_dir, v)
    assert m1["files"][: len(m0["files"])] == m0["files"], "old files reused"
    assert len(m1["files"]) > len(m0["files"]), "new files appended"
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a", 2: "b", 3: "c"}
    assert _as_dict(snapshot_read(spark, table_dir, version=0)) == {1: "a", 2: "b"}
    # schema drift and partitioned targets are refused loudly
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_append(
            spark, table_dir, spark.createDataFrame([(9,)], "k long")
        )


def test_append_respects_tombstones_and_first_commit(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_delete,
    )

    # append to an EMPTY table = the first write
    v = snapshot_append(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    assert v == 0
    snapshot_delete(spark, table_dir, spark.createDataFrame([(1,)], "k long"), ["k"])
    # tombstones carry through an append: old key 1 stays deleted, and a
    # re-appended row for key 1 is ALSO filtered (tombstones are by key)
    # until a compaction folds them — resurrection goes through merge.
    snapshot_append(spark, table_dir, _rows(spark, [(3, "c"), (1, "ghost")]))
    assert _as_dict(snapshot_read(spark, table_dir)) == {2: "b", 3: "c"}


def test_read_since_returns_only_appended_rows(spark, table_dir):
    """O(delta) incremental read: only files added after since_version are
    scanned; equal versions give an empty (schema-correct) frame."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_read_since,
    )

    v0 = snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    v1 = snapshot_append(spark, table_dir, _rows(spark, [(3, "c")]))
    snapshot_append(spark, table_dir, _rows(spark, [(4, "d")]))
    assert _as_dict(snapshot_read_since(spark, table_dir, v0)) == {3: "c", 4: "d"}
    assert _as_dict(snapshot_read_since(spark, table_dir, v1)) == {4: "d"}
    empty = snapshot_read_since(spark, table_dir, v0, version=v0)
    assert empty.columns == ["k", "v"] and empty.count() == 0


def test_read_since_refuses_rewritten_chains(spark, table_dir):
    """A merge/compaction drops old files — file-level increments are then
    undefined and the reader must refuse, not mislabel rewritten rows."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_read_since,
    )

    v0 = snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    snapshot_merge(
        spark, table_dir, _rows(spark, [(1, "z")]), key_cols=["k"],
        order_cols=["v"],
    )
    with pytest.raises(ValueError, match="not.?append-only|rewritten"):
        snapshot_read_since(spark, table_dir, v0)


def test_read_since_applies_tombstones(spark, table_dir):
    """A key deleted after being appended is not delivered by the
    incremental read (delete visibility belongs to snapshot_diff)."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_delete,
        snapshot_read_since,
    )

    v0 = snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    snapshot_append(spark, table_dir, _rows(spark, [(3, "c"), (4, "d")]))
    snapshot_delete(spark, table_dir, spark.createDataFrame([(3,)], "k long"), ["k"])
    assert _as_dict(snapshot_read_since(spark, table_dir, v0)) == {4: "d"}


def test_diff_classifies_insert_update_delete(spark, table_dir):
    """CDC between two versions: inserts / deletes by null-sidedness,
    updates emit both images, unchanged rows emit nothing."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_diff,
    )

    v0 = snapshot_write(
        spark, table_dir, _rows(spark, [(1, "a"), (2, "b"), (3, "c")])
    )
    v1 = snapshot_write(
        spark,
        table_dir,
        _rows(spark, [(1, "a"), (2, "X"), (4, "d")]),
        base_version=v0,
    )
    changes = {
        (r["k"], r["v"], r["change_type"])
        for r in snapshot_diff(spark, table_dir, ["k"], v0, v1).collect()
    }
    assert changes == {
        (4, "d", "insert"),
        (3, "c", "delete"),
        (2, "b", "update_preimage"),
        (2, "X", "update_postimage"),
    }


def test_diff_surfaces_tombstone_deletes(spark, table_dir):
    """Merge-on-read deletes flow through snapshot_read, so the diff sees
    them as ordinary 'delete' changes."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_diff,
    )

    v0 = snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    v1 = snapshot_delete(
        spark, table_dir, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    changes = {
        (r["k"], r["v"], r["change_type"])
        for r in snapshot_diff(spark, table_dir, ["k"], v0, v1).collect()
    }
    assert changes == {(1, "a", "delete")}


def test_append_evolves_schema_additively(spark, table_dir):
    """Add-column evolution: no file rewrite — the manifest schema is the
    read authority, old files surface NULL for the added column, and time
    travel to the pre-evolution version keeps the old schema."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
    )

    v0 = snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    m0_files = read_manifest(table_dir, v0)["files"]
    batch = spark.createDataFrame([(3, "c", 30)], "k long, v string, w long")
    v1 = snapshot_append(spark, table_dir, batch, evolve_schema=True)
    m1 = read_manifest(table_dir, v1)
    assert m1["columns"] == ["k", "v", "w"]
    assert m1["files"][: len(m0_files)] == m0_files, "no rewrite"
    latest = snapshot_read(spark, table_dir)
    assert latest.columns == ["k", "v", "w"]
    got = {r["k"]: (r["v"], r["w"]) for r in latest.collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}
    old = snapshot_read(spark, table_dir, version=v0)
    assert old.columns == ["k", "v"]


def test_append_evolution_guards(spark, table_dir):
    """Evolution is additive-only and types are frozen on both paths."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    # dropping an existing column is refused even when evolving
    with pytest.raises(ValueError, match="additive"):
        snapshot_append(
            spark,
            table_dir,
            spark.createDataFrame([(2,)], "k long"),
            evolve_schema=True,
        )
    # a same-name column with a drifted type is refused on BOTH paths
    drift = spark.createDataFrame([(2, 9)], "k long, v long")
    with pytest.raises(ValueError, match="type"):
        snapshot_append(spark, table_dir, drift)
    with pytest.raises(ValueError, match="type"):
        snapshot_append(spark, table_dir, drift, evolve_schema=True)


def test_read_since_across_evolution(spark, table_dir):
    """The incremental read serves the delta under the LATEST schema."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_read_since,
    )

    v0 = snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    snapshot_append(
        spark,
        table_dir,
        spark.createDataFrame([(2, "b", 20)], "k long, v string, w long"),
        evolve_schema=True,
    )
    delta = snapshot_read_since(spark, table_dir, v0)
    assert delta.columns == ["k", "v", "w"]
    assert [(r["k"], r["v"], r["w"]) for r in delta.collect()] == [(2, "b", 20)]


def test_vacuum_keeps_files_shared_by_append_chain(spark, table_dir):
    """Appends REUSE prior versions' files, so vacuuming expired versions
    must keep every file a retained manifest still names — the same
    shared-file rule as partition reuse, now on the append path."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_vacuum,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))       # v0
    snapshot_append(spark, table_dir, _rows(spark, [(2, "b")]))      # v1
    snapshot_append(spark, table_dir, _rows(spark, [(3, "c")]))      # v2
    snapshot_append(spark, table_dir, _rows(spark, [(4, "d")]))      # v3
    vacuumed = snapshot_vacuum(table_dir, keep_last=2)
    assert vacuumed == [0, 1]
    # v2/v3 manifests still reference v0's and v1's data files — the
    # full table must read intact after the vacuum
    assert _as_dict(snapshot_read(spark, table_dir)) == {
        1: "a", 2: "b", 3: "c", 4: "d",
    }
    assert _as_dict(snapshot_read(spark, table_dir, version=2)) == {
        1: "a", 2: "b", 3: "c",
    }


def test_concurrent_appends_conflict(spark, table_dir):
    """Two appenders that both derived the same base version: the second
    commit must fail loudly, not silently drop or duplicate the winner's
    rows. (The append captures its base at entry; the commit lock
    re-verifies it at the pointer swap.)"""
    from unittest import mock

    from petfinder_database_distributor_spark.sources import snapshot as S

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    real = S.latest_version
    stale = {"armed": True}

    def racing_latest(d):
        v = real(d)
        if stale["armed"]:
            # simulate the OTHER appender committing v1 between this
            # writer's entry check and its data write
            stale["armed"] = False
            S.snapshot_append(spark, d, _rows(spark, [(2, "winner")]))
        return v

    with mock.patch.object(S, "latest_version", side_effect=racing_latest):
        with pytest.raises(S.SnapshotConflictError):
            S.snapshot_append(spark, table_dir, _rows(spark, [(3, "loser")]))
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a", 2: "winner"}


def test_pruned_read_skips_files_and_matches_full_filter(spark, table_dir):
    """Zone-map pruning: a range-clustered layout lets the manifest rule
    out most files before any Spark I/O; the result equals the plain
    filtered read exactly."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        prune_files,
        snapshot_read_pruned,
    )

    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    snapshot_write(
        spark, table_dir, df.repartitionByRange(8, "k"), stats_cols=["k"]
    )
    m = read_manifest(table_dir, 0)
    assert m["file_stats"], "stats recorded"
    kept = prune_files(m, "k", 100, 149)
    assert 0 < len(kept) < len(m["files"]), "pruning actually skipped files"
    got = {
        r["k"] for r in snapshot_read_pruned(spark, table_dir, "k", 100, 149).collect()
    }
    assert got == set(range(100, 150))


def test_pruned_read_without_stats_degrades_to_full_scan(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        prune_files,
        snapshot_read_pruned,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b"), (3, "c")]))
    m = read_manifest(table_dir, 0)
    assert prune_files(m, "k", 2, 3) == m["files"], "no stats -> keep all"
    got = _as_dict(snapshot_read_pruned(spark, table_dir, "k", 2, 3))
    assert got == {2: "b", 3: "c"}


def test_pruned_read_empty_overlap_keeps_schema(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_read_pruned,
    )

    df = spark.range(0, 10).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    snapshot_write(spark, table_dir, df.repartitionByRange(2, "k"), stats_cols=["k"])
    empty = snapshot_read_pruned(spark, table_dir, "k", 1000, 2000)
    assert empty.columns == ["k", "v"] and empty.count() == 0


def test_pruned_read_applies_tombstones(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_read_pruned,
    )

    df = spark.range(0, 20).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    snapshot_write(spark, table_dir, df.repartitionByRange(2, "k"), stats_cols=["k"])
    snapshot_delete(spark, table_dir, spark.createDataFrame([(5,)], "k long"), ["k"])
    got = {r["k"] for r in snapshot_read_pruned(spark, table_dir, "k", 0, 9).collect()}
    assert got == set(range(10)) - {5}


def test_append_merges_file_stats(spark, table_dir):
    """An append with stats_cols extends the zone map to its new files
    while the carried-forward files keep theirs."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        prune_files,
        snapshot_append,
    )

    lo = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    hi = spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit("b").alias("v"))
    snapshot_write(spark, table_dir, lo.coalesce(1), stats_cols=["k"])
    v1 = snapshot_append(spark, table_dir, hi.coalesce(1), stats_cols=["k"])
    m = read_manifest(table_dir, v1)
    assert len(m["file_stats"]) == len(m["files"]) == 2
    assert len(prune_files(m, "k", 0, 50)) == 1
    assert len(prune_files(m, "k", 1050, 2000)) == 1


def test_first_append_records_file_stats(spark, table_dir):
    """An append that opens a fresh table records zone maps for its files
    too, so a range outside v0's keys prunes v0's file."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        prune_files,
        snapshot_append,
        snapshot_read_pruned,
    )

    lo = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    hi = spark.range(1000, 1100).select(F.col("id").alias("k"), F.lit("b").alias("v"))
    snapshot_append(spark, table_dir, lo.coalesce(1), stats_cols=["k"])
    v1 = snapshot_append(spark, table_dir, hi.coalesce(1), stats_cols=["k"])
    m = read_manifest(table_dir, v1)
    assert set(m["file_stats"]) == set(m["files"])
    (v0_file,) = read_manifest(table_dir, 0)["files"]
    assert v0_file not in prune_files(m, "k", 1050, 2000)
    pruned = snapshot_read_pruned(spark, table_dir, "k", 1050, 2000)
    assert not any(f.endswith(v0_file) for f in pruned.inputFiles())
    assert {r["k"] for r in pruned.collect()} == set(range(1050, 1100))


def test_history_records_operations_and_commit_times(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_compact,
        snapshot_history,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    snapshot_append(spark, table_dir, _rows(spark, [(2, "b")]))
    snapshot_merge(
        spark, table_dir, _rows(spark, [(1, "a2")]), key_cols=["k"],
        order_cols=["v"],
    )
    snapshot_compact(spark, table_dir)
    h = {r["version"]: r for r in snapshot_history(spark, table_dir).collect()}
    assert [h[v]["operation"] for v in range(4)] == [
        "write", "append", "merge", "compact",
    ]
    assert h[3]["data_change"] is False  # compaction is layout-only
    ats = [h[v]["committed_at"] for v in range(4)]
    assert all(a is not None for a in ats)
    assert ats == sorted(ats)  # commit times are monotone


def test_timestamp_time_travel(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        read_manifest,
        version_at_timestamp,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    snapshot_write(
        spark, table_dir, _rows(spark, [(2, "b")]), base_version=0
    )
    t0 = read_manifest(table_dir, 0)["committed_at"]
    t1 = read_manifest(table_dir, 1)["committed_at"]
    assert version_at_timestamp(table_dir, t0) == 0
    assert version_at_timestamp(table_dir, t1 + 1) == 1
    with pytest.raises(ValueError, match="at or before"):
        version_at_timestamp(table_dir, t0 - 10)
    old = (
        spark.read.format("snapshot")
        .option("timestampAsOf", t0)
        .load(table_dir)
    )
    assert {r["k"]: r["v"] for r in old.collect()} == {1: "a"}


def test_restore_rolls_forward_to_old_content(spark, table_dir):
    """RESTORE commits a NEW version with the target version's exact file
    set: the bad commits stay in history (time travel unaffected), the
    restored state is the latest, and no data files are copied."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_merge,
        snapshot_restore,
    )

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    snapshot_write(spark, table_dir, base)
    snapshot_merge(
        spark,
        table_dir,
        spark.createDataFrame([(2, "zz")], "k long, v string"),
        key_cols=["k"],
        order_cols=["v"],
    )
    snapshot_delete(
        spark, table_dir, spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    assert {r["k"]: r["v"] for r in snapshot_read(spark, table_dir).collect()} == {
        2: "zz",
        3: "c",
    }
    v = snapshot_restore(table_dir, 0)
    assert v == 3
    assert {r["k"]: r["v"] for r in snapshot_read(spark, table_dir).collect()} == {
        1: "a",
        2: "b",
        3: "c",
    }
    # no data copied: v3's manifest points at v0's files verbatim
    m0, m3 = read_manifest(table_dir, 0), read_manifest(table_dir, 3)
    assert m3["files"] == m0["files"]
    assert m3["operation"] == "restore" and m3["restored_from"] == 0
    assert m3.get("data_change", True) is True
    # history intact: the bad versions still time-travel
    assert {r["k"]: r["v"] for r in snapshot_read(spark, table_dir, version=2).collect()} == {
        2: "zz",
        3: "c",
    }


def test_restore_refuses_future_and_vacuumed_versions(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_restore,
        snapshot_vacuum,
    )

    snapshot_write(spark, table_dir, spark.createDataFrame([(1, "a")], "k long, v string"))
    snapshot_append(spark, table_dir, spark.createDataFrame([(2, "b")], "k long, v string"))
    snapshot_append(spark, table_dir, spark.createDataFrame([(3, "c")], "k long, v string"))
    with pytest.raises(ValueError, match="cannot restore"):
        snapshot_restore(table_dir, 9)
    assert snapshot_vacuum(table_dir, keep_last=2) == [0]
    with pytest.raises(FileNotFoundError):
        snapshot_restore(table_dir, 0)
    # retained target still restores
    v = snapshot_restore(table_dir, 1)
    assert {r["k"] for r in snapshot_read(spark, table_dir).collect()} == {1, 2}
    # restore target's files are pinned against the NEXT vacuum by the
    # new manifest referencing them
    snapshot_vacuum(table_dir, keep_last=1)
    assert {r["k"] for r in snapshot_read(spark, table_dir, version=v).collect()} == {1, 2}


def test_bloom_point_lookup_prunes_and_stays_exact(spark, table_dir):
    """Bloom file skipping: a high-cardinality key hash-scrambled across
    files defeats zone maps (every file's min/max spans everything), but
    the committed per-file blooms keep only files that might contain the
    probe keys. The snapshot source scans exactly those files for a
    pushed IN filter, and Spark re-applies the predicate, so false
    positives cost I/O, never correctness."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        bloom_prune_files,
        snapshot_write,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    n = 4000
    # eight contiguous id slices, one file each, independent of the core
    # count; each slice's scrambled k range spans the probe key
    df = spark.range(0, n, 1, 8).selectExpr(
        "id * 2654435761 % 1000003 AS k", "id AS payload"
    )
    snapshot_write(spark, table_dir, df, bloom_cols=["k"], stats_cols=["k"])
    m = read_manifest(table_dir, 0)
    assert len(m["files"]) == 8 and set(m["file_blooms"]) == set(m["files"])
    # a present key: bloom keeps its true file (maybe + rare fp), and the
    # lookup returns exactly its row
    probe = (7 * 2654435761) % 1000003
    kept = bloom_prune_files(table_dir, m, "k", [probe])
    assert 1 <= len(kept) <= 2, kept
    register_snapshot_source(spark)
    scan = spark.read.format("snapshot").load(table_dir)
    hit = scan.filter(F.col("k").isin([probe]))
    assert hit.rdd.getNumPartitions() == len(kept)
    assert [(r["k"], r["payload"]) for r in hit.collect()] == [(probe, 7)]
    # an absent key prunes to ~nothing (an all-pruned scan is one empty
    # partition) and returns NO rows even through bloom false positives
    # (exact re-apply)
    absent = scan.filter(F.col("k").isin([999983]))
    assert absent.rdd.getNumPartitions() == max(
        1, len(bloom_prune_files(table_dir, m, "k", [999983]))
    )
    assert absent.count() == 0
    # zone maps alone would keep every file for this probe (scrambled
    # layout): bloom is what makes the point lookup O(matching files)
    from petfinder_database_distributor_spark.sources.snapshot import prune_files

    assert len(prune_files(m, "k", probe, probe)) == 8


def test_bloom_survives_append_merge_and_vacuum(spark, table_dir):
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_merge,
        snapshot_vacuum,
        snapshot_write,
    )

    df1 = spark.range(100).selectExpr("id AS k", "id AS v").repartition(2)
    snapshot_write(spark, table_dir, df1, bloom_cols=["k"])
    # append inherits the table's bloom columns without re-stating them
    df2 = spark.range(100, 200).selectExpr("id AS k", "id AS v").repartition(2)
    snapshot_append(spark, table_dir, df2)
    m1 = read_manifest(table_dir, 1)
    assert set(m1["file_blooms"]) == set(m1["files"])
    assert m1["bloom_cols"] == ["k"]
    # merge rewrites every file and re-derives sidecars for the new set
    upd = spark.createDataFrame([(5, 500)], "k long, v long")
    snapshot_merge(spark, table_dir, upd, key_cols=["k"], order_cols=["v"])
    m2 = read_manifest(table_dir, 2)
    assert set(m2["file_blooms"]) == set(m2["files"])
    from petfinder_database_distributor_spark.sources.snapshot import (
        bloom_prune_files,
    )
    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    lookup = spark.read.format("snapshot").load(table_dir).filter(F.col("k").isin([5, 150]))
    kept = bloom_prune_files(table_dir, m2, "k", [5, 150])
    assert lookup.rdd.getNumPartitions() == len(kept)
    assert {r["k"]: r["v"] for r in lookup.collect()} == {5: 500, 150: 150}
    # vacuum: expired versions' sidecars go with their data files;
    # retained ones survive (they're manifest-referenced)
    m0_blooms = list(read_manifest(table_dir, 0)["file_blooms"].values())
    snapshot_vacuum(table_dir, keep_last=1)
    for rel in m2["file_blooms"].values():
        assert os.path.exists(os.path.join(table_dir, rel)), rel
    for rel in m0_blooms:  # expired sidecars reclaimed with their files
        assert not os.path.exists(os.path.join(table_dir, rel)), rel


def test_shallow_clone_zero_copy_and_cow(spark, table_dir):
    """Shallow clone: v0 of the clone points at the source's files by
    absolute path (zero bytes copied); writes to the clone are
    copy-on-write and invisible to the source; merge-on-read tombstones
    survive the clone boundary."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_clone,
        snapshot_delete,
        snapshot_merge,
    )

    src = table_dir
    dst = table_dir + "_clone"
    shutil.rmtree(dst, ignore_errors=True)
    try:
        snapshot_write(
            spark, src, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
        )
        snapshot_delete(spark, src, spark.createDataFrame([(3,)], "k long"), ["k"])
        assert snapshot_clone(src, dst) == 0
        # zero-copy: the clone owns no data files, and reads the source's
        # post-tombstone state
        assert not os.path.isdir(os.path.join(dst, "data"))
        assert {r["k"]: r["v"] for r in snapshot_read(spark, dst).collect()} == {
            1: "a",
            2: "b",
        }
        # CoW append: clone gains its own files, source never changes
        snapshot_append(spark, dst, spark.createDataFrame([(9, "z")], "k long, v string"))
        assert {r["k"] for r in snapshot_read(spark, dst).collect()} == {1, 2, 9}
        assert {r["k"] for r in snapshot_read(spark, src).collect()} == {1, 2}
        assert latest_version(src) == 1
        # CoW merge: a full rewrite lands entirely in clone-owned files
        snapshot_merge(
            spark,
            dst,
            spark.createDataFrame([(1, "z1")], "k long, v string"),
            key_cols=["k"],
            order_cols=["v"],
        )
        m = read_manifest(dst, 2)
        assert all(not os.path.isabs(f) for f in m["files"])
        assert {r["k"]: r["v"] for r in snapshot_read(spark, dst).collect()} == {
            1: "z1",
            2: "b",
            9: "z",
        }
        assert {r["k"]: r["v"] for r in snapshot_read(spark, src).collect()} == {
            1: "a",
            2: "b",
        }
        # target-exists guard
        with pytest.raises(ValueError, match="already exists"):
            snapshot_clone(src, dst)
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_clone_dangles_after_source_vacuum(spark, table_dir):
    """The documented caveat: the source's vacuum doesn't know about
    clones, so vacuuming past the cloned version leaves dangling refs and
    the clone's read fails on the missing files (never silently serves
    something else)."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_clone,
        snapshot_merge,
        snapshot_vacuum,
    )

    src, dst = table_dir, table_dir + "_clone2"
    shutil.rmtree(dst, ignore_errors=True)
    try:
        snapshot_write(spark, src, spark.createDataFrame([(1, "a")], "k long, v string"))
        snapshot_clone(src, dst)
        # two merges rewrite the source's files; vacuum reclaims v0's
        for val in ("b", "c"):
            snapshot_merge(
                spark,
                src,
                spark.createDataFrame([(1, val)], "k long, v string"),
                key_cols=["k"],
                order_cols=["v"],
            )
        assert snapshot_vacuum(src, keep_last=2) == [0]
        with pytest.raises(Exception):
            snapshot_read(spark, dst).collect()
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_bloom_hash_canonicalizes_cross_path_types():
    """Write-side values arrive as pyarrow to_pylist elements, read-side as
    Spark-pushed literals — and bytes/bytearray, Decimal scale, and
    tz-aware/naive datetimes all str() differently between the two. A
    divergence is a bloom FALSE NEGATIVE (file skipped, matching rows
    silently vanish), so each pair must hash identically, and unsupported
    types must refuse instead of guessing."""
    import datetime as dt
    from decimal import Decimal

    from petfinder_database_distributor_spark.sources.snapshot import _bloom_hash

    # bytes vs bytearray vs memoryview (pyarrow vs pyspark arrival forms)
    assert (
        _bloom_hash(b"\x01\xff")
        == _bloom_hash(bytearray(b"\x01\xff"))
        == _bloom_hash(memoryview(b"\x01\xff"))
    )
    # Decimal scale normalization, and integral Decimal == int literal
    assert _bloom_hash(Decimal("5.00")) == _bloom_hash(Decimal("5")) == _bloom_hash(5)
    assert _bloom_hash(Decimal("1.250")) == _bloom_hash(Decimal("1.25"))
    assert _bloom_hash(Decimal("1.25")) != _bloom_hash(Decimal("1.26"))
    # tz-aware (pyarrow) vs naive-UTC (Spark literal) timestamps
    aware = dt.datetime(2024, 3, 1, 12, 30, 45, 123456, tzinfo=dt.timezone.utc)
    naive = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    offset = dt.datetime(
        2024, 3, 1, 14, 30, 45, 123456,
        tzinfo=dt.timezone(dt.timedelta(hours=2)),
    )
    assert _bloom_hash(aware) == _bloom_hash(naive) == _bloom_hash(offset)
    # a date is not a datetime is not a string
    assert _bloom_hash(dt.date(2024, 3, 1)) != _bloom_hash("2024-03-01")
    # ints/bools/integer-floats still collapse ("1" colliding with 1 is a
    # harmless false POSITIVE — the exact predicate re-applies)
    assert _bloom_hash(True) == _bloom_hash(1) == _bloom_hash(1.0)
    # numpy temporal scalars (the default pandas .to_numpy() arrival form):
    # datetime64[ns].item() is epoch NANOS — a plain int that would both
    # miss the write side's 'ts:<micros>' hash AND slip past the refusal
    # guard. Must hash as the datetime/date it denotes.
    import numpy as np

    assert _bloom_hash(np.datetime64("2024-03-01T12:30:45.123456", "ns")) == (
        _bloom_hash(naive)
    )
    assert _bloom_hash(np.datetime64("2024-03-01", "D")) == _bloom_hash(
        dt.date(2024, 3, 1)
    )
    _nanos = int(np.datetime64("2024-03-01T12:30:45.123456", "ns").astype("int64"))
    assert _bloom_hash(np.datetime64("2024-03-01T12:30:45.123456", "ns")) != (
        _bloom_hash(_nanos)  # the raw .item() nanos int — the old bug
    )
    # fractional floats whose repr goes exponent ('1e-06') must collide
    # with the equal-valued Decimal's fixed-point form ('0.000001')
    assert _bloom_hash(1e-06) == _bloom_hash(Decimal("0.000001"))
    assert _bloom_hash(2.5e-05) == _bloom_hash(Decimal("0.000025"))
    assert _bloom_hash(0.1) == _bloom_hash(Decimal("0.1"))
    assert _bloom_hash(1e-06) != _bloom_hash(1e-07)
    # refuse unknown types rather than silently false-negative later
    import pytest as _pytest

    with _pytest.raises(TypeError):
        _bloom_hash(["not", "hashable", "canonically"])
    with _pytest.raises(TypeError):
        _bloom_hash(np.timedelta64(5, "s"))
    with _pytest.raises(TypeError):
        _bloom_hash(np.timedelta64(5))  # unitless .item() is a bare int


def test_optimistic_append_retries_once_on_forced_race(spark, table_dir, monkeypatch):
    """Deterministically force the race the optimistic loop exists for: a
    competing append lands BETWEEN this writer's base read and its pointer
    swap (injected via the commit hook), so the first commit attempt must
    fail with SnapshotConflictError, the retry must rebase on the winner's
    version, and BOTH writers' rows must land — exactly one retry, no lost
    update, loser's first-attempt files unreferenced."""
    import petfinder_database_distributor_spark.sources.snapshot as snap

    snapshot_write(spark, table_dir, _rows(spark, [(1, "base")]))

    orig_commit = snap._commit_metadata
    state = {"raced": False, "conflicts": 0}

    def racing_commit(tdir, version, base_version, manifest):
        if not state["raced"]:
            state["raced"] = True
            # the competing writer wins the window (goes through
            # orig_commit because raced is already flipped)
            snap.snapshot_append(spark, tdir, _rows(spark, [(2, "rival")]))
        try:
            return orig_commit(tdir, version, base_version, manifest)
        except SnapshotConflictError:
            state["conflicts"] += 1
            raise

    monkeypatch.setattr(snap, "_commit_metadata", racing_commit)
    v = snap.snapshot_append_optimistic(
        spark, table_dir, _rows(spark, [(3, "mine")])
    )
    assert state["conflicts"] == 1, "the forced race must cost exactly one retry"
    assert v == 2 and latest_version(table_dir) == 2
    got = {
        (r["k"], r["v"]) for r in snapshot_read(spark, table_dir).collect()
    }
    assert got == {(1, "base"), (2, "rival"), (3, "mine")}
    # the losing attempt's staged directory is garbage, never referenced
    m = read_manifest(table_dir, 2)
    assert len(m["files"]) == len(set(m["files"]))


def test_optimistic_append_gives_up_after_max_retries(spark, table_dir, monkeypatch):
    """A pathological livelock (every attempt loses the window) surfaces as
    SnapshotConflictError after max_retries instead of spinning forever."""
    import petfinder_database_distributor_spark.sources.snapshot as snap

    snapshot_write(spark, table_dir, _rows(spark, [(1, "base")]))
    orig_commit = snap._commit_metadata
    state = {"n": 0}

    def always_raced(tdir, version, base_version, manifest):
        # a rival metadata-only commit (same file list, next version) lands
        # in every window — calling orig_commit directly, so the injection
        # never re-enters itself and no marker can leak into carried-
        # forward manifests
        state["n"] += 1
        ver = latest_version(tdir)
        man = dict(read_manifest(tdir, ver))
        man["version"] = ver + 1
        man["operation"] = "append"
        orig_commit(tdir, ver + 1, ver, man)
        return orig_commit(tdir, version, base_version, manifest)

    monkeypatch.setattr(snap, "_commit_metadata", always_raced)
    with pytest.raises(SnapshotConflictError):
        snap.snapshot_append_optimistic(
            spark, table_dir, _rows(spark, [(3, "mine")]), max_retries=2
        )
    assert state["n"] == 3, "initial attempt + 2 retries, then give up"


def test_bloom_probe_degrades_conservatively_and_accepts_numpy(spark, table_dir):
    """Probe-side contract: numpy scalars (the natural shape of pandas- or
    collected-row-derived key lists) canonicalize to the write-side value,
    and an un-canonicalizable probe value disables skipping for the lookup
    (ALL files kept) instead of failing the read — pruning is an
    optimization, the same rule the zone-map path holds. Build-side
    TypeError still raises (that's where an unsupported type is a bug)."""
    import numpy as np

    from petfinder_database_distributor_spark.sources.snapshot import (
        bloom_prune_files,
        read_manifest,
    )

    df = spark.range(0, 64).selectExpr("id AS k", "cast(id as string) AS v")
    snapshot_write(
        spark, table_dir, df.repartition(8, "k"), bloom_cols=["k"]
    )
    m = read_manifest(table_dir, 0)
    # numpy probe prunes exactly like the plain-int probe
    kept_np = bloom_prune_files(table_dir, m, "k", [np.int64(5)])
    kept_py = bloom_prune_files(table_dir, m, "k", [5])
    assert kept_np == kept_py and 0 < len(kept_py) < len(m["files"])
    # un-canonicalizable probe: keep everything, never raise
    kept_all = bloom_prune_files(table_dir, m, "k", [["weird", "probe"]])
    assert kept_all == list(m["files"])


def _ranked(spark, triples):
    return spark.createDataFrame(triples, "k long, v string, rank long")


def test_optimistic_merge_retry_rereads_winner(spark, table_dir, monkeypatch):
    """The multi-writer hazard appends never hit: a rival MERGE commits a
    row for the SAME key between this merger's base read and its pointer
    swap. A blind commit-retry would swap in the stale staged result and
    LOSE the rival's row; snapshot_merge_optimistic's retry must re-run
    the merge against the winner's committed state — visibly: the shared
    key's final row is the rival's HIGHER-ranked version, while this
    writer's rows for unshared keys still land."""
    import petfinder_database_distributor_spark.sources.snapshot as snap

    snap.snapshot_write(spark, table_dir, _ranked(spark, [(1, "base", 0)]))
    orig_commit = snap._commit_metadata
    state = {"raced": False, "conflicts": 0}

    def racing_commit(tdir, version, base_version, manifest):
        if not state["raced"]:
            state["raced"] = True
            # the rival merge wins the window: it upserts the SHARED key 1
            # at rank 5 (goes through orig_commit — raced already flipped)
            snap.snapshot_merge(
                spark, tdir, _ranked(spark, [(1, "rival", 5)]), ["k"], ["rank"]
            )
        try:
            return orig_commit(tdir, version, base_version, manifest)
        except snap.SnapshotConflictError:
            state["conflicts"] += 1
            raise

    monkeypatch.setattr(snap, "_commit_metadata", racing_commit)
    # this merger upserts the shared key 1 at a LOWER rank plus a fresh key 2
    v = snap.snapshot_merge_optimistic(
        spark,
        table_dir,
        _ranked(spark, [(1, "mine", 3), (2, "mine", 3)]),
        ["k"],
        ["rank"],
    )
    assert state["conflicts"] == 1, "the forced race must cost exactly one retry"
    assert v == 2 and latest_version(table_dir) == 2
    got = {r["k"]: (r["v"], r["rank"]) for r in snapshot_read(spark, table_dir).collect()}
    # key 1: the rival's rank-5 row must survive the retry — the stale
    # first attempt (which never saw it) had 'mine'@3 as the winner, so
    # this is the observable proof the retry RE-READ the winner's rows
    assert got == {1: ("rival", 5), 2: ("mine", 3)}
    # ...and the first attempt's staged v2 files are unreferenced garbage
    m = read_manifest(table_dir, 2)
    assert len(m["files"]) == len(set(m["files"]))


def test_vacuum_sweeps_lost_commit_attempts(spark, table_dir, monkeypatch):
    """The race-then-vacuum path: a losing optimistic
    attempt leaves staged parquet under a RETAINED version directory
    (data/v2/<loser-token>), which the expired-version walk never visits.
    snapshot_vacuum(orphan_ttl_sec=0) must remove exactly the loser's
    unreferenced staging while every file referenced by a retained
    manifest survives and all pinned versions still read. Without a TTL
    arg, retained dirs stay untouched (a young unreferenced file may be
    an in-flight writer's staging)."""
    import os as _os

    import petfinder_database_distributor_spark.sources.snapshot as snap

    snap.snapshot_write(spark, table_dir, _ranked(spark, [(1, "base", 0)]))
    orig_commit = snap._commit_metadata
    state = {"raced": False}

    def racing_commit(tdir, version, base_version, manifest):
        if not state["raced"]:
            state["raced"] = True
            snap.snapshot_merge(
                spark, tdir, _ranked(spark, [(1, "rival", 5)]), ["k"], ["rank"]
            )
        return orig_commit(tdir, version, base_version, manifest)

    monkeypatch.setattr(snap, "_commit_metadata", racing_commit)
    snap.snapshot_merge_optimistic(
        spark, table_dir, _ranked(spark, [(2, "mine", 3)]), ["k"], ["rank"]
    )

    def files_under(rel):
        out = []
        for root, _d, fs in _os.walk(os.path.join(table_dir, rel)):
            out.extend(
                _os.path.relpath(_os.path.join(root, f), table_dir)
                for f in fs
                if f.endswith(".parquet")
            )
        return set(out)

    referenced = set()
    for ver in (0, 1, 2):
        referenced.update(read_manifest(table_dir, ver)["files"])
    # the loser DERIVED v1 (base was v0) and staged under data/v1/<its
    # token> before the rival's v1 pointer landed — so the garbage sits
    # beside the rival's referenced files in the RETAINED v1 directory
    all_files = files_under("data")
    loser_garbage = all_files - referenced
    assert loser_garbage, "the forced race must leave a lost staging"
    assert all(f.startswith("data/v1/") for f in loser_garbage), loser_garbage

    # keep_last high enough that no version expires: this vacuum tests
    # ONLY the orphan sweep. First without TTL: garbage must survive.
    assert snap.snapshot_vacuum(table_dir, keep_last=10) == []
    assert loser_garbage <= files_under("data"), "no-TTL vacuum must not touch it"
    # with a zero TTL the known-lost attempt is swept immediately
    snap.snapshot_vacuum(table_dir, keep_last=10, orphan_ttl_sec=0)
    after = files_under("data")
    assert after & loser_garbage == set(), "loser staging must be reclaimed"
    assert referenced <= after, "referenced files must survive"
    # every pinned version still reads its exact committed state
    assert _as_dict(snapshot_read(spark, table_dir, 0))[1] == "base"
    got = {r["k"]: r["v"] for r in snapshot_read(spark, table_dir, 2).collect()}
    assert got == {1: "rival", 2: "mine"}


def test_vacuum_sweeps_crashed_writer_staging_past_current(spark, table_dir):
    """A writer that DERIVED v1 on a v0 table and died before its commit
    leaves staging one past the current pointer — no rival ever took that
    version, so no manifest references it. The orphan sweep must include
    v{current+1} or this garbage leaks until an unrelated commit."""
    import os as _os

    import petfinder_database_distributor_spark.sources.snapshot as snap

    snap.snapshot_write(spark, table_dir, _ranked(spark, [(1, "base", 0)]))
    ghost = _os.path.join(table_dir, "data", "v1", "deadbeefcafe")
    _os.makedirs(ghost)
    with open(_os.path.join(ghost, "part-00000.parquet"), "wb") as f:
        f.write(b"crashed mid-stage")
    snap.snapshot_vacuum(table_dir, keep_last=10, orphan_ttl_sec=0)
    assert not _os.path.exists(ghost), "crashed-writer staging must be swept"
    assert _as_dict(snapshot_read(spark, table_dir, 0))[1] == "base"


def test_group_commit_atomicity_and_validation(spark, table_dir):
    """The multi-table group pointer: members must already be committed,
    racing group commits conflict (optimistic, same as table commits),
    and group reads resolve a mutually consistent family even after
    member tables advance independently."""
    import petfinder_database_distributor_spark.sources.snapshot as snap

    root = table_dir
    snap.snapshot_write(spark, f"{root}/a", _rows(spark, [(1, "a0")]))
    snap.snapshot_write(spark, f"{root}/b", _rows(spark, [(1, "b0")]))
    # a group may only name committed member versions
    with pytest.raises(ValueError):
        snap.snapshot_commit_group(root, {"a": 0, "b": 7}, base_group=None)
    g0 = snap.snapshot_commit_group(root, {"a": 0, "b": 0}, base_group=None)
    assert g0 == 0 and snap.latest_group(root) == 0
    # racing committers: the loser's stale base fails loudly
    with pytest.raises(snap.SnapshotConflictError):
        snap.snapshot_commit_group(root, {"a": 0, "b": 0}, base_group=None)
    # member tables advance independently; the group still reads the
    # OLD family until a new group commits — the whole point
    snap.snapshot_append(spark, f"{root}/a", _rows(spark, [(2, "a1")]))
    assert _as_dict(snap.snapshot_read_group(spark, root, "a")) == {1: "a0"}
    g1 = snap.snapshot_commit_group(root, {"a": 1, "b": 0}, base_group=0)
    assert g1 == 1
    assert _as_dict(snap.snapshot_read_group(spark, root, "a")) == {1: "a0", 2: "a1"}
    # time travel to the old family
    assert _as_dict(snap.snapshot_read_group(spark, root, "a", group=0)) == {1: "a0"}
    assert _as_dict(snap.snapshot_read_group(spark, root, "b", group=1)) == {1: "b0"}


def test_group_commit_forced_race_retry_rereads_winner(spark, table_dir, monkeypatch):
    """The group-level lost-update hazard:
    between a group writer's base read and its pointer swap, a RIVAL
    lands a new group that bumps a DIFFERENT member. A blind retry
    would re-commit the stale member map and silently roll the rival's
    bump back; snapshot_commit_group_optimistic's retry must re-read
    the winner's manifest and fold its own bump on top — visibly: the
    final group names BOTH writers' member versions."""
    import petfinder_database_distributor_spark.sources.snapshot as snap

    root = table_dir
    snap.snapshot_write(spark, f"{root}/a", _rows(spark, [(1, "a0")]))
    snap.snapshot_write(spark, f"{root}/b", _rows(spark, [(1, "b0")]))
    snap.snapshot_commit_group(root, {"a": 0, "b": 0}, base_group=None)
    # both writers' table commits are already durable; only the group
    # pointer swap races
    snap.snapshot_append(spark, f"{root}/a", _rows(spark, [(2, "a1")]))
    snap.snapshot_append(spark, f"{root}/b", _rows(spark, [(2, "b1")]))

    orig_lock = snap._commit_lock
    state = {"raced": False, "recomputes": 0}

    def racing_lock(lock_root):
        # fire the rival in the loser's read->lock window, exactly once
        # (the rival's own commit re-enters here with raced already set)
        if not state["raced"]:
            state["raced"] = True
            snap.snapshot_commit_group(
                root, {"a": 0, "b": 1}, base_group=0, operation="rival-append"
            )
        return orig_lock(lock_root)

    monkeypatch.setattr(snap, "_commit_lock", racing_lock)

    def bump_a(base_group, base_members):
        state["recomputes"] += 1
        return {**base_members, "a": 1}

    g = snap.snapshot_commit_group_optimistic(root, bump_a, operation="append")
    assert g == 2 and snap.latest_group(root) == 2
    assert state["recomputes"] == 2, "the forced race must cost exactly one retry"
    # the decisive assertion: the loser's landed group carries the
    # WINNER's b=1 bump alongside its own a=1 — a stale re-commit would
    # have rolled b back to 0
    assert snap.read_group_manifest(root, 2)["members"] == {"a": 1, "b": 1}
    # and the family reads consistently at every group
    assert _as_dict(snap.snapshot_read_group(spark, root, "a")) == {1: "a0", 2: "a1"}
    assert _as_dict(snap.snapshot_read_group(spark, root, "b")) == {1: "b0", 2: "b1"}
    assert _as_dict(snap.snapshot_read_group(spark, root, "b", group=1)) == {
        1: "b0",
        2: "b1",
    }
    assert _as_dict(snap.snapshot_read_group(spark, root, "a", group=1)) == {1: "a0"}
