"""The ``snapshot`` Python DataSource: format-API reads (with zone-map +
partition pushdown pruning observable in the scan's partition count),
atomic format-API writes (append/overwrite through the shared manifest
commit), interop with the library path, and the incremental streaming
source (offset = version, batch = manifest set difference, checkpoint
resume)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.sources.snapshot import (
    latest_version,
    read_manifest,
    snapshot_append,
    snapshot_delete,
    snapshot_read,
    snapshot_read_since,
    snapshot_write,
)
from petfinder_database_distributor_spark.sources.snapshot_datasource import (
    register_snapshot_source,
)
from petfinder_database_distributor_spark.streaming.incremental import SCRATCH_ROOT


@pytest.fixture()
def table_dir():
    d = f"{SCRATCH_ROOT}/snapds"
    shutil.rmtree(d, ignore_errors=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(autouse=True)
def _register(spark):
    register_snapshot_source(spark)


def _rows(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


def _as_dict(df):
    return {r["k"]: r["v"] for r in df.collect()}


def test_format_write_then_format_read_roundtrip(spark, table_dir):
    _rows(spark, [(1, "a"), (2, "b")]).write.format("snapshot").mode(
        "overwrite"
    ).save(table_dir)
    got = spark.read.format("snapshot").load(table_dir)
    assert _as_dict(got) == {1: "a", 2: "b"}
    assert latest_version(table_dir) == 0


def test_format_overwrite_is_new_version_with_time_travel(spark, table_dir):
    _rows(spark, [(1, "a")]).write.format("snapshot").mode("overwrite").save(
        table_dir
    )
    _rows(spark, [(2, "b")]).write.format("snapshot").mode("overwrite").save(
        table_dir
    )
    assert latest_version(table_dir) == 1
    assert _as_dict(spark.read.format("snapshot").load(table_dir)) == {2: "b"}
    old = spark.read.format("snapshot").option("version", 0).load(table_dir)
    assert _as_dict(old) == {1: "a"}


def test_uncommitted_version_is_refused(spark, table_dir):
    """A manifest above ``_latest``, as a writer that died before the
    pointer swap leaves it, is never read: ``snapshot_read`` and the
    format reader's ``version`` option refuse it, and the committed
    version still reads. ``snapshot_read_since`` refuses it as its
    ``since_version``."""
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    snapshot_append(spark, table_dir, _rows(spark, [(2, "b")]))
    with open(os.path.join(table_dir, "_latest"), "w") as fh:
        fh.write("0")
    with pytest.raises(FileNotFoundError, match="not committed"):
        snapshot_read(spark, table_dir, version=1)
    with pytest.raises(Exception, match="not committed"):
        spark.read.format("snapshot").option("version", 1).load(table_dir).collect()
    with pytest.raises(FileNotFoundError, match="not committed"):
        snapshot_read_since(spark, table_dir, since_version=1)
    assert _as_dict(snapshot_read(spark, table_dir, version=0)) == {1: "a"}
    fmt = spark.read.format("snapshot").option("version", 0).load(table_dir)
    assert _as_dict(fmt) == {1: "a"}


def test_format_append_unions_and_reuses_old_files(spark, table_dir):
    _rows(spark, [(1, "a")]).write.format("snapshot").mode("overwrite").save(
        table_dir
    )
    files_v0 = set(read_manifest(table_dir, 0)["files"])
    _rows(spark, [(2, "b")]).write.format("snapshot").mode("append").save(
        table_dir
    )
    m1 = read_manifest(table_dir, 1)
    assert files_v0 <= set(m1["files"])  # old files carried forward verbatim
    assert _as_dict(spark.read.format("snapshot").load(table_dir)) == {
        1: "a",
        2: "b",
    }


def test_format_append_schema_mismatch_raises(spark, table_dir):
    _rows(spark, [(1, "a")]).write.format("snapshot").mode("overwrite").save(
        table_dir
    )
    bad = spark.createDataFrame([(2, 7)], "k long, n long")
    with pytest.raises(Exception, match="append schema mismatch"):
        bad.write.format("snapshot").mode("append").save(table_dir)


def test_format_append_evolve_schema_null_backfills(spark, table_dir):
    _rows(spark, [(1, "a")]).write.format("snapshot").mode("overwrite").save(
        table_dir
    )
    spark.createDataFrame([(2, "b", 9)], "k long, v string, extra long").write.format(
        "snapshot"
    ).mode("append").option("evolveSchema", "true").save(table_dir)
    got = spark.read.format("snapshot").load(table_dir).orderBy("k").collect()
    assert [(r["k"], r["v"], r["extra"]) for r in got] == [
        (1, "a", None),
        (2, "b", 9),
    ]


def test_format_append_type_drift_refused(spark, table_dir):
    _rows(spark, [(1, "a")]).write.format("snapshot").mode("overwrite").save(
        table_dir
    )
    drifted = spark.createDataFrame([(2, 7)], "k long, v long")
    with pytest.raises(Exception, match="append|type"):
        drifted.write.format("snapshot").mode("append").save(table_dir)


def test_interop_library_write_format_read_and_back(spark, table_dir):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    assert _as_dict(spark.read.format("snapshot").load(table_dir)) == {
        1: "a",
        2: "b",
    }
    _rows(spark, [(3, "c")]).write.format("snapshot").mode("append").save(
        table_dir
    )
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a", 2: "b", 3: "c"}


def test_format_read_applies_tombstones(spark, table_dir):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b"), (3, "c")]))
    snapshot_delete(
        spark, table_dir, spark.createDataFrame([(2,)], "k long"), ["k"]
    )
    assert _as_dict(spark.read.format("snapshot").load(table_dir)) == {
        1: "a",
        3: "c",
    }


def _every_reader(spark, table_dir, v):
    """Version ``v`` as {key: value} from each reader: the Spark reader,
    the snapshot data source, the Spark-free decoder and ``/pets``."""
    import json

    from petfinder_database_distributor_spark.serving.http_server import (
        load_snapshot_rows,
        snapshot_body,
    )

    return {
        "snapshot_read": _as_dict(snapshot_read(spark, table_dir, v)),
        "format": _as_dict(
            spark.read.format("snapshot").option("version", v).load(table_dir)
        ),
        "load_snapshot_rows": {r["k"]: r["v"] for r in load_snapshot_rows(table_dir, v)},
        "/pets": {
            r["k"]: r["v"] for r in json.loads(snapshot_body(table_dir, v))["pets"]
        },
    }


def _streamed(spark, table_dir, tmp_path):
    """Every row the snapshot stream reader delivers from version 0 to
    the latest, as {key: value}."""
    out = str(tmp_path / "stream_out")
    q = (
        spark.readStream.format("snapshot")
        .load(table_dir)
        .writeStream.foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
        .option("checkpointLocation", str(tmp_path / "stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return _as_dict(spark.read.parquet(out))


def _delete_then_compact(spark, table_dir, key_type, rows, dead_keys, kept):
    """Write ``rows``, delete ``dead_keys``, compact; every reader of the
    delete and of the compaction gives ``kept``."""
    from petfinder_database_distributor_spark.sources.snapshot import snapshot_compact

    snapshot_write(spark, table_dir, spark.createDataFrame(rows, f"k {key_type}, v string"))
    snapshot_delete(
        spark, table_dir, spark.createDataFrame([(k,) for k in dead_keys], f"k {key_type}"), ["k"]
    )
    deleted = latest_version(table_dir)
    compacted = snapshot_compact(spark, table_dir)
    for v in (deleted, compacted):
        for reader, got in _every_reader(spark, table_dir, v).items():
            assert got == kept, (v, reader)


@pytest.mark.parametrize("key_type", ["string", "long"])
def test_null_tombstone_key_deletes_nothing_in_any_reader(spark, tmp_path, key_type):
    """A tombstone key of null deletes no row (SQL equality, as the Spark
    reader's anti-join has it): the Spark reader, the snapshot data
    source, the Spark-free decoder and the served ``/pets`` body agree,
    and a compaction, which reads through the Spark reader, changes no
    reader's rows. The stream reader, fed every version from the write
    through the delete to the compaction, keeps the null-key row too."""
    table_dir = str(tmp_path / "table")
    a, b = ("a", "b") if key_type == "string" else (1, 2)
    kept = {None: "x", b: "z"}
    _delete_then_compact(
        spark, table_dir, key_type, [(None, "x"), (a, "y"), (b, "z")], [None, a], kept
    )
    assert _streamed(spark, table_dir, tmp_path) == kept


def test_nan_tombstone_key_deletes_nan_in_any_reader(spark, tmp_path):
    """Spark's anti-join matches a NaN key to a NaN tombstone and -0.0
    to 0.0, so every reader, the stream reader included, deletes both
    rows, though distinct Python NaN objects compare unequal."""
    table_dir = str(tmp_path / "table")
    nan = float("nan")
    kept = {1.0: "z"}
    _delete_then_compact(
        spark, table_dir, "double", [(nan, "x"), (-0.0, "y"), (1.0, "z")], [nan, 0.0], kept
    )
    assert _streamed(spark, table_dir, tmp_path) == kept


def test_file_scan_reads_without_this_package(spark, tmp_path):
    """The executor side of the data source needs only pyarrow and
    pyspark (the module's deployment note), tombstone test included: a
    pickled reader and its partitions read a NaN-tombstoned version in
    an interpreter that cannot import this package."""
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        make_snapshot_datasource,
    )

    table_dir = str(tmp_path / "table")
    nan = float("nan")
    rows = [(nan, "x"), (-0.0, "y"), (1.0, "z")]
    snapshot_write(spark, table_dir, spark.createDataFrame(rows, "k double, v string"))
    snapshot_delete(spark, table_dir, spark.createDataFrame([(nan,), (0.0,)], "k double"), ["k"])
    reader = make_snapshot_datasource()({"path": table_dir}).reader(None)
    code = (
        "import pickle, sys\n"
        "sys.modules['petfinder_database_distributor_spark'] = None\n"
        "reader, parts = pickle.loads(sys.stdin.buffer.read())\n"
        "batches = [b for p in parts for b in reader.read(p)]\n"
        "sys.stdout.buffer.write(pickle.dumps([r['v'] for b in batches for r in b.to_pylist()]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps((reader, reader.partitions())),
        capture_output=True,
        cwd=tmp_path,
        check=True,
    )
    assert pickle.loads(out.stdout) == ["z"]


def _zone_mapped_table(spark, table_dir, n_slices=4):
    """One file per disjoint k-range, zone maps recorded at commit."""
    for s in range(n_slices):
        df = spark.createDataFrame(
            [(s * 100 + i, f"v{s * 100 + i}") for i in range(100)],
            "k long, v string",
        ).coalesce(1)
        if s == 0:
            snapshot_write(spark, table_dir, df, stats_cols=["k"])
        else:
            snapshot_append(spark, table_dir, df, stats_cols=["k"])
    return read_manifest(table_dir, latest_version(table_dir))


@pytest.mark.slow  # many-partition staging (~15-18 s each)
def test_pushdown_prunes_scan_partitions(spark, table_dir):
    manifest = _zone_mapped_table(spark, table_dir)
    total_files = len(manifest["files"])
    assert total_files == 4
    base = spark.read.format("snapshot").load(table_dir)
    assert base.rdd.getNumPartitions() == total_files
    pruned = base.filter(F.col("k").between(110, 130))
    # planning-time zone-map pruning: only the [100, 199] file survives
    assert pruned.rdd.getNumPartitions() == 1
    assert sorted(r["k"] for r in pruned.collect()) == list(range(110, 131))


@pytest.mark.slow  # many-partition staging (~15-18 s each)
def test_pushdown_equality_and_exact_residual(spark, table_dir):
    _zone_mapped_table(spark, table_dir)
    one = spark.read.format("snapshot").load(table_dir).filter(F.col("k") == 250)
    assert one.rdd.getNumPartitions() == 1
    assert [(r["k"], r["v"]) for r in one.collect()] == [(250, "v250")]


@pytest.mark.slow  # many-partition staging (~15-18 s each)
def test_pushdown_impossible_range_yields_empty_with_schema(spark, table_dir):
    _zone_mapped_table(spark, table_dir)
    none = spark.read.format("snapshot").load(table_dir).filter(F.col("k") > 10_000)
    assert none.count() == 0
    assert none.columns == ["k", "v"]


def test_stream_reads_chain_incrementally_and_resumes(spark, table_dir, tmp_path):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    snapshot_append(spark, table_dir, _rows(spark, [(2, "b")]))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_stream():
        # parquet-via-foreachBatch sink: unlike memory, it supports
        # checkpoint RECOVERY, which is the point of this test
        q = (
            spark.readStream.format("snapshot")
            .load(table_dir)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return _as_dict(spark.read.parquet(out))

    assert run_stream() == {1: "a", 2: "b"}
    # new appends arrive as a NEW batch after restart: resume from the
    # checkpointed version offset, not from scratch (no re-delivery of
    # rows 1 and 2 — their keys appear exactly once in the sink)
    snapshot_append(spark, table_dir, _rows(spark, [(3, "c")]))
    assert run_stream() == {1: "a", 2: "b", 3: "c"}
    assert spark.read.parquet(out).count() == 3


def test_stream_refuses_rewritten_chain(spark, table_dir, tmp_path):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    ckpt = str(tmp_path / "ckpt2")
    out = str(tmp_path / "out2")

    def start():
        return (
            spark.readStream.format("snapshot")
            .load(table_dir)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(120)
    # a full rewrite breaks the append-only chain: the next batch raises
    snapshot_write(spark, table_dir, _rows(spark, [(9, "z")]), base_version=0)
    q2 = start()
    with pytest.raises(Exception, match="append-only"):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()


def test_stream_sink_snapshot_to_snapshot_pipe(spark, table_dir, tmp_path):
    """readStream(snapshot A) -> writeStream(snapshot B): each epoch lands
    in B as one atomic append commit recording its epoch id; draining
    twice moves exactly the new data — end-to-end exactly-once."""
    src = f"{table_dir}_src"
    shutil.rmtree(src, ignore_errors=True)
    snapshot_write(spark, src, _rows(spark, [(1, "a")]))
    snapshot_append(spark, src, _rows(spark, [(2, "b")]))
    ckpt = str(tmp_path / "pipe_ckpt")

    def drain():
        q = (
            spark.readStream.format("snapshot")
            .load(src)
            .writeStream.format("snapshot")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(table_dir)
        )
        q.awaitTermination(120)

    drain()
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a", 2: "b"}
    m = read_manifest(table_dir, latest_version(table_dir))
    assert "last_stream_batch_id" in m
    snapshot_append(spark, src, _rows(spark, [(3, "c")]))
    drain()
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a", 2: "b", 3: "c"}
    # sink rows arrived exactly once: total row count across B == 3
    assert snapshot_read(spark, table_dir).count() == 3
    shutil.rmtree(src, ignore_errors=True)


def test_stream_sink_replay_is_per_query_identity(spark, table_dir):
    """The idempotence contract is txnAppId+txnVersion, not batch id
    alone: a replayed epoch of the SAME query (same checkpoint) is
    dropped, but a DIFFERENT query's epoch with a matching batch id must
    commit — keying on the batch id alone silently drops a fresh query's
    early epochs (data loss)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from petfinder_database_distributor_spark.sources.snapshot_datasource import (
        make_snapshot_datasource,
    )

    cls = make_snapshot_datasource()
    schema = StructType.fromDDL("k long, v string")
    target = to_arrow_schema(schema)

    def commit_epoch(ckpt, batch_id, rows):
        ds = cls({"path": table_dir, "checkpointlocation": ckpt})
        w = ds.streamWriter(schema, False)
        msg = w.write(iter([pa.RecordBatch.from_pylist(rows, schema=target)]))
        w.commit([msg], batch_id)

    commit_epoch("ck_a", 0, [{"k": 1, "v": "a"}])
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a"}
    # same query replays epoch 0 (sink committed, checkpoint didn't):
    # dropped, staged file deleted
    commit_epoch("ck_a", 0, [{"k": 1, "v": "a"}])
    assert snapshot_read(spark, table_dir).count() == 1
    assert os.listdir(os.path.join(table_dir, "_staging")) == []
    # a DIFFERENT query's epoch 0 carries new data: must NOT be dropped
    commit_epoch("ck_b", 0, [{"k": 2, "v": "b"}])
    assert _as_dict(snapshot_read(spark, table_dir)) == {1: "a", 2: "b"}
    # and the same query's NEXT epoch commits normally
    commit_epoch("ck_a", 1, [{"k": 3, "v": "c"}])
    assert _as_dict(snapshot_read(spark, table_dir)) == {
        1: "a",
        2: "b",
        3: "c",
    }


def test_stream_sink_fresh_query_new_data_not_lost(spark, table_dir, tmp_path):
    """End-to-end shape of that data loss: a fresh-checkpoint query
    (batch ids restart at 0) writing into an existing sink table must
    deliver its data — under batch-id-only keying its epoch 0 was
    silently dropped."""
    src = f"{table_dir}_src2"
    shutil.rmtree(src, ignore_errors=True)
    snapshot_write(spark, src, _rows(spark, [(1, "a")]))

    def drain(ckpt):
        q = (
            spark.readStream.format("snapshot")
            .load(src)
            .writeStream.format("snapshot")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(table_dir)
        )
        q.awaitTermination(120)

    drain(str(tmp_path / "ck_a"))
    assert snapshot_read(spark, table_dir).count() == 1
    snapshot_append(spark, src, _rows(spark, [(2, "b")]))
    # fresh checkpoint: a NEW query re-reads the whole chain as batch 0;
    # its rows land (at-least-once across distinct queries — dedup across
    # queries is a merge concern, silent loss never is)
    drain(str(tmp_path / "ck_b"))
    got = snapshot_read(spark, table_dir)
    assert got.filter(F.col("k") == 2).count() == 1
    shutil.rmtree(src, ignore_errors=True)


def test_pushdown_prunes_partitioned_manifest(spark, table_dir):
    """EqualTo/In on the partition column of a partitioned table prune
    whole partitions at planning time: each file's partition value is
    its zone map, so the scan plans exactly the files of the pinned
    values (zone-map pruning, zero I/O)."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_write_partitioned,
    )

    df = spark.createDataFrame(
        [(i, ["red", "green", "blue"][i % 3]) for i in range(90)],
        "k long, color string",
    )
    snapshot_write_partitioned(spark, table_dir, df, "color")
    m = read_manifest(table_dir, 0)

    def files_of(*colors):
        return [f for f in m["files"] if m["file_stats"][f]["color"][0] in colors]

    base = spark.read.format("snapshot").load(table_dir)
    assert base.rdd.getNumPartitions() == len(m["files"])
    one = base.filter(F.col("color") == "red")
    assert one.rdd.getNumPartitions() == len(files_of("red"))
    assert one.count() == 30
    two = base.filter(F.col("color").isin("red", "blue"))
    assert two.rdd.getNumPartitions() == len(files_of("red", "blue")) < len(m["files"])
    assert two.count() == 60
    assert sorted(r["k"] for r in one.collect()) == list(range(0, 90, 3))


def test_pushdown_prunes_after_compaction_and_in_is_exact(spark, table_dir):
    """Zone maps survive a compaction (``stats_cols`` is a table
    property), so a pushed ``k BETWEEN`` still plans 1 file; an In list
    plans exactly the files holding one of its values, not every file
    of the range between them."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_compact,
    )

    df = spark.range(400).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    snapshot_write(spark, table_dir, df.repartitionByRange(4, "k"), stats_cols=["k"])
    v = snapshot_compact(spark, table_dir, target_files=4)
    m = read_manifest(table_dir, v)
    assert len(m["files"]) == 4 and set(m["file_stats"]) == set(m["files"])
    scan = spark.read.format("snapshot").load(table_dir)
    between = scan.filter(F.col("k").between(110, 130))
    assert between.rdd.getNumPartitions() == 1
    assert sorted(r["k"] for r in between.collect()) == list(range(110, 131))
    ends = scan.filter(F.col("k").isin(5, 395))
    assert ends.rdd.getNumPartitions() == 2
    assert sorted(r["k"] for r in ends.collect()) == [5, 395]


def test_stream_skips_compaction_commits(spark, table_dir, tmp_path):
    """Compaction stamps data_change=false, so a live stream skips the
    layout-only commit (no re-delivery, no error) and a fresh stream over
    the full chain still sees every row exactly once."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_compact,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b")]))
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def drain(ckpt, out):
        q = (
            spark.readStream.format("snapshot")
            .load(table_dir)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return _as_dict(spark.read.parquet(out))

    assert drain(ckpt, out) == {1: "a", 2: "b"}
    snapshot_compact(spark, table_dir)
    snapshot_append(spark, table_dir, _rows(spark, [(3, "c")]))
    # live stream: the compaction version contributes nothing; only the
    # genuine append arrives, and nothing is re-delivered
    assert drain(ckpt, out) == {1: "a", 2: "b", 3: "c"}
    assert spark.read.parquet(out).count() == 3
    # fresh stream over the whole chain (pre-compaction files retained):
    # every row exactly once, the compacted layout never double-delivers
    out2 = str(tmp_path / "out2")
    assert drain(str(tmp_path / "ck2"), out2) == {1: "a", 2: "b", 3: "c"}
    assert spark.read.parquet(out2).count() == 3


@pytest.mark.slow  # many-partition staging (~15-18 s each)
def test_pushdown_on_string_stats_degrades_gracefully(spark, table_dir):
    """One-sided bounds on non-numeric zone maps (inf sentinels don't
    compare against strings) must degrade to a full scan, never fail the
    plan; exactness is Spark's residual filter."""
    df = spark.createDataFrame(
        [(i, chr(97 + i % 26)) for i in range(100)], "k long, v string"
    ).coalesce(2)
    snapshot_write(spark, table_dir, df, stats_cols=["v"])
    got = (
        spark.read.format("snapshot")
        .load(table_dir)
        .filter(F.col("v") > "m")
    )
    assert got.count() == df.filter(F.col("v") > "m").count()
    # two-sided bounds on strings DO prune (no sentinels involved)
    eq = spark.read.format("snapshot").load(table_dir).filter(F.col("v") == "a")
    assert eq.count() == df.filter(F.col("v") == "a").count()


def test_stream_no_resurrection_across_materializing_rewrite(
    spark, table_dir, tmp_path
):
    """A delete followed by a compaction (which materializes the
    tombstones and emits a tombstone-free data_change=false manifest)
    must not resurrect the deleted row for a stream whose offset range
    spans both commits: tombstones apply per the versions that carried
    them, not per the END manifest."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_compact,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a"), (2, "b"), (3, "c")]))
    snapshot_delete(
        spark, table_dir, spark.createDataFrame([(2,)], "k long"), ["k"]
    )
    snapshot_compact(spark, table_dir)  # materializes the delete
    assert read_manifest(table_dir, latest_version(table_dir)).get(
        "tombstones", []
    ) == []
    # a LATER append of the deleted key is a genuinely new row (the
    # tombstone was cleared before the file was introduced)
    snapshot_append(spark, table_dir, _rows(spark, [(2, "b2")]))
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot")
        .load(table_dir)
        .writeStream.foreachBatch(
            lambda df, _id: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _as_dict(spark.read.parquet(out)) == {1: "a", 3: "c", 2: "b2"}
    assert spark.read.parquet(out).count() == 3


def test_timestamp_as_of_accepts_iso_strings(spark, table_dir):
    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    committed = read_manifest(table_dir, 0)["committed_at"]
    from datetime import datetime

    iso = datetime.fromtimestamp(committed + 1).isoformat(sep=" ")
    got = (
        spark.read.format("snapshot")
        .option("timestampAsOf", iso)
        .load(table_dir)
    )
    assert _as_dict(got) == {1: "a"}
    # epoch-seconds form still works
    got2 = (
        spark.read.format("snapshot")
        .option("timestampAsOf", str(committed + 1))
        .load(table_dir)
    )
    assert _as_dict(got2) == {1: "a"}
    import pytest as _pytest

    with _pytest.raises(Exception, match="neither epoch seconds nor"):
        spark.read.format("snapshot").option(
            "timestampAsOf", "not-a-time"
        ).load(table_dir).collect()


def test_stream_partitioned_chain_reads_with_recorded_schema(
    spark, table_dir, tmp_path
):
    """Streaming a partitioned chain no longer KeyErrors on the absent
    manifest schema: partitioned manifests now record it (and pre-schema
    manifests fall back to footer inference via the shared resolver)."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_write_partitioned,
    )

    df = spark.createDataFrame(
        [(1, "red"), (2, "blue"), (3, "red")], "k long, color string"
    )
    snapshot_write_partitioned(spark, table_dir, df, "color")
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot")
        .load(table_dir)
        .writeStream.foreachBatch(
            lambda d, _id: d.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [1, 2, 3]


def test_empty_table_reads_serve_manifest_schema(spark, table_dir):
    """Committing an empty DataFrame yields a readable 0-row table with
    the committed schema — both through the library reader and the
    format API."""
    empty = spark.createDataFrame([], "k long, v string")
    snapshot_write(spark, table_dir, empty)
    got = snapshot_read(spark, table_dir)
    assert got.count() == 0
    assert got.columns == ["k", "v"]
    fmt = spark.read.format("snapshot").load(table_dir)
    assert fmt.count() == 0
    assert fmt.columns == ["k", "v"]


def test_timestamp_before_retention_raises_never_serves_newer(spark, table_dir):
    """Time travel to a vacuumed horizon fails loudly: an instant that
    predates every RETAINED version raises instead of silently serving a
    newer version's data (the audit/repro contract of timestamp reads)."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_vacuum,
    )

    snapshot_write(spark, table_dir, _rows(spark, [(1, "a")]))
    v0_at = read_manifest(table_dir, 0)["committed_at"]
    snapshot_append(spark, table_dir, _rows(spark, [(2, "b")]))
    snapshot_append(spark, table_dir, _rows(spark, [(3, "c")]))
    assert snapshot_vacuum(table_dir, keep_last=2) == [0]
    with pytest.raises(Exception, match="no retained version"):
        spark.read.format("snapshot").option(
            "timestampAsOf", str(v0_at)
        ).load(table_dir).collect()
    # instants at or after a retained commit still resolve normally
    got = (
        spark.read.format("snapshot")
        .option("timestampAsOf", str(read_manifest(table_dir, 1)["committed_at"]))
        .load(table_dir)
    )
    assert _as_dict(got) == {1: "a", 2: "b"}


def test_pushdown_bloom_prunes_point_lookup(spark, table_dir):
    """EqualTo/In on a bloom-indexed column prune at PLANNING time even
    when zone maps are useless (hash-scrambled layout: every file's
    min/max spans the whole domain). Partition count = surviving files."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_write,
    )

    df = (
        spark.range(4000)
        .selectExpr("id * 2654435761 % 1000003 AS k", "id AS payload")
        .repartition(8)
    )
    snapshot_write(spark, table_dir, df, bloom_cols=["k"], stats_cols=["k"])
    probe = (7 * 2654435761) % 1000003
    scan = spark.read.format("snapshot").load(table_dir)
    hit = scan.filter(F.col("k") == probe)
    assert hit.rdd.getNumPartitions() <= 2  # 1 true file + rare fp
    assert [(r["k"], r["payload"]) for r in hit.collect()] == [(probe, 7)]
    # absent key: near-total skip, zero rows (exact re-apply by Spark)
    miss = scan.filter(F.col("k") == 999983)
    assert miss.rdd.getNumPartitions() <= 2
    assert miss.count() == 0
    # IN-list unions candidates; conjunctive equalities intersect
    probes = [(i * 2654435761) % 1000003 for i in (3, 11)]
    got = scan.filter(F.col("k").isin(probes)).collect()
    assert sorted(r["payload"] for r in got) == [3, 11]
    # a format-API append keeps the index: the appended version still
    # declares bloom_cols, its new files get sidecars, and a point lookup
    # prunes old and new files alike
    (
        spark.range(4000, 8000)
        .selectExpr("id * 2654435761 % 1000003 AS k", "id AS payload")
        .repartition(8)
        .write.format("snapshot")
        .mode("append")
        .save(table_dir)
    )
    m = read_manifest(table_dir, latest_version(table_dir))
    assert m["bloom_cols"] == ["k"]
    assert set(m["file_blooms"]) == set(m["files"]) and len(m["files"]) == 16
    scan = spark.read.format("snapshot").load(table_dir)
    for i in (7, 4007):
        probe = (i * 2654435761) % 1000003
        hit = scan.filter(F.col("k") == probe)
        assert hit.rdd.getNumPartitions() <= 2
        expect = [j for j in range(8000) if j * 2654435761 % 1000003 == probe]
        assert sorted(r["payload"] for r in hit.collect()) == expect
