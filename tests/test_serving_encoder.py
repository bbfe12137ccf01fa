"""The served ``/pets`` body is written straight from Arrow columns; it
must be byte-identical to the reference encoding,
``json.dumps({"count": len(rows), "pets": rows}).encode()`` over
``load_snapshot_rows``. A differential property over random Arrow tables
(committed by hand, Spark-free), a property that the tombstone mask
keeps the rows the reference's key-tuple test keeps, the commit paths
that shape a version (empty write, schema-evolving append, delete,
append after delete), and a structural pin that a miss reads no data
file through ``read_table``, decodes none row by row, and encodes per
value only the columns Arrow kernels cannot write."""

from __future__ import annotations

import datetime
import json
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from petfinder_database_distributor_spark.serving import http_server
from petfinder_database_distributor_spark.serving.http_server import (
    _file_rows,
    _json_texts as json_texts,
    _live_rows,
    load_snapshot_rows,
    snapshot_body,
)
from petfinder_database_distributor_spark.sources.snapshot import (
    _commit_metadata,
    live_key_mask,
)

KEY = "k"  # the key column every generated file carries

# Names and strings mix JSON-special, template-special (%), control,
# non-ASCII and astral characters. Plain strings are printable ASCII
# without " or \, which a miss joins without escaping.
SPECIAL = '%"\\\x00\x01\x1f\x7f\t\n é✓𝔘'
PLAIN = "".join(chr(c) for c in range(0x20, 0x7F) if chr(c) not in '"\\')
names = st.text(alphabet=st.sampled_from(SPECIAL + "abcxyz"), min_size=1, max_size=6)
plain_texts = st.text(alphabet=st.sampled_from(PLAIN), max_size=8)
texts = st.one_of(
    st.text(max_size=12),
    st.text(alphabet=st.sampled_from(SPECIAL), max_size=8),
    st.text(alphabet=st.sampled_from(PLAIN + '"\\\x1f\x7f'), max_size=8),
)
INT32 = st.integers(-(2**31), 2**31 - 1)
INT64 = st.integers(-(2**63), 2**63 - 1)
UINT64 = st.one_of(st.just(2**64 - 1), st.integers(0, 2**64 - 1))
KINDS = {
    "string": (pa.string(), texts),
    "plain": (pa.string(), plain_texts),
    "all-null": (pa.string(), st.none()),
    "all-empty": (pa.string(), st.just("")),
    "large_string": (pa.large_string(), st.one_of(plain_texts, texts)),
    "bool": (pa.bool_(), st.booleans()),
    "int32": (pa.int32(), INT32),
    "int64": (pa.int64(), INT64),
    "uint64": (pa.uint64(), UINT64),
    "double": (pa.float64(), st.floats(allow_nan=True, allow_infinity=True)),
}


# Tombstone key types against the data files' int32, int64 or string key
# column: in-range keys, int64 keys outside int32's range, and keys that
# only Python's == matches across types (1 == 1.0 == True), so every
# tombstone mask path is drawn. A null key deletes nothing.
TOMBSTONES = {
    "int64": (pa.int64(), st.one_of(st.integers(0, 9), st.sampled_from([2**31, -(2**63)]))),
    "string": (pa.string(), st.integers(0, 9).map(str)),
    "double": (pa.float64(), st.sampled_from([1.0, 2.5, float("nan")])),
    "bool": (pa.bool_(), st.booleans()),
}


@st.composite
def tombstones(draw):
    typ, values = TOMBSTONES[draw(st.sampled_from(sorted(TOMBSTONES)))]
    return pa.array(draw(st.lists(st.one_of(st.none(), values), max_size=4)), typ)


@st.composite
def arrow_file(draw):
    """One data file: the key column (int32, int64 or string) plus 0-5
    random columns, each either null-free or with nulls."""
    n = draw(st.integers(0, 12))
    keys = draw(st.lists(st.integers(0, 9), min_size=n, max_size=n))
    key_type = draw(st.sampled_from([pa.int32(), pa.int64(), pa.string()]))
    cols = {KEY: pa.array(map(str, keys) if key_type == pa.string() else keys, key_type)}
    extra = draw(st.lists(names.filter(lambda s: s != KEY), max_size=5, unique=True))
    for name in extra:
        typ, values = KINDS[draw(st.sampled_from(sorted(KINDS)))]
        if draw(st.booleans()):
            values = st.one_of(st.none(), values)
        cols[name] = pa.array(draw(st.lists(values, min_size=n, max_size=n)), typ)
    order = draw(st.permutations(list(cols)))
    return pa.table({c: cols[c] for c in order})


def _commit(
    table_dir: str,
    files: list[pa.Table],
    dead: pa.Array | list[int] | None,
    row_group_size: int | None = None,
) -> None:
    """Commit ``files`` (and ``dead`` key tombstones, int64 unless given
    as an Arrow array) as version 0; a small ``row_group_size`` writes
    each file in several row groups."""
    for sub in ("_manifests", "data/v0/t", "tombstones/v0/t"):
        os.makedirs(os.path.join(table_dir, sub))
    rels = []
    for i, t in enumerate(files):
        rels.append(f"data/v0/t/part-{i:05d}.parquet")
        pq.write_table(t, os.path.join(table_dir, rels[-1]), row_group_size=row_group_size)
    manifest = {"version": 0, "files": rels, "columns": [KEY], "operation": "write"}
    if dead is not None:
        tomb = "tombstones/v0/t/part-00000.parquet"
        keys = pa.table({KEY: dead if isinstance(dead, pa.Array) else pa.array(dead, pa.int64())})
        pq.write_table(keys, os.path.join(table_dir, tomb))
        manifest.update(tombstones=[tomb], key_cols=[KEY])
    _commit_metadata(table_dir, 0, None, manifest)


def _reference(table_dir: str, version: int) -> bytes:
    rows = load_snapshot_rows(table_dir, version)
    return json.dumps({"count": len(rows), "pets": rows}).encode()


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(arrow_file(), min_size=1, max_size=3),
    st.one_of(st.none(), tombstones()),
    st.sampled_from([None, 1, 5]),
)
def test_arrow_encoding_matches_reference_on_random_tables(files, dead, row_group_size):
    with tempfile.TemporaryDirectory() as table_dir:
        _commit(table_dir, files, dead, row_group_size)
        assert snapshot_body(table_dir, 0) == _reference(table_dir, 0)


@settings(max_examples=100, deadline=None)
@given(arrow_file(), st.data())
def test_file_rows_honor_array_offsets(table, data):
    """A data file's rows encode like ``json.dumps`` when its arrays
    start past their buffers' beginnings, as a slice or a tombstone
    filter may leave them."""
    if table.num_rows == 0:
        return
    start = data.draw(st.integers(0, table.num_rows - 1))
    stop = data.draw(st.integers(start + 1, table.num_rows))
    part = table.slice(start, stop - start)
    expected = b"".join(json.dumps(r).encode() + b", " for r in part.to_pylist())
    assert bytes(_file_rows(part)) == expected


# Key column types for the tombstone mask, and the values tombstone keys
# draw besides the column's own: integers outside every column's range,
# and values of other Python types that == may or may not match.
KEY_KINDS = {
    "int8": (pa.int8(), st.integers(-(2**7), 2**7 - 1)),
    "int32": (pa.int32(), INT32),
    "uint64": (pa.uint64(), UINT64),
    "string": (pa.string(), st.sampled_from(["", "a", "1"])),
    "large_string": (pa.large_string(), st.sampled_from(["", "a", "1"])),
    "binary": (pa.binary(), st.sampled_from([b"", b"a", b"1"])),
    "double": (pa.float64(), st.sampled_from([0.0, 1.0, 2.5, float("nan")])),
    "bool": (pa.bool_(), st.booleans()),
}
FOREIGN_KEYS = st.one_of(
    st.integers(-(2**65), 2**65),
    st.sampled_from([-1, 0, 1, 128, -129, 2**31, 2**63, 2**64 - 1, 2**64]),
    st.booleans(),
    st.sampled_from([0.0, 1.0, 2.5, float("nan")]),
    st.sampled_from(["", "a", "1", b"", b"a", b"1"]),
)


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_live_rows_match_the_tuple_set_mask(data):
    """The tombstone mask of a miss keeps exactly the rows whose key
    tuple is not in the dead set, as ``load_snapshot_rows`` tests them
    (``live_key_mask``):
    one or two key columns of any key type, chunked, against dead keys
    that mix the column's own values with integers outside its range
    and values of other Python types."""
    n = data.draw(st.integers(0, 10))
    cols = {}
    for name in data.draw(st.sampled_from([["a"], ["a", "b"]])):
        typ, values = KEY_KINDS[data.draw(st.sampled_from(sorted(KEY_KINDS)))]
        cols[name] = pa.array(
            data.draw(st.lists(st.one_of(st.none(), values), min_size=n, max_size=n)), typ
        )
    table = pa.table(cols)
    cut = data.draw(st.integers(0, n))
    table = pa.concat_tables([table.slice(0, cut), table.slice(cut)])
    own = {c: [v for v in cols[c].to_pylist() if v is not None] for c in cols}
    component = {
        c: st.one_of(st.sampled_from(own[c]), FOREIGN_KEYS) if own[c] else FOREIGN_KEYS
        for c in cols
    }
    dead = set(
        data.draw(st.lists(st.tuples(*component.values()), min_size=1, max_size=5))
    )
    keys = zip(*[table.column(c).to_pylist() for c in cols])
    expected = live_key_mask(keys, dead)
    assert _live_rows(table, list(cols), dead).to_pylist() == expected


def test_arrow_encoding_covers_type_extremes():
    """The boundary values every typed branch must render like
    ``json.dumps``, each column once null-free and once with a null."""
    cols = {
        "s": pa.array(['q"t', "\\", "\x00\x1f\x7f", "é✓𝔘", "%s %d %%"]),
        "b": pa.array([True, False, True, False, True]),
        "i32": pa.array([-(2**31), 2**31 - 1, 0, -1, 1], pa.int32()),
        "i64": pa.array([-(2**63), 2**63 - 1, 0, -1, 1], pa.int64()),
        "u64": pa.array([0, 2**64 - 1, 2**63, 1, 2], pa.uint64()),
        "ls": pa.array(["plain", "", "a b", "é", "~"], pa.large_string()),
        "x": pa.array([float("nan"), float("inf"), float("-inf"), -0.0, 1e308]),
    }
    with_nulls = {
        f"{c}?": pa.array(a.to_pylist()[:4] + [None], a.type) for c, a in cols.items()
    }
    t = pa.table({KEY: pa.array(range(5), pa.int64()), **cols, **with_nulls})
    with tempfile.TemporaryDirectory() as table_dir:
        _commit(table_dir, [t, t.slice(0, 0)], [3])
        body = snapshot_body(table_dir, 0)
        assert body == _reference(table_dir, 0)
        assert json.loads(body)["count"] == 4


def test_unsupported_types_raise_like_the_reference():
    """Types outside the fast paths go through ``json.dumps`` per value:
    a nested list encodes, a date raises the same TypeError."""
    nested = pa.table({KEY: pa.array([1, 2]), "l": pa.array([[1, None], []])})
    dated = pa.table({KEY: pa.array([1]), "d": pa.array([datetime.date(2024, 1, 2)])})
    with tempfile.TemporaryDirectory() as table_dir:
        _commit(table_dir, [nested], None)
        assert snapshot_body(table_dir, 0) == _reference(table_dir, 0)
    with tempfile.TemporaryDirectory() as table_dir:
        _commit(table_dir, [dated], None)
        with pytest.raises(TypeError):
            _reference(table_dir, 0)
        with pytest.raises(TypeError):
            snapshot_body(table_dir, 0)


def test_committed_versions_match_reference(spark, tmp_path):
    """Every version shape the commit paths produce: a 0-row write, an
    append, a schema-evolving append (two files, the older one without
    the new column), a delete, and an append of a deleted key (hidden)."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_append,
        snapshot_delete,
        snapshot_write,
    )

    schema = "k long, name string, ok boolean, n int"
    table = str(tmp_path / "table")
    snapshot_write(spark, table, spark.createDataFrame([], schema))
    snapshot_append(
        spark, table,
        spark.createDataFrame([(1, 'a "b"', True, None), (2, None, None, 7)], schema),
    )
    snapshot_append(
        spark, table,
        spark.createDataFrame(
            [
                (3, "é\n✓", False, -(2**31), float("nan")),
                (4, "%", True, 2**31 - 1, -0.0),
            ],
            schema + ", x double",
        ),
        evolve_schema=True,
    )
    snapshot_delete(spark, table, spark.createDataFrame([(2,), (3,)], "k long"), ["k"])
    v = snapshot_append(
        spark, table,
        spark.createDataFrame([(2, "back", True, 0, 1.5)], schema + ", x double"),
    )
    for version in range(v + 1):
        assert snapshot_body(table, version) == _reference(table, version), version
    assert json.loads(snapshot_body(table, 0)) == {"count": 0, "pets": []}
    assert [r["k"] for r in json.loads(snapshot_body(table, v))["pets"]] == [1, 4]


class _NoRowDecode:
    """A pyarrow Table whose ``to_pylist`` raises; every other attribute
    is the table's own, and tables it returns are wrapped again."""

    def __init__(self, table):
        self._table = table

    def to_pylist(self):
        raise AssertionError("data file decoded row by row")

    def __getattr__(self, name):
        attr = getattr(self._table, name)
        if not callable(attr):
            return attr

        def call(*args, **kwargs):
            out = attr(*args, **kwargs)
            return _NoRowDecode(out) if isinstance(out, pa.Table) else out

        return call


def test_miss_never_decodes_a_data_file_row_by_row(monkeypatch):
    """Pins the fast path without timing it. On a miss, with or without
    tombstones, each data file is read through ``ParquetFile.read``,
    never ``read_table`` with its dataset discovery, and never row by row
    (``Table.to_pylist``; the reference decoder trips the same trap, so
    the trap is live). Plain strings, booleans and integers never reach
    the per-value ``_json_texts``; a column of strings that need escaping
    reaches it alone."""
    plain = pa.table(
        {
            KEY: pa.array([1, 2, 3]),
            "name": pa.array(["a", None, "c"]),
            "kind": pa.array(["dog", "cat", ""]),
            "ok": pa.array([True, None, False]),
            "n": pa.array([7, None, -1], pa.int32()),
        }
    )
    escaped = plain.append_column("note", pa.array(["é", "b", None]))
    read_table, read = pq.read_table, pq.ParquetFile.read
    table_reads = []

    def traced_read_table(path, *args, **kwargs):
        table_reads.append(str(path))
        return _NoRowDecode(read_table(path, *args, **kwargs))

    def no_per_value(col):
        raise AssertionError(f"per-value encoding of {col.type}")

    with tempfile.TemporaryDirectory() as plain_dir, tempfile.TemporaryDirectory() as escaped_dir:
        _commit(plain_dir, [plain, plain], [2])
        _commit(escaped_dir, [escaped], None)
        expected = {d: _reference(d, 0) for d in (plain_dir, escaped_dir)}
        monkeypatch.setattr(pq, "read_table", traced_read_table)
        monkeypatch.setattr(
            pq.ParquetFile, "read", lambda self, *a, **k: _NoRowDecode(read(self, *a, **k))
        )
        monkeypatch.setattr(http_server, "_json_texts", no_per_value)
        assert snapshot_body(plain_dir, 0) == expected[plain_dir]

        per_value = []
        monkeypatch.setattr(
            http_server, "_json_texts", lambda col: per_value.append(col) or json_texts(col)
        )
        assert snapshot_body(escaped_dir, 0) == expected[escaped_dir]
        assert [col.to_pylist() for col in per_value] == [["é", "b", None]]
        assert not [p for p in table_reads if "tombstones" not in p], "read_table on a data file"
        with pytest.raises(AssertionError, match="row by row"):
            load_snapshot_rows(plain_dir, 0)
