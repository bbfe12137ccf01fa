"""The served ``/pets`` body is written straight from Arrow columns; it
must be byte-identical to the reference encoding,
``json.dumps({"count": len(rows), "pets": rows}).encode()`` over
``load_snapshot_rows``. A differential property over random Arrow tables
(committed by hand, Spark-free), the commit paths that shape a version
(empty write, schema-evolving append, delete, append after delete), and
a structural pin that a miss never decodes a data file row by row."""

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

from petfinder_database_distributor_spark.serving.http_server import (
    load_snapshot_rows,
    snapshot_body,
)
from petfinder_database_distributor_spark.sources.snapshot import _commit_metadata

KEY = "k"  # the key column every generated file carries

# Names and strings mix JSON-special, template-special (%), control,
# non-ASCII and astral characters.
SPECIAL = '%"\\\x00\x01\x1f\x7f\t\n é✓𝔘'
names = st.text(alphabet=st.sampled_from(SPECIAL + "abcxyz"), min_size=1, max_size=6)
texts = st.one_of(
    st.text(max_size=12), st.text(alphabet=st.sampled_from(SPECIAL), max_size=8)
)
INT32 = st.integers(-(2**31), 2**31 - 1)
INT64 = st.integers(-(2**63), 2**63 - 1)
KINDS = {
    "string": (pa.string(), texts),
    "bool": (pa.bool_(), st.booleans()),
    "int32": (pa.int32(), INT32),
    "int64": (pa.int64(), INT64),
    "double": (pa.float64(), st.floats(allow_nan=True, allow_infinity=True)),
}


@st.composite
def arrow_file(draw):
    """One data file: the int64 key column plus 0-5 random columns, each
    either null-free or with nulls."""
    n = draw(st.integers(0, 12))
    keys = draw(st.lists(st.integers(0, 9), min_size=n, max_size=n))
    cols = {KEY: pa.array(keys, pa.int64())}
    extra = draw(st.lists(names.filter(lambda s: s != KEY), max_size=5, unique=True))
    for name in extra:
        typ, values = KINDS[draw(st.sampled_from(sorted(KINDS)))]
        if draw(st.booleans()):
            values = st.one_of(st.none(), values)
        cols[name] = pa.array(draw(st.lists(values, min_size=n, max_size=n)), typ)
    order = draw(st.permutations(list(cols)))
    return pa.table({c: cols[c] for c in order})


def _commit(table_dir: str, files: list[pa.Table], dead: list[int] | None) -> None:
    """Commit ``files`` (and ``dead`` key tombstones) as version 0."""
    for sub in ("_manifests", "data/v0/t", "tombstones/v0/t"):
        os.makedirs(os.path.join(table_dir, sub))
    rels = []
    for i, t in enumerate(files):
        rels.append(f"data/v0/t/part-{i:05d}.parquet")
        pq.write_table(t, os.path.join(table_dir, rels[-1]))
    manifest = {"version": 0, "files": rels, "columns": [KEY], "operation": "write"}
    if dead is not None:
        tomb = "tombstones/v0/t/part-00000.parquet"
        keys = pa.table({KEY: pa.array(dead, pa.int64())})
        pq.write_table(keys, os.path.join(table_dir, tomb))
        manifest.update(tombstones=[tomb], key_cols=[KEY])
    _commit_metadata(table_dir, 0, None, manifest)


def _reference(table_dir: str, version: int) -> bytes:
    rows = load_snapshot_rows(table_dir, version)
    return json.dumps({"count": len(rows), "pets": rows}).encode()


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(arrow_file(), min_size=1, max_size=3),
    st.one_of(st.none(), st.lists(st.integers(0, 9), max_size=4)),
)
def test_arrow_encoding_matches_reference_on_random_tables(files, dead):
    with tempfile.TemporaryDirectory() as table_dir:
        _commit(table_dir, files, dead)
        assert snapshot_body(table_dir, 0) == _reference(table_dir, 0)


def test_arrow_encoding_covers_type_extremes():
    """The boundary values every typed branch must render like
    ``json.dumps``, each column once null-free and once with a null."""
    cols = {
        "s": pa.array(['q"t', "\\", "\x00\x1f\x7f", "é✓𝔘", "%s %d %%"]),
        "b": pa.array([True, False, True, False, True]),
        "i32": pa.array([-(2**31), 2**31 - 1, 0, -1, 1], pa.int32()),
        "i64": pa.array([-(2**63), 2**63 - 1, 0, -1, 1], pa.int64()),
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
    """Pins the fast path without timing it: on a miss, no data file
    read goes through ``Table.to_pylist``, with or without tombstones.
    The reference decoder trips the same trap, so the trap is live."""
    t = pa.table({KEY: pa.array([1, 2, 3]), "name": pa.array(["a", None, "c"])})
    with tempfile.TemporaryDirectory() as table_dir:
        _commit(table_dir, [t, t], [2])
        expected = _reference(table_dir, 0)
        read_table = pq.read_table
        monkeypatch.setattr(
            pq, "read_table", lambda *a, **k: _NoRowDecode(read_table(*a, **k))
        )
        assert snapshot_body(table_dir, 0) == expected
        with pytest.raises(AssertionError, match="row by row"):
            load_snapshot_rows(table_dir, 0)
