"""Manifest-committed table snapshots: atomic multi-file commits.

The reference guarantees serving-during-rewrite at FILE granularity with
tmp + fsync + os.replace (pet_scraper.py:468-488; server.py:299-307 keeps
serving the old CSV while the rewrite runs). A Spark table is MANY files,
so the same guarantee needs one extra indirection — the public idea behind
Delta Lake / Iceberg, restated here with nothing but the stdlib:

* data files are immutable and live under ``data/v{N}/`` (one directory
  per snapshot version, written once by a Spark job, never modified);
* ``_manifests/v{N}.json`` names exactly the files of version N (plus row
  count and column names), committed via tmp + fsync + ``os.replace``;
* ``_latest`` holds the current version number and is the SINGLE commit
  point — also tmp + fsync + ``os.replace``, so a reader sees either the
  old pointer or the new one, never a torn table.

Readers resolve ``_latest`` → manifest → explicit file list; they never
list ``data/`` (half-written job output is invisible because nothing
points at it), and time travel to a version above ``_latest`` is refused
(:func:`resolve_version`). Row-level deletes are MERGE-ON-READ: ``snapshot_delete``
commits a tombstone key file and carries every data file forward
untouched (O(delete keys) per request — the deletion-vector idea from
the production formats); readers anti-join the tombstones out, and the
next compaction/merge folds them into fresh files. A crash anywhere before the pointer replace leaves the
previous snapshot fully intact — tests/test_snapshot_table.py kills the
protocol at every intermediate step and proves readers never see a torn
or mixed version. Old versions stay readable (``version=``), giving
time travel and concurrent-reader safety during compaction for free.

Every manifest has one layout: a flat ``files`` list. Beside it, per
file, sit the zone maps (``file_stats``: [min, max] per column of the
recorded ``stats_cols``) and the bloom sidecars (``file_blooms``, for
``bloom_cols``) -- Iceberg's manifest shape, where a data file's
partition value and bounds are recorded next to the file. Both column
lists are table properties: once a writer declares them, every later
writer collects them for its new files. A partitioned table is a flat
table whose files each hold one value of ``partition_col``, so that
value is the file's zone map (min = max); partition pruning and the
partition-scoped merge are zone-map pruning (:func:`prune_values`).

Concurrent WRITERS are handled optimistically: the committer records the
version it based its write on and refuses the pointer swap if another
writer got there first (``SnapshotConflictError``) — the loser retries on
fresh state instead of silently clobbering the winner's files. Two
mechanisms make that airtight rather than check-then-act (the entry
check alone spans the whole Spark write):

* every writer stages data under a WRITER-UNIQUE directory
  ``data/v{N}/{token}/`` — two writers that both derived version N can
  never overwrite each other's data files, no matter how their Spark
  jobs interleave;
* the metadata commit (manifest + pointer swap) runs inside an
  ``flock``-held critical section that RE-VERIFIES
  ``latest_version() == base_version`` immediately before the swap; the
  loser's data directory becomes unreferenced garbage (reclaimable by
  vacuum), never a committed-state corruption.

A DEAD writer (crashed after its manifest landed but before the pointer
swap) holds no lock, so the next live writer for that version number
simply overwrites the orphan manifest — crash recovery stays automatic
(tests pin this). On a real object store the flock+recheck becomes the
store's compare-and-swap on the pointer; the protocol shape is
unchanged.

At 100 TB the manifest lists O(files) names — kilobytes per thousand
files; the data plane is untouched Spark parquet I/O.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from petfinder_database_distributor_spark.operators.dedup import key_dedup


class SnapshotConflictError(RuntimeError):
    """Another writer committed since this writer read its base version."""


@contextlib.contextmanager
def _commit_lock(table_dir: str):
    """Exclusive advisory lock serializing the metadata commit (manifest
    write + pointer swap + the base re-verification between them). Held
    only for the tiny metadata window, never across the Spark data write.
    The OS releases it on process death, so a crashed committer can't
    wedge the table. Maps to compare-and-swap on an object store."""
    import fcntl

    path = os.path.join(table_dir, "_commit.lock")
    with open(path, "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def _check_base(table_dir: str, base_version: int | None) -> int | None:
    current = latest_version(table_dir)
    if current != base_version:
        raise SnapshotConflictError(
            f"table advanced to v{current} since this writer read"
            f" {'empty' if base_version is None else f'v{base_version}'};"
            " re-read and retry"
        )
    return current


def _commit_metadata(
    table_dir: str, version: int, base_version: int | None, manifest: dict
) -> None:
    """The commit: under the lock, re-verify the base (the entry check
    alone is check-then-act across the whole Spark write), then
    manifest, then pointer. A racing writer fails HERE with
    its data staged in its own unique directory, touching nothing
    committed."""
    import time

    manifest.setdefault("committed_at", round(time.time(), 3))
    with _commit_lock(table_dir):
        _check_base(table_dir, base_version)
        _fsync_replace(
            _manifest_path(table_dir, version) + "._tmp",
            _manifest_path(table_dir, version),
            json.dumps(manifest, indent=1),
        )
        # THE commit point. Everything before this line is invisible to
        # readers; a crash before it leaves the table at the old version.
        _fsync_replace(
            os.path.join(table_dir, "_latest._tmp"),
            os.path.join(table_dir, "_latest"),
            str(version),
        )


def _fsync_replace(tmp_path: str, final_path: str, payload: str) -> None:
    """The reference's file-commit idiom, verbatim at table-metadata level:
    write aside, flush to disk, atomically swap into place."""
    with open(tmp_path, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp_path, final_path)


def latest_version(table_dir: str) -> int | None:
    """Current committed version, or None for an empty/absent table.
    Read through a raw descriptor, with no existence check first and no
    text file object: it is on the path of every served ``/pets`` hit."""
    try:
        fd = os.open(os.path.join(table_dir, "_latest"), os.O_RDONLY | os.O_CLOEXEC)
    except (FileNotFoundError, NotADirectoryError):
        return None
    try:
        return int(os.read(fd, 64))  # int() strips the whitespace
    finally:
        os.close(fd)


def resolve_version(table_dir: str, version: int | None = None) -> int | None:
    """The version a reader serves: the latest pointer when ``version`` is
    None (None for an empty or absent table), else ``version`` once it is
    known to be committed. A version above ``_latest`` is refused with
    FileNotFoundError even when its manifest exists: a writer that died
    between writing ``v{N}.json`` and swapping the pointer leaves one,
    and the next writer overwrites it with different contents."""
    latest = latest_version(table_dir)
    if version is None:
        return latest
    if latest is None or version > latest:
        raise FileNotFoundError(
            f"snapshot v{version} of {table_dir} is not committed"
            f" (latest: {latest})"
        )
    return version


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, "_manifests", f"v{version}.json")


def _carry_forward(prev: dict) -> dict:
    """Copy of ``prev`` safe to extend into the NEXT version's manifest:
    per-commit transient flags must not ride along — a compaction's
    ``data_change: false`` would mislabel the next genuine append as
    layout-only (the streaming source would silently skip its rows), and
    a streaming sink's recorded epoch id would make a later fresh-
    checkpoint stream drop its first batch as a replay."""
    out = dict(prev)
    for transient in ("data_change", "last_stream_batch_id", "operation",
                      "committed_at"):
        out.pop(transient, None)
    # NOT popped: "stream_txn" (the per-query-identity idempotence map of
    # the streaming sink) must survive intervening commits, or a sink
    # query replaying an epoch after someone else's delete/append would
    # double-commit it.
    return out


def read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as fh:
        return json.load(fh)


def _collect_file_stats(
    table_dir: str, rel_files: list[str], stats_cols: list[str]
) -> dict:
    """Per-file min/max zone maps for ``stats_cols``, read from the parquet
    footers the write ALREADY produced (pyarrow metadata only — no data
    pages touched). Paying this O(files) footer pass ONCE at commit time is
    what lets every future filtered read prune at manifest level with zero
    I/O; on an object store the same stats would be folded from the
    writer's in-flight accounting instead. NULLs don't contribute to
    min/max (parquet semantics), so pruning decisions are only valid for
    null-excluding predicates — the reader's contract. Bounds are stored
    as :func:`_zone_value` gives them; a column whose bounds have no JSON
    form (decimal, binary) gets none, so every pruner keeps the file."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        per_col: dict[str, list] = {}
        for col in stats_cols:
            if col not in names:
                continue
            lo = hi = None
            try:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(names[col]).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            except NotImplementedError:  # pyarrow gives no value (decimal)
                lo = hi = None
            lo, hi = _zone_value(lo), _zone_value(hi)
            if lo is not None and hi is not None:
                per_col[col] = [lo, hi]
        if per_col:
            out[rel] = per_col
    return out


def _zone_value(value):
    """A zone-map bound, or a probe tested against one, in the JSON form
    the manifest stores: numbers, strings and booleans as they are,
    dates and datetimes as ISO text, which sorts as they do (datetimes in
    UTC; a naive one is local time, as PySpark reads a TIMESTAMP),
    anything else None -- no bound, and a probe that prunes nothing."""
    import datetime

    if isinstance(value, datetime.datetime):
        try:
            value = value.astimezone(datetime.timezone.utc)
        except (OverflowError, ValueError):  # shifted past year 1 or 9999
            return None
        return value.isoformat(timespec="microseconds")
    if isinstance(value, datetime.date):
        return value.isoformat()
    if isinstance(value, (bool, int, float, str)):
        return value
    return None


_BLOOM_K = 4  # probes per value; sizing targets ~16 bits/row -> fpp ~0.24%


def _bloom_hash(value) -> int:
    """One stable 128-bit hash per value, identical however the value
    arrives (a pyarrow ``to_pylist`` element at write time, a pushed
    Spark filter literal at read time): canonicalize to ``str`` and md5.
    Integer-valued floats collapse to the integer form so ``col = 5``
    finds a DOUBLE 5.0; genuinely fractional floats are hashed on their
    shortest-round-trip repr (both engines produce the same repr for the
    same IEEE double). Bytes, Decimal, and date/datetime get EXPLICIT
    canonical forms because their default ``str`` differs between the two
    arrival paths (bytes vs bytearray, Decimal scale, tz-aware vs naive)
    — a divergence is a false NEGATIVE (file skipped, rows vanish), not a
    conservative false positive. NULLs never enter a bloom — a
    null-equality predicate matches nothing anyway."""
    import datetime
    import decimal
    import hashlib

    if type(value).__module__ == "numpy" and hasattr(value, "item"):
        # numpy scalars are the natural shape of pandas/collected-row-
        # derived key lists; unwrap to the Python value the write side
        # saw. Temporal kinds FIRST: .item() on datetime64[ns] (the
        # default pandas .to_numpy() form) returns epoch NANOS as a
        # plain int — a silent kind change that would hash as int,
        # never match the write side's 'ts:<micros>' form, AND slip
        # past the unsupported-type refusal because int is supported.
        kind = getattr(getattr(value, "dtype", None), "kind", "")
        if kind == "M":
            import numpy as np

            unit = np.datetime_data(value.dtype)[0]
            if unit in ("Y", "M", "W", "D"):
                value = value.astype("datetime64[D]").item()  # datetime.date
            else:
                # datetime64[us].item() is a datetime.datetime; finer
                # units truncate to micros — the write side's precision
                value = value.astype("datetime64[us]").item()
        elif kind == "m":
            # timedelta64('s').item() is a timedelta (unsupported, caught
            # below) but the unitless form .item()s to a bare int — refuse
            # here so the kind change can't masquerade as a supported type
            raise TypeError("bloom value of unsupported type timedelta64")
        else:
            value = value.item()
    if isinstance(value, bool):
        value = int(value)
    elif isinstance(value, float) and value.is_integer():
        value = int(value)
    elif isinstance(value, float) and value == value and abs(value) != float("inf"):
        # fractional finite floats: repr uses exponent form below 1e-4
        # ('1e-06') while an equal-valued Decimal canonicalizes to fixed
        # point ('0.000001') — same value, different hash = bloom FALSE
        # NEGATIVE on cross-type probes. Route through the identical
        # fixed-point form as the Decimal branch (repr round-trips the
        # exact IEEE double, so equal doubles still collide).
        value = format(decimal.Decimal(repr(value)).normalize(), "f")
    elif isinstance(value, decimal.Decimal):
        # scale-normalize: Decimal('5.00') == Decimal('5') must hash equal
        # (and equal to int 5, so a `col = 5` literal finds DECIMAL columns)
        if value == value.to_integral_value():
            value = int(value)
        else:
            value = format(value.normalize(), "f")
    elif isinstance(value, (bytes, bytearray, memoryview)):
        # str(bytes) -> "b'..'" but str(bytearray) -> "bytearray(b'..')";
        # hash the hex payload so both arrival forms collide
        value = "bin:" + bytes(value).hex()
    elif isinstance(value, datetime.datetime):
        # naive (Spark-pushed literal, UTC session) and tz-aware (pyarrow)
        # must agree: normalize to epoch micros in UTC
        if value.tzinfo is None:
            value = value.replace(tzinfo=datetime.timezone.utc)
        _epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        value = "ts:%d" % ((value - _epoch) // datetime.timedelta(microseconds=1))
    elif isinstance(value, datetime.date):
        value = "date:" + value.isoformat()
    elif not isinstance(value, (int, float, str)):
        # a canonicalization gap here is a bloom FALSE NEGATIVE (file
        # skipped, matching rows silently vanish) — refuse, don't guess
        raise TypeError(
            f"bloom value of unsupported type {type(value).__name__}; "
            "supported: int/float/str/bool/bytes/Decimal/date/datetime"
        )
    return int.from_bytes(
        hashlib.md5(str(value).encode("utf-8")).digest(), "big"
    )


def _bloom_positions_of(h: int, m_bits: int, k: int = _BLOOM_K) -> list:
    return [(h >> (29 * i)) % m_bits for i in range(k)]


def _bloom_positions(value, m_bits: int, k: int = _BLOOM_K) -> list:
    return _bloom_positions_of(_bloom_hash(value), m_bits, k)


def _bloom_size_bits(n_rows: int) -> int:
    """~16 bits per NON-NULL ROW (an upper bound on distinct values, so
    the sizing is conservative), power-of-two, floor 8192 bits = 1 KiB:
    with k=4 probes that's fpp = (1 - e^(-4/16))^4 ~= 0.24% — a point
    lookup keeps ~1 in 400 non-matching files. Sized per FILE from its
    own row count, so the guarantee holds at any file size."""
    return max(8192, 1 << (int(n_rows) * 16 - 1).bit_length())


def _collect_file_blooms(
    table_dir: str, rel_files: list[str], bloom_cols: list[str]
) -> dict:
    """Per-file bloom filters for ``bloom_cols``, written as SIDECAR
    files next to each data file (``<file>.bloom`` JSON) — the manifest
    records only the pointer, staying kilobytes however many files the
    table has (the production formats' choice: Delta bloom index files,
    Iceberg puffin). Zone maps answer range predicates on CLUSTERED
    columns; blooms answer point lookups on HIGH-CARDINALITY columns
    whose values interleave across every file — the case where min/max
    spans everything and prunes nothing. Cost: one column read per file
    at commit time (here driver-side; in the distributed writer the same
    bitset folds inside each write task). Returns {data_rel: bloom_rel}."""
    import pyarrow.parquet as pq

    out: dict[str, str] = {}
    for rel in rel_files:
        path = os.path.join(table_dir, rel)
        cols = [
            c
            for c in bloom_cols
            if c in pq.read_schema(path).names
        ]
        if not cols:
            continue
        tbl = pq.read_table(path, columns=cols)
        per_col = {}
        for col in cols:
            values = [v for v in tbl.column(col).to_pylist() if v is not None]
            m = _bloom_size_bits(max(1, len(values)))
            bits = bytearray(m // 8)
            for v in values:
                for p in _bloom_positions(v, m):
                    bits[p >> 3] |= 1 << (p & 7)
            per_col[col] = {"m": m, "k": _BLOOM_K, "bits": bytes(bits).hex()}
        bloom_rel = rel + ".bloom"
        _fsync_replace(
            os.path.join(table_dir, bloom_rel) + "._tmp",
            os.path.join(table_dir, bloom_rel),
            json.dumps(per_col),
        )
        out[rel] = bloom_rel
    return out


def bloom_prune_files(table_dir: str, manifest: dict, col: str, values) -> list[str]:
    """The files of ``manifest`` that MIGHT contain any of ``values`` in
    ``col`` per their committed bloom sidecars. Files without a bloom for
    the column are kept — like zone maps, blooms only SKIP, they never
    decide correctness (the reader re-applies the exact predicate). Cost:
    O(files) sidecar reads of driver-side metadata, no data pages."""
    blooms = manifest.get("file_blooms", {})
    try:
        # canonicalize ONCE up front; an un-canonicalizable probe value
        # (exotic literal type) disables bloom skipping for this lookup —
        # pruning is an optimization and must never fail the read (the
        # zone-map path holds the same rule). At BUILD time the TypeError
        # still raises, which is where an unsupported type is a bug.
        hashes = [_bloom_hash(v) for v in values if v is not None]
    except TypeError:
        return list(manifest["files"])
    kept = []
    for rel in manifest["files"]:
        bloom_rel = blooms.get(rel)
        if bloom_rel is None:
            kept.append(rel)
            continue
        with open(os.path.join(table_dir, bloom_rel)) as fh:
            per_col = json.load(fh)
        b = per_col.get(col)
        if b is None:
            kept.append(rel)
            continue
        bits = bytes.fromhex(b["bits"])
        if any(
            all(
                bits[p >> 3] & (1 << (p & 7))
                for p in _bloom_positions_of(h, b["m"], b["k"])
            )
            for h in hashes
        ):
            kept.append(rel)
    return kept


def _stage(
    table_dir: str, df: DataFrame, version: int, part: str | None = None
) -> list[str]:
    """Write ``df`` as parquet under a writer-unique
    ``data/v{version}/{token}/`` directory (a partition value ``part``
    adds a subdirectory) and return its part files relative to the
    table, sorted: the one data write of every library writer
    (:func:`snapshot_delete` writes its tombstone keys under
    ``tombstones/`` the same way). Nothing references the directory
    until a manifest names its files, and no concurrent writer that
    derived the same version number can ever clobber it (distinct
    tokens)."""
    rel_dir = f"data/v{version}/{uuid.uuid4().hex[:12]}"
    if part is not None:
        rel_dir = f"{rel_dir}/{part}"
    path = os.path.join(table_dir, rel_dir)
    df.write.mode("overwrite").parquet(path)
    return sorted(
        f"{rel_dir}/{name}" for name in os.listdir(path) if name.endswith(".parquet")
    )


def _append_columns(prev: dict, schema: dict, evolve_schema: bool) -> list[str]:
    """The table's column order once a batch of ``schema`` (a
    :func:`_schema_dict`) is appended to the version ``prev``, or
    ValueError. Without evolution the batch has exactly the table's
    columns; with it (additive evolution, the public table formats'
    add-column rule) the batch carries every existing column -- old files
    NULL-backfill the columns they predate, but existing rows can never
    grow a value for a dropped one -- and new columns go at the end.
    Same-name columns never change type."""
    old_cols = list(prev["columns"])
    cols = [f["name"] for f in schema["fields"]]
    if evolve_schema:
        missing = [c for c in old_cols if c not in cols]
        if missing:
            raise ValueError(
                f"schema evolution is additive: append is missing"
                f" existing columns {missing}"
            )
    elif cols != old_cols:
        raise ValueError(
            f"append schema mismatch: table has {old_cols}, append supplied"
            f" {cols} (evolve the schema to add columns: evolve_schema=True,"
            ' or option("evolveSchema", "true") on the format writer)'
        )
    if "schema" in prev:
        old_types = {f["name"]: f["type"] for f in prev["schema"]["fields"]}
        clashes = [
            f["name"]
            for f in schema["fields"]
            if f["name"] in old_types and f["type"] != old_types[f["name"]]
        ]
        if clashes:
            raise ValueError(
                f"append cannot change column types: {clashes} differ"
                " from the committed schema"
            )
    return old_cols + [c for c in cols if c not in old_cols]


def _declared(prev: dict | None, key: str, cols: list[str] | None) -> list[str]:
    """The columns ``prev`` records under ``key`` (``stats_cols`` or
    ``bloom_cols``), then ``cols``: zone maps and bloom sidecars are
    table properties, so once declared every writer collects them for
    its new files."""
    return list(dict.fromkeys([*(prev or {}).get(key, []), *(cols or [])]))


def _file_manifest(
    table_dir: str,
    prev: dict | None,
    version: int,
    schema: dict,
    new_files: list[str],
    evolve_schema: bool = False,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    append: bool = True,
) -> dict:
    """The manifest of ``version`` committing ``new_files``, written with
    the batch schema ``schema`` (a :func:`_schema_dict`): an append to
    ``prev`` under :func:`_append_columns`'s rules that carries its files,
    tombstones, zone maps and bloom sidecars forward, or the whole table
    when ``prev`` is None or ``append`` is false. Zone maps and bloom
    sidecars are collected for the new files only, on ``stats_cols`` and
    ``bloom_cols`` plus the ones ``prev`` declares (:func:`_declared`); a
    table that declares none reads no footer. ``prev``'s ``partition_col``
    is kept while the table has the column. The one manifest builder of
    every library writer and the ``snapshot`` format writer."""
    stats_cols = _declared(prev, "stats_cols", stats_cols)
    bloom_cols = _declared(prev, "bloom_cols", bloom_cols)
    if prev is None or not append:
        manifest = {"version": version, "files": list(new_files)}
        columns = [f["name"] for f in schema["fields"]]
    else:
        columns = _append_columns(prev, schema, evolve_schema)
        manifest = _carry_forward(prev)
        manifest["version"] = version
        manifest["files"] = list(prev["files"]) + new_files
    fields = {f["name"]: f for f in schema["fields"]}
    manifest["n_files"] = len(manifest["files"])
    manifest["columns"] = columns
    manifest["schema"] = {**schema, "fields": [fields[c] for c in columns]}
    if stats_cols:
        manifest["file_stats"] = {
            **manifest.get("file_stats", {}),
            **_collect_file_stats(table_dir, new_files, stats_cols),
        }
        manifest["stats_cols"] = stats_cols
    if bloom_cols:
        manifest["file_blooms"] = {
            **manifest.get("file_blooms", {}),
            **_collect_file_blooms(table_dir, new_files, bloom_cols),
        }
        manifest["bloom_cols"] = bloom_cols
    # a table property too: a rewrite of a partitioned table (compact,
    # merge, zorder) stays readable by partition value
    if (prev or {}).get("partition_col") in columns:
        manifest["partition_col"] = prev["partition_col"]
    return manifest


def snapshot_write(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    base_version: int | None = None,
    stats_cols: list[str] | None = None,
    extra_manifest: dict | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as the next snapshot of ``table_dir``; returns the new
    version number. ``base_version`` is the version this write derives from
    (pass what :func:`latest_version` returned when the writer STARTED);
    the commit is refused if someone else advanced the table since.
    ``stats_cols`` records per-file min/max zone maps in the manifest for
    those columns, enabling manifest-level file pruning in
    :func:`snapshot_read_pruned`; like ``bloom_cols``, they add to the
    ones the base version declares."""
    os.makedirs(os.path.join(table_dir, "_manifests"), exist_ok=True)
    # base_version=None means "I read an EMPTY table" (the docstring's
    # contract: pass exactly what latest_version returned) — so a first
    # writer that lost the race to another first writer conflicts too,
    # instead of silently replacing the winner's v0. This entry check is
    # only the FAST fail; the authoritative one re-runs under the commit
    # lock after the data write.
    current = _check_base(table_dir, base_version)
    version = (current if current is not None else -1) + 1
    files = _stage(table_dir, df, version)
    manifest = _file_manifest(
        table_dir,
        None if current is None else read_manifest(table_dir, current),
        version, _schema_dict(df.schema), files,
        stats_cols=stats_cols, bloom_cols=bloom_cols, append=False,
    )
    if extra_manifest:
        manifest.update(extra_manifest)
    manifest.setdefault("operation", "write")
    _commit_metadata(table_dir, version, base_version, manifest)
    return version


def _schema_dict(schema) -> dict:
    """A StructType as a JSON-able dict for the manifest, with every
    field forced nullable: files committed BEFORE a column existed
    legitimately surface NULL for it, so the table-level contract must be
    nullable regardless of what one writer's frame claimed."""
    d = json.loads(schema.json())
    for field in d.get("fields", []):
        field["nullable"] = True
    return d


def _resolved(table_dir: str, version: int | None) -> tuple[int, dict]:
    """The committed version a reader serves (:func:`resolve_version`)
    and its manifest; FileNotFoundError for an empty or absent table."""
    v = resolve_version(table_dir, version)
    if v is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return v, read_manifest(table_dir, v)


def _scan(
    spark: SparkSession, table_dir: str, manifest: dict, rels: list[str]
) -> DataFrame:
    """The files ``rels`` of a committed version as one frame: the one
    scan of every Spark reader. The manifest is the single schema
    authority (older manifests predate schema recording and fall back to
    footer inference): no per-file footer merging at read time, and files
    written before a schema-evolving append surface NULL for the columns
    they predate, by name-based parquet column resolution. Merge-on-read
    deletes: the version's accumulated tombstone keys (committed by
    :func:`snapshot_delete`) are anti-joined out, and the scan's column
    order is kept (the join puts its key columns first). No files -- an empty
    commit lists none, or a reader pruned them all -- gives a 0-row frame
    of the table's schema."""
    from pyspark.sql.types import StructType

    schema = manifest.get("schema")
    if not rels:
        if schema is not None:
            return spark.createDataFrame([], StructType.fromJson(schema))
        every = manifest["files"]
        if not every:
            raise FileNotFoundError(
                f"snapshot v{manifest.get('version')} of {table_dir} has no"
                " data files (empty table) and predates schema recording"
                " — no schema to serve an empty frame from"
            )
        return spark.read.parquet(
            *[os.path.join(table_dir, rel) for rel in every]
        ).limit(0)
    reader = spark.read if schema is None else spark.read.schema(
        StructType.fromJson(schema)
    )
    df = reader.parquet(*[os.path.join(table_dir, rel) for rel in rels])
    tombs = manifest.get("tombstones", [])
    if not tombs:
        return df
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    # An explicit schema from one footer, read here: Spark's own
    # inference reads one footer too, but inside a job, so every read of
    # a version with deletes would launch one before any action ran.
    paths = [os.path.join(table_dir, rel) for rel in tombs]
    keys = spark.read.schema(from_arrow_schema(pq.read_schema(paths[0]))).parquet(
        *paths
    )
    return df.join(keys, on=manifest["key_cols"], how="left_anti").select(*df.columns)


def load_tombstone_keys(
    table_dir: str, rels: list[str], key_cols: list[str]
) -> list[tuple]:
    """Driver-side: the key tuples of the tombstone files ``rels``, in
    file order (bounded: O(delete keys) by the format's contract). The
    one pyarrow decode of tombstones shared by the Spark-free readers:
    serving, the snapshot data source and its stream reader.

    A key with a null component is dropped: it deletes nothing, as in
    :func:`snapshot_read`'s anti-join, where a null key equals no row
    (SQL equality)."""
    import pyarrow.parquet as pq

    keys: list[tuple] = []
    for rel in rels:
        t = pq.read_table(os.path.join(table_dir, rel), columns=key_cols)
        keys.extend(
            k for k in zip(*[t.column(c).to_pylist() for c in key_cols]) if None not in k
        )
    return keys


def _dead_keys(table_dir: str, manifest: dict) -> tuple[list[str], set]:
    """A version's delete set for the Spark-free readers (serving's
    encoder and decoder, the snapshot data source's batch scan): its key
    columns and the set of its tombstoned key tuples, to test with
    :func:`live_key_mask`. ``([], set())`` for a version without
    deletes."""
    tombs = manifest.get("tombstones", [])
    if not tombs:
        return [], set()
    key_cols = manifest["key_cols"]
    return key_cols, set(load_tombstone_keys(table_dir, tombs, key_cols))


def live_key_mask(keys, dead: set) -> list[bool]:
    """For each key tuple of ``keys``, whether no tombstone key tuple of
    ``dead`` equals it, as in :func:`snapshot_read`'s anti-join: the one
    tuple-set test of the Spark-free readers (serving, the snapshot data
    source and its stream reader). Spark's join matches NaN to NaN, but
    distinct Python NaN objects compare unequal and hash apart, so when
    some dead key holds a NaN, every NaN component on both sides becomes
    one shared NaN object; without one, no key is touched. -0.0 and 0.0
    are equal in both. Names no module global, so the data source's
    executors can run a by-value copy without this package."""

    def is_nan(c) -> bool:
        return isinstance(c, float) and c != c

    if not any(is_nan(c) for k in dead for c in k):
        return [k not in dead for k in keys]
    nan = float("nan")

    def one_nan(key: tuple) -> tuple:
        return tuple(nan if is_nan(c) else c for c in key)

    dead = set(map(one_nan, dead))
    return [one_nan(k) not in dead for k in keys]


def snapshot_read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot (latest by default; pass ``version`` for
    time travel). Resolves pointer → manifest → explicit file list, so
    uncommitted job output can never leak into the scan. Tombstoned rows
    (merge-on-read deletes) are anti-joined out."""
    _v, manifest = _resolved(table_dir, version)
    return _scan(spark, table_dir, manifest, manifest["files"])


def snapshot_delete(
    spark: SparkSession,
    table_dir: str,
    keys_df: DataFrame,
    key_cols: list[str],
) -> int:
    """Merge-on-read row deletes: commit ``keys_df``'s keys as a TOMBSTONE
    file and a new version whose manifest reuses every existing data file
    unchanged — deletion is O(delete keys), never O(table). Readers of the
    new version anti-join the accumulated tombstones out at scan time;
    readers of older versions (time travel) still see the rows, and the
    next :func:`snapshot_compact` / :func:`snapshot_merge` folds the
    tombstones into fresh files and clears them.

    This is the deletion-vector idea from the production table formats
    (Delta deletion vectors, Iceberg equality deletes), restated at
    key granularity: at 100 TB a right-to-be-forgotten request deletes a
    handful of keys from thousands of immutable files — rewriting those
    files per request is the reference's O(table) CSV rewrite again,
    while a tombstone commit is a kilobyte write + pointer swap, with
    the rewrite deferred to the next scheduled compaction.

    Tombstones accumulate across delete commits (each manifest carries
    the FULL list), and ``key_cols`` must stay consistent across deletes
    of one table."""
    current = latest_version(table_dir)
    if current is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    prev = read_manifest(table_dir, current)
    if prev.get("tombstones") and prev["key_cols"] != key_cols:
        raise ValueError(
            f"tombstone key_cols mismatch: table uses {prev['key_cols']},"
            f" delete supplied {key_cols}"
        )
    version = current + 1
    # One file, written on the driver from the collected keys (bounded:
    # O(delete keys) by the format's contract). Every reader takes them as
    # a set or as the right side of an anti-join, so a key repeated in
    # keys_df deletes the same rows as one. Staging them with coalesce(1)
    # ran every partition of a driver-built frame (createDataFrame) one
    # after another in one task.
    import pyarrow.parquet as pq

    rel = f"tombstones/v{version}/{uuid.uuid4().hex[:12]}/part-00000.parquet"
    os.makedirs(os.path.dirname(os.path.join(table_dir, rel)))
    pq.write_table(keys_df.select(*key_cols).toArrow(), os.path.join(table_dir, rel))
    manifest = _carry_forward(prev)  # files forward UNCHANGED
    manifest["version"] = version
    manifest["tombstones"] = [*prev.get("tombstones", []), rel]
    manifest["key_cols"] = key_cols
    manifest["operation"] = "delete"
    _commit_metadata(table_dir, version, current, manifest)
    return version


def snapshot_append(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    evolve_schema: bool = False,
    stats_cols: list[str] | None = None,
) -> int:
    """Append-only commit: write ``df``'s rows as NEW files and publish a
    manifest that lists the previous version's files PLUS the new ones —
    O(batch) I/O and a pointer swap, never a table rewrite. This is the
    highest-volume write shape of any big table (ingest logs, signature
    indexes, event feeds); the merge/winner machinery is for keyed
    upserts, and paying its whole-table rewrite for a pure append is the
    reference's O(table)-per-row CSV mistake again. Tombstones and their
    key columns carry forward unchanged. They filter by key at read
    time, so they also apply to appended rows: a row appended after a
    delete of its key stays hidden. Only a merge, which folds the
    tombstones into fresh files, re-inserts a deleted key. Crash/conflict
    semantics are inherited from the shared commit path.

    ``evolve_schema=True`` additionally allows the batch to ADD columns
    (additive evolution, the public table formats' add-column rule): the
    manifest's recorded schema becomes the read-time authority, and files
    committed before the column existed surface NULL for it by name-based
    parquet resolution — no file is ever rewritten for a schema change.
    Same-name columns can never change type, evolving or not."""
    current = latest_version(table_dir)
    if current is None:
        return snapshot_write(spark, table_dir, df, stats_cols=stats_cols)
    prev = read_manifest(table_dir, current)
    schema = _schema_dict(df.schema)
    # the append rules are checked before any data is written
    columns = _append_columns(prev, schema, evolve_schema)
    if columns != df.columns:
        df = df.select(*columns)
    version = current + 1
    new_files = _stage(table_dir, df, version)
    manifest = _file_manifest(
        table_dir, prev, version, schema, new_files, evolve_schema, stats_cols
    )
    manifest["operation"] = "append"
    _commit_metadata(table_dir, version, current, manifest)
    return version


def _commit_with_retry(attempt_commit, max_retries: int) -> int:
    """THE optimistic commit-retry policy, in one place (append, merge,
    group commits and the format writer share it): re-invoke
    ``attempt_commit`` on SnapshotConflictError — each retry observes a
    strictly newer base, so with N racing writers at most N-1 retries
    each — and re-raise the last conflict after ``max_retries``
    consecutive losses (a pathological-livelock signal, not a normal
    outcome)."""
    for attempt in range(max_retries + 1):
        try:
            return attempt_commit()
        except SnapshotConflictError:
            if attempt == max_retries:
                raise
    raise AssertionError("unreachable")


def snapshot_append_optimistic(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    max_retries: int = 5,
    **kwargs,
) -> int:
    """The full optimistic-concurrency append loop: on
    ``SnapshotConflictError`` (another writer's pointer swap landed
    between this writer's base read and its own commit), re-read the
    fresh base and REDO the whole append — re-staging data under a new
    writer-unique directory, recomputing the carried-forward manifest
    against the winner's state. The losing attempt's staged files are
    unreferenced garbage for vacuum, never committed-state corruption.

    This is the loop every concurrent committer runs (Delta/Iceberg
    commit-retry semantics): the lock window stays metadata-tiny, the
    expensive Spark write happens OUTSIDE it, and progress is guaranteed
    because each retry observes a strictly newer base version — with N
    racing appends, at most N-1 retries each. Raises after
    ``max_retries`` consecutive losses (a pathological livelock signal,
    not a normal outcome). tests/test_snapshot_table.py forces a
    mid-commit race to pin that exactly one retry happens and both
    writers' rows land."""
    return _commit_with_retry(
        lambda: snapshot_append(spark, table_dir, df, **kwargs), max_retries
    )


def snapshot_merge(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> int:
    """Upsert-merge ``updates`` into the table as a NEW snapshot: union the
    current version with the batch, keep the content-ordered winner per key
    (the same idempotent rule as upsert_merge/streaming), commit atomically.
    Readers keep serving the old snapshot until the pointer swaps — the
    reference's serving-during-rewrite guarantee (server.py:299-307) at
    table granularity. Compaction is the degenerate case (updates = empty,
    or a filtered rewrite) and inherits the same safety."""
    base = latest_version(table_dir)
    merged = (
        updates
        if base is None
        # The first batch must ALSO pass the winner rule: every committed
        # version is a merged table (one row per key), not a raw batch —
        # a reader time-traveling to v0 gets the same invariant as v{N}.
        else snapshot_read(spark, table_dir, base).unionByName(updates)
    )
    return snapshot_write(
        spark,
        table_dir,
        key_dedup(merged, key_cols, [F.col(c).desc() for c in order_cols]),
        base_version=base,
        extra_manifest={"operation": "merge"},
    )


def snapshot_merge_optimistic(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    max_retries: int = 5,
) -> int:
    """Optimistic-concurrency MERGE — the multi-writer hazard appends never
    hit: two writers upserting OVERLAPPING keys. A blind commit-retry
    (re-swapping the same staged result) would LOSE the winner's rows for
    shared keys; the retry here re-runs :func:`snapshot_merge` from
    scratch, which re-reads the now-current base — the winner's committed
    rows INCLUDED — and re-applies the order-column winner rule against
    them. Because the rule is a per-key max over a total order, the final
    state is the same whichever writer commits first: merge(merge(base, A),
    B) == merge(merge(base, B), A) == per-key max of (base ∪ A ∪ B).

    Same commit economics as :func:`snapshot_append_optimistic`: the
    expensive Spark union+window+write happens OUTSIDE the metadata lock
    window, each retry observes a strictly newer base (with N racing
    mergers, at most N-1 retries each), and a losing attempt's staged
    files are unreferenced garbage for vacuum (``orphan_ttl_sec``), never
    committed-state corruption. Reference analog: D2's upsert under the
    concurrent reader/writer reality of server.py:299-307.
    tests/test_snapshot_table.py forces the race and pins that the retry
    visibly re-reads the winner's row."""
    return _commit_with_retry(
        lambda: snapshot_merge(spark, table_dir, updates, key_cols, order_cols),
        max_retries,
    )


# ---------------------------------------------------------------------------
# Multi-table group commits: one atomic pointer over a SET of tables
# ---------------------------------------------------------------------------


def latest_group(root: str) -> int | None:
    """Current committed group version under ``root``, or None."""
    ptr = os.path.join(root, "_group_latest")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return int(fh.read().strip())


def _group_manifest_path(root: str, group: int) -> str:
    return os.path.join(root, "_group_manifests", f"g{group}.json")


def read_group_manifest(root: str, group: int) -> dict:
    with open(_group_manifest_path(root, group)) as fh:
        return json.load(fh)


def snapshot_commit_group(
    root: str,
    members: dict[str, int],
    base_group: int | None,
    operation: str = "group",
) -> int:
    """Commit ``members`` — a {table_name: version} map over the snapshot
    tables under ``root`` — as ONE atomic group version: the multi-table
    transaction an index (or any table FAMILY whose members must be read
    at mutually consistent versions) needs. Individual table commits are
    each atomic but three of them are not: a reader resolving
    centroids/codebook/codes pointers independently mid-retrain can get
    v1 centroids with v0 codes — meaningless ADC scores, no error
    raised. With a group pointer the retrain's three table commits stay
    INVISIBLE until the single group swap lands; readers resolve the
    group once and read its pinned member versions. Iceberg's
    catalog-level atomic swap over multiple tables, on the reference's
    own fsync-then-replace idiom.

    Same optimistic protocol as table commits: each named member version
    must already be committed in its table (its manifest exists and it
    is not above the table's ``_latest``; a manifest above the pointer
    is a dead writer's and will be overwritten), ``base_group`` is
    re-verified inside the lock window, and a racing group committer
    fails with SnapshotConflictError — retry by re-reading the winner's
    group and recomputing."""
    os.makedirs(os.path.join(root, "_group_manifests"), exist_ok=True)
    for name, version in members.items():
        member_dir = os.path.join(root, name)
        latest = latest_version(member_dir)
        if (
            latest is None
            or version > latest
            or not os.path.exists(_manifest_path(member_dir, version))
        ):
            raise ValueError(
                f"group member {name!r} has no committed v{version};"
                " commit member tables before the group"
            )
    import time

    with _commit_lock(root):
        current = latest_group(root)
        if current != base_group:
            raise SnapshotConflictError(
                f"group advanced to g{current} since this writer read"
                f" {'empty' if base_group is None else f'g{base_group}'};"
                " re-read and retry"
            )
        group = (current if current is not None else -1) + 1
        manifest = {
            "group": group,
            "members": dict(sorted(members.items())),
            "operation": operation,
            "committed_at": round(time.time(), 3),
        }
        _fsync_replace(
            _group_manifest_path(root, group) + "._tmp",
            _group_manifest_path(root, group),
            json.dumps(manifest, indent=1),
        )
        # THE commit point for the whole family.
        _fsync_replace(
            os.path.join(root, "_group_latest._tmp"),
            os.path.join(root, "_group_latest"),
            str(group),
        )
    return group


def snapshot_commit_group_optimistic(
    root: str,
    compute_members,
    operation: str = "group",
    max_retries: int = 5,
) -> int:
    """Optimistic-retry form of :func:`snapshot_commit_group` — the group
    twin of snapshot_merge_optimistic. ``compute_members(base_group,
    base_members)`` maps the CURRENT family state to the member-version
    dict this writer wants to land; on a conflict the loop re-reads the
    winner's group manifest and recomputes, so concurrent family writers
    (an append bumping codes while a retrain bumps all three) compose
    instead of clobbering: the loser's retry sees the winner's members
    and folds its own bump on top. A blind commit-retry would re-land
    the STALE member map and silently drop the winner's table bumps —
    the same lost-update hazard the table-level merge retry exists for,
    one level up."""

    def attempt() -> int:
        base = latest_group(root)
        base_members = (
            read_group_manifest(root, base)["members"] if base is not None else {}
        )
        return snapshot_commit_group(
            root, compute_members(base, base_members), base_group=base,
            operation=operation,
        )

    return _commit_with_retry(attempt, max_retries)


def snapshot_read_group(
    spark: SparkSession, root: str, name: str, group: int | None = None
) -> DataFrame:
    """Read member ``name`` at the version the group manifest pins —
    resolve the group pointer ONCE (or pass an explicit ``group`` for
    time travel), then every member read is mutually consistent no
    matter how many table/group commits land mid-query."""
    g = latest_group(root) if group is None else group
    if g is None:
        raise FileNotFoundError(f"no committed group under {root}")
    members = read_group_manifest(root, g)["members"]
    return snapshot_read(spark, os.path.join(root, name), version=members[name])


def snapshot_zorder(
    spark: SparkSession,
    table_dir: str,
    zkey,
    target_files: int = 8,
    stats_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE ZORDER as a snapshot commit: rewrite the current version
    range-clustered on ``zkey`` (a Column — typically a Morton interleave
    of two dimensions, see plans/mining.py::_morton_sql) into
    ``target_files`` files, record zone maps for ``stats_cols``, and
    stamp the manifest ``data_change=False`` (same rows, new layout — a
    live streaming consumer skips the commit, exactly like compaction).

    This is the composition that makes manifest-level data skipping BITE
    on multiple columns at once: the Morton curve bounds every file to a
    quadrant of the dimension plane, so a later filtered read through
    ``snapshot_read_pruned`` or the ``snapshot`` DataSource prunes files
    for range predicates on EITHER clustered column — at 100 TB the
    difference between a layout optimization being cosmetic and it
    cutting the scan by orders of magnitude. Readers of the prior
    version keep their exact file list (serving-during-rewrite), and the
    rewrite is one range shuffle + local sort, never a global sort."""
    base = latest_version(table_dir)
    if base is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    current = snapshot_read(spark, table_dir, base)
    laid = current.repartitionByRange(target_files, zkey).sortWithinPartitions(
        zkey
    )
    return snapshot_write(
        spark,
        table_dir,
        laid,
        base_version=base,
        stats_cols=stats_cols,
        extra_manifest={"data_change": False, "operation": "zorder"},
    )


def snapshot_compact(
    spark: SparkSession, table_dir: str, target_files: int = 1
) -> int:
    """Small-files compaction as a normal snapshot commit: rewrite the
    CURRENT version's rows into ``target_files`` files and publish the
    result with the same pointer-swap protocol. Readers of the old version
    keep their exact (pre-compaction) file list — the serving-during-
    rewrite guarantee makes compaction a zero-coordination background job,
    which is precisely why the reference's verification epoch can rewrite
    while Flask serves (server.py:299-307). The content is unchanged, so a
    concurrent reader can't tell pre- from post-compaction data apart;
    only the file count drops. Pairs with compaction_bin_pack (the
    planner): at 100 TB you compact per partition/bin, each bin one
    snapshot-committed rewrite like this one."""
    base = latest_version(table_dir)
    if base is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    current = snapshot_read(spark, table_dir, base)
    # data_change=False (the public Delta flag): same rows, new layout —
    # a STREAMING consumer of the chain skips this version instead of
    # erroring on rewritten files, so compaction and live change-feed
    # readers coexist (the snapshot stream source's per-version walk
    # honors the flag).
    return snapshot_write(
        spark,
        table_dir,
        current.coalesce(target_files),
        base_version=base,
        extra_manifest={"data_change": False, "operation": "compact"},
    )


def snapshot_vacuum(
    table_dir: str, keep_last: int = 2, orphan_ttl_sec: float | None = None
) -> list[int]:
    """Reclaim storage from expired versions: delete data directories and
    manifests of every version older than the newest ``keep_last``.
    Returns the vacuumed version numbers.

    Ordering is the safety argument: a version's data files are deleted
    BEFORE its manifest, so a reader that raced the vacuum either resolved
    the manifest while files existed (normal read) or finds no manifest at
    all (clean FileNotFoundError) — never a manifest naming vanished files
    as the steady state. The current pointer is never eligible
    (``keep_last`` is clamped to >= 1), so serving is unaffected.

    REFERENCE-AWARE: a retained manifest may point at files in an EXPIRED
    version's directory (appends, deletes and partition-scoped merges
    carry files forward -- that sharing is what keeps those commits
    O(batch)), so vacuum first collects every file referenced by a
    retained manifest and deletes only unreferenced files from expired
    version dirs. This is the retention side of time travel: at 100 TB,
    keeping every version forever doubles storage per full rewrite;
    vacuum bounds it to ``keep_last`` snapshots, same as any production
    table format.

    ``orphan_ttl_sec`` also sweeps unreferenced files older than it from
    the retained version dirs and the one past the current pointer: the
    staging of optimistic-commit losers and crashed writers."""
    import time

    current = latest_version(table_dir)
    if current is None:
        return []
    keep_last = max(1, keep_last)
    cutoff = current - keep_last + 1
    retained_refs: set[str] = set()
    for v in range(cutoff, current + 1):
        if not os.path.exists(_manifest_path(table_dir, v)):
            continue
        m = read_manifest(table_dir, v)
        retained_refs.update(m["files"])
        # tombstone files carry forward across delete commits, so a
        # retained manifest may reference tombstones first committed by
        # an expired version — same sharing rule as data files
        retained_refs.update(m.get("tombstones", []))
        # bloom sidecars live next to their data file and share its
        # lifetime: referenced by a retained manifest -> retained
        retained_refs.update(m.get("file_blooms", {}).values())
    # Optimistic-commit losers stage data under RETAINED version
    # directories (a loser that derived v{N} wrote data/v{N}/<its token>/
    # before the winner's pointer landed), and a writer that DERIVED
    # v{current+1} and crashed before its commit leaves staging one past
    # the current pointer; hence the walk up to current + 2. Their files
    # go only once older than the TTL (Delta's VACUUM retention-window
    # rule): a young unreferenced file may be an IN-FLIGHT writer's
    # staging whose manifest hasn't landed yet, so age, not
    # referencedness alone, is the safety predicate. Production default
    # belongs in hours; tests pass 0 to sweep a known-lost attempt
    # immediately.
    horizon = None if orphan_ttl_sec is None else time.time() - orphan_ttl_sec
    stop = cutoff if horizon is None else current + 2
    vacuumed = []
    for v in range(max(0, stop)):
        expired = v < cutoff
        # Walk the directories whenever they exist, independent of the
        # manifest: a file can outlive its own version's manifest because
        # a then-retained manifest referenced it; once those referencing
        # manifests expire too, this walk must still reclaim it (keying
        # it off manifest existence leaks such files forever).
        for vdir in (
            os.path.join(table_dir, "data", f"v{v}"),
            os.path.join(table_dir, "tombstones", f"v{v}"),
        ):
            for root, _dirs, files in os.walk(vdir, topdown=False):
                for name in files:
                    full = os.path.join(root, name)
                    if os.path.relpath(full, table_dir) not in retained_refs and (
                        expired or os.stat(full).st_mtime <= horizon
                    ):
                        os.remove(full)
                if (expired or root != vdir) and not os.listdir(root):
                    os.rmdir(root)
        manifest = _manifest_path(table_dir, v)
        if expired and os.path.exists(manifest):
            os.remove(manifest)
            vacuumed.append(v)  # manifest existence = "newly vacuumed"
    return vacuumed


def snapshot_read_since(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Incremental consumption of an APPEND-ONLY version chain: scan only
    the files that joined the manifest after ``since_version`` — O(new
    data) I/O regardless of table size, which is the entire point of a
    change feed at 100 TB (a downstream consumer re-reading the full
    table per sync is the scale bug this kills). The manifest set
    difference IS the change set, computed from kilobytes of metadata.

    The semantics are only meaningful while every file of the old
    manifest survives into the new one, so any rewrite in between
    (merge/compaction — old files dropped) raises instead of returning
    rewritten-but-not-new rows; keyed row-level changes across rewrites
    are :func:`snapshot_diff`'s job. Tombstones committed up to the read
    version still apply (a delivered-then-deleted row is NOT re-delivered
    nor resurrected here — delete visibility also belongs to
    :func:`snapshot_diff`)."""
    v, manifest = _resolved(table_dir, version)
    since_version = resolve_version(table_dir, since_version)
    old_files = set(read_manifest(table_dir, since_version)["files"])
    new_files = manifest["files"]
    dropped = old_files.difference(new_files)
    if dropped:
        raise ValueError(
            f"versions {since_version}..{v} of {table_dir} are not"
            f" append-only ({len(dropped)} file(s) of v{since_version}"
            " were rewritten away by a merge/compaction) — file-level"
            " increments are undefined; use snapshot_diff for keyed"
            " row-level changes"
        )
    return _scan(
        spark, table_dir, manifest, [f for f in new_files if f not in old_files]
    )


def _may_hold(bounds: list | None, lo, hi) -> bool:
    """Whether a file whose zone map is ``bounds`` ([min, max], None for
    no stats) may hold a value in [lo, hi], each side given as
    :func:`_zone_value` gives it; None leaves that side open. A probe
    that cannot be compared with the bounds keeps the file."""
    if bounds is None:
        return True
    try:
        return (lo is None or not bounds[1] < lo) and (hi is None or not bounds[0] > hi)
    except TypeError:
        return True


def prune_files(manifest: dict, col: str, lo, hi) -> list[str]:
    """Manifest-level zone-map pruning: the files of ``manifest`` whose
    recorded [min, max] for ``col`` overlaps [lo, hi] (None: that side is
    open). Files without stats for the column are kept (pruning is an
    optimization, never a correctness filter). Pure metadata — safe to
    call on the driver for any table size."""
    stats = manifest.get("file_stats", {})
    lo, hi = _zone_value(lo), _zone_value(hi)
    return [
        rel for rel in manifest["files"]
        if _may_hold(stats.get(rel, {}).get(col), lo, hi)
    ]


def prune_values(manifest: dict, col: str, values) -> list[str]:
    """The value-set counterpart of :func:`prune_files`: the files of
    ``manifest`` whose recorded [min, max] for ``col`` may hold one of
    ``values``. Files without stats for the column are kept; a NULL
    probe matches nothing, as in SQL equality. On a partitioned table,
    whose files each hold one value of ``partition_col``, this is
    partition pruning."""
    stats = manifest.get("file_stats", {})
    probes = [_zone_value(v) for v in values if v is not None]

    def kept(bounds: list | None) -> bool:
        return bounds is None or any(_may_hold(bounds, p, p) for p in probes)

    return [rel for rel in manifest["files"] if kept(stats.get(rel, {}).get(col))]


def snapshot_read_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Filtered snapshot read with manifest-level data skipping: files
    whose committed zone map cannot contain ``col`` in [lo, hi] never
    reach the Spark scan at all — pruning happens on kilobytes of
    driver-side metadata, BEFORE file listing or footer I/O, which is
    the part of a filtered query parquet row-group stats can't save you
    from at 100 TB (Spark still has to open every file to read its
    footer; this opens only the survivors). Effective exactly when the
    layout clusters the column (range partitioning / Z-order — pair
    with zorder_layout), degrading gracefully to a full scan when stats
    are absent. The exact predicate is re-applied on the survivors, so
    results are correct whatever the stats say; rows with NULL ``col``
    are excluded (the predicate is a range)."""
    _v, manifest = _resolved(table_dir, version)
    df = _scan(spark, table_dir, manifest, prune_files(manifest, col, lo, hi))
    return df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    key_cols: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Row-level change-data capture between two committed versions: the
    public change-data-feed shape (Delta CDF / Iceberg changelog),
    computed from the two snapshots themselves so it works across ANY
    commit kinds — merges, compactions, tombstone deletes. Emits one row
    per change carrying the table's columns plus ``change_type`` in
    {'insert', 'delete', 'update_preimage', 'update_postimage'}
    (updates emit both images, the CDF convention that lets a consumer
    retract the old aggregate contribution and apply the new one).

    Plan shape: each side reduces to (key, struct-of-values); ONE
    full-outer shuffle join on the key classifies everything — insert =
    old-side null, delete = new-side null, update = both present and the
    structs differ under null-safe equality. O(table) at the join, which
    is the honest floor for keyed diffing WITHOUT a stored change log;
    append-only chains should take the O(delta) manifest path
    (:func:`snapshot_read_since`) instead. Tombstones apply through
    ``snapshot_read``, so a merge-on-read delete surfaces as a 'delete'
    change without any special-casing."""
    old = snapshot_read(spark, table_dir, version=v_from)
    new = snapshot_read(spark, table_dir, version=v_to)
    val_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(*key_cols, F.struct(*val_cols).alias("__old"))
    n = new.select(*key_cols, F.struct(*val_cols).alias("__new"))
    j = o.join(n, on=list(key_cols), how="full_outer")

    def emit(rows: DataFrame, side: str, change_type: str) -> DataFrame:
        return rows.select(
            *key_cols,
            F.col(f"__{side}.*"),
            F.lit(change_type).alias("change_type"),
        )

    inserts = emit(j.filter(F.col("__old").isNull()), "new", "insert")
    deletes = emit(j.filter(F.col("__new").isNull()), "old", "delete")
    changed = j.filter(
        F.col("__old").isNotNull()
        & F.col("__new").isNotNull()
        & ~F.col("__old").eqNullSafe(F.col("__new"))
    )
    return (
        inserts.unionByName(emit(changed, "old", "update_preimage"))
        .unionByName(emit(changed, "new", "update_postimage"))
        .unionByName(deletes)
    )


# ---------------------------------------------------------------------------
# Partitioned snapshots: one partition value per file, rewrite only the
# files a batch's values may touch
# ---------------------------------------------------------------------------

def snapshot_write_partitioned(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    partition_col: str,
    base_version: int | None = None,
) -> int:
    """Commit ``df`` as the next snapshot of ``table_dir``, its files split
    by ``partition_col``: each file holds one value, so the manifest's
    zone map on ``partition_col`` (min = max) is that file's partition
    value, and ``partition_col`` is recorded in the manifest. The manifest
    is an ordinary flat file list: every reader, the ``snapshot`` data
    source and :func:`snapshot_merge_partitioned` prune it on the zone
    maps, so a partition-scoped merge rewrites only the files of the
    values it touches. Data files carry the partition COLUMN in their
    rows (the directory layout under ``data/v{N}/{token}/<value>/`` is
    bookkeeping, not Hive-style partition encoding). Commit protocol and
    the optimistic conflict rule are :func:`snapshot_write`'s.

    ``partition_col`` must be NON-NULL for every row: a NULL has no
    partition directory and no zone map, and ``col == None`` is SQL NULL
    semantics and matches nothing, so null-partition rows would vanish
    from the committed snapshot -- the guard raises instead."""
    return _write_partitions(spark, table_dir, df, partition_col, base_version, None)


def _write_partitions(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    partition_col: str,
    base_version: int | None,
    carried: dict | None,
) -> int:
    """Stage ``df`` one directory per value of ``partition_col`` and
    commit it appended to ``carried`` -- the base manifest cut to the
    files a partition-scoped merge keeps -- or, when that is None, as
    the whole table."""
    os.makedirs(os.path.join(table_dir, "_manifests"), exist_ok=True)
    current = _check_base(table_dir, base_version)
    version = (current if current is not None else -1) + 1
    # Materialize ONCE before the per-partition writes: without this the
    # (possibly expensive merged) plan re-executes for every affected
    # partition's filter — O(partitions x plan) at scale. Checkpoint
    # blocks release on GC after the commit returns.
    df = df.localCheckpoint(eager=True)
    values = [
        r[0] for r in df.select(partition_col).distinct().collect()
    ]
    if any(v is None for v in values):
        n_null = df.filter(df[partition_col].isNull()).count()
        raise ValueError(
            f"snapshot_write_partitioned: {n_null} rows have NULL"
            f" {partition_col!r}; partition values are the files' zone maps"
            " and must be non-null — filter or fill them before committing"
        )
    # bounded by the BATCH's distinct partition values (the same
    # driver-side bound merge_into_partitioned documents); each partition
    # writes to its own writer-unique immutable directory
    files = [
        rel
        for val in values
        for rel in _stage(table_dir, df.filter(df[partition_col] == val), version, str(val))
    ]
    if carried is None and current is not None:
        prev = read_manifest(table_dir, current)  # for its declared indexes
    else:
        prev = carried
    manifest = _file_manifest(
        table_dir, prev, version, _schema_dict(df.schema), files,
        stats_cols=[partition_col], append=carried is not None,
    )
    manifest["partition_col"] = partition_col
    manifest["operation"] = (
        "write-partitioned" if carried is None else "merge-partitioned"
    )
    _commit_metadata(table_dir, version, base_version, manifest)
    return version


def snapshot_read_partitioned(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    values: list | None = None,
) -> DataFrame:
    """Read a partitioned snapshot; ``values`` keeps the rows whose
    ``partition_col`` is one of them, scanning only the files whose zone
    map may hold one (:func:`prune_values`; files without stats are
    always read) -- pruning on kilobytes of manifest, no directory
    listing (Iceberg-style metadata pruning at 100 TB)."""
    _v, manifest = _resolved(table_dir, version)
    if values is None:
        return _scan(spark, table_dir, manifest, manifest["files"])
    col = manifest["partition_col"]
    df = _scan(spark, table_dir, manifest, prune_values(manifest, col, values))
    return df.filter(F.col(col).isin(list(values)))


def snapshot_merge_partitioned(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    partition_col: str,
) -> int:
    """Partition-scoped upsert through the snapshot protocol, file-level
    copy-on-write on zone maps: only the files whose zone map on
    ``partition_col`` may hold a value of the batch are read, merged
    (content-ordered winner per key) and rewritten, one file per value;
    every other file is carried forward with its zone map and bloom
    sidecar. One commit = O(affected partitions) I/O + a pointer swap,
    with the same crash/conflict/time-travel guarantees as the
    full-table form. A base with tombstones is rewritten whole, which
    folds them, as :func:`snapshot_merge` does: carried files would
    otherwise lose their deletes. The partition column must be a stable
    function of the key (the merge_into_partitioned contract: a key's
    rows never straddle partitions)."""
    order = [F.col(c).desc() for c in order_cols]
    base = latest_version(table_dir)
    if base is None:
        return snapshot_write_partitioned(
            spark, table_dir, key_dedup(updates, key_cols, order), partition_col
        )
    prev = read_manifest(table_dir, base)
    rewritten = prev["files"]
    if not prev.get("tombstones"):
        affected = [r[0] for r in updates.select(partition_col).distinct().collect()]
        rewritten = prune_values(prev, partition_col, affected)
    merged = key_dedup(
        _scan(spark, table_dir, prev, rewritten).unionByName(updates), key_cols, order
    )
    rewritten_set = set(rewritten)
    kept = [f for f in prev["files"] if f not in rewritten_set]
    carried = {**prev, "files": kept}
    carried.pop("tombstones", None)
    carried.pop("key_cols", None)
    for per_file in ("file_stats", "file_blooms"):
        if per_file in prev:
            carried[per_file] = {f: prev[per_file][f] for f in kept if f in prev[per_file]}
    return _write_partitions(spark, table_dir, merged, partition_col, base, carried)


def snapshot_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for a snapshot table: one row per retained
    version with the commit's operation, file count, change kind, and
    wall-clock commit time. Driver-side metadata only (manifests are
    kilobytes); vacuumed versions no longer appear — history is bounded
    by retention, same as the production formats."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    current = latest_version(table_dir)
    rows = []
    if current is not None:
        for v in range(current + 1):
            if not os.path.exists(_manifest_path(table_dir, v)):
                continue  # vacuumed
            m = read_manifest(table_dir, v)
            rows.append(
                (
                    v,
                    m.get("operation"),
                    int(m.get("n_files", len(m["files"]))),
                    bool(m.get("data_change", True)),
                    len(m.get("tombstones", [])),
                    float(m["committed_at"]) if "committed_at" in m else None,
                )
            )
    schema = StructType(
        [
            StructField("version", LongType(), False),
            StructField("operation", StringType(), True),
            StructField("n_files", LongType(), False),
            StructField("data_change", BooleanType(), False),
            StructField("n_tombstone_files", LongType(), False),
            StructField("committed_at", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema)


def version_at_timestamp(table_dir: str, ts: float) -> int:
    """Timestamp-based time travel: the newest retained version whose
    commit time is <= ``ts`` (unix seconds). Raises if every retained
    version is newer (the caller asked for history that predates
    retention — same contract as the production formats)."""
    current = latest_version(table_dir)
    if current is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    best = None
    for v in range(current + 1):
        if not os.path.exists(_manifest_path(table_dir, v)):
            continue
        at = read_manifest(table_dir, v).get("committed_at")
        if at is not None and at <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no retained version of {table_dir} committed at or before"
            f" {ts} (older versions may have been vacuumed)"
        )
    return best


def snapshot_restore(table_dir: str, to_version: int) -> int:
    """RESTORE: commit a NEW version whose content is exactly
    ``to_version``'s — the recover-from-bad-write primitive of the
    production formats (Delta RESTORE / Iceberg rollback). Metadata only:
    the new manifest points at the old version's immutable files, so
    restoring a 100 TB table costs one manifest write, and the bad
    versions stay in history for audit until retention expires them
    (roll FORWARD, never rewrite history — time travel to the bad
    version keeps working).

    Safe against vacuum by construction: ``to_version``'s manifest must
    still be retained (reads it; raises FileNotFoundError otherwise),
    and retained manifests pin their files against vacuum. Concurrency:
    the commit goes through the same base re-verification as every
    writer — if someone commits between reading ``latest_version`` and
    the pointer swap, this raises ``SnapshotConflictError`` rather than
    silently undoing their write."""
    current = latest_version(table_dir)
    if current is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    if to_version > current:
        raise ValueError(
            f"cannot restore {table_dir} to v{to_version}: table is at"
            f" v{current}"
        )
    old = read_manifest(table_dir, to_version)  # raises if vacuumed
    manifest = _carry_forward(old)
    # stream_txn must survive a restore from CURRENT, not the restore
    # target: a streaming sink's idempotence record reflects epochs that
    # happened, and a restore doesn't un-happen them.
    cur_txn = read_manifest(table_dir, current).get("stream_txn")
    if cur_txn:
        manifest["stream_txn"] = cur_txn
    elif "stream_txn" in manifest:
        del manifest["stream_txn"]
    manifest["version"] = current + 1
    manifest["operation"] = "restore"
    manifest["restored_from"] = to_version
    # data_change=true relative to the pre-restore state: a streaming
    # consumer mid-chain would otherwise silently skip the content
    # flip. (It will correctly REFUSE a restore that drops files — the
    # append-only contract; keyed consumers use snapshot_cdc_diff.)
    _commit_metadata(table_dir, current + 1, current, manifest)
    return current + 1


def snapshot_clone(
    src_dir: str, dst_dir: str, version: int | None = None
) -> int:
    """SHALLOW CLONE: create ``dst_dir`` as a new table whose v0 manifest
    points at the source version's immutable files by ABSOLUTE path —
    zero data copied, O(metadata) cost (the Delta shallow-clone shape).
    Writes to the clone are copy-on-write by construction: appends add
    the clone's OWN (relative-path) files next to the absolute source
    refs, merges/compactions rewrite fully into clone-owned files, and
    the source never observes any of it. The clone's vacuum only ever
    walks the clone's own data directories, so it can't reclaim source
    files; tombstones/stats/bloom sidecars are carried with their paths
    rewritten, so merge-on-read deletes and file skipping keep working
    through the clone.

    The honest caveat (same as the public formats'): the SOURCE's vacuum
    does not know about clones — vacuuming the source past the cloned
    version leaves the clone with dangling file references and its reads
    fail with the underlying missing-file error. Cloning is for
    experiments/branches WITHIN the source's retention window; promote
    with a deep copy (read + write) if the clone must outlive it."""
    src_v = resolve_version(src_dir, version)
    if src_v is None:
        raise FileNotFoundError(f"no committed snapshot in {src_dir}")
    if latest_version(dst_dir) is not None:
        raise ValueError(f"clone target {dst_dir} already exists")
    m = read_manifest(src_dir, src_v)

    def _abs(rel: str) -> str:
        return os.path.abspath(os.path.join(src_dir, rel))

    clone = _carry_forward(m)
    clone.pop("stream_txn", None)  # sink idempotence records are per-table
    clone["files"] = [_abs(f) for f in m["files"]]
    if "tombstones" in m:
        clone["tombstones"] = [_abs(t) for t in m["tombstones"]]
    if "file_stats" in m:
        clone["file_stats"] = {
            _abs(rel): stats for rel, stats in m["file_stats"].items()
        }
    if "file_blooms" in m:
        clone["file_blooms"] = {
            _abs(rel): _abs(b) for rel, b in m["file_blooms"].items()
        }
    clone["version"] = 0
    clone["operation"] = "clone"
    clone["clone_source"] = os.path.abspath(src_dir)
    clone["clone_source_version"] = src_v
    os.makedirs(os.path.join(dst_dir, "_manifests"), exist_ok=True)
    _commit_metadata(dst_dir, 0, None, clone)
    return 0
