"""S8/S9 serving routes + F6 auth — the reference's HTTP surface
(`server.py:407-518`) rebuilt on the Python stdlib, closing the "user
still has to write the ~50-line web shim" gap.

Architecture parity, not a Flask port: the reference serves its
``pets.csv`` FILE, never the live scrape state (`server.py:478-489`
re-reads the CSV per request) — i.e. the serving tier reads the bounded
EXPORT ARTIFACT, not the pipeline. This module is that tier for the
engine: point it at a directory written by
:func:`..sources.export.write_csv_table` (``single_file=True`` — the
reference's one-file serving artifact) and it exposes:

- ``GET /pets``      → ``{"count": n, "pets": [row-dicts]}`` (auth'd;
  `server.py:463-490`)
- ``GET /pets.csv``  → the raw CSV, ``Content-Disposition: attachment``
  (auth'd; `server.py:493-518`)
- ``GET /health``, ``GET /``, ``GET /status`` → status JSON, no auth
  (`server.py:407-428`)

F6 auth (`server.py:449-461`): the key rides ``?key=`` or the
``X-API-Key`` header; missing or wrong → 401
``{"error": "Invalid or missing endpoint key"}`` exactly like the
reference. At 100 TB nothing changes shape-wise: the engine writes the
serving export (partitioned for big exports — front it with any static
file tier), and this process serves the snapshot it loaded; a refresh is
a new artifact + ``reload()``.

Requests are answered by ``WORKERS`` (4) standing threads, the
reference's deployment (gunicorn, 1 worker x 4 threads), in the
Leader/Followers pattern (Schmidt et al., PLoP 2000). The lead is one
lock (:class:`PetServer`): the worker holding it, the leader, waits in
``accept()``, answers the connection it gets on its own thread and keeps
the lead, so on an idle server every request runs start to finish on one
thread. It hands the lead to an idle worker (:meth:`PetServer.promote`)
only just before a step that can wait: a read or a send the client is
not ready for, a cache miss's encode, a POST hook. No thread is started
per request. Starting one OS thread per connection, as the stdlib's
``ThreadingHTTPServer`` does, was about half the server's CPU time for a
small response: on a 4-vCPU VM (2,000 requests per route, two runs),
``/health`` cost 0.63-0.73 ms per request with a thread per connection
and 0.34-0.35 ms on the workers, and a cached ``/pets`` hit 0.98-1.08 ms
against 0.58-0.67 ms. Four workers that each blocked in ``accept()``
took turns instead: the kernel woke a different one for each connection,
and under load the four contended for the interpreter lock. On
``serve_under_ingest`` (one client) the CPU time per request fell from a
median of 0.313 to 0.207 ms with leader/followers (12 alternating pairs,
lower in all 12); in one such run the four workers switched thread on
13,997 of 14,007 requests, the leader/followers server 11 times in
17,271, once per miss. With K closed-loop client processes and the
benchmark's 80/10/10 mix over 11 cached versions (4-vCPU VM, 8 s a run),
requests per second rose from 3,440 to 8,320 at K = 4 and from 2,590 to
8,910 at K = 16, p99 latency fell from 2.7 to 1.0 ms and from 9.7 to
3.5 ms, and the CPU time per request from 0.35 to 0.12 ms and from 0.43
to 0.10 ms. A prototype that also handed the lead on whenever the
listening socket had a connection waiting did worse under load: 4,081
against 5,148 requests per second at 4 clients, and 0.20-0.27 against
0.14-0.15 ms of CPU per request. With a fixed number of
workers, an idle connection must not hold one for good: a connection
that sends nothing reaches a worker only after 30 s (Linux's
``TCP_DEFER_ACCEPT``), one that stalls in its request or stops reading
its response is dropped after ``PetServingHandler.timeout`` (30 s,
gunicorn's default), and connects that arrive while every worker is
busy wait in the kernel's accept queue (``request_queue_size``).

A worker reads its request straight off the socket it accepted
(:class:`PetServingHandler`): ``os.read`` of the socket's non-blocking
descriptor until the head's blank line, with no ``poll`` before each
read, one split into the method, the target (parsed once) and a dict of
lower-cased header names, then the answer (see below).
``http.server``'s per-request
machinery (file objects over the socket, header parsing through the
``email`` package, logging) was about a third of a cached ``/pets``
hit: in a closed loop of 4,000 hits on a six-version table (4-vCPU VM,
two runs) the server spent 232-243 us of CPU per request against
350-362 us with it, and on ``serve_under_ingest`` the CPU time per
request fell from 0.63 to 0.43 ms (median of 10 alternating pairs, lower
in all 10). Its limits are the stdlib's: a request line or a header
line over 64 KiB answers 414 or 431, and so do 100 header lines.

Every ``/pets`` and ``/pets.csv`` answer is bytes encoded once, not once
per request: ``reload()`` encodes the artifact's two bodies, and a
snapshot-backed ``/pets`` serves the JSON body of its resolved version
from an LRU cache bounded by the bytes it holds, 64 MiB (see
``_BODY_CACHE``). Re-encoding the rows per request was most of the
serving cost: on the benchmark's ``serve_under_ingest`` workload (a
1,000-1,400-row table, 4-vCPU VM), encoding once per version cut the
server's CPU time per request from a median of 12.8 ms to 4.4 ms over 10
runs each. The budget holds every retained version of that table, where
a bound of 4 entries left most ``?version=`` requests missing: it cut
the CPU time per request from 0.96 to 0.61 ms (median of 10 pairs).
The cache holds at most 256 bodies as well: each is an open file.

A cached body is not bytes but an anonymous in-memory file
(:class:`_BodyFile`: ``memfd_create``, or an unlinked temporary file
where the OS has none). A response writes its status line and headers
with ``MSG_MORE`` and sends the body with ``os.sendfile``
(:meth:`PetServingHandler._sendfile`), so the kernel moves the file's
pages into the socket with no copy from this process; a body read in
process (:func:`snapshot_body`) is read back with ``os.pread``. Pushing
a ``bytes`` body through ``sendall`` was about half of a request's
serving CPU, most of it the kernel's copy: with one fresh connection per
756,579-byte response (4-vCPU VM, 20,000 responses, three runs) the
server spent 0.217-0.251 ms of CPU per response (0.155-0.167 ms of it in
the kernel) sending 64 KiB slices of bytes, and 0.140-0.169 ms
(0.101-0.119 ms) with ``sendfile`` from a memfd. On
``serve_under_ingest`` the CPU time per request fell from a median of
0.276 to 0.210 ms (12 alternating pairs, lower in all 12). An evicted or
replaced body's file closes when the last response sending it is done,
never under a send. Small answers (errors, ``/health``, ``/status``, POST
answers) go out with the head in one ``sendall``.

A cache miss (a new version, or a version the budget could not keep)
builds the body with Arrow kernels (:func:`_encode_version`):
per data file, each column becomes one Arrow array of JSON texts and
one ``binary_join_element_wise`` writes every row, so strings that need
no escaping, booleans and integers cost no Python call per cell or per
row. Decoding rows with ``Table.to_pylist()`` took 36 of the 53 ms a
1,345-row miss cost; a JSON text per cell made in Python and a ``%``
row template per row then left 12.8-13.3 ms for a 1,284-row benchmark
version, and the Arrow kernels take 6.4 ms (CPU time in-process, median
of 200 misses, two runs, 4-vCPU VM). Over HTTP, on versions of
1,000-1,353 rows, a miss costs the server 7.0-8.4 ms of CPU time
against 12.9-14.8 ms with a Python text per cell.
:func:`load_snapshot_rows` stays as the reference decoder the served
bytes are tested against.
"""

from __future__ import annotations

import csv
import glob
import io
import json
import os
import re
import select
import socket
import socketserver
import sys
import tempfile
import threading
import time
from collections import OrderedDict
from email.utils import formatdate
from http import HTTPStatus
from json.encoder import encode_basestring_ascii
from urllib.parse import parse_qs, urlparse

from petfinder_database_distributor_spark.sources.snapshot import (
    _dead_keys,
    _manifest_path,
    latest_version,
    live_key_mask,
    read_manifest,
    resolve_version,
)

AUTH_ERROR = {"error": "Invalid or missing endpoint key"}


# (table_dir, version) -> (the bytes of the version's manifest, the
# encoded ``/pets`` body of that version, a :class:`_BodyFile`). A committed
# version's file list and file contents are immutable, so a body is exact
# for as long as its manifest is the one on disk: a hit reads the pointer
# and the manifest file and sends the stored file, and a merge that
# advances the pointer is picked up on the next request as a miss.
# Comparing the manifest's bytes makes a table deleted and re-created at
# the same path a miss (its writers stage files under new unique
# directories, so its manifests differ), and a vacuumed version a 404;
# the read and the compare took a hit from 21 to 35 us in-process. A stat
# of the manifest cannot stand in for the read: a fresh file's mtime comes
# from the kernel's coarse clock and an inode number is reused, so both
# can repeat for a re-created table. A miss
# reads and encodes the version's files, about 9x the CPU time of a hit at
# the benchmark's 1,000-1,353 rows (7.0-8.4 ms against 0.7-1.0 ms).
#
# Bounded by the bytes of the bodies it holds, least recently used out
# first, so the hot latest version stays when a run of ``?version=``
# misses would have pushed it out first. A body of 1,000-1,353 benchmark
# rows is 0.61-0.83 MB, so the budget keeps all 5-11 retained versions
# of ``serve_under_ingest`` (7.5 MiB for 11). A 25,078-row version of
# ``ingest_verify``'s table is 15.1 MB, so a 20,000-row one is about
# 12 MB and the budget keeps five. In a traced benchmark run, 544 of 672
# ``?version=`` requests took over 3 ms, a miss, under the old bound of
# 4 entries (8.1 % of all requests); under the budget 15 of 1,096 did
# (0.14 %). The entry just inserted always stays, even alone over the
# budget: its file is open anyway while it is sent.
#
# Bounded by count as well (_BODY_CACHE_FILES), because every cached body
# holds one open descriptor: 64 MiB of an empty table's versions (24-byte
# bodies) would be millions of them, where a process commonly may open
# 1,024 files (the usual soft RLIMIT_NOFILE). 256 is over 20 times the
# benchmark's retained versions and leaves the rest of that limit to
# sockets and data files. Open body files are then at most 256 cached, the
# artifact's 2, and one per worker that is still sending a body the cache
# or ``reload()`` let go of.
_BODY_CACHE: OrderedDict[tuple[str, int], tuple[bytes, _BodyFile]] = OrderedDict()
_BODY_CACHE_BYTES = 64 << 20
_BODY_CACHE_FILES = 256
_BODY_CACHE_LOCK = threading.Lock()
_body_cache_total = 0  # bytes of the cached bodies, under _BODY_CACHE_LOCK


class _BodyFile:
    """One encoded response body, written once into an anonymous
    in-memory file (``memfd_create``; an unlinked temporary file where
    the OS has none) and then only read: by ``os.sendfile`` for a
    response (:meth:`PetServingHandler._sendfile`) and by ``os.pread``
    for ``bytes()``. It holds no copy of the bytes.

    The file closes when the last reference goes. The cache evicting an
    entry, or ``reload()`` replacing an artifact body, drops only its own
    reference; a response still sending the body holds another, so a
    descriptor is never closed, and its number never reused for another
    file, under a send in flight."""

    __slots__ = ("fd", "size")

    def __init__(self, parts) -> None:
        if hasattr(os, "memfd_create"):
            self.fd = os.memfd_create("pets-body", os.MFD_CLOEXEC)
        else:
            with tempfile.TemporaryFile() as fh:
                self.fd = os.dup(fh.fileno())
        self.size = 0
        for part in parts:
            view = memoryview(part).cast("B")
            while view:
                n = os.write(self.fd, view)
                view = view[n:]
                self.size += n

    def __len__(self) -> int:
        return self.size

    def __bytes__(self) -> bytes:
        return os.pread(self.fd, self.size, 0)

    def __del__(self, _close=os.close) -> None:
        fd = getattr(self, "fd", None)  # unset when the file could not be made
        if fd is not None:
            _close(fd)


def _pets_body(rows: list[dict]) -> bytes:
    """The encoded ``GET /pets`` envelope (`server.py:463-490`)."""
    return json.dumps({"count": len(rows), "pets": rows}).encode()


def snapshot_body(table_dir: str, version: int | None = None) -> bytes:
    """The ``GET /pets`` body of one committed version (default: the
    latest pointer), from the body cache while the version's manifest is
    the one cached with it; otherwise the version is decoded. Raises
    FileNotFoundError when the version is above the latest pointer
    (never committed) or has no manifest (vacuumed), even when its body
    is still cached."""
    return bytes(_version_body(table_dir, version))


def _read_bytes(path: str) -> bytes:
    """The bytes of a file, read through a raw descriptor: no buffered
    file object for a file read whole on every ``/pets`` hit."""
    fd = os.open(path, os.O_RDONLY | os.O_CLOEXEC)
    try:
        chunks = []
        while chunk := os.read(fd, 1 << 16):
            chunks.append(chunk)
    finally:
        os.close(fd)
    return b"".join(chunks)


def _version_body(
    table_dir: str, version: int | None = None, on_miss=None
) -> _BodyFile | bytes:
    """What :func:`snapshot_body` returns the bytes of: the cached
    :class:`_BodyFile` of the version, which a response sends as it is,
    or the bytes of an empty ``/pets`` while the table has no commit.
    ``on_miss`` is called before a miss encodes the version, the one
    step of a ``/pets`` answer that takes milliseconds: a serving worker
    hands the lead on there (:meth:`PetServer.promote`)."""
    global _body_cache_total
    v = resolve_version(table_dir, version)
    if v is None:
        return _pets_body([])
    manifest = _read_bytes(_manifest_path(table_dir, v))
    key = (table_dir, v)
    with _BODY_CACHE_LOCK:
        cached = _BODY_CACHE.get(key)
        if cached is not None and cached[0] == manifest:
            _BODY_CACHE.move_to_end(key)
            return cached[1]
    if on_miss is not None:
        on_miss()
    body = _encode_version(table_dir, json.loads(manifest))
    with _BODY_CACHE_LOCK:
        # the key may hold a stale body, or a concurrent miss's copy
        replaced = _BODY_CACHE.pop(key, None)
        if replaced is not None:
            _body_cache_total -= len(replaced[1])
        _BODY_CACHE[key] = (manifest, body)
        _body_cache_total += len(body)
        while len(_BODY_CACHE) > 1 and (
            _body_cache_total > _BODY_CACHE_BYTES or len(_BODY_CACHE) > _BODY_CACHE_FILES
        ):
            _body_cache_total -= len(_BODY_CACHE.popitem(last=False)[1][1])
    return body


def _json_texts(col) -> list[str]:
    """The JSON text of each value of one Arrow array, exactly
    ``json.dumps`` of the Python value ``to_pylist`` would give: the
    per-value path for the columns :func:`_file_rows` cannot write with
    Arrow kernels. Strings convert in bulk (``to_numpy``) and go through
    the C escaper ``json.dumps`` itself uses; every other type goes
    through ``json.dumps`` per value, so floats (NaN, ±inf) and the
    TypeError on unsupported types behave as in the reference encoding."""
    import pyarrow as pa

    t = col.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        values = col.to_numpy(zero_copy_only=False)
        if col.null_count == 0:
            return list(map(encode_basestring_ascii, values))
        return ["null" if v is None else encode_basestring_ascii(v) for v in values]
    return list(map(json.dumps, col.to_pylist()))


def _is_plain(arr) -> bool:
    """Whether every value of a string array is its own JSON text
    between quotes, as ``json.dumps`` (``ensure_ascii``) writes it: its
    slice of the UTF-8 data buffer holds only printable ASCII, with no
    ``"`` and no ``\\``."""
    import numpy as np
    import pyarrow as pa

    offsets, data = arr.buffers()[1:3]
    bounds = np.frombuffer(offsets, np.int64 if pa.types.is_large_string(arr.type) else np.int32)
    start, end = bounds[arr.offset], bounds[arr.offset + len(arr)]
    if start == end:  # all null or all empty: maybe no data buffer at all
        return True
    data = np.frombuffer(data, np.uint8, end - start, start)
    return bool(
        ((data - np.uint8(0x20)) < 0x5F).all()  # 0x20-0x7E; the rest wraps above
        and not (data == ord('"')).any()
        and not (data == ord("\\")).any()
    )


def _file_rows(table):
    """The rows of a data file (at least one row and one column) as JSON
    objects, each followed by ``", "``, as one bytes-like fragment. Built
    with Arrow kernels: one Arrow string array of JSON texts per column,
    then one ``binary_join_element_wise`` over all columns, with the
    escaped key names as scalar literals between them. Strings that need
    no escaping join raw, their quotes folded into the literals: quoting
    each null-free column with its own ``binary_join_element_wise`` made
    a 1,284-row benchmark miss 8.0-8.8 ms against 6.0-6.4 ms. Only the
    columns Arrow cannot write (strings that need escaping, floats,
    nested values, dates) take the per-value :func:`_json_texts`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    parts: list = []
    literal = "{"
    for i, (name, col) in enumerate(zip(table.column_names, table.combine_chunks().columns)):
        literal += (", " if i else "") + encode_basestring_ascii(name) + ": "
        arr = col.chunk(0)
        t = arr.type
        if (pa.types.is_string(t) or pa.types.is_large_string(t)) and _is_plain(arr):
            arr = arr.cast(pa.string())
            if not arr.null_count:
                parts += [literal + '"', arr]
                literal = '"'
                continue
            texts = pc.binary_join_element_wise('"', arr, '"', "")
        elif pa.types.is_boolean(t):
            texts = pc.if_else(arr, "true", "false")
        elif pa.types.is_integer(t):
            texts = arr.cast(pa.string())
        else:
            texts = pa.array(_json_texts(arr), pa.string())
        parts += [literal, texts.fill_null("null") if texts.null_count else texts]
        literal = ""
    joined = pc.binary_join_element_wise(*parts, literal + "}, ", "")
    offsets, data = joined.buffers()[1:3]
    bounds = np.frombuffer(offsets, np.int32)
    return memoryview(data)[bounds[joined.offset] : bounds[joined.offset + len(joined)]]


def _live_rows(table, key_cols: list[str], dead: set):
    """The mask of ``table``'s rows whose key is not in ``dead``. A
    single string, binary or integer key is tested with ``is_in`` over
    the keys of its own type; float keys (``is_in`` tells -0.0 from 0.0)
    and composite keys test each row's key tuple with
    :func:`live_key_mask`. With 50 of a 1,284-row benchmark version's
    string keys deleted, a miss cost 11.1-11.2 ms with the tuple set for
    every key and 8.4-8.9 ms with ``is_in``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(key_cols) == 1:
        col = table.column(key_cols[0])
        t = col.type
        kind = (
            int if pa.types.is_integer(t)
            else str if pa.types.is_string(t) or pa.types.is_large_string(t)
            else bytes if pa.types.is_binary(t) or pa.types.is_large_binary(t)
            else None
        )
        values = [k[0] for k in dead]
        # exact types only: Python's 1 == 1.0 == True must not reach is_in
        if kind is not None and all(type(v) is kind for v in values):
            if kind is int:  # a key outside the column's range matches nothing
                signed = pa.types.is_signed_integer(t)
                low = -(1 << (t.bit_width - 1)) if signed else 0
                high = (1 << (t.bit_width - signed)) - 1
                values = [v for v in values if low <= v <= high]
            value_set = pa.array(values, t)
            return pc.invert(pc.is_in(col, value_set=value_set, skip_nulls=True))
    keys = zip(*[table.column(c).to_pylist() for c in key_cols])
    return pa.array(live_key_mask(keys, dead), pa.bool_())


def _encode_version(table_dir: str, manifest: dict) -> _BodyFile:
    """The ``GET /pets`` body of the committed version ``manifest``
    names, written straight from Arrow columns into its file, fragment
    by fragment with no joined copy. Byte-identical to
    ``_pets_body`` over :func:`load_snapshot_rows`, the reference decoder.
    Each data file's rows are built from its OWN column names
    (:func:`_file_rows`), so a file written before a schema-evolving
    append keeps its shorter rows, as ``to_pylist`` gives them;
    tombstoned rows are dropped with an Arrow filter before any value is
    encoded."""
    import pyarrow.parquet as pq

    key_cols, dead = _dead_keys(table_dir, manifest)
    count, fragments = 0, []
    for rel in manifest["files"]:
        # ParquetFile reads the one file without read_table's dataset
        # discovery, about an eighth of a miss
        with pq.ParquetFile(os.path.join(table_dir, rel)) as data_file:
            table = data_file.read(use_threads=False)
        if dead:
            table = table.filter(_live_rows(table, key_cols, dead))
        if table.num_rows:
            count += table.num_rows
            fragments.append(_file_rows(table))
    if fragments:  # no ", " after the last row
        fragments[-1] = fragments[-1][:-2]
    return _BodyFile([b'{"count": %d, "pets": [' % count, *fragments, b"]}"])


def load_snapshot_rows(table_dir: str, version: int | None = None) -> list[dict]:
    """Serve a manifest-committed snapshot table (sources/snapshot.py)
    WITHOUT Spark: resolve pointer → manifest → explicit file list and read
    the parquet files with pyarrow. Because committed data files are
    immutable and the manifest names exactly one version's files, a reader
    holding version N is immune to concurrent merges/compactions — the
    reference's serving-during-rewrite guarantee (`server.py:299-307`),
    plus time travel to any retained version via ``?version=``. The
    reference decoder of the served body: the server encodes straight
    from Arrow columns instead (:func:`snapshot_body`)."""
    import pyarrow.parquet as pq

    v = resolve_version(table_dir, version)
    if v is None:
        return []
    manifest = read_manifest(table_dir, v)
    rows: list[dict] = []
    for rel in manifest["files"]:
        rows.extend(pq.read_table(os.path.join(table_dir, rel)).to_pylist())
    key_cols, dead = _dead_keys(table_dir, manifest)
    if dead:
        # merge-on-read deletes (snapshot_delete): drop tombstoned keys
        # exactly like the Spark reader's anti-join
        live = live_key_mask((tuple(r[k] for k in key_cols) for r in rows), dead)
        rows = [r for r, keep in zip(rows, live) if keep]
    return rows


def load_csv_artifact(path: str) -> tuple[str, list[dict]]:
    """Load the single-file CSV export written by ``write_csv_table``:
    returns (raw csv text, rows as header-keyed dicts — the reference's
    ``csv.DictReader`` serving decode, `server.py:478-482`)."""
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if not parts:
        return "", []
    with open(parts[0], encoding="utf-8", newline="") as fh:
        text = fh.read()
    return text, [dict(r) for r in csv.DictReader(io.StringIO(text))]


# Bytes per read of a request.
_RECV_SIZE = 1 << 16
# The stdlib's request limits (``http.client``): a request line or a
# header line of more than _MAX_LINE bytes, its line end included,
# answers 414 or 431; so does a header section of more than _MAX_HEADERS
# lines, the blank line that ends it counted.
_MAX_LINE = 65536
_MAX_HEADERS = 100
_HTTP_VERSION = re.compile(r"HTTP/([0-9]{1,10})\.([0-9]{1,10})")
_REASONS = {status.value: status.phrase for status in HTTPStatus}
_SERVER_HEADER = "PetServing/1.0 Python/" + sys.version.split()[0]


class PetServingHandler(socketserver.BaseRequestHandler):
    """One connection, one request (HTTP/1.0): read the request head off
    the socket with ``recv`` until its blank line, split its lines once,
    route, and answer; the server closes the connection after it."""

    # Seconds a connection may stall before the worker drops it: a read
    # that gets no byte, or a send that finds no room in the socket's
    # buffer. A stalled client would otherwise hold one of the server's
    # WORKERS for good; gunicorn's default --timeout.
    timeout = 30

    GET_ROUTES = ("/", "/health", "/status", "/pets", "/pets.csv")
    POST_ROUTES = ("/start", "/stop")

    def handle(self) -> None:
        # The timeout makes the descriptor non-blocking: _recv and
        # _sendfile try it at once and wait only when it is not ready.
        self.request.settimeout(self.timeout)
        self.fd = self.request.fileno()
        try:
            head = self._read_head()
            if head is not None:
                self._route(*head)
        except (TimeoutError, ConnectionError):
            # a read or a send stalled, or the client reset or closed
            # mid-answer: dropped quietly, no traceback per
            # client; the worker closes the connection
            pass

    # -- reading the request ----------------------------------------------
    def _read_head(self):
        """The request head: its lines up to the blank line that ends it,
        line ends cut, and the bytes read past that line. None when the
        connection ends first, or when a line or the header section is
        over its limit (answered here with 414 or 431)."""
        buf, pos, lines = bytearray(), 0, []
        while True:
            nl = buf.find(b"\n", pos)
            if nl < 0:
                if len(buf) - pos > _MAX_LINE:
                    return self._refuse(431 if lines else 414)
                chunk = self._recv(_RECV_SIZE)
                if not chunk:
                    return None
                buf += chunk
                continue
            if nl - pos >= _MAX_LINE:
                return self._refuse(431 if lines else 414)
            line = buf[pos:nl].removesuffix(b"\r")
            pos = nl + 1
            if len(lines) > _MAX_HEADERS:
                return self._refuse(431)
            if lines and not line:
                return lines, buf[pos:]
            lines.append(line)

    def _route(self, lines: list, rest: bytearray) -> None:
        """Parse the request line, the header fields and the target once,
        then answer. A request line without a valid HTTP version answers
        400, a version of 2.0 and up 505, any method but GET and POST
        501."""
        words = str(lines[0], "latin-1").split()
        if len(words) >= 3:
            version = _HTTP_VERSION.fullmatch(words[-1])
            if version is None:
                return self._refuse(400)
            if int(version[1]) >= 2:
                return self._refuse(505)
        if len(words) != 3:
            return self._refuse(400)
        method, target = words[0], words[1]
        if method not in ("GET", "POST"):
            return self._refuse(501)
        # header names are case-insensitive; the first of a repeated one wins
        self.headers = {}
        for line in lines[1:]:
            name, colon, value = str(line, "latin-1").partition(":")
            if colon:
                self.headers.setdefault(name.lower(), value.lstrip(" \t"))
        if target.startswith("//"):  # a path, not a network location
            target = "/" + target.lstrip("/")
        url = urlparse(target)
        self.route = url.path
        self.query = parse_qs(url.query)
        if method == "GET":
            self._get()
        else:
            self._post(rest)

    def _refuse(self, code: int) -> None:
        self._json(code, {"error": _REASONS[code]})

    # -- the socket -------------------------------------------------------
    def _wait(self, event: int, stalled: str) -> None:
        """Wait for ``event`` on the connection, up to ``timeout``
        seconds (TimeoutError with ``stalled`` after), having first handed
        the lead to an idle worker (:meth:`PetServer.promote`): a client
        that stalls holds this worker, never the accept."""
        self.server.promote()
        poller = select.poll()
        poller.register(self.fd, event)
        if not poller.poll(self.timeout * 1000):
            raise TimeoutError(stalled) from None

    def _recv(self, size: int) -> bytes:
        """Up to ``size`` bytes off the connection, b"" at its end. An
        ``os.read`` of the descriptor, with no ``poll`` before it as
        ``socket.recv`` makes under a timeout; only a read that finds no
        byte waits (:meth:`_wait`)."""
        while True:
            try:
                return os.read(self.fd, size)
            except BlockingIOError:
                self._wait(select.POLLIN, "the client sent no byte")

    # -- helpers ----------------------------------------------------------
    def _authorized(self) -> bool:
        """F6: ``?key=`` query param OR ``X-API-Key`` header, exact match
        (`server.py:449-461`); compared constant-time (same accept/reject
        behavior as the reference's ``==``, minus the timing side
        channel). Compared as UTF-8 BYTES: str compare_digest raises
        TypeError on any non-ASCII input, which would kill the connection
        with no response instead of 401."""
        import hmac

        provided = (self.query.get("key") or [None])[0] or self.headers.get("x-api-key")
        return provided is not None and hmac.compare_digest(
            provided.encode(), self.server.api_key.encode()
        )

    def _send(self, code: int, body, ctype: str, extra: dict | None = None):
        """Answer with ``body``: small bytes (errors, ``/status``, POST
        answers) ride with the head in one ``sendall``; a
        :class:`_BodyFile` goes from its file to the socket with
        :meth:`_sendfile`, the head held back with ``MSG_MORE`` to leave
        in the body's first segment. A head or a small answer fits the
        empty send buffer of a fresh connection, so its ``sendall`` does
        not wait and keeps the lead."""
        head = (
            "HTTP/1.0 %d %s\r\nServer: %s\r\nDate: %s\r\n"
            "Content-Type: %s\r\nContent-Length: %d\r\n"
        ) % (code, _REASONS[code], _SERVER_HEADER, self.server.http_date(), ctype, len(body))
        for k, v in (extra or {}).items():
            head += f"{k}: {v}\r\n"
        head = (head + "\r\n").encode("latin-1")
        if isinstance(body, bytes):
            self.request.sendall(head + body)
            return
        self.request.sendall(head, socket.MSG_MORE if len(body) else 0)
        self._sendfile(body)

    def _sendfile(self, body: _BodyFile) -> None:
        """Send ``body`` with ``os.sendfile``: the kernel moves the file's
        pages into the socket, with no copy through this process. The
        socket has a timeout, so it is non-blocking underneath: with its
        buffer full, ``sendfile`` raises
        BlockingIOError and the loop waits for room for up to ``timeout``
        seconds at a time (:meth:`_wait`). A reader that stops reading is
        then dropped (TimeoutError), and a slow but steady one gets the
        whole body. ``socket.sendfile`` is not used: it polls before every
        ``sendfile`` and seeks a file object."""
        offset = 0
        while offset < body.size:
            try:
                offset += os.sendfile(self.fd, body.fd, offset, body.size - offset)
            except BlockingIOError:
                self._wait(select.POLLOUT, "the client took no byte of the body")

    def _json(self, code: int, obj) -> None:
        self._send(code, json.dumps(obj).encode(), "application/json")

    def _drain_body(self, rest: bytearray) -> bool:
        """Read and discard the request body, the bytes already read with
        the head counted, before responding: leaving unread bytes in the
        socket can RST the connection under the client's feet before it
        reads the response. A ``Content-Length`` that is not a count
        answers 400 (False)."""
        try:
            length = int(self.headers.get("content-length") or 0)
        except ValueError:
            length = -1
        if length < 0:
            self._json(400, {"error": "invalid Content-Length"})
            return False
        length -= len(rest)
        while length > 0:
            chunk = self._recv(min(length, _RECV_SIZE))
            if not chunk:
                break
            length -= len(chunk)
        return True

    # -- routes -----------------------------------------------------------
    def _post(self, rest: bytearray) -> None:
        """Pipeline control (`server.py:431-446`): /start guards against
        double-start with a 400 like the reference; the actual pipeline is
        whatever hooks the server was constructed with (e.g. a streaming
        query's start / graceful stop — T6). The test-and-set is
        lock-protected (two concurrent /start must not both fire the
        hook), and a raising hook rolls the state back and answers 500
        instead of wedging the server in a running-but-not-started limbo.
        A hook may take any time, so the worker hands the lead on before
        it calls one."""
        if not self._drain_body(rest):
            return
        route = self.route
        if route == "/start":
            with self.server.lifecycle_lock:
                if self.server.running:
                    self._json(400, {"message": "Scraping already running"})
                    return
                self.server.running = True
            try:
                if self.server.start_hook:
                    self.server.promote()
                    self.server.start_hook()
            except Exception as exc:  # noqa: BLE001 — report, don't wedge
                self.server.running = False
                self._json(500, {"error": f"start failed: {exc}"})
                return
            self._json(200, {"message": "Scraping started"})
        elif route == "/stop":
            with self.server.lifecycle_lock:
                self.server.running = False
            try:
                if self.server.stop_hook:
                    self.server.promote()
                    self.server.stop_hook()
            except Exception as exc:  # noqa: BLE001
                self._json(500, {"error": f"stop failed: {exc}"})
                return
            self._json(200, {"message": "Scraping stopped"})
        elif route in self.GET_ROUTES:
            self._send(
                405,
                json.dumps({"error": "method not allowed"}).encode(),
                "application/json",
                {"Allow": "GET"},
            )
        else:
            self._json(404, {"error": "not found"})

    def _get(self) -> None:
        route = self.route
        if route in ("/", "/health"):
            self._json(
                200,
                {
                    "status": "running" if self.server.running else "stopped",
                    "message": "Pet serving layer",
                },
            )
        elif route == "/status":
            self._json(200, self.server.status())
        elif route == "/pets":
            if not self._authorized():
                self._json(401, AUTH_ERROR)
            elif self.server.snapshot_dir is not None:
                # snapshot-backed serving: ?version=N time-travels to any
                # retained commit; default = the latest pointer. Resolved
                # per request, so a concurrent merge is visible at the
                # NEXT request while in-flight reads keep their version.
                try:
                    version = (
                        int(self.query["version"][0]) if "version" in self.query else None
                    )
                    body = _version_body(
                        self.server.snapshot_dir, version, self.server.promote
                    )
                except (ValueError, FileNotFoundError):
                    self._json(404, {"error": "unknown snapshot version"})
                    return
                self._send(200, body, "application/json")
            else:
                self._send(200, self.server.pets_body, "application/json")
        elif route == "/pets.csv":
            if not self._authorized():
                self._json(401, AUTH_ERROR)
            else:
                self._send(
                    200,
                    self.server.csv_body,
                    "text/csv",
                    {"Content-Disposition": "attachment; filename=pets.csv"},
                )
        else:
            if route in self.POST_ROUTES:
                self._send(
                    405,
                    json.dumps({"error": "method not allowed"}).encode(),
                    "application/json",
                    {"Allow": "POST"},
                )
            else:
                self._json(404, {"error": "not found"})


# Standing request workers: the reference's deployment, gunicorn with 1
# worker x 4 threads (render.yaml:7).
WORKERS = 4


class PetServer(socketserver.TCPServer):
    """Serving snapshot + key, answered by ``WORKERS`` standing threads
    in the Leader/Followers pattern: the one holding the lead accepts and
    answers the connection it gets inline, and hands the lead on only
    before a wait (see the module docstring)."""

    allow_reuse_address = True

    # A burst of connects waits in the kernel's accept queue instead of
    # meeting SYN retries: with the TCPServer default of 5, 64 closed-loop
    # clients saw a p99 latency of 4.4-14.5 s, against 0.47-0.59 s with
    # this queue (4-vCPU VM, three runs each). gunicorn's default
    # --backlog; the kernel caps it at net.core.somaxconn.
    request_queue_size = 2048

    def __init__(
        self,
        artifact_path: str,
        api_key: str,
        port: int = 0,
        start_hook=None,
        stop_hook=None,
        snapshot_dir: str | None = None,
    ):
        super().__init__(("127.0.0.1", port), PetServingHandler)
        self.api_key = api_key
        self.artifact_path = artifact_path
        # When set, /pets serves the manifest-committed snapshot table at
        # this directory (latest pointer per request, ?version= time
        # travel) instead of the preloaded CSV artifact.
        self.snapshot_dir = snapshot_dir
        self.running = True
        self.start_hook = start_hook
        self.stop_hook = stop_hook
        self.lifecycle_lock = threading.Lock()
        self._stopping = threading.Event()
        # The lead: held by the one worker that accepts, whose ident is
        # _leader; the others wait to acquire it.
        self._lead = threading.Lock()
        self._leader: int | None = None
        self._workers: list[threading.Thread] = []
        self._serving: list[socket.socket | None] = []
        self._date = (0, "")  # (second, its Date header)
        self.reload()

    def server_bind(self) -> None:
        # Linux hands a connection to accept() only once request bytes
        # arrive, or after about 30 s of silence (the handler's timeout
        # then applies): a client that connects and waits, as a browser's
        # preconnect does, holds no worker. Without it, four such clients
        # stopped all serving for the 30 s timeout.
        if hasattr(socket, "TCP_DEFER_ACCEPT"):
            self.socket.setsockopt(socket.IPPROTO_TCP, socket.TCP_DEFER_ACCEPT, 30)
        super().server_bind()

    def reload(self) -> None:
        """(Re)load the CSV artifact and encode its ``/pets`` and
        ``/pets.csv`` bodies once, each into a :class:`_BodyFile` that
        requests send; a response still sending a replaced body keeps
        it."""
        text, rows = load_csv_artifact(self.artifact_path)
        self.row_count = len(rows)
        self.pets_body = _BodyFile([_pets_body(rows)])
        self.csv_body = _BodyFile([text.encode()])

    def http_date(self) -> str:
        """The ``Date`` header of a response sent now, formatted once per
        second."""
        now = int(time.time())
        second, text = self._date
        if second != now:
            text = formatdate(now, usegmt=True)
            self._date = (now, text)
        return text

    def status(self) -> dict:
        """The ``/status`` payload; a snapshot-backed server adds the
        latest committed version with its manifest's operation and commit
        time (null while the table has no commit)."""
        out = {"running": self.running, "rows": self.row_count}
        if self.snapshot_dir is not None:
            v = latest_version(self.snapshot_dir)
            m = read_manifest(self.snapshot_dir, v) if v is not None else {}
            out.update(
                version=v,
                operation=m.get("operation"),
                committed_at=m.get("committed_at"),
            )
        return out

    def _start_workers(self) -> None:
        # A worker is listed only once started: shutdown() from another
        # thread may join the list while serve_forever() is filling it,
        # and a worker started after shutdown() exits at its accept().
        self._serving = [None] * WORKERS
        for i in range(WORKERS):
            w = threading.Thread(target=self._work, args=(i,), name=f"PetServer-{i}", daemon=True)
            w.start()
            self._workers.append(w)

    def promote(self) -> None:
        """Hand the lead to an idle worker if this thread holds it; a
        no-op otherwise, so a request may call it before each of its
        waits. The handler calls it just before a step that can wait:
        a read or a send the client is not ready for, a cache miss's
        encode and a POST hook."""
        if self._leader == threading.get_ident():
            self._leader = None
            self._lead.release()

    def _work(self, slot: int) -> None:
        """One worker: take the lead, accept a connection and answer it
        on this thread (``BaseServer.process_request`` without the
        handoff), until the server stops accepting. A worker that still
        holds the lead after its answer accepts the next connection at
        once; one that handed it on (:meth:`promote`) waits for it again.
        The handler speaks HTTP/1.0, so a connection carries one request.
        ``self._serving[slot]`` is the connection being answered, for
        :meth:`shutdown`. An exiting worker hands the lead on, so the
        workers waiting for it wake in turn and exit too."""
        me = threading.get_ident()
        while True:
            if self._leader != me:
                self._lead.acquire()
                self._leader = me
            try:
                request, client_address = self.get_request()
            except OSError:
                if self._stopping.is_set():
                    self.promote()
                    return
                continue
            self._serving[slot] = request
            try:
                self.finish_request(request, client_address)
            except Exception:  # noqa: BLE001 — report, keep the worker
                self.handle_error(request, client_address)
            finally:
                self._serving[slot] = None
                self.shutdown_request(request)

    def serve_forever(self, poll_interval: float = 0.5) -> None:
        """Answer requests on ``WORKERS`` standing threads until
        :meth:`shutdown` or :meth:`server_close`. ``poll_interval`` is
        unused: the leader blocks in ``accept()`` instead of polling."""
        self._start_workers()
        for w in self._workers:
            w.join()

    def _stop_accepting(self) -> None:
        """Refuse new connections and wake the worker blocked in
        ``accept()``: on Linux, shutting a listening socket down fails a
        blocked ``accept()`` at once, and every later one."""
        self._stopping.set()
        try:
            self.socket.shutdown(socket.SHUT_RDWR)
        except OSError:  # already shut down or closed
            pass

    def shutdown(self) -> None:
        """Stop the workers and return once they have exited; the server
        does not serve again. Reading a request stops at end-of-file at
        once, so a stalled client does not hold shutdown up; a response
        already being written is finished first, each wait for room in
        the socket's buffer bounded by the handler's ``timeout``."""
        self._stop_accepting()
        for conn in list(self._serving):
            if conn is not None:
                try:
                    conn.shutdown(socket.SHUT_RD)
                except OSError:  # answered and closed meanwhile
                    pass
        for w in list(self._workers):
            w.join()

    def server_close(self) -> None:
        """Close the listening socket; workers finish the request they are
        answering, if any, and exit without accepting another."""
        self._stop_accepting()
        super().server_close()


def serve_export(
    artifact_path: str,
    api_key: str,
    port: int = 0,
    start_hook=None,
    stop_hook=None,
    snapshot_dir: str | None = None,
) -> PetServer:
    """Start serving a CSV export on the server's standing worker threads;
    returns the server (``.server_address[1]`` is the bound port;
    ``.shutdown()`` stops it).
    ``start_hook``/``stop_hook`` wire POST /start|/stop to a pipeline
    lifecycle (e.g. a streaming query's start / T6 graceful stop) —
    plumbed at construction so the hooks exist before the first request
    can race them."""
    httpd = PetServer(
        artifact_path, api_key, port, start_hook, stop_hook, snapshot_dir
    )
    httpd._start_workers()
    return httpd
