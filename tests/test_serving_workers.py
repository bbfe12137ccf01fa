"""The serving worker model: requests are answered by the server's
standing workers, never a thread per connection; bodies stay exact under
concurrent clients and for a table re-created at the same path; a silent
connection holds no worker, a stalled one holds it for at most the
handler's timeout, and a slow reader for as long as it keeps reading;
shutdown is prompt, and server_close alone stops the workers. The
workers are leader and followers: an idle server answers on one thread,
and a request that waits (a miss, a stalled read or send, a POST hook)
has handed the accept to another worker first.
Spark-free: the snapshot table and the CSV artifact are written by
hand."""

from __future__ import annotations

import csv
import io
import json
import os
import shutil
import socket
import sys
import threading
import time
import urllib.error
import urllib.request
import uuid
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from petfinder_database_distributor_spark.serving import http_server
from petfinder_database_distributor_spark.serving.http_server import (
    WORKERS,
    PetServer,
    PetServingHandler,
    load_snapshot_rows,
    serve_export,
    snapshot_body,
)
from petfinder_database_distributor_spark.sources.snapshot import (
    _commit_metadata,
    snapshot_commit_group,
)
from tests.test_serving_encoder import _NoRowDecode

KEY = "workers-key"
VERSIONS = 6  # more than the 4 entries the body cache once held


def _commit_versions(table_dir: str, first_key: int = 0) -> None:
    """Versions 0..VERSIONS-1, each the previous one plus one new file of
    40 keys, the first from ``first_key``. Each file sits in a directory
    of its own, as writers stage theirs."""
    os.makedirs(os.path.join(table_dir, "_manifests"))
    files = []
    for v in range(VERSIONS):
        rel = f"data/v{v}/{uuid.uuid4().hex}/part-00000.parquet"
        os.makedirs(os.path.join(table_dir, os.path.dirname(rel)))
        ks = range(first_key + v * 40, first_key + v * 40 + 40)
        t = pa.table(
            {
                "k": pa.array(ks, pa.int64()),
                "name": pa.array([f'pet "{k}" é✓' if k % 7 else None for k in ks]),
                "ok": pa.array([k % 3 == 0 for k in ks]),
            }
        )
        pq.write_table(t, os.path.join(table_dir, rel))
        files.append(rel)
        manifest = {"version": v, "files": list(files), "columns": ["k"], "operation": "append"}
        _commit_metadata(table_dir, v, v - 1 if v else None, manifest)


def _write_big_artifact(path: str, fill: bytes = b"x") -> bytes:
    """A one-file CSV artifact of 8 MB, more than the kernel buffers the
    server's writes; returns its bytes."""
    os.makedirs(path, exist_ok=True)
    body = b"link,about\n" + b"".join(
        b"https://pets.example/%d,%s\n" % (i, fill * 80_000) for i in range(100)
    )
    with open(os.path.join(path, "part-00000.csv"), "wb") as fh:
        fh.write(body)
    return body


def _write_artifact(path: str) -> bytes:
    """The one-file CSV serving artifact; returns its bytes."""
    os.makedirs(path)
    out = io.StringIO()
    w = csv.writer(out)
    w.writerow(["link", "name", "flag"])
    for i in range(200):
        w.writerow([f"https://pets.example/{i}", f"pet, {i}", ("True", "False", "")[i % 3]])
    body = out.getvalue().encode()
    with open(os.path.join(path, "part-00000.csv"), "wb") as fh:
        fh.write(body)
    return body


@pytest.fixture()
def body_cache(monkeypatch):
    """An empty body cache for one test; the shared one comes back after."""
    monkeypatch.setattr(http_server, "_BODY_CACHE", OrderedDict())
    monkeypatch.setattr(http_server, "_body_cache_total", 0)


@pytest.fixture()
def served(tmp_path):
    """(server, table dir, CSV artifact bytes); shut down afterwards."""
    table = str(tmp_path / "table")
    _commit_versions(table)
    artifact = str(tmp_path / "export")
    csv_bytes = _write_artifact(artifact)
    httpd = serve_export(artifact, KEY, snapshot_dir=table)
    yield httpd, table, csv_bytes
    httpd.shutdown()
    httpd.server_close()


def _get(port: int, route: str, timeout: float = 10) -> tuple[int, bytes]:
    req = urllib.request.Request(f"http://127.0.0.1:{port}{route}")
    req.add_header("X-API-Key", KEY)
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.status, resp.read()


def _reference(table: str, version: int | None) -> bytes:
    rows = load_snapshot_rows(table, version)
    return json.dumps({"count": len(rows), "pets": rows}).encode()


def _silent(port: int) -> socket.socket:
    """A connection that sends nothing."""
    return socket.create_connection(("127.0.0.1", port), timeout=10)


def _stalled(port: int) -> socket.socket:
    """A connection that sends a request line and then nothing more."""
    sock = _silent(port)
    sock.sendall(b"GET /health HTTP/1.0\r\n")
    return sock


def test_requests_start_no_threads(served, monkeypatch):
    """Thread-per-connection would start one thread per request."""
    httpd, _, _ = served
    port = httpd.server_address[1]
    starts = []
    start = threading.Thread.start

    def counted(self):
        starts.append(self.name)
        start(self)

    monkeypatch.setattr(threading.Thread, "start", counted)
    for i in range(50):
        route = ("/health", "/pets", "/pets.csv", f"/pets?version={i % VERSIONS}")[i % 4]
        assert _get(port, route)[0] == 200, route
    assert starts == []


def test_concurrent_clients_get_exact_bodies(served):
    """More clients than workers and cache misses racing each other:
    every body is byte-exact, and the cache's byte count is the sum of
    the bodies it holds, within its budget."""
    httpd, table, csv_bytes = served
    port = httpd.server_address[1]
    expected = {f"/pets?version={v}": _reference(table, v) for v in range(VERSIONS)}
    expected["/pets"] = _reference(table, None)
    expected["/pets.csv"] = csv_bytes
    routes = sorted(expected)
    barrier = threading.Barrier(16)
    wrong: list[str] = []

    def client(i: int) -> None:
        barrier.wait(timeout=10)
        for j in range(len(routes)):
            route = routes[(i + j) % len(routes)]
            status, body = _get(port, route)
            if status != 200 or body != expected[route]:
                wrong.append(route)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        clients = [threading.Thread(target=client, args=(i,)) for i in range(16)]
        for c in clients:
            c.start()
        for c in clients:
            c.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(c.is_alive() for c in clients)
    assert wrong == []
    assert snapshot_body(table) == expected["/pets"]
    with http_server._BODY_CACHE_LOCK:
        held = sum(len(body) for _, body in http_server._BODY_CACHE.values())
        assert http_server._body_cache_total == held <= http_server._BODY_CACHE_BYTES


def test_silent_connections_do_not_delay_health(served):
    """More silent connections than workers: none holds a worker."""
    httpd, _, _ = served
    port = httpd.server_address[1]
    idle = [_silent(port) for _ in range(2 * WORKERS)]
    try:
        t0 = time.perf_counter()
        assert _get(port, "/health", timeout=5)[0] == 200
        assert time.perf_counter() - t0 < 5
    finally:
        for sock in idle:
            sock.close()


def test_stalled_requests_time_out_and_service_resumes(served, monkeypatch):
    """One stalled request per worker occupies every worker; each is
    dropped after the handler's timeout, and requests are answered
    again."""
    monkeypatch.setattr(PetServingHandler, "timeout", 0.5)
    httpd, _, _ = served
    port = httpd.server_address[1]
    stalled = [_stalled(port) for _ in range(WORKERS)]
    try:
        for sock in stalled:
            assert sock.recv(1) == b""  # closed by the server, unanswered
        assert _get(port, "/health")[0] == 200
    finally:
        for sock in stalled:
            sock.close()


def test_shutdown_is_prompt_and_closes_the_port(served):
    httpd, _, _ = served
    port = httpd.server_address[1]
    assert _get(port, "/pets")[0] == 200
    t0 = time.perf_counter()
    httpd.shutdown()
    assert time.perf_counter() - t0 < 2
    httpd.server_close()
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", port), timeout=2)


def test_shutdown_drops_a_stalled_request_instead_of_waiting(served):
    """A worker waiting for the rest of a request does not hold shutdown
    up for the handler's timeout."""
    httpd, _, _ = served
    stalled = _stalled(httpd.server_address[1])
    try:
        time.sleep(0.2)  # a worker has accepted it and waits in a read
        t0 = time.perf_counter()
        httpd.shutdown()
        assert time.perf_counter() - t0 < 2
        while stalled.recv(1 << 16):  # the server has closed it
            pass
    finally:
        stalled.close()


def test_server_close_alone_refuses_connections_and_ends_workers(tmp_path):
    artifact = str(tmp_path / "export")
    _write_artifact(artifact)
    httpd = serve_export(artifact, KEY)
    port = httpd.server_address[1]
    assert _get(port, "/health")[0] == 200
    httpd.server_close()
    with pytest.raises(ConnectionRefusedError):
        socket.create_connection(("127.0.0.1", port), timeout=2)
    for w in httpd._workers:
        w.join(timeout=2)
    assert not any(w.is_alive() for w in httpd._workers)


def test_slow_steady_reader_gets_the_whole_body(tmp_path, monkeypatch):
    """The timeout bounds a stall, not the whole response: a body that
    takes many timeouts to reach a slow reader still arrives whole."""
    monkeypatch.setattr(PetServingHandler, "timeout", 0.5)
    artifact = str(tmp_path / "export")
    csv_bytes = _write_big_artifact(artifact)
    httpd = serve_export(artifact, KEY)
    client = socket.socket()
    try:
        client.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 1 << 15)
        client.settimeout(10)
        client.connect(httpd.server_address)
        client.sendall(b"GET /pets.csv HTTP/1.0\r\nX-API-Key: " + KEY.encode() + b"\r\n\r\n")
        chunks = []
        t0 = time.perf_counter()
        while chunk := client.recv(1 << 15):
            chunks.append(chunk)
            time.sleep(0.01)
        assert time.perf_counter() - t0 > 2 * PetServingHandler.timeout
        head, _, body = b"".join(chunks).partition(b"\r\n\r\n")
        assert head.startswith(b"HTTP/1.0 200")
        assert body == csv_bytes
    finally:
        client.close()
        httpd.shutdown()
        httpd.server_close()


def test_direct_serve_forever_returns_after_shutdown(tmp_path):
    artifact = str(tmp_path / "export")
    csv_bytes = _write_artifact(artifact)
    httpd = PetServer(artifact, KEY)
    loop = threading.Thread(target=httpd.serve_forever, daemon=True)
    loop.start()
    try:
        assert _get(httpd.server_address[1], "/pets.csv") == (200, csv_bytes)
        httpd.shutdown()
        loop.join(timeout=2)
        assert not loop.is_alive()
    finally:
        httpd.server_close()


def test_shutdown_while_serve_forever_starts_its_workers(tmp_path):
    artifact = str(tmp_path / "export")
    _write_artifact(artifact)
    for _ in range(20):
        httpd = PetServer(artifact, KEY)
        loop = threading.Thread(target=httpd.serve_forever, daemon=True)
        loop.start()
        try:
            httpd.shutdown()
            loop.join(timeout=2)
            assert not loop.is_alive()
        finally:
            httpd.server_close()


def test_miss_reads_each_data_file_without_dataset_discovery(tmp_path, monkeypatch):
    """A miss reads each data file through ``ParquetFile`` (no
    ``read_table`` dataset discovery) and never row by row."""
    table = str(tmp_path / "table")
    _commit_versions(table)
    expected = _reference(table, VERSIONS - 1)

    def no_read_table(*args, **kwargs):
        raise AssertionError("read_table on a miss")

    read = pq.ParquetFile.read
    monkeypatch.setattr(pq, "read_table", no_read_table)
    monkeypatch.setattr(
        pq.ParquetFile, "read", lambda self, *a, **k: _NoRowDecode(read(self, *a, **k))
    )
    assert snapshot_body(table, VERSIONS - 1) == expected


def test_recreated_table_serves_its_own_rows(tmp_path):
    """A table deleted and re-created at the same path is served from
    its own files, not from the cached bodies of the table before it:
    a cached body is used only while its version's manifest is the one
    on disk. Between the two, a version whose manifest is gone answers
    404 though its body is cached."""
    table = str(tmp_path / "table")
    artifact = str(tmp_path / "export")
    _write_artifact(artifact)
    _commit_versions(table)
    httpd = serve_export(artifact, KEY, snapshot_dir=table)
    try:
        port = httpd.server_address[1]
        routes = ["/pets", "/pets?version=0"]
        old = {route: _get(port, route)[1] for route in routes}
        shutil.rmtree(table)
        with pytest.raises(urllib.error.HTTPError, match="404"):
            _get(port, "/pets?version=0")
        _commit_versions(table, first_key=1000)
        for route, version in zip(routes, (None, 0)):
            status, body = _get(port, route)
            assert status == 200 and body == _reference(table, version) != old[route], route
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_uncommitted_version_is_refused(served):
    """A manifest above the latest pointer is what a writer that died
    before swapping ``_latest`` leaves behind. It was never committed, so
    no reader serves it: ``snapshot_body`` and ``load_snapshot_rows``
    raise FileNotFoundError, ``/pets?version=`` answers 404 and a group
    commit will not pin it, while the committed versions are served and
    pinned as before."""
    httpd, table, _ = served
    latest = VERSIONS - 1
    rel = f"data/dead/{uuid.uuid4().hex}/part-00000.parquet"
    os.makedirs(os.path.join(table, os.path.dirname(rel)))
    dead_rows = pa.table({"k": pa.array([-1], pa.int64())})
    pq.write_table(dead_rows, os.path.join(table, rel))
    with open(os.path.join(table, "_manifests", "v1.json")) as fh:
        dead = json.load(fh)
    dead.update(version=latest + 1, files=[rel])
    with open(os.path.join(table, "_manifests", f"v{latest + 1}.json"), "w") as fh:
        json.dump(dead, fh)
    with pytest.raises(FileNotFoundError):
        snapshot_body(table, latest + 1)
    with pytest.raises(FileNotFoundError):
        load_snapshot_rows(table, latest + 1)
    port = httpd.server_address[1]
    with pytest.raises(urllib.error.HTTPError, match="404"):
        _get(port, f"/pets?version={latest + 1}")
    for route, version in (("/pets", None), (f"/pets?version={latest}", latest)):
        assert _get(port, route) == (200, _reference(table, version)), route
    root, name = os.path.split(table)
    with pytest.raises(ValueError, match="no committed"):
        snapshot_commit_group(root, {name: latest + 1}, base_group=None)
    assert snapshot_commit_group(root, {name: latest}, base_group=None) == 0


def _slow_client(port: int, route: str) -> socket.socket:
    """A connection with a small receive buffer that has sent a GET of
    ``route`` and read the first bytes of the answer, so the server is
    sending its body."""
    client = socket.socket()
    client.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 1 << 15)
    client.settimeout(10)
    client.connect(("127.0.0.1", port))
    client.sendall(f"GET {route} HTTP/1.0\r\nX-API-Key: {KEY}\r\n\r\n".encode())
    assert client.recv(16) == b"HTTP/1.0 200 OK\r"
    return client


def _rest_of_body(client: socket.socket) -> bytes:
    chunks = []
    while chunk := client.recv(1 << 16):
        chunks.append(chunk)
    return b"".join(chunks).partition(b"\r\n\r\n")[2]


def _commit_big_version(table_dir: str) -> None:
    """One more version of ``_commit_versions``' table: its last file
    plus 100 rows of 80 kB, an 8 MB ``/pets`` body."""
    latest = VERSIONS - 1
    with open(os.path.join(table_dir, "_manifests", f"v{latest}.json")) as fh:
        manifest = json.load(fh)
    rel = f"data/v{latest + 1}/{uuid.uuid4().hex}/part-00000.parquet"
    os.makedirs(os.path.join(table_dir, os.path.dirname(rel)))
    big = pa.table({"k": pa.array(range(-100, 0), pa.int64()), "name": ["y" * 80_000] * 100})
    pq.write_table(big, os.path.join(table_dir, rel))
    manifest.update(version=latest + 1, files=[*manifest["files"], rel])
    _commit_metadata(table_dir, latest + 1, latest, manifest)


def test_evicted_body_mid_download_arrives_whole(tmp_path, monkeypatch, body_cache):
    """The body cache lets go of a body while a slow client is still
    downloading it, and new bodies are made meanwhile: the client still
    gets the evicted body byte for byte. Closing a body's file on
    eviction would break the send, or hand its descriptor number to a
    new body whose bytes the send would then carry."""
    table = str(tmp_path / "table")
    _commit_versions(table)
    _commit_big_version(table)
    artifact = str(tmp_path / "export")
    _write_artifact(artifact)
    big = VERSIONS
    expected = _reference(table, big)
    monkeypatch.setattr(http_server, "_BODY_CACHE_BYTES", 1)  # the newest body only
    httpd = serve_export(artifact, KEY, snapshot_dir=table)
    client = _slow_client(httpd.server_address[1], f"/pets?version={big}")
    try:
        for v in range(VERSIONS):  # each miss evicts the body before it
            assert snapshot_body(table, v) == _reference(table, v)
        assert (table, big) not in http_server._BODY_CACHE
        assert _rest_of_body(client) == expected
    finally:
        client.close()
        httpd.shutdown()
        httpd.server_close()


def test_body_replaced_by_reload_mid_download_arrives_whole(tmp_path):
    """``reload()`` replaces the artifact's bodies while a slow client
    downloads ``/pets.csv``: that client gets the old bytes, whole, and
    the next request the new ones."""
    artifact = str(tmp_path / "export")
    old = _write_big_artifact(artifact)
    httpd = serve_export(artifact, KEY)
    port = httpd.server_address[1]
    client = _slow_client(port, "/pets.csv")
    try:
        new = _write_big_artifact(artifact, fill=b"z")
        httpd.reload()
        httpd.reload()  # more new files, which may take the old ones' numbers
        assert _rest_of_body(client) == old
        assert _get(port, "/pets.csv") == (200, new)
    finally:
        client.close()
        httpd.shutdown()
        httpd.server_close()


def test_reader_that_stops_mid_body_is_dropped_and_workers_answer_again(
    tmp_path, monkeypatch
):
    """One client per worker reads the first bytes of a large body and
    then nothing: each worker waits at most the handler's timeout for
    room in the socket's buffer, drops its client, and answers again."""
    monkeypatch.setattr(PetServingHandler, "timeout", 0.5)
    artifact = str(tmp_path / "export")
    _write_big_artifact(artifact)
    httpd = serve_export(artifact, KEY)
    port = httpd.server_address[1]
    t0 = time.perf_counter()
    stalled = [_slow_client(port, "/pets.csv") for _ in range(WORKERS)]
    try:
        deadline = time.monotonic() + 10
        while any(httpd._serving) and time.monotonic() < deadline:
            time.sleep(0.01)
        assert not any(httpd._serving)
        assert time.perf_counter() - t0 < 5
        assert _get(port, "/health", timeout=5)[0] == 200
    finally:
        for sock in stalled:
            sock.close()
        httpd.shutdown()
        httpd.server_close()


def test_tiny_versions_keep_open_descriptors_under_the_count_bound(tmp_path, body_cache):
    """Every cached body holds an open file, and a tiny version's body is
    far below the byte budget: the cache's count bound, not its bytes,
    keeps this process's open descriptors in check."""
    table = str(tmp_path / "table")
    os.makedirs(os.path.join(table, "_manifests"))
    rel = "data/v0/t/part-00000.parquet"
    os.makedirs(os.path.join(table, os.path.dirname(rel)))
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), os.path.join(table, rel))
    bound = http_server._BODY_CACHE_FILES
    for v in range(bound + 40):
        manifest = {"version": v, "files": [rel], "columns": ["k"], "operation": "write"}
        _commit_metadata(table, v, v - 1 if v else None, manifest)
    before = len(os.listdir("/proc/self/fd"))
    for v in range(bound + 40):
        assert snapshot_body(table, v) == b'{"count": 1, "pets": [{"k": 1}]}'
    assert len(http_server._BODY_CACHE) == bound
    assert len(os.listdir("/proc/self/fd")) - before <= bound


def test_bodies_without_memfd_create_are_the_same_bytes(tmp_path, monkeypatch, body_cache):
    """Where ``os.memfd_create`` is missing, bodies live in unlinked
    temporary files and every route serves the same bytes."""
    monkeypatch.delattr(os, "memfd_create")
    table = str(tmp_path / "table")
    _commit_versions(table)
    artifact = str(tmp_path / "export")
    csv_bytes = _write_artifact(artifact)
    rows = [dict(r) for r in csv.DictReader(io.StringIO(csv_bytes.decode()))]
    expected = {
        "/pets": _reference(table, None),
        "/pets?version=0": _reference(table, 0),
        "/pets.csv": csv_bytes,
    }
    snapshot_server = serve_export(artifact, KEY, snapshot_dir=table)
    artifact_server = serve_export(artifact, KEY)
    try:
        for route, body in expected.items():
            assert _get(snapshot_server.server_address[1], route) == (200, body), route
        assert _get(artifact_server.server_address[1], "/pets") == (
            200,
            json.dumps({"count": len(rows), "pets": rows}).encode(),
        )
        for _, body_file in http_server._BODY_CACHE.values():
            assert "memfd:" not in os.readlink(f"/proc/self/fd/{body_file.fd}")
    finally:
        for httpd in (snapshot_server, artifact_server):
            httpd.shutdown()
            httpd.server_close()


# -- leader/followers: one worker accepts, and hands the lead on only
# before a wait. Each test below hangs or fails if the hand-off it names
# is missing; those about promptness keep the handler's 30 s timeout.


def _answered_while(httpd: PetServer, wait_for_busy) -> float:
    """Seconds ``/health`` takes on a fresh connection once
    ``wait_for_busy()`` is true; one worker is then held by a request
    that waits."""
    deadline = time.monotonic() + 10
    while not wait_for_busy() and time.monotonic() < deadline:
        time.sleep(0.01)
    assert wait_for_busy()
    t0 = time.perf_counter()
    assert _get(httpd.server_address[1], "/health", timeout=5)[0] == 200
    return time.perf_counter() - t0


def test_sequential_hits_on_an_idle_server_run_on_one_thread(served, monkeypatch):
    """The leader answers what it accepts on its own thread and keeps the
    lead: twenty cached hits in a row are all answered by one thread,
    where workers that each block in ``accept()`` take turns."""
    httpd, table, _ = served
    port = httpd.server_address[1]
    expected = _reference(table, 0)
    assert _get(port, "/pets?version=0") == (200, expected)  # cached from here on
    threads = []
    handle = PetServingHandler.handle

    def traced(self):
        threads.append(threading.get_ident())
        handle(self)
        threads.append(threading.get_ident())

    monkeypatch.setattr(PetServingHandler, "handle", traced)
    for _ in range(20):
        assert _get(port, "/pets?version=0") == (200, expected)
    assert len(threads) == 40
    assert len(set(threads)) == 1


def test_blocked_miss_does_not_hold_up_health(served, monkeypatch, body_cache):
    """A miss hands the lead on before it encodes: while one is stuck
    encoding, ``/health`` on another connection is answered at once."""
    httpd, table, _ = served
    port = httpd.server_address[1]
    encoding, release = threading.Event(), threading.Event()
    encode = http_server._encode_version

    def blocked(*args):
        encoding.set()
        release.wait(60)
        return encode(*args)

    monkeypatch.setattr(http_server, "_encode_version", blocked)
    answers = []
    miss = threading.Thread(target=lambda: answers.append(_get(port, "/pets?version=1", 60)))
    miss.start()
    try:
        assert _answered_while(httpd, encoding.is_set) < 1
    finally:
        release.set()
        miss.join(timeout=30)
    assert answers == [(200, _reference(table, 1))]


def test_half_sent_head_does_not_hold_up_health(served):
    """A client that sends half a request head and stalls holds the
    worker reading it, not the accept."""
    httpd, _, _ = served
    stalled = _stalled(httpd.server_address[1])
    try:
        assert _answered_while(httpd, lambda: any(httpd._serving)) < 1
    finally:
        stalled.close()


def test_blocked_start_hook_does_not_hold_up_health(tmp_path):
    """A POST hook may take any time: the worker calling it has handed
    the lead on."""
    artifact = str(tmp_path / "export")
    _write_artifact(artifact)
    started, release = threading.Event(), threading.Event()

    def hook():
        started.set()
        release.wait(60)

    httpd = serve_export(artifact, KEY, start_hook=hook)
    httpd.running = False
    answers = []

    def post_start():
        req = urllib.request.Request(f"http://127.0.0.1:{httpd.server_address[1]}/start", b"")
        with urllib.request.urlopen(req, timeout=60) as resp:
            answers.append((resp.status, json.loads(resp.read())))

    poster = threading.Thread(target=post_start)
    poster.start()
    try:
        assert _answered_while(httpd, started.is_set) < 1
    finally:
        release.set()
        poster.join(timeout=30)
        httpd.shutdown()
        httpd.server_close()
    assert answers == [(200, {"message": "Scraping started"})]


def test_reader_that_stops_mid_body_does_not_hold_up_health(tmp_path):
    """A client that stops reading a large body holds the worker sending
    it, not the accept: ``/health`` is answered long before the handler's
    timeout drops that client."""
    artifact = str(tmp_path / "export")
    _write_big_artifact(artifact)
    httpd = serve_export(artifact, KEY)
    client = _slow_client(httpd.server_address[1], "/pets.csv")
    try:
        assert _answered_while(httpd, lambda: any(httpd._serving)) < 1
        assert PetServingHandler.timeout == 30
    finally:
        client.close()
        httpd.shutdown()
        httpd.server_close()
