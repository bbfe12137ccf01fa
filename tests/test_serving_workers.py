"""The serving worker model: requests are answered by the server's
standing workers, never a thread per connection; bodies stay exact under
concurrent clients and for a table re-created at the same path; a silent
connection holds no worker, a stalled one holds it for at most the
handler's timeout, and a slow reader for as long as it keeps reading;
shutdown is prompt, and server_close alone stops the workers.
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
    os.makedirs(artifact)
    csv_bytes = b"link,about\n" + b"".join(
        b"https://pets.example/%d,%s\n" % (i, b"x" * 80_000) for i in range(100)
    )  # 8 MB, more than the kernel buffers the server's writes
    with open(os.path.join(artifact, "part-00000.csv"), "wb") as fh:
        fh.write(csv_bytes)
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
