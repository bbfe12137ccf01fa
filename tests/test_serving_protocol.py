"""The serving tier's HTTP/1.0 protocol answers, byte for byte off raw
sockets: the status line, the header order and the one response per
connection; the request limits (414, 431), malformed request lines
(400), unsupported methods (501) and HTTP versions (505); the key in
``?key=`` or an ``X-API-Key`` header in any letter case; a request head
that arrives one byte at a time; a POST body drained by its
``Content-Length``, and a ``Content-Length`` that is not a count; a
client that resets mid-answer, dropped without a traceback.
Spark-free: the snapshot table and the CSV artifact are written by
hand."""

from __future__ import annotations

import json
import re
import socket
import struct
import time

import pytest

from petfinder_database_distributor_spark.serving.http_server import (
    PetServingHandler,
    serve_export,
)
from tests.test_serving_workers import KEY, _commit_versions, _write_artifact


@pytest.fixture()
def served(tmp_path):
    """(port, CSV artifact bytes); the server is shut down afterwards."""
    table = str(tmp_path / "table")
    _commit_versions(table)
    artifact = str(tmp_path / "export")
    csv_bytes = _write_artifact(artifact)
    httpd = serve_export(artifact, KEY, snapshot_dir=table)
    yield httpd.server_address[1], csv_bytes
    httpd.shutdown()
    httpd.server_close()


def _exchange(port: int, *sends: bytes, pause: float = 0.0) -> bytes:
    """Send each of ``sends`` in its own ``send`` (``pause`` s apart) and
    read until the server closes the connection."""
    with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
        for i, data in enumerate(sends):
            if i and pause:
                time.sleep(pause)
            sock.sendall(data)
        chunks = []
        while chunk := sock.recv(1 << 16):
            chunks.append(chunk)
    return b"".join(chunks)


def _status(raw: bytes) -> int:
    match = re.match(rb"HTTP/1\.0 (\d{3}) ", raw)
    assert match, raw[:200]
    return int(match[1])


def _get(route: str, *headers: str) -> bytes:
    return ("\r\n".join([f"GET {route} HTTP/1.0", *headers, "", ""])).encode("latin-1")


def test_response_head_order_and_one_response_per_connection(served):
    """An ``HTTP/1.0`` status line with the standard reason phrase, then
    ``Server``, ``Date``, ``Content-Type``, ``Content-Length`` and the
    route's extras, in that order; the body is exactly Content-Length
    bytes and the connection closes after it."""
    port, csv_bytes = served
    raw = _exchange(port, _get("/pets.csv", f"X-API-Key: {KEY}"))
    head, _, body = raw.partition(b"\r\n\r\n")
    status, *fields = head.decode("latin-1").split("\r\n")
    assert status == "HTTP/1.0 200 OK"
    names = [f.split(": ", 1)[0] for f in fields]
    values = dict(f.split(": ", 1) for f in fields)
    assert names == ["Server", "Date", "Content-Type", "Content-Length", "Content-Disposition"]
    assert re.fullmatch(r"PetServing/1\.0 Python/\d+\.\d+\.\d+\S*", values["Server"])
    assert re.fullmatch(r"\w{3}, \d{2} \w{3} \d{4} \d{2}:\d{2}:\d{2} GMT", values["Date"])
    assert values["Content-Type"] == "text/csv"
    assert values["Content-Disposition"] == "attachment; filename=pets.csv"
    assert int(values["Content-Length"]) == len(body) and body == csv_bytes
    raw = _exchange(port, _get("/start"))
    assert raw.startswith(b"HTTP/1.0 405 Method Not Allowed\r\n")
    assert b"\r\nAllow: POST\r\n\r\n" in raw


@pytest.mark.parametrize(
    "request_line, code",
    [
        ("GET /a b HTTP/1.0", 400),
        ("GET / HTTP/x", 400),
        ("HELLO", 400),
        ("GET / HTTP/2.0", 505),
        ("PUT /pets HTTP/1.0", 501),
        ("HEAD /health HTTP/1.0", 501),
    ],
)
def test_refused_request_lines(served, request_line, code):
    """A malformed request line, or one without a valid HTTP version,
    answers 400 with a status line; HTTP/2.0 and up 505; a method other
    than GET and POST 501."""
    port, _ = served
    assert _status(_exchange(port, f"{request_line}\r\n\r\n".encode())) == code


def test_long_request_line_is_414(served):
    port, _ = served
    raw = _exchange(port, _get("/" + "a" * 70_000))
    assert _status(raw) == 414


def test_header_limits_are_431(served):
    """A header section of more than 100 lines, the blank line that ends
    it counted (so 100 header lines), or one header line over 65,536
    bytes, answers 431; 99 header lines are answered."""
    port, _ = served
    lines = [f"X-Filler-{i}: {i}" for i in range(101)]
    for count, code in ((101, 431), (100, 431), (99, 200)):
        assert _status(_exchange(port, _get("/health", *lines[:count]))) == code, count
    assert _status(_exchange(port, _get("/health", "X-Long: " + "b" * 70_000))) == 431


def test_key_in_a_lower_case_header_or_the_query(served):
    port, csv_bytes = served
    raw = _exchange(port, _get("/pets.csv", f"x-api-key: {KEY}"))
    assert _status(raw) == 200 and raw.endswith(csv_bytes)
    raw = _exchange(port, _get(f"/pets.csv?key={KEY}"))
    assert _status(raw) == 200 and raw.endswith(csv_bytes)
    assert _status(_exchange(port, _get("/pets.csv", "x-api-key: wrong"))) == 401


def test_head_sent_one_byte_at_a_time(served, monkeypatch):
    """Each read waits at most the handler's timeout, so a head that
    arrives one byte per ``send``, each within the timeout, is answered."""
    monkeypatch.setattr(PetServingHandler, "timeout", 2)
    port, _ = served
    request = _get("/pets", f"X-API-Key: {KEY}")
    raw = _exchange(port, *(request[i : i + 1] for i in range(len(request))), pause=0.002)
    assert _status(raw) == 200 and json.loads(raw.partition(b"\r\n\r\n")[2])["count"] > 0


def test_head_cut_by_end_of_file_is_not_answered(served):
    port, _ = served
    with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
        sock.sendall(b"GET /health HTTP/1.0\r\nX-API-Key: ")
        sock.shutdown(socket.SHUT_WR)
        assert sock.recv(1 << 16) == b""


def test_post_body_is_drained_by_content_length(served, monkeypatch):
    """The bytes of the body read with the head count toward its
    ``Content-Length``: a body sent with the head, in full, is answered
    at once, not after the handler's timeout."""
    monkeypatch.setattr(PetServingHandler, "timeout", 5)
    port, _ = served
    body = b"x" * 200_000
    head = f"POST /stop HTTP/1.0\r\nContent-Length: {len(body)}\r\n\r\n".encode()
    for sends in ([head + body], [head + body[:1000], body[1000:]]):
        t0 = time.perf_counter()
        raw = _exchange(port, *sends)
        assert _status(raw) == 200 and time.perf_counter() - t0 < 2
        assert json.loads(raw.partition(b"\r\n\r\n")[2]) == {"message": "Scraping stopped"}


@pytest.mark.parametrize("route", ["/start", "/stop"])
@pytest.mark.parametrize("length", ["abc", "-5"])
def test_content_length_not_a_count_is_400(served, route, length):
    port, _ = served
    raw = _exchange(port, f"POST {route} HTTP/1.0\r\nContent-Length: {length}\r\n\r\n".encode())
    assert _status(raw) == 400
    assert json.loads(raw.partition(b"\r\n\r\n")[2]) == {"error": "invalid Content-Length"}


def test_client_reset_mid_answer_is_quiet(tmp_path, capfd):
    """A client that resets its connection after a few bytes of a large
    ``/pets.csv`` costs no traceback on stderr, and the next request is
    answered."""
    table = str(tmp_path / "table")
    _commit_versions(table)
    artifact = tmp_path / "export"
    artifact.mkdir()
    row = b"https://pets.example/%d," + b"n" * 400 + b",True\n"
    body = b"link,name,flag\n" + b"".join(row % i for i in range(20_000))
    (artifact / "part-00000.csv").write_bytes(body)  # ~8 MB
    httpd = serve_export(str(artifact), KEY, snapshot_dir=table)
    try:
        port = httpd.server_address[1]
        with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
            # linger 0: close() resets the connection instead of a FIN
            sock.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER, struct.pack("ii", 1, 0))
            sock.sendall(_get("/pets.csv", f"X-API-Key: {KEY}"))
            assert sock.recv(16).startswith(b"HTTP/1.0 200")
        deadline = time.monotonic() + 10
        while any(httpd._serving) and time.monotonic() < deadline:
            time.sleep(0.01)  # the worker is done with the reset connection
        assert not any(httpd._serving)
        assert _status(_exchange(port, _get("/health"))) == 200
    finally:
        httpd.shutdown()
        httpd.server_close()
    assert capfd.readouterr().err == ""
