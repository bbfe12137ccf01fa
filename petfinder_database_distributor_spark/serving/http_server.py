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

Every ``/pets`` and ``/pets.csv`` answer is bytes encoded once, not once
per request: ``reload()`` encodes the artifact's two bodies, and a
snapshot-backed ``/pets`` serves the JSON body of its resolved version
from a small LRU cache (see ``_BODY_CACHE``). Re-encoding the rows per
request was most of the serving cost: on the benchmark's
``serve_under_ingest`` workload (a 1,000-1,400-row table, 4-vCPU VM),
encoding once per version cut the server's CPU time per request from a
median of 12.8 ms to 4.4 ms over 10 runs each.
"""

from __future__ import annotations

import csv
import glob
import io
import json
import os
import threading
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

AUTH_ERROR = {"error": "Invalid or missing endpoint key"}


# (table_dir, version) -> the encoded ``/pets`` body of that version. A
# committed version's file list and file contents are immutable, so
# caching by RESOLVED version is exact: a hit costs one pointer read and
# a write of the stored bytes, and a merge that advances the pointer is
# picked up on the next request as a miss. The body takes less than
# half the memory of the decoded row dicts (0.84 MB against 1.83 MB for
# 1,368 benchmark rows). Bounded at 4 versions so long-lived serving
# across many commits doesn't hold every historical version; evicting
# the least recently used keeps the hot latest version when a run of
# ``?version=`` misses would have pushed it out first.
_BODY_CACHE: OrderedDict[tuple[str, int], bytes] = OrderedDict()
_BODY_CACHE_MAX = 4
_BODY_CACHE_LOCK = threading.Lock()


def _pets_body(rows: list[dict]) -> bytes:
    """The encoded ``GET /pets`` envelope (`server.py:463-490`)."""
    return json.dumps({"count": len(rows), "pets": rows}).encode()


def snapshot_body(table_dir: str, version: int | None = None) -> bytes:
    """The ``GET /pets`` body of one committed version (default: the
    latest pointer), from the body cache; only a miss decodes the
    version. Raises FileNotFoundError when the version has no manifest:
    never committed, or vacuumed before it was cached."""
    from petfinder_database_distributor_spark.sources.snapshot import latest_version

    v = latest_version(table_dir) if version is None else version
    if v is None:
        return _pets_body([])
    key = (table_dir, v)
    with _BODY_CACHE_LOCK:
        body = _BODY_CACHE.get(key)
        if body is not None:
            _BODY_CACHE.move_to_end(key)
            return body
    body = _pets_body(load_snapshot_rows(table_dir, v))
    with _BODY_CACHE_LOCK:
        _BODY_CACHE[key] = body
        _BODY_CACHE.move_to_end(key)
        while len(_BODY_CACHE) > _BODY_CACHE_MAX:
            _BODY_CACHE.popitem(last=False)
    return body


def load_snapshot_rows(table_dir: str, version: int | None = None) -> list[dict]:
    """Serve a manifest-committed snapshot table (sources/snapshot.py)
    WITHOUT Spark: resolve pointer → manifest → explicit file list and read
    the parquet files with pyarrow. Because committed data files are
    immutable and the manifest names exactly one version's files, a reader
    holding version N is immune to concurrent merges/compactions — the
    reference's serving-during-rewrite guarantee (`server.py:299-307`),
    plus time travel to any retained version via ``?version=``. Uncached:
    the server caches the encoded body instead (:func:`snapshot_body`)."""
    import pyarrow.parquet as pq

    from petfinder_database_distributor_spark.sources.snapshot import (
        _manifest_files,
        latest_version,
        read_manifest,
    )

    v = latest_version(table_dir) if version is None else version
    if v is None:
        return []
    manifest = read_manifest(table_dir, v)
    rows: list[dict] = []
    for rel in _manifest_files(manifest):
        rows.extend(pq.read_table(os.path.join(table_dir, rel)).to_pylist())
    tombs = manifest.get("tombstones", [])
    if tombs:
        # merge-on-read deletes (snapshot_delete): drop tombstoned keys
        # exactly like the Spark reader's anti-join
        key_cols = manifest["key_cols"]
        dead = set()
        for rel in tombs:
            for t in pq.read_table(os.path.join(table_dir, rel)).to_pylist():
                dead.add(tuple(t[k] for k in key_cols))
        rows = [r for r in rows if tuple(r[k] for k in key_cols) not in dead]
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


class PetServingHandler(BaseHTTPRequestHandler):
    server_version = "PetServing/1.0"

    # -- helpers ----------------------------------------------------------
    def _authorized(self) -> bool:
        """F6: ``?key=`` query param OR ``X-API-Key`` header, exact match
        (`server.py:449-461`); compared constant-time (same accept/reject
        behavior as the reference's ``==``, minus the timing side
        channel). Compared as UTF-8 BYTES: str compare_digest raises
        TypeError on any non-ASCII input, which would kill the connection
        with no response instead of 401."""
        import hmac

        q = parse_qs(urlparse(self.path).query)
        provided = (q.get("key") or [None])[0] or self.headers.get("X-API-Key")
        return provided is not None and hmac.compare_digest(
            provided.encode(), self.server.api_key.encode()
        )

    def _send(self, code: int, body: bytes, ctype: str, extra: dict | None = None):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _json(self, code: int, obj) -> None:
        self._send(code, json.dumps(obj).encode(), "application/json")

    GET_ROUTES = ("/", "/health", "/status", "/pets", "/pets.csv")
    POST_ROUTES = ("/start", "/stop")

    def _drain_body(self) -> None:
        """Read and discard any request body before responding: leaving
        unread bytes in the socket can RST the connection under the
        client's feet before it reads the response."""
        length = int(self.headers.get("Content-Length") or 0)
        while length > 0:
            chunk = self.rfile.read(min(length, 1 << 16))
            if not chunk:
                break
            length -= len(chunk)

    # -- routes -----------------------------------------------------------
    def do_POST(self) -> None:  # noqa: N802 — BaseHTTPRequestHandler contract
        """Pipeline control (`server.py:431-446`): /start guards against
        double-start with a 400 like the reference; the actual pipeline is
        whatever hooks the server was constructed with (e.g. a streaming
        query's start / graceful stop — T6). The test-and-set is
        lock-protected (two concurrent /start must not both fire the
        hook), and a raising hook rolls the state back and answers 500
        instead of wedging the server in a running-but-not-started limbo."""
        self._drain_body()
        route = urlparse(self.path).path
        if route == "/start":
            with self.server.lifecycle_lock:
                if self.server.running:
                    self._json(400, {"message": "Scraping already running"})
                    return
                self.server.running = True
            try:
                if self.server.start_hook:
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

    def do_GET(self) -> None:  # noqa: N802 — BaseHTTPRequestHandler contract
        route = urlparse(self.path).path
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
                q = parse_qs(urlparse(self.path).query)
                try:
                    version = (
                        int(q["version"][0]) if "version" in q else None
                    )
                    body = snapshot_body(self.server.snapshot_dir, version)
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

    def log_message(self, *args) -> None:  # quiet: tests assert via responses
        pass


class PetServer(ThreadingHTTPServer):
    """Serving snapshot + key, attached to the stdlib threading server."""

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
        self.reload()

    def reload(self) -> None:
        """(Re)load the CSV artifact and encode its ``/pets`` and
        ``/pets.csv`` bodies once; requests send the stored bytes."""
        text, rows = load_csv_artifact(self.artifact_path)
        self.row_count = len(rows)
        self.pets_body = _pets_body(rows)
        self.csv_body = text.encode()

    def status(self) -> dict:
        """The ``/status`` payload; a snapshot-backed server adds the
        latest committed version with its manifest's operation and commit
        time (null while the table has no commit)."""
        out = {"running": self.running, "rows": self.row_count}
        if self.snapshot_dir is not None:
            from petfinder_database_distributor_spark.sources.snapshot import (
                latest_version,
                read_manifest,
            )

            v = latest_version(self.snapshot_dir)
            m = read_manifest(self.snapshot_dir, v) if v is not None else {}
            out.update(
                version=v,
                operation=m.get("operation"),
                committed_at=m.get("committed_at"),
            )
        return out


def serve_export(
    artifact_path: str,
    api_key: str,
    port: int = 0,
    start_hook=None,
    stop_hook=None,
    snapshot_dir: str | None = None,
) -> PetServer:
    """Start serving a CSV export on a daemon thread; returns the server
    (``.server_address[1]`` is the bound port; ``.shutdown()`` stops it).
    ``start_hook``/``stop_hook`` wire POST /start|/stop to a pipeline
    lifecycle (e.g. a streaming query's start / T6 graceful stop) —
    plumbed at construction so the hooks exist before the first request
    can race them."""
    httpd = PetServer(
        artifact_path, api_key, port, start_hook, stop_hook, snapshot_dir
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd
