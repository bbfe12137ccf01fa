"""Serving-tier tests (S8/S9 routes + F6 auth, reference
`server.py:407-518`): the stdlib HTTP layer over a real engine export —
auth matrix (missing / wrong / query-param / header key), JSON envelope
equality with the artifact rows, raw-CSV byte equality, health routes,
and the per-version body cache (reuse, LRU eviction within its byte
budget, byte identity)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from petfinder_database_distributor_spark.serving import (
    http_server,
    load_csv_artifact,
    serve_export,
)
from petfinder_database_distributor_spark.serving.http_server import (
    _version_body,
    snapshot_body,
)
from petfinder_database_distributor_spark.sources.export import (
    encode_for_export,
    write_csv_table,
)
from tests.conftest import SF_SMALL
from tests.test_serving_workers import (  # noqa: F401 — body_cache is a fixture
    VERSIONS,
    _commit_versions,
    _reference,
    body_cache,
)

KEY = "test-endpoint-key"


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    from petfinder_database_distributor_spark.plans.source_sink_plans import (
        _typed_pets_ish,
    )

    path = str(tmp_path_factory.mktemp("serving") / "pets_csv")
    encoded = encode_for_export(
        _typed_pets_ish(spark, SF_SMALL),
        string_cols=["link", "name", "about_me"],
        bool_cols=["flag"],
        text_cols=["about_me"],
    )
    write_csv_table(encoded, path, single_file=True)
    httpd = serve_export(path, api_key=KEY)
    yield httpd, path
    httpd.shutdown()


def _get(port: int, route: str, headers: dict | None = None):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{route}")
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, resp.read(), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read(), dict(e.headers)


def test_auth_matrix(server):
    httpd, _ = server
    port = httpd.server_address[1]
    for route in ("/pets", "/pets.csv"):
        code, body, _ = _get(port, route)  # no key
        assert code == 401 and b"endpoint key" in body
        code, body, _ = _get(port, route, {"X-API-Key": "wrong"})
        assert code == 401
        code, _, _ = _get(port, f"{route}?key={KEY}")  # query param form
        assert code == 200
        code, _, _ = _get(port, route, {"X-API-Key": KEY})  # header form
        assert code == 200


def test_pets_json_envelope_matches_artifact(server):
    httpd, path = server
    port = httpd.server_address[1]
    _, rows = load_csv_artifact(path)
    code, body, _ = _get(port, "/pets", {"X-API-Key": KEY})
    payload = json.loads(body)
    assert code == 200
    assert payload["count"] == len(rows) > 0
    assert payload["pets"] == rows
    # the export's tri-state encoding survives to the wire: every flag is
    # one of the three on-disk spellings
    assert {p["flag"] for p in payload["pets"]} <= {"True", "False", ""}


def test_pets_csv_serves_artifact_bytes(server):
    httpd, path = server
    port = httpd.server_address[1]
    text, _ = load_csv_artifact(path)
    code, body, headers = _get(port, "/pets.csv", {"X-API-Key": KEY})
    assert code == 200
    assert body.decode() == text
    assert headers.get("Content-Disposition") == "attachment; filename=pets.csv"


def test_health_routes_unauthenticated(server):
    httpd, _ = server
    port = httpd.server_address[1]
    for route in ("/", "/health", "/status"):
        code, body, _ = _get(port, route)
        assert code == 200, route
    code, _, _ = _get(port, "/nope")
    assert code == 404


def _post(port: int, route: str):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{route}", data=b"")
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def test_non_ascii_key_rejected_with_401_not_connection_reset(server):
    """Regression (review finding): str-mode compare_digest raised
    TypeError on non-ASCII keys, killing the socket with no response."""
    httpd, _ = server
    port = httpd.server_address[1]
    code, body, _ = _get(port, "/pets?key=caf%C3%A9")
    assert code == 401 and b"endpoint key" in body
    code, _, _ = _get(port, "/pets", {"X-API-Key": "café"})
    assert code == 401


def test_method_mismatch_is_405_with_allow_header(server):
    httpd, _ = server
    port = httpd.server_address[1]
    code, _, headers = _get(port, "/start")  # GET on a POST route
    assert code == 405 and headers.get("Allow") == "POST"
    code, body = _post(port, "/pets")  # POST on a GET route
    assert code == 405


def test_failing_start_hook_rolls_back_and_answers_500(server):
    httpd, _ = server
    port = httpd.server_address[1]
    old_start, old_stop = httpd.start_hook, httpd.stop_hook
    try:
        httpd.stop_hook = None
        _post(port, "/stop")  # ensure stopped

        def boom():
            raise RuntimeError("stream refused to start")

        httpd.start_hook = boom
        code, body = _post(port, "/start")
        assert code == 500 and b"start failed" in body
        assert httpd.running is False  # rolled back — not wedged
        httpd.start_hook = None
        code, _ = _post(port, "/start")  # recoverable
        assert code == 200
    finally:
        httpd.start_hook, httpd.stop_hook = old_start, old_stop
        httpd.running = True


def test_start_stop_lifecycle_with_double_start_guard(server):
    """Reference parity (server.py:431-446): /start returns 400 when
    already running, /stop flips status, hooks fire."""
    httpd, _ = server
    port = httpd.server_address[1]
    calls = []
    httpd.start_hook = lambda: calls.append("start")
    httpd.stop_hook = lambda: calls.append("stop")
    assert httpd.running
    code, body = _post(port, "/start")  # double-start guard
    assert code == 400 and b"already running" in body
    code, body = _post(port, "/stop")
    assert code == 200 and json.loads(body)["message"] == "Scraping stopped"
    assert json.loads(_get(port, "/health")[1])["status"] == "stopped"
    code, body = _post(port, "/start")
    assert code == 200 and json.loads(body)["message"] == "Scraping started"
    assert json.loads(_get(port, "/status")[1])["running"] is True
    assert calls == ["stop", "start"]


def test_snapshot_backed_serving_time_travel(spark, tmp_path_factory):
    """Snapshot-backed /pets: latest by default, ?version=N time travel,
    auth still enforced, unknown version → 404 — and a merge committed
    WHILE the server runs is visible on the next request without any
    reload() (the pointer is resolved per request, Spark-free via
    pyarrow)."""
    from petfinder_database_distributor_spark.serving.http_server import (
        serve_export,
    )
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_merge,
        snapshot_write,
    )

    table = str(tmp_path_factory.mktemp("snapserve") / "table")
    snapshot_write(
        spark,
        table,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
    )
    httpd = serve_export(
        str(tmp_path_factory.mktemp("snapserve_csv")), api_key=KEY,
        snapshot_dir=table,
    )
    try:
        port = httpd.server_address[1]
        code, body, _ = _get(port, f"/pets?key={KEY}")
        assert code == 200
        assert json.loads(body)["count"] == 2

        # merge while serving — no reload() call anywhere
        snapshot_merge(
            spark,
            table,
            spark.createDataFrame([(2, "z"), (3, "c")], "k long, v string"),
            key_cols=["k"],
            order_cols=["v"],
        )
        code, body, _ = _get(port, f"/pets?key={KEY}")
        assert code == 200 and json.loads(body)["count"] == 3

        # time travel to the pre-merge version
        code, body, _ = _get(port, f"/pets?key={KEY}&version=0")
        v0 = json.loads(body)
        assert code == 200 and v0["count"] == 2
        assert {(r["k"], r["v"]) for r in v0["pets"]} == {(1, "a"), (2, "b")}

        # unknown version → 404; auth still enforced on the snapshot route
        code, _, _ = _get(port, f"/pets?key={KEY}&version=9")
        assert code == 404
        code, _, _ = _get(port, "/pets?version=0")
        assert code == 401
    finally:
        httpd.shutdown()


def test_snapshot_body_cached_per_version(spark, tmp_path_factory):
    """/pets must not re-decode or re-encode the table per request. The
    encoded body is cached by RESOLVED version (immutable files make that
    exact): repeat requests on one version get the cached body file, a
    new commit is a new version → miss → fresh body, and time travel
    resolves the exact old version."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_merge,
        snapshot_write,
    )

    def vs(body: bytes) -> set:
        return {r["v"] for r in json.loads(body)["pets"]}

    table = str(tmp_path_factory.mktemp("servecache") / "table")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    snapshot_write(spark, table, df)
    first = _version_body(table)
    assert _version_body(table) is first, "same version → cached object"
    snapshot_merge(
        spark, table, spark.createDataFrame([(1, "b")], "k long, v string"),
        key_cols=["k"], order_cols=["v"],
    )
    fresh = _version_body(table)
    assert fresh is not first and vs(bytes(fresh)) == {"b"}
    # time travel still resolves (and caches) the old version exactly
    assert vs(snapshot_body(table, version=0)) == {"a"}
    assert _version_body(table, version=0) is _version_body(table, version=0)


def test_snapshot_body_cache_evicts_least_recently_used(tmp_path, monkeypatch, body_cache):
    """More distinct ``?version=`` misses than the byte budget holds,
    each followed by a latest-version hit, must not evict the hot latest
    body: eviction is least-recently-used, not first-in-first-out."""
    table = str(tmp_path / "table")
    _commit_versions(table)
    sizes = [len(_reference(table, v)) for v in range(VERSIONS)]
    # room for the latest body and any one other, never for three
    monkeypatch.setattr(http_server, "_BODY_CACHE_BYTES", sizes[-1] + sizes[-2])
    latest = _version_body(table)
    for v in range(VERSIONS - 1):  # every version but the latest
        assert snapshot_body(table, v) == _reference(table, v)
        assert _version_body(table) is latest, f"latest evicted after v{v}"


def test_snapshot_body_cache_keeps_every_retained_version(tmp_path, body_cache):
    """The default budget holds every version of a small table, more
    than four: a repeat request of any version gets the cached object."""
    table = str(tmp_path / "table")
    _commit_versions(table)
    first = [_version_body(table, v) for v in range(VERSIONS)]
    for v, body in enumerate(first):
        assert _version_body(table, v) is body, f"v{v} re-encoded"
    assert len(http_server._BODY_CACHE) == VERSIONS


def test_snapshot_body_over_the_budget_is_served_and_kept_alone(
    tmp_path, monkeypatch, body_cache
):
    """A body larger than the whole budget is still served byte-exact,
    and stays as the only cached entry."""
    table = str(tmp_path / "table")
    _commit_versions(table)
    monkeypatch.setattr(http_server, "_BODY_CACHE_BYTES", 100)
    snapshot_body(table, 0)
    body = snapshot_body(table)
    assert body == _reference(table, None) and len(body) > 100
    assert list(http_server._BODY_CACHE) == [(table, VERSIONS - 1)]
    assert http_server._body_cache_total == len(body)


def test_snapshot_body_bytes_equal_reference_encoding(spark, tmp_path_factory):
    """The cached body on the wire is byte-identical to encoding the
    decoded rows per request, for the latest version, a time-travel
    version and a version after a merge-on-read delete."""
    from petfinder_database_distributor_spark.serving.http_server import (
        load_snapshot_rows,
    )
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_merge,
        snapshot_write,
    )

    def reference(version: int) -> bytes:
        rows = load_snapshot_rows(table, version)
        return json.dumps({"count": len(rows), "pets": rows}).encode()

    table = str(tmp_path_factory.mktemp("servebytes") / "table")
    snapshot_write(
        spark, table,
        spark.createDataFrame(
            [(1, "a", 1.5), (2, "é ✓", None), (3, 'q"t', -0.0)],
            "k long, v string, x double",
        ),
    )
    snapshot_merge(
        spark, table,
        spark.createDataFrame([(2, "z", 2.0), (4, "d", 4.0)], "k long, v string, x double"),
        key_cols=["k"], order_cols=["v"],
    )
    snapshot_delete(spark, table, spark.createDataFrame([(3,)], "k long"), ["k"])
    httpd = serve_export(
        str(tmp_path_factory.mktemp("servebytes_csv")), api_key=KEY,
        snapshot_dir=table,
    )
    try:
        port = httpd.server_address[1]
        for route, version in (("/pets", 2), ("/pets?version=0", 0),
                               ("/pets?version=1", 1), ("/pets?version=2", 2)):
            code, body, headers = _get(port, route, {"X-API-Key": KEY})
            assert code == 200 and body == reference(version), route
            assert headers.get("Content-Type") == "application/json"
        assert {r["k"] for r in json.loads(reference(2))["pets"]} == {1, 2, 4}
    finally:
        httpd.shutdown()


def test_reload_serves_new_artifact_bytes(tmp_path):
    """Artifact bodies are encoded once at load: a changed artifact is not
    served until ``reload()``, and after it both routes serve the new
    bytes."""
    part = tmp_path / "part-00000.csv"
    part.write_text("name,age\nrex,3\n", encoding="utf-8")
    httpd = serve_export(str(tmp_path), api_key=KEY)
    try:
        port = httpd.server_address[1]
        part.write_text("name,age\nrex,4\nfido,2\n", encoding="utf-8")
        assert json.loads(_get(port, "/pets", {"X-API-Key": KEY})[1])["count"] == 1
        httpd.reload()
        code, body, _ = _get(port, "/pets", {"X-API-Key": KEY})
        assert code == 200 and json.loads(body) == {
            "count": 2,
            "pets": [{"name": "rex", "age": "4"}, {"name": "fido", "age": "2"}],
        }
        code, body, _ = _get(port, "/pets.csv", {"X-API-Key": KEY})
        assert code == 200 and body == part.read_bytes()
        assert json.loads(_get(port, "/status")[1])["rows"] == 2
    finally:
        httpd.shutdown()


def test_status_reports_snapshot_version(spark, tmp_path_factory, server):
    """A snapshot-backed /status adds the latest version and its
    manifest's operation and commit time; an artifact-only server keeps
    the two original keys."""
    from petfinder_database_distributor_spark.sources.snapshot import (
        read_manifest,
        snapshot_merge,
        snapshot_write,
    )

    plain, _ = server
    assert set(json.loads(_get(plain.server_address[1], "/status")[1])) == {
        "running", "rows"
    }
    table = str(tmp_path_factory.mktemp("servestatus") / "table")
    snapshot_write(spark, table, spark.createDataFrame([(1, "a")], "k long, v string"))
    httpd = serve_export(
        str(tmp_path_factory.mktemp("servestatus_csv")), api_key=KEY,
        snapshot_dir=table,
    )
    try:
        port = httpd.server_address[1]
        status = json.loads(_get(port, "/status")[1])
        assert status["version"] == 0 and status["operation"] == "write"
        assert status["committed_at"] == read_manifest(table, 0)["committed_at"]
        assert status["running"] is True and status["rows"] == 0
        snapshot_merge(
            spark, table, spark.createDataFrame([(2, "b")], "k long, v string"),
            key_cols=["k"], order_cols=["v"],
        )
        status = json.loads(_get(port, "/status")[1])
        assert (status["version"], status["operation"]) == (1, "merge")
        assert status["committed_at"] == read_manifest(table, 1)["committed_at"]
    finally:
        httpd.shutdown()


def test_snapshot_serving_applies_tombstones(spark, tmp_path_factory):
    """The Spark-free pyarrow serving path must honor merge-on-read
    deletes exactly like the Spark reader: latest excludes tombstoned
    keys, time travel to the pre-delete version still serves them."""
    from petfinder_database_distributor_spark.serving.http_server import (
        load_snapshot_rows,
    )
    from petfinder_database_distributor_spark.sources.snapshot import (
        snapshot_delete,
        snapshot_write,
    )

    table = str(tmp_path_factory.mktemp("servetomb") / "table")
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    snapshot_write(spark, table, df)
    snapshot_delete(spark, table, spark.createDataFrame([(2,)], "k long"), ["k"])
    assert {r["k"] for r in load_snapshot_rows(table)} == {1, 3}
    assert {r["k"] for r in load_snapshot_rows(table, version=0)} == {1, 2, 3}
