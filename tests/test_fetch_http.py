"""S1/S2 real-HTTP fetcher seam (sources/fetch.py::http_fetch, mirroring
pet_scraper.py:60-93 / link_scraper.py:28-63): exercised against a local
stub scraping server — proves the injectable-fetcher seam carries the real
fetcher through the same pandas-UDF plan with no plan change, including T7
error isolation (HTTP 500 → null row, never a task failure). Pure stdlib
(http.server + urllib in the fetcher) so it runs in every container —
a version gated on ``requests`` would silently skip where it is absent."""

from __future__ import annotations

import json
import threading
from functools import partial
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from pyspark.sql import functions as F


class _StubScrapeHandler(BaseHTTPRequestHandler):
    """Mimics the reference's scraping server: GET /scrape?url=&key= returns
    a page derived from the url; /scrape-js additionally requires the wait
    knobs; key 'bad' → 500 (the T7 failure path)."""

    def do_GET(self):  # noqa: N802 (http.server API)
        parsed = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(parsed.query).items()}
        if q.get("key") == "bad":
            self.send_error(500, "auth failed")
            return
        if parsed.path == "/scrape-js" and "wait_timeout" not in q:
            self.send_error(400, "missing wait knobs")
            return
        body = json.dumps({"path": parsed.path, "url": q.get("url", "")})
        self.send_response(200)
        self.send_header("Content-Type", "text/plain")
        self.end_headers()
        self.wfile.write(body.encode())

    def log_message(self, *args):  # silence test output
        pass


@pytest.fixture(scope="module")
def stub_server():
    server = HTTPServer(("127.0.0.1", 0), _StubScrapeHandler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_http_fetch_direct(stub_server):
    from petfinder_database_distributor_spark.sources.fetch import http_fetch

    got = json.loads(http_fetch("https://x.example/1", stub_server, key="k"))
    assert got == {"path": "/scrape", "url": "https://x.example/1"}
    got_js = json.loads(
        http_fetch("https://x.example/2", stub_server, key="k", wait_timeout=5)
    )
    assert got_js["path"] == "/scrape-js"


def test_http_fetch_through_spark_plan(spark, stub_server):
    """The SAME fetch-UDF plan as s1_fetch_extract, with the real HTTP
    fetcher injected; one bad-key url exercises T7 null-isolation."""
    from petfinder_database_distributor_spark.sources.fetch import (
        fetch_documents,
        http_fetch,
    )

    urls = spark.createDataFrame(
        [(1, "https://x.example/a", "k"), (2, "https://x.example/b", "bad")],
        "id long, url string, key string",
    )
    fetcher_ok = partial(http_fetch, server=stub_server, key="k")

    def fetcher(url: str) -> str:
        # route the second url through the failing key
        key = "bad" if url.endswith("/b") else "k"
        return http_fetch(url, server=stub_server, key=key)

    out = {
        r["id"]: r["html"]
        for r in urls.withColumn("html", fetch_documents(F.col("url"), fetcher))
        .select("id", "html")
        .collect()
    }
    assert json.loads(out[1])["url"] == "https://x.example/a"
    assert out[2] is None  # T7: HTTP failure isolates to a null row

    ok_only = urls.filter(F.col("id") == 1).withColumn(
        "html", fetch_documents(F.col("url"), fetcher_ok)
    )
    assert json.loads(ok_only.collect()[0]["html"])["path"] == "/scrape"
