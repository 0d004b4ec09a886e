"""Loopback-HTTP e2e over the REAL fetch seam.

The repo's crawl sources are fixture-rendered by design (no network in
the sandbox), with the claim that a deployment swaps the render body
for an HTTP fetch and keeps every line of the partitioning plumbing
(sources/pagesource.py). This test makes that claim a tested property:
a stdlib ``http.server`` on 127.0.0.1 serves gsmarena-shaped pages
(with 404s sprinkled in), the ``page_range`` Python DataSource fetches
them over real sockets from its executor-side partitions
(``option("base_url", ...)`` → ``_fetch``), and the result runs the
full ingest path — 200-gate, resume anti-join against the saved_list,
pandas-UDF parse, normalize, one atomic manifest commit — exactly like
the fixture path. The server counts requests, so the tests also pin
that one ingest fetches each frontier page exactly once, on the first
crawl and on the no-op re-crawl alike.
"""

from __future__ import annotations

import shutil
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from collect_mobile_devices_datalake_spark.ingest.pipeline import (
    device_specs_view,
    ingest_source,
)
from collect_mobile_devices_datalake_spark.sources.pagesource import (
    _fetch,
    register_page_range_source,
)


def _page_html(page_id: int) -> str:
    # the gsmarena fixture shape (sources/fixtures.py::gsmarena_pages),
    # rendered server-side: spec table with .ttl/.nfo pairs under a <th>
    # group title, including the 1-char subtitle continuation row
    brand = f"Brand{page_id % 5}"
    name = f"Model {page_id}"
    ptype = f"TYPE{page_id % 3}"
    price = f"{100 + page_id}.00"
    return (
        f'<h1 class="specs-phone-name-title">{brand} {name}</h1>'
        f'<img class="specs-photo-main" src="http://img.test/{page_id}.jpg">'
        '<div id="specs-list"><table><tr><th>General</th></tr><tbody>'
        f'<td class="ttl">Brand</td><td class="nfo">{brand}</td>'
        f'<td class="ttl">Type</td><td class="nfo">{ptype}</td>'
        f'<td class="ttl">+</td><td class="nfo">{name}</td>'
        f'<td class="ttl">Retail Price</td><td class="nfo">{price}</td>'
        "</tbody></table></div>"
    )


class _Handler(BaseHTTPRequestHandler):
    hits = 0
    hits_lock = threading.Lock()

    def do_GET(self):  # noqa: N802 (http.server API)
        with _Handler.hits_lock:
            _Handler.hits += 1
        # /<source>/p_<id>
        try:
            source, tail = self.path.strip("/").split("/")
            page_id = int(tail.removeprefix("p_"))
        except ValueError:
            self.send_error(400)
            return
        if source != "gsmarena" or page_id % 29 == 3:
            # the fixture 404 cadence — exercises the is_accessable_url gate
            self.send_error(404, explain="no such device page")
            return
        body = _page_html(page_id).encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence per-request stderr lines
        pass


@pytest.fixture()
def http_srv():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    _Handler.hits = 0
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


@pytest.fixture()
def lake():
    d = tempfile.mkdtemp(prefix="lake_http_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _page_range(spark, base_url):
    register_page_range_source(spark)
    return (
        spark.read.format("page_range")
        .option("source", "gsmarena")
        .option("start", 0)
        .option("end", 40)
        .option("numPartitions", 4)
        .option("base_url", base_url)
        .load()
    )


def test_fetch_surfaces_http_status_as_data(http_srv):
    # non-2xx is a ROW (status feeds the 200-gate), not an exception
    url, pid, status, html = _fetch(http_srv, "gsmarena", 3)
    assert (pid, status) == (3, 404)
    url, pid, status, html = _fetch(http_srv, "gsmarena", 1)
    assert (pid, status) == (1, 200)
    assert 'class="specs-phone-name-title"' in html


def test_http_fetch_ingest_e2e(spark, http_srv, lake):
    pages = _page_range(spark, http_srv)
    rows = pages.collect()
    assert len(rows) == 40
    bad = {r.page_id for r in rows if r.status != 200}
    assert bad == {3, 32}  # page_id % 29 == 3 within [0, 40)
    assert _Handler.hits >= 40  # the pages really crossed a socket

    # full ingest: 200-gate -> resume anti-join -> parse -> normalize ->
    # one atomic manifest txn (data + saved_list)
    n1 = ingest_source(spark, pages, lake, "gsmarena")
    assert n1 == 38
    view = device_specs_view(spark, lake).filter(F.col("source") == "gsmarena")
    got = {(r.brand, r.model) for r in view.select("brand", "model").collect()}
    assert ("Brand1", "Model 1") in got and len(got) == 38
    one = view.filter(F.col("model") == "Model 1").select("specs").collect()[0][0]
    assert any("retail" in k.lower() and v == "101.00" for k, v in one.items()), one

    # re-run over the same (re-fetched) pages: resume makes it a no-op
    n2 = ingest_source(spark, pages, lake, "gsmarena")
    assert n2 == 0


def test_ingest_fetches_each_page_once(spark, http_srv, lake):
    """The frontier is scanned once per ingest: every page — 404s
    included, since the status gate runs on the fetched row — costs
    exactly one request, whether it is pending (first crawl) or already
    checkpointed (no-op re-crawl)."""
    pages = _page_range(spark, http_srv)

    _Handler.hits = 0
    assert ingest_source(spark, pages, lake, "gsmarena") == 38
    assert _Handler.hits == 40

    _Handler.hits = 0
    assert ingest_source(spark, pages, lake, "gsmarena") == 0
    assert _Handler.hits == 40
