"""E1 lifecycle over HTTP (VERDICT #5): the reference dashboard's wire
protocol — client-generated name POSTed, phase polling via GET,
results paged by following metadata.next, keep-alive empty pages for
continuous queries, 404 semantics, DELETE stop — served by the engine
with no redirects."""

from __future__ import annotations

import json
import math
import secrets
import urllib.request
from urllib.error import HTTPError

import pytest

from streamlit_flink_demo_spark.http_api import StatementsHTTPServer
from streamlit_flink_demo_spark.sources.catalog import register_tables
from streamlit_flink_demo_spark.statements import (
    RESULTS_PAGE_SIZE,
    StatementsService,
)
from streamlit_flink_demo_spark.streaming.emitter import ResultBuffer


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    register_tables(spark, sf_dir)
    svc = StatementsService(spark)
    srv = StatementsHTTPServer(svc, page_size=40).start()
    yield srv
    srv.stop()


def _get(url: str) -> dict:
    with urllib.request.urlopen(url) as r:
        assert r.status == 200
        return json.loads(r.read())


def _post(url: str, payload: dict) -> dict:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json",
                 "Authorization": "Basic ignored"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
        return json.loads(r.read())


def test_batch_lifecycle_over_http(server):
    root = server.url()
    # the CLIENT generates the name (reference api/statements.py:65-77)
    name = "test-" + secrets.token_hex(6)
    env = _post(root, {
        "name": name,
        "spec": {"statement": "SELECT c_custkey FROM customer",
                 "properties": {"sql.current-catalog": "spark_catalog"}},
    })
    assert env["name"] == name
    assert env["spec"]["properties"]["sql.current-catalog"] == "spark_catalog"

    # poll phase via GET (reference wait_for_status :171-192)
    import time
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        env = _get(f"{root}/{name}")
        if env["status"]["phase"] == "completed":
            break
        time.sleep(0.05)
    assert env["status"]["phase"] == "completed"
    cols = [c["name"] for c in env["status"]["traits"]["schema"]["columns"]]
    assert cols == ["c_custkey"]

    # page results following metadata.next until it empties (:96-141)
    host, port = server.address
    url = f"{root}/{name}/results"
    rows, pages = [], 0
    while url:
        page = _get(url if url.startswith("http")
                    else f"http://{host}:{port}{url}")
        rows.extend(page["results"]["data"])
        nxt = page["metadata"]["next"]
        pages += 1
        if not nxt:
            break
        url = nxt
        assert pages < 100
    assert len(rows) == 150  # sf0.001 customer
    assert all(isinstance(r["row"], list) for r in rows)


def test_unknown_statement_404(server):
    with pytest.raises(HTTPError) as ei:
        _get(f"{server.url()}/does-not-exist")
    assert ei.value.code == 404


def test_continuous_statement_keepalive_and_delete(server, spark, tmp_path):
    from streamlit_flink_demo_spark.sources.stream_fixtures import (
        user_stream,
        write_user_batch,
    )

    spool = str(tmp_path / "spool")
    user_stream(spark, spool).createOrReplaceTempView("user")
    root = server.url()
    name = "test-" + secrets.token_hex(6)
    env = _post(root, {
        "name": name,
        "spec": {"statement": (
            "SELECT eyeColor, count(*) AS n FROM user GROUP BY eyeColor"
        )},
    })
    assert env["status"]["phase"] == "running"

    # keep-alive: empty page, next still set (continuous never ends)
    page = _get(f"{root}/{name}/results")
    assert page["results"]["data"] == []
    assert page["metadata"]["next"]

    write_user_batch(spark, spool, 0, [
        {"guid": "g1", "eyeColor": "brown", "age": 30, "balance": "$1.00",
         "name": "u", "registered": None}])
    server.service.process_available(name)
    host, port = server.address
    page = _get(f"http://{host}:{port}" + page["metadata"]["next"])
    assert [(r["op"], r["row"]) for r in page["results"]["data"]] == [
        (0, ["brown", 1])
    ]

    req = urllib.request.Request(f"{root}/{name}", method="DELETE")
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
    assert _get(f"{root}/{name}")["status"]["phase"] == "stopped"


def _pages(srv: StatementsHTTPServer, name: str, max_pages: int = 100) -> list[tuple[list, str]]:
    """Follow ``metadata.next`` from the first results page until it
    empties; returns every page as (records, next). More than
    ``max_pages`` pages fails the test."""
    host, port = srv.address
    url, pages = f"{srv.url()}/{name}/results", []
    while url:
        page = _get(url)
        pages.append((page["results"]["data"], page["metadata"]["next"]))
        url = pages[-1][1] and f"http://{host}:{port}{pages[-1][1]}"
        assert len(pages) <= max_pages
    return pages


class _RacingService:
    """A statement whose worker lands its final chunk and flips to
    'completed' after the handler's first read of an empty page and
    before it asks for the phase — the race the results GET must not
    lose a tail to. ``gets`` counts phase reads (py4j calls on a real
    streaming statement)."""

    def __init__(self, first: list[dict], final: list[dict], max_records: int = 100_000):
        self.buffer = ResultBuffer(max_records)
        self.buffer.append(first)
        self.final = final
        self.phase = "running"
        self.gets = 0

    def get(self, name: str) -> dict:
        self.gets += 1
        if self.phase == "running":
            self.buffer.append(self.final)
            self.phase = "completed"
        return {"status": {"phase": self.phase}}

    def next_results(self, name: str, cursor: int, page_size: int):
        return self.buffer.read(cursor, page_size)


def test_results_get_serves_chunk_landed_before_phase_flip():
    first = [{"row": [i]} for i in range(3)]
    final = [{"row": [i]} for i in range(3, 5)]
    svc = _RacingService(first, final)
    srv = StatementsHTTPServer(svc).start()
    try:
        pages = _pages(srv, "s")
    finally:
        srv.stop()
    # the data page made no phase read; the empty read that raced the
    # final chunk re-read after the phase and served it; only then did
    # the stream end
    assert [len(recs) for recs, _ in pages] == [3, 2, 0]
    assert [r for recs, _ in pages for r in recs] == first + final
    assert [nxt.rsplit("=", 1)[-1] for _, nxt in pages[:2]] == ["3", "5"]
    assert pages[-1][1] == ""
    assert svc.gets == 2


def test_results_get_reports_evicted_records_before_ending():
    """An empty read whose cursor moved past evicted records is not the
    end of a finished stream: the moved page token goes out first, so
    the client can count what it lost, and the stream ends after it."""
    svc = _RacingService([{"row": [i]} for i in range(6)], [], max_records=0)
    svc.phase = "completed"
    srv = StatementsHTTPServer(svc).start()
    try:
        pages = _pages(srv, "s")
    finally:
        srv.stop()
    assert pages[0][0] == [] and pages[0][1].endswith("/s/results?page_token=6")
    assert pages[1] == ([], "")


def test_batch_results_span_default_pages(spark, sf_dir):
    """A result larger than one default page, over a server built with
    the default page size: full pages, then the remainder, then the
    end. Runs at the configured test scale (orders is 1,500 rows at
    sf0.001, 15,000 at sf0.01)."""
    if not register_tables(spark, sf_dir, ("orders",)):
        pytest.skip(f"no orders table at {sf_dir}")
    n = spark.table("orders").count()
    if n <= RESULTS_PAGE_SIZE:
        pytest.skip(f"orders has {n} rows at {sf_dir}, not more than one page")
    svc = StatementsService(spark)
    srv = StatementsHTTPServer(svc).start()
    try:
        name = "test-" + secrets.token_hex(6)
        _post(srv.url(), {"name": name, "spec": {"statement": "SELECT o_orderkey FROM orders"}})
        assert svc.wait_for_status(name, "completed", timeout=120)
        pages = _pages(srv, name, max_pages=math.ceil(n / RESULTS_PAGE_SIZE) + 1)
    finally:
        srv.stop()
    rows = [r["row"][0] for recs, _ in pages for r in recs]
    assert len(rows) == len(set(rows)) == n
    data_pages = [len(recs) for recs, _ in pages if recs]
    assert len(data_pages) == math.ceil(n / RESULTS_PAGE_SIZE) >= 2
    assert data_pages[:-1] == [RESULTS_PAGE_SIZE] * (len(data_pages) - 1)
    assert data_pages[-1] == n - RESULTS_PAGE_SIZE * (len(data_pages) - 1)
    assert pages[-1] == ([], "")
    assert all(nxt for _, nxt in pages[:-1])
