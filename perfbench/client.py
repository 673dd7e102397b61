"""The dashboard client: the reference's REST protocol over urllib + JSON.

Like ``examples/dashboard_http.py``, nothing here imports the engine's
HTTP or statements code; results are folded through the engine's
client-side SDK (``changelog.Changelog`` / ``MaterializedTable``), which
is what a dashboard built on this engine would use.

Lost records are detected from outside: a page requested at token N
that returns R records and next token M has lost M - N - R records
(evicted from the server's result ring before they were read).
"""

from __future__ import annotations

import json
import secrets
import time
import urllib.request
from urllib.parse import parse_qs, urlparse

from perfbench.tracing import Tracer


class Client:
    def __init__(self, root: str, tracer: Tracer):
        self.root = root
        self.origin = "{0.scheme}://{0.netloc}".format(urlparse(root))
        self.tracer = tracer
        self.lost_records = 0

    def _call(self, method: str, url: str, payload: dict | None = None) -> dict:
        req = urllib.request.Request(
            url,
            data=json.dumps(payload).encode() if payload is not None else None,
            headers={"Content-Type": "application/json"},
            method=method,
        )
        with self.tracer.span(f"http_api.{method.lower()}"):
            with urllib.request.urlopen(req, timeout=60) as r:
                body = r.read()
        if method == "GET":
            self.tracer.count("http_api.requests")
            self.tracer.count("http_api.bytes", len(body))
        return json.loads(body)

    def create(self, sql: str) -> str:
        name = "bench-" + secrets.token_hex(6)  # the client makes the name
        self._call("POST", self.root, {"name": name, "spec": {"statement": sql}})
        return name

    def envelope(self, name: str) -> dict:
        return self._call("GET", f"{self.root}/{name}")

    def phase(self, name: str) -> str:
        return self.envelope(name)["status"]["phase"]

    def wait_running(self, name: str, timeout: float = 60.0) -> str:
        """Poll until the statement leaves 'pending'; returns its phase."""
        deadline = time.monotonic() + timeout
        while True:
            ph = self.phase(name)
            if ph != "pending" or time.monotonic() > deadline:
                return ph
            time.sleep(0.01)

    def delete(self, name: str) -> None:
        self._call("DELETE", f"{self.root}/{name}")

    def page(self, url: str) -> tuple[list[dict], str]:
        """One results page: (records, next url, '' when the stream ended)."""
        payload = self._call("GET", url)
        records = payload["results"]["data"]
        nxt = payload["metadata"]["next"]
        self.tracer.count("http_api.pages")
        if records:
            self.tracer.count("http_api.useful_pages")
        if nxt:
            sent = _token(url)
            got = _token(nxt)
            self.lost_records += max(0, got - sent - len(records))
        return records, (self.origin + nxt) if nxt else ""


def _token(url: str) -> int:
    return int(parse_qs(urlparse(url).query).get("page_token", ["0"])[0])


class Feed:
    """One statement's result stream as a changelog source: yields
    records page by page and ``None`` at each empty page (the
    reference's keep-alive), ending when the server ends the stream."""

    def __init__(self, client: Client, name: str):
        self.client = client
        self.url = f"{client.root}/{name}/results"
        self.done = False

    def __iter__(self):
        while self.url:
            records, self.url = self.client.page(self.url)
            yield from records
            if not records:
                yield None
        self.done = True
