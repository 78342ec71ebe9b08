"""A3/A4 against a real socket (r7 verdict #4): the production
``requests_fetcher`` exercised end-to-end over a loopback
``http.server`` serving recorded CM API v32-shaped JSON — zero network
egress, but the full HTTP surface the injectable-fetcher tests skip:
URL construction, basic-auth header, query-string encoding of the
filter, ``limit/offset`` pagination, the warning-driven window shrink,
and the error path (``raise_for_status`` → the reference aborts with
``SystemExit(err)`` on any ``RequestException``,
``impala_query_sizing.py:143-145``; the engine's fetcher retries a
transient failure at the same offset, then surfaces a ``requests``
exception to its caller).
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

import pytest
import requests

from impala_base_to_cdw_sizing_spark.sources.cm_api import (
    FETCH_ATTEMPTS,
    PAGE_SIZE,
    build_filter,
    fetch_pages,
    requests_fetcher,
)

_USER, _PASS = "admin", "s3cret"
_CLUSTER = "TestCluster"


def _doc(i: int) -> dict:
    return {"queryId": f"q{i}", "attributes": {}, "startTime": "", "endTime": "",
            "durationMillis": "1", "queryType": "QUERY"}


class _CMHandler(BaseHTTPRequestHandler):
    """Recorded-response CM v32 endpoint.

    Scripted behavior, driven by the requested to-date:
    - to=2024-02-01: a full page at offset 0 (PAGE_SIZE rows), then a
      short warning-bearing page at offset PAGE_SIZE → the client must
      shrink the window to the warning's last token and reset offset;
    - to=2024-01-15 (the shrunk window): one short clean page → stop;
    - to=boom: HTTP 500 on every attempt → RequestException path;
    - to=denied: HTTP 403, not retried;
    - to=flaky: a full page at offset 0 and a short page at PAGE_SIZE,
      each failing on its first GET (a 503, then a truncated body).
    Every request is recorded (path, query, auth header) for assertions.
    """

    requests_log: list[dict] = []

    def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler contract
        parsed = urlparse(self.path)
        qs = {k: v[0] for k, v in parse_qs(parsed.query).items()}
        log = type(self).requests_log
        log.append(
            {
                "path": parsed.path,
                "qs": qs,
                "auth": self.headers.get("Authorization"),
            }
        )
        to, offset = qs.get("to", ""), int(qs.get("offset", "0"))
        if to in ("boom", "denied"):
            self.send_response(500 if to == "boom" else 403)
            self.end_headers()
            return
        if to == "flaky":
            # the first GET of each page fails: a 503 at offset 0, a
            # page cut short mid-JSON at offset PAGE_SIZE
            first = sum(r["qs"].get("offset") == qs.get("offset") for r in log) == 1
            if first and offset == 0:
                self.send_response(503)
                self.end_headers()
                return
            n = PAGE_SIZE if offset == 0 else 3
            body = {"queries": [_doc(offset + i) for i in range(n)], "warnings": []}
            payload = json.dumps(body).encode()
            if first:
                payload = payload[: len(payload) // 2]
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)
            return
        if to == "2024-02-01":
            if offset == 0:
                body = {"queries": [_doc(i) for i in range(PAGE_SIZE)],
                        "warnings": []}
            else:
                body = {
                    "queries": [_doc(PAGE_SIZE + i) for i in range(5)],
                    "warnings": [
                        "Impala query scan limit reached. Last end time "
                        "considered is 2024-01-15"
                    ],
                }
        else:  # shrunk window
            body = {"queries": [_doc(9000 + i) for i in range(3)], "warnings": []}
        payload = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def cm_server():
    _CMHandler.requests_log = []
    srv = HTTPServer(("127.0.0.1", 0), _CMHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    t.join(timeout=5)


def test_http_pagination_and_window_shrink(cm_server):
    fetch = requests_fetcher(cm_server, _CLUSTER, _USER, _PASS)
    pages = list(fetch_pages(fetch, "2024-01-01", "2024-02-01"))
    # full page, short warning page, then the shrunk-window final page
    assert [len(p) for p in pages] == [PAGE_SIZE, 5, 3]
    log = _CMHandler.requests_log
    # request 1: offset 0; request 2: offset advanced by PAGE_SIZE;
    # request 3: window shrunk to the warning's last token, offset reset
    assert [r["qs"]["offset"] for r in log] == ["0", str(PAGE_SIZE), "0"]
    assert [r["qs"]["to"] for r in log] == ["2024-02-01", "2024-02-01", "2024-01-15"]
    assert all(r["qs"]["from"] == "2024-01-01" for r in log)
    assert all(r["qs"]["limit"] == str(PAGE_SIZE) for r in log)


def test_http_url_filter_and_basic_auth(cm_server):
    fetch = requests_fetcher(cm_server, _CLUSTER, _USER, _PASS)
    list(fetch_pages(fetch, "2024-01-01", "2024-02-01", pool="root.etl"))
    log = _CMHandler.requests_log
    # v32 path includes the cluster segment (impala_query_sizing.py:139)
    assert log[0]["path"] == (
        f"/api/v32/clusters/{_CLUSTER}/services/impala/impalaQueries"
    )
    # server-side predicate string arrives intact, pool clause included
    assert log[0]["qs"]["filter"] == build_filter("root.etl")
    assert log[0]["qs"]["filter"].endswith("and pool=root.etl")
    # basic-auth header is constructed by the client, not assumed
    expected = "Basic " + base64.b64encode(f"{_USER}:{_PASS}".encode()).decode()
    assert all(r["auth"] == expected for r in log)


def test_http_error_aborts_like_the_reference(cm_server):
    """The reference wraps the GET in try/except RequestException and
    aborts via SystemExit; the engine's fetcher lets the same
    RequestException propagate (raise_for_status), so a caller applying
    the reference's CLI contract gets the identical abort."""
    fetch = requests_fetcher(cm_server, _CLUSTER, _USER, _PASS)
    with pytest.raises(requests.exceptions.RequestException) as err:
        list(fetch_pages(fetch, "2024-01-01", "boom"))
    # a 5xx on every attempt: the error names the page and the attempts
    assert f"offset 0 failed after {FETCH_ATTEMPTS} attempts" in str(err.value)
    assert len(_CMHandler.requests_log) == FETCH_ATTEMPTS
    with pytest.raises(SystemExit):
        raise SystemExit(err.value)  # the reference's abort, verbatim


def test_http_transient_page_failures_are_retried(cm_server):
    """A 503 and a page cut short mid-JSON are each fetched again at the
    same offset; every doc comes back exactly once."""
    fetch = requests_fetcher(cm_server, _CLUSTER, _USER, _PASS)
    pages = list(fetch_pages(fetch, "2024-01-01", "flaky"))
    ids = [d["queryId"] for page in pages for d in page]
    assert sorted(ids) == sorted(f"q{i}" for i in range(PAGE_SIZE + 3))
    offsets = [r["qs"]["offset"] for r in _CMHandler.requests_log]
    assert offsets == ["0", "0", str(PAGE_SIZE), str(PAGE_SIZE)]


def test_http_4xx_fails_without_retry(cm_server):
    fetch = requests_fetcher(cm_server, _CLUSTER, _USER, _PASS)
    with pytest.raises(requests.exceptions.HTTPError) as err:
        list(fetch_pages(fetch, "2024-01-01", "denied"))
    assert err.value.response.status_code == 403
    assert len(_CMHandler.requests_log) == 1


def test_http_empty_result_yields_no_pages(cm_server):
    # shrunk-window date straight away, but force zero rows by asking
    # for the clean route with an empty queries list via offset: the
    # final page has 3 rows, so instead pin the protocol on a 0-row
    # variant served by a dedicated fetcher wrapper
    fetch = requests_fetcher(cm_server, _CLUSTER, _USER, _PASS)

    def empty_fetch(from_date, to_date, pool, offset):
        page = fetch(from_date, to_date, pool, offset)
        return {"queries": [], "warnings": page.get("warnings", [])}

    assert list(fetch_pages(empty_fetch, "2024-01-01", "2024-01-15")) == []
