"""Real-HTTP fetch seam (S2): worker.go GET semantics against a local
httptest-style server — redirect following + cap, headers, error rows."""

import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from walk_spark.sources.http_fetch import fetch_one

UA = "walk_spark-test/1"


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # silence
        pass

    def do_GET(self):  # noqa: N802
        if self.path == "/":
            body = (b"<html><head><title>Root</title></head><body>"
                    b'<a href="/a.html">a</a><p>hello</p></body></html>')
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path.startswith("/r"):
            k = int(self.path[2:].split(".")[0])
            nxt = "/" if k >= 2 else f"/r{k+1}.html"
            self.send_response(301)
            self.send_header("Location", nxt)
            self.send_header("Content-Length", "0")
            self.end_headers()
        elif self.path.startswith("/loop"):
            self.send_response(302)
            self.send_header("Location", "/loop")
            self.send_header("Content-Length", "0")
            self.end_headers()
        else:
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()


@pytest.fixture(scope="module")
def server():
    srv = HTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_fetch_ok_with_headers(server):
    r = fetch_one(f"{server}/", UA, 5.0, 10)
    assert r["status"] == 200 and r["error"] is None
    assert r["final_url"] == f"{server}/"
    assert b"<title>Root</title>" in r["body"]
    hm = dict(zip(r["headers"][::2], r["headers"][1::2]))
    assert hm["Content-Type"] == "text/html; charset=utf-8"
    assert r["hops"] == []


def test_fetch_follows_redirect_chain(server):
    r = fetch_one(f"{server}/r0.html", UA, 5.0, 10)
    assert r["status"] == 200
    assert r["final_url"] == f"{server}/"
    assert [h["url"] for h in r["hops"]] == [
        f"{server}/r0.html", f"{server}/r1.html", f"{server}/r2.html"]
    assert r["redirect_from"] == f"{server}/r2.html"
    assert r["hops"][0]["status"] == 301


def test_fetch_redirect_cap(server):
    r = fetch_one(f"{server}/loop", UA, 5.0, 10)
    assert r["error"] == "stopped after 10 redirects"  # worker.go:222-224
    assert len(r["hops"]) == 10 + 1


def test_fetch_http_error_status(server):
    r = fetch_one(f"{server}/missing", UA, 5.0, 10)
    assert r["status"] == 404 and r["error"] is None


def test_fetch_network_error():
    r = fetch_one("http://127.0.0.1:9/never", UA, 0.5, 10)
    assert r["status"] == 0
    assert r["error"] and r["error"].startswith("fetch error:")


class _SiteHandler(BaseHTTPRequestHandler):
    """A crawlable mini-site: / links a+b, /a.html links back, /b.html 404s,
    /r.html 301s to /a.html."""

    def log_message(self, *a):
        pass

    PAGES = {
        "/": b'<html><head><title>Root</title></head><body>'
             b'<a href="/a.html">a</a><a href="/b.html">b</a>'
             b'<a href="/r.html">r</a><p>root text</p></body></html>',
        "/a.html": b'<html><head><title>A</title></head><body>'
                   b'<a href="/">home</a><p>page a</p></body></html>',
    }

    def do_GET(self):  # noqa: N802
        if self.path in self.PAGES:
            body = self.PAGES[self.path]
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        elif self.path == "/r.html":
            self.send_response(301)
            self.send_header("Location", "/a.html")
            self.send_header("Content-Length", "0")
            self.end_headers()
        else:
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()


def test_e2e_http_crawl(spark):
    """The full BSP loop over live HTTP (fetch_mode='http'): same
    invariants as the corpus-join path — BFS order, dedup, error rows,
    headers, extraction."""
    from pyspark.sql import functions as F
    from walk_spark.config import CrawlConfig
    from walk_spark.plans.crawl import crawl

    srv = HTTPServer(("127.0.0.1", 0), _SiteHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        # seed with the NORMALIZED form: seeds enqueue raw (reference
        # lib/coordinator.go:174-178) while extracted links normalize (no
        # trailing slash), so a "{base}/" seed and its own inbound link
        # would be two distinct frontier keys — same behavior as walk
        cfg = CrawlConfig(
            seeds=[base], domains=[base],
            fetch_mode="http", record_redirects=False, record_headers=True,
            max_attempts=1,
        )
        r = crawl(spark, None, cfg)
        res = {x["url"]: x for x in r.resources.collect()}
        ok = {u: x for u, x in res.items() if x["status"] == 200}
        assert set(ok) == {base, f"{base}/a.html", f"{base}/r.html"}
        assert res[f"{base}/b.html"]["status"] == 404
        assert ok[base]["title"] == "Root"
        assert ok[base]["text"] == "a b r root text"
        assert ok[f"{base}/a.html"]["links"] == [base]
        hm = dict(zip(ok[base]["headers"][::2],
                      ok[base]["headers"][1::2]))
        assert hm["Content-Type"] == "text/html; charset=utf-8"
        # /r.html follows its 301 silently (record_redirects off): content
        # is page A fetched at the final url, attributed to the request url
        assert ok[f"{base}/r.html"]["title"] == "A"
        order = [x["url"] for x in
                 r.order.orderBy("superstep", "discovery_seq").collect()]
        assert order[0] == base
        assert set(order) == {base, f"{base}/a.html",
                              f"{base}/b.html", f"{base}/r.html"}
        # OK urls fetched exactly once (url-seen dedup over live fetches);
        # the 404 is retried max_attempts+1 times (F3, lib/job.go retry)
        from collections import Counter
        counts = Counter(order)
        assert counts[f"{base}/b.html"] == 2  # max_attempts=1 -> 2 fetches
        assert all(c == 1 for u, c in counts.items()
                   if u != f"{base}/b.html")
    finally:
        srv.shutdown()


class _TimedHandler(BaseHTTPRequestHandler):
    """Records arrival monotonic time per request path."""
    times: list = []

    def log_message(self, *a):
        pass

    def do_GET(self):  # noqa: N802
        import time
        type(self).times.append((self.path, time.monotonic()))
        body = b"<html><body>ok</body></html>"
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


def test_fetch_batch_crawl_delay_spacing(spark):
    """delay_ms enforces the reference's CrawlDelay (lib/worker.go:81-83):
    consecutive same-host GETs within a task are spaced >= delay_ms."""
    from walk_spark.sources.http_fetch import fetch_batch

    _TimedHandler.times = []
    srv = HTTPServer(("127.0.0.1", 0), _TimedHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        urls = spark.createDataFrame(
            [(f"{base}/p{i}.html",) for i in range(4)], ["url"]
        ).coalesce(1)
        out = fetch_batch(urls, delay_ms=250).collect()
        assert all(r["status"] == 200 for r in out)
        ts = sorted(t for _, t in _TimedHandler.times)
        assert len(ts) == 4
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        # sleep is delay minus elapsed fetch time; allow small scheduler slop
        assert all(g >= 0.225 for g in gaps), gaps
        # and with no delay the same site is hit back-to-back (sanity)
        _TimedHandler.times = []
        fetch_batch(urls, delay_ms=0).collect()
        ts0 = sorted(t for _, t in _TimedHandler.times)
        gaps0 = [b - a for a, b in zip(ts0, ts0[1:])]
        assert min(gaps0) < 0.2, gaps0
    finally:
        srv.shutdown()


def test_fetch_batch_robots_host_delay_override(spark):
    """host_delay_ms (the robots-declared Crawl-delay, fetchbot
    lib/worker.go:79-90): a host in the map is paced at ITS delay even when
    the configured delay_ms is 0; hosts outside the map keep delay_ms."""
    from walk_spark.sources.http_fetch import fetch_batch

    _TimedHandler.times = []
    srv = HTTPServer(("127.0.0.1", 0), _TimedHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host = f"127.0.0.1:{srv.server_port}"
    base = f"http://{host}"
    try:
        urls = spark.createDataFrame(
            [(f"{base}/q{i}.html",) for i in range(3)], ["url"]
        ).coalesce(1)
        # the map is keyed on the CANONICAL host (port-less — what the
        # Crawler's robots table passes) while the urls carry ':port':
        # the fetch-time lookup must canonicalize or the delay is skipped
        out = fetch_batch(urls, delay_ms=0,
                          host_delay_ms={"127.0.0.1": 300}).collect()
        assert all(r["status"] == 200 for r in out)
        ts = sorted(t for _, t in _TimedHandler.times)
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        assert all(g >= 0.275 for g in gaps), gaps
        # a DIFFERENT host's override does not slow this one
        _TimedHandler.times = []
        fetch_batch(urls, delay_ms=0,
                    host_delay_ms={"other.test": 500}).collect()
        ts0 = sorted(t for _, t in _TimedHandler.times)
        gaps0 = [b - a for a, b in zip(ts0, ts0[1:])]
        assert min(gaps0) < 0.2, gaps0
    finally:
        srv.shutdown()


def test_http_crawl_paces_one_host_without_budget(spark):
    """An http-mode crawl with no host budget still spaces one host's GETs
    by http_delay_milli: the batch is split by host before the fetch, so
    the host's urls run in one task, not in several concurrent ones."""
    from walk_spark.config import CrawlConfig
    from walk_spark.plans.crawl import crawl

    _TimedHandler.times = []
    srv = HTTPServer(("127.0.0.1", 0), _TimedHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        cfg = CrawlConfig(
            seeds=[f"{base}/s{i}.html" for i in range(6)], domains=[base],
            fetch_mode="http", http_delay_milli=250,
        )
        r = crawl(spark, None, cfg)
        assert r.ok_resources().count() == 6
        ts = sorted(t for _, t in _TimedHandler.times)
        assert len(ts) == 6
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        assert all(g >= 0.225 for g in gaps), gaps
    finally:
        srv.shutdown()


def test_http_crawl_unpaced_batch_keeps_its_spread(spark, monkeypatch):
    """With no delay in effect, one host's batch is not gathered into one
    task: its urls reach fetch_batch over more than one partition."""
    from pyspark.sql import functions as F

    from walk_spark.config import CrawlConfig
    from walk_spark.plans.crawl import crawl
    from walk_spark.sources import http_fetch

    spans = []
    real = http_fetch.fetch_batch

    def spy(urls, **kw):
        spans.append(urls.select(F.spark_partition_id().alias("p"))
                     .distinct().count())
        return real(urls, **kw)

    monkeypatch.setattr(http_fetch, "fetch_batch", spy)
    _TimedHandler.times = []
    srv = HTTPServer(("127.0.0.1", 0), _TimedHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        cfg = CrawlConfig(
            seeds=[f"{base}/s{i}.html" for i in range(8)], domains=[base],
            fetch_mode="http", pin_partitions=4,
        )
        r = crawl(spark, None, cfg)
        assert r.ok_resources().count() == 8
        assert spans and spans[0] > 1, spans
    finally:
        srv.shutdown()
