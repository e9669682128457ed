"""Live-HTTP crawl mode: CrawlEngine with pages_df=None performs real
GETs inside the fetch kernel — robots.txt fetched per host, crawl-delay
enforced with wall-clock sleeps, outlink discovery and the seen set
identical to mock mode."""

import sys, os
import threading
import time
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from goskyr_spark.config import loads_config
from goskyr_spark.spark.crawl import CrawlEngine, FETCHED_SCHEMA

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)

CFG = """
scrapers:
  - name: live
    url: x
    item: div.e
    fields:
      - name: t
        location: {selector: span.t}
      - name: link
        type: url
        can_be_empty: true
        location: {selector: a.more, attr: href}
"""


def _page(i, last):
    more = (f'<a class="more" href="/detail/{i}">d</a>' if i <= last else "")
    return (f'<div class="e"><span class="t">item{i}</span>{more}</div>'
            if i <= last else "missing")


class _Site(BaseHTTPRequestHandler):
    hits = []
    delay = 0.2

    def do_GET(self):
        _Site.hits.append((self.path, time.monotonic()))
        if self.path == "/robots.txt":
            body = (f"User-agent: *\nDisallow: /secret/\n"
                    f"Crawl-delay: {_Site.delay}\n").encode()
        elif self.path == "/list/1":
            body = (_page(1, 2) + _page(2, 2) +
                    '<div class="e"><span class="t">item3</span>'
                    '<a class="more" href="/secret/x">s</a></div>').encode()
        elif self.path.startswith("/detail/"):
            i = self.path.rsplit("/", 1)[1]
            body = f'<div class="e"><span class="t">detail{i}</span></div>' \
                .encode()
        else:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture()
def site():
    _Site.hits = []
    srv = HTTPServer(("127.0.0.1", 0), _Site)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_live_crawl_end_to_end(site, tmp_path):
    from goskyr_spark.spark.fetchers import StaticFetcher
    from goskyr_spark.spark.session import get_spark

    spark = get_spark(app="live-crawl", master="local[2]",
                      shuffle_partitions=2)

    def factory(host):
        return loads_config(CFG).scrapers[0]

    eng = CrawlEngine(spark, str(tmp_path / "wd"), None, factory,
                      [f"{site}/list/1"], now=NOW,
                      live_fetcher=lambda: StaticFetcher(timeout=5))
    eng.run(max_rounds=5)

    rows = {r["url"]: r for r in
            eng.t_fetched.read(spark, schema=FETCHED_SCHEMA).collect()}
    assert rows[f"{site}/list/1"]["status"] == "ok"
    assert rows[f"{site}/detail/1"]["status"] == "ok"
    assert rows[f"{site}/detail/2"]["status"] == "ok"
    # robots: /secret/x was discovered as an outlink but never fetched ok
    assert rows[f"{site}/secret/x"]["status"] == "robots"
    # extraction through the live path
    items = {r["t"] for r in eng.items_final().collect()}
    assert {"item1", "item2", "item3", "detail1", "detail2"} <= items

    # politeness: consecutive requests to the host respect crawl-delay
    # (robots.txt itself is the first hit; the /secret path is skipped
    # without a request)
    paths = [p for p, _ in _Site.hits]
    assert paths[0] == "/robots.txt"
    assert "/secret/x" not in paths
    # spacing is enforced at request START client-side; server-side
    # arrival times jitter under load, so assert the AGGREGATE pacing:
    # n requests to one host span at least (n-1) crawl-delays (within
    # 20% measurement tolerance)
    times = [t for _, t in _Site.hits]
    n = len(times)
    assert n >= 4
    assert times[-1] - times[0] >= (n - 1) * _Site.delay * 0.8, _Site.hits

    # the live engine resumes like the mock engine: re-running changes
    # nothing (frontier drained)
    n_before = len(rows)
    eng2 = CrawlEngine(spark, str(tmp_path / "wd"), None, factory,
                       [f"{site}/list/1"], now=NOW,
                       live_fetcher=lambda: StaticFetcher(timeout=5))
    eng2.run(max_rounds=5)
    assert eng2.t_fetched.read(spark, schema=FETCHED_SCHEMA).count() == \
        n_before


class _AgentSite(BaseHTTPRequestHandler):
    """Disallows everything to goskyr's User-Agent, nothing to others."""

    def do_GET(self):
        body = (b"User-agent: goskyr\nDisallow: /\n\n"
                b"User-agent: *\nAllow: /\n"
                if self.path == "/robots.txt" else _page(1, 1).encode())
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def test_live_robots_group_follows_fetcher_user_agent(tmp_path):
    """The kernel picks the robots.txt group with the User-Agent the
    live fetcher sends (StaticFetcher's default goskyr agent), not "*"."""
    from goskyr_spark.spark.fetchers import StaticFetcher
    from goskyr_spark.spark.session import get_spark

    spark = get_spark(app="live-crawl", master="local[2]",
                      shuffle_partitions=2)
    srv = HTTPServer(("127.0.0.1", 0), _AgentSite)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    seed = f"http://127.0.0.1:{srv.server_port}/list/1"
    try:
        eng = CrawlEngine(spark, str(tmp_path / "wd"), None,
                          lambda host: loads_config(CFG).scrapers[0],
                          [seed], now=NOW,
                          live_fetcher=lambda: StaticFetcher(timeout=5))
        eng.run(max_rounds=2)
    finally:
        srv.shutdown()
    rows = {r["url"]: r["status"] for r in
            eng.t_fetched.read(spark, schema=FETCHED_SCHEMA).collect()}
    assert rows == {seed: "robots"}


def test_cli_live_crawl(site, tmp_path, capsys):
    """`goskyr_spark crawl --live -c config.yml` crawls a real site with
    the config's scraper + url as seed."""
    from goskyr_spark.cli import main

    cfg_path = tmp_path / "config.yml"
    cfg_path.write_text(CFG.replace("url: x", f'url: "{site}/list/1"'))
    rc = main(["crawl", "--workdir", str(tmp_path / "wd"), "--live",
               "-c", str(cfg_path), "--max-rounds", "4"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "'n_dequeued': 1" in out  # round 0: the seed


class _Utf8Site(BaseHTTPRequestHandler):
    """A UTF-8 page served as `text/html` with no charset."""
    body = ('<div class="e"><span class="t">café – naïve</span></div>'
            .encode("utf-8"))

    def do_GET(self):
        if self.path == "/robots.txt":
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.end_headers()
        self.wfile.write(_Utf8Site.body)

    def log_message(self, *a):
        pass


def test_live_page_decoded_like_mock_page(tmp_path):
    """A live page without a charset is decoded as UTF-8, like a mock
    page: the crawl's items equal scrape_page on the UTF-8 text."""
    from goskyr_spark.kernels.scrape import scrape_page
    from goskyr_spark.spark.fetchers import StaticFetcher
    from goskyr_spark.spark.session import get_spark

    spark = get_spark(app="live-crawl", master="local[2]",
                      shuffle_partitions=2)
    srv = HTTPServer(("127.0.0.1", 0), _Utf8Site)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    seed = f"http://127.0.0.1:{srv.server_port}/p"
    scraper = loads_config(CFG).scrapers[0]
    try:
        eng = CrawlEngine(spark, str(tmp_path / "wd"), None,
                          lambda host: scraper, [seed], now=NOW,
                          live_fetcher=lambda: StaticFetcher(timeout=5))
        eng.run(max_rounds=2)
    finally:
        srv.shutdown()
    got = [r["t"] for r in eng.items_final().collect()]
    want = [i["t"] for i in scrape_page(
        scraper, seed, _Utf8Site.body.decode("utf-8"), now=NOW).items]
    assert got == want == ["café – naïve"]


def test_decode_body_charset():
    from goskyr_spark.spark.fetchers import decode_body

    latin = "café".encode("latin-1")
    assert decode_body(latin, "text/html; charset=ISO-8859-1") == "café"
    assert decode_body("café".encode(), "text/html") == "café"
    assert decode_body("café".encode(), None) == "café"
    # an unknown charset name falls back to UTF-8 with replacement
    assert decode_body(latin, "text/html; charset=x-nope") == "caf�"


def test_static_fetcher_keeps_a_connection_per_host():
    """Round-robin GETs over 20 loopback hosts (the kernel's in-task
    order) reuse one keep-alive connection per host; requests' default
    of 10 host pools would open a connection for every GET."""
    from http.server import ThreadingHTTPServer

    from goskyr_spark.spark.fetchers import StaticFetcher

    peers = set()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            peers.add(self.client_address)
            self.wfile.write(b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n"
                             b"\r\nok")

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("0.0.0.0", 0), Handler)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    f = StaticFetcher(timeout=5)
    try:
        for _ in range(3):
            for i in range(20):
                assert f.fetch(f"http://127.0.0.{i + 1}:"
                               f"{srv.server_port}/p") == "ok"
    finally:
        srv.shutdown()
        srv.server_close()
    assert len(peers) == 20
