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
