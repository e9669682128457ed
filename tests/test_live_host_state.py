"""Live per-host state held by the engine: robots.txt fetched once per
host per TTL (5xx re-probed every round), the crawl-delay kept across
round boundaries, and one host's crawl-delay overlapped with another
host's GETs inside a fetch task. Every check counts or times requests at
a local server."""

import os
import sys
import threading
import time
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from goskyr_spark.config import loads_config
from goskyr_spark.spark import crawl
from goskyr_spark.spark.crawl import CrawlEngine, FETCHED_SCHEMA

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)
A, B = "127.0.0.1", "127.0.0.2"

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


class _Web:
    """One server on 0.0.0.0 for every loopback host. ``robots[host]`` is
    (status, body) of its robots.txt. ``/list/N`` pages chain to
    ``/list/N+1`` up to ``chain`` and link ``/d/N`` on each host of
    ``links``; ``/d/N`` pages are leaves. ``hits`` records (host, path,
    monotonic arrival) per request."""

    def __init__(self, robots, chain=3, links=()):
        self.hits = []
        web = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True

            def do_GET(self):
                host = self.headers.get("Host", "").rsplit(":", 1)[0]
                web.hits.append((host, self.path, time.monotonic()))
                status, body = 200, None
                if self.path == "/robots.txt":
                    status, body = robots[host]
                elif self.path.startswith("/list/"):
                    n = int(self.path.rsplit("/", 1)[1])
                    body = _item(f"{host}-{n}", f"/list/{n + 1}"
                                 if n < chain else None)
                    for h in links:
                        body += _item(f"to-{h}",
                                      f"http://{h}:{web.port}/d/{n}")
                elif self.path.startswith("/d/"):
                    body = _item(f"{host}{self.path}", None)
                else:
                    status = 404
                body = (body or "").encode()
                self.wfile.write(
                    f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n".encode() + body)

            def log_message(self, *a):
                pass

        self.srv = ThreadingHTTPServer(("0.0.0.0", 0), Handler)
        self.srv.daemon_threads = True
        self.port = self.srv.server_port
        threading.Thread(target=self.srv.serve_forever, daemon=True).start()

    def url(self, host, path):
        return f"http://{host}:{self.port}{path}"

    def gets(self, host, robots):
        """Arrival times of host's robots.txt (robots=True) or page GETs."""
        return [t for h, p, t in self.hits
                if h == host and (p == "/robots.txt") == robots]


def _item(text, href):
    more = f'<a class="more" href="{href}">m</a>' if href else ""
    return f'<div class="e"><span class="t">{text}</span>{more}</div>'


@pytest.fixture()
def web():
    made = []

    def make(*args, **kw):
        made.append(_Web(*args, **kw))
        return made[-1]

    yield make
    for w in made:
        w.srv.shutdown()
        w.srv.server_close()


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="live-host-state", master="local[2]",
                     shuffle_partitions=2)


def _crawl(spark, workdir, seeds, **kw):
    from goskyr_spark.spark.fetchers import StaticFetcher

    eng = CrawlEngine(spark, workdir, None,
                      lambda host: loads_config(CFG).scrapers[0], seeds,
                      now=NOW, live_fetcher=lambda: StaticFetcher(timeout=5),
                      **kw)
    rounds = [s for s in eng.run(max_rounds=6) if s["n_dequeued"]]
    status = {r["url"]: r["status"] for r in
              eng.t_fetched.read(spark, schema=FETCHED_SCHEMA).collect()}
    return eng, rounds, status


ROBOTS = "User-agent: *\nDisallow: /secret/\n"


@pytest.mark.parametrize("plan", ["driver", "cluster", "driver_spark_kernel"],
                         indirect=True)
def test_robots_once_per_host_5xx_every_round(plan, web, spark, tmp_path):
    """A's 3-page chain makes one robots.txt GET over its three rounds
    (the body reaches rounds 1 and 2 through the commit's fold and the
    next broadcast); B's robots.txt answers 503, so B is re-probed in
    each of its three rounds and its pages stay `robots`."""
    w = web({A: (200, ROBOTS), B: (503, "")}, links=(B,))
    eng, rounds, status = _crawl(spark, str(tmp_path / "wd"),
                                 [w.url(A, "/list/1")])
    assert len(rounds) == 4
    assert len(w.gets(A, robots=False)) == 3
    assert len(w.gets(A, robots=True)) == 1
    assert eng._live_hosts[A][0] == ROBOTS.encode()
    assert len(w.gets(B, robots=True)) == 3
    assert w.gets(B, robots=False) == []
    assert {status[w.url(B, f"/d/{n}")] for n in (1, 2, 3)} == {"robots"}
    assert {status[w.url(A, f"/list/{n}")] for n in (1, 2, 3)} == {"ok"}


@pytest.mark.parametrize("plan", ["driver", "cluster", "driver_spark_kernel"],
                         indirect=True)
def test_robots_refetched_each_round_at_zero_ttl(plan, web, spark, tmp_path,
                                                 monkeypatch):
    monkeypatch.setattr(crawl, "_ROBOTS_TTL_SECS", 0.0)
    w = web({A: (200, ROBOTS)})
    _, rounds, status = _crawl(spark, str(tmp_path / "wd"),
                               [w.url(A, "/list/1")])
    assert len(rounds) == 3
    assert len(w.gets(A, robots=True)) == 3
    assert set(status.values()) == {"ok"}


@pytest.mark.parametrize("plan", ["driver", "cluster", "driver_spark_kernel"],
                         indirect=True)
def test_crawl_delay_holds_across_rounds(plan, web, spark, tmp_path):
    """Every request to the host, robots.txt included, arrives at least
    one crawl-delay (within 10%) after the previous one, although each
    page of the chain is fetched in its own round."""
    w = web({A: (200, "User-agent: *\nCrawl-delay: 2\n")})
    _, rounds, _ = _crawl(spark, str(tmp_path / "wd"),
                          [w.url(A, "/list/1")])
    assert len(rounds) == 3
    times = [t for _, _, t in w.hits]
    assert len(times) == 4, w.hits
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert min(gaps) >= 0.9 * 2, gaps


def test_crawl_delay_overlapped_across_hosts(web, spark, tmp_path):
    """One fetch task, two hosts with three pages each: the page GETs
    alternate between the hosts, so the six take about two crawl-delays
    (host by host they would take at least four)."""
    w = web({A: (200, "User-agent: *\nCrawl-delay: 0.5\n"),
             B: (200, "User-agent: *\nCrawl-delay: 0.5\n")})
    seeds = [w.url(h, f"/d/{n}") for h in (A, B) for n in (1, 2, 3)]
    _, rounds, status = _crawl(spark, str(tmp_path / "wd"), seeds,
                               fetch_partitions=1)
    assert [r["n_dequeued"] for r in rounds] == [6]
    assert set(status.values()) == {"ok"}
    pages = [(h, t) for h, p, t in w.hits if p != "/robots.txt"]
    assert [h for h, _ in pages] == [A, B] * 3
    assert pages[-1][1] - pages[0][1] < 1.5


def test_live_never_salts(web, spark, tmp_path, monkeypatch):
    """With salting forced on every row, a live round still fetches one
    host from one task: the 18 page GETs (two fetch partitions) of one
    host with `Crawl-delay: 0.2` stay about a crawl-delay apart."""
    monkeypatch.setattr(crawl, "SALT_ROWS", 1)
    w = web({A: (200, "User-agent: *\nCrawl-delay: 0.2\n")})
    seeds = [w.url(A, f"/d/{n}") for n in range(1, 19)]
    _, rounds, status = _crawl(spark, str(tmp_path / "wd"), seeds)
    assert [r["n_dequeued"] for r in rounds] == [18]
    assert set(status.values()) == {"ok"}
    times = sorted(w.gets(A, robots=False))
    assert len(times) == 18, w.hits
    # two tasks each pacing 0.2 s would interleave to a gap <= 0.1 s
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert min(gaps) >= 0.75 * 0.2, gaps
