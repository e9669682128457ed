"""Round-3 fixes, regression-tested:

- robots.txt RFC 9309 failure semantics: 4xx ⇒ allow-all, 5xx/network ⇒
  complete disallow (ADVICE r2).
- live crawl + on_subpage: fetched html retained in debug_pages, stage-2
  extraction joins from it (ADVICE r2: was an AttributeError).
- CLI `crawl -c` without --live/--pages errors instead of silently
  crawling the synthetic web (ADVICE r2).
- per-round broadcasts released at end of round (ADVICE r2).
- DynamicFetcher executes its compiled action plan (Playwright backend
  where available; plan interpreter tested with a fake page).
- minhash_lsh_buckets_capped / embed_near_dup_pairs(max_bucket=...):
  bucket-size guards bound candidate materialization on degenerate
  corpora (VERDICT r2 items 4, 9).
"""

import os
import sys
import threading
import time
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from goskyr_spark.config import loads_config
from goskyr_spark.spark.crawl import CrawlEngine, FETCHED_SCHEMA

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="r3-tests", master="local[2]",
                     shuffle_partitions=2)


# --- robots failure semantics ---------------------------------------------------

class _RobotsSite(BaseHTTPRequestHandler):
    robots_status = 500
    hits = []

    def do_GET(self):
        _RobotsSite.hits.append(self.path)
        if self.path == "/robots.txt":
            self.send_response(_RobotsSite.robots_status)
            self.end_headers()
            return
        body = b'<div class="e"><span class="t">x</span></div>'
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture()
def robots_site():
    _RobotsSite.hits = []
    srv = HTTPServer(("127.0.0.1", 0), _RobotsSite)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


_SIMPLE_CFG = """
scrapers:
  - name: r
    url: x
    item: div.e
    fields:
      - name: t
        location: {selector: span.t}
"""


def _live_engine(spark, workdir, seed):
    from goskyr_spark.spark.fetchers import StaticFetcher

    def factory(host):
        return loads_config(_SIMPLE_CFG).scrapers[0]

    return CrawlEngine(spark, workdir, None, factory, [seed], now=NOW,
                       live_fetcher=lambda: StaticFetcher(timeout=5))


def test_robots_5xx_means_disallow(robots_site, spark, tmp_path):
    """RFC 9309: unreachable robots.txt (5xx) ⇒ complete disallow — a
    transient server error must not silently disable robots."""
    _RobotsSite.robots_status = 500
    eng = _live_engine(spark, str(tmp_path / "wd"), f"{robots_site}/list/1")
    eng.run(max_rounds=2)
    rows = eng.t_fetched.read(spark, schema=FETCHED_SCHEMA).collect()
    assert [r["status"] for r in rows] == ["robots"]
    # the page itself was never requested
    assert _RobotsSite.hits == ["/robots.txt"]


def test_robots_4xx_means_allow_all(robots_site, spark, tmp_path):
    """RFC 9309: unavailable robots.txt (4xx) ⇒ allow-all."""
    _RobotsSite.robots_status = 404
    eng = _live_engine(spark, str(tmp_path / "wd"), f"{robots_site}/list/1")
    eng.run(max_rounds=2)
    rows = eng.t_fetched.read(spark, schema=FETCHED_SCHEMA).collect()
    assert [r["status"] for r in rows] == ["ok"]
    assert "/list/1" in _RobotsSite.hits


# --- live crawl + on_subpage ----------------------------------------------------

class _SubpageSite(BaseHTTPRequestHandler):
    def do_GET(self):
        if self.path == "/robots.txt":
            body = b"User-agent: *\nAllow: /\n"
        elif self.path == "/list/1":
            body = (b'<div class="e"><span class="t">item1</span>'
                    b'<a class="more" href="/detail/1">d</a></div>'
                    b'<div class="e"><span class="t">item2</span>'
                    b'<a class="more" href="/detail/2">d</a></div>')
        elif self.path.startswith("/detail/"):
            i = self.path.rsplit("/", 1)[1].encode()
            body = b'<p class="x">extra-' + i + b"</p>"
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


_SUBPAGE_CFG = """
scrapers:
  - name: live
    url: x
    item: div.e
    fields:
      - name: t
        location: {selector: span.t}
      - name: link
        type: url
        location: {selector: a.more, attr: href}
      - name: extra
        can_be_empty: true
        on_subpage: link
        location: {selector: p.x}
"""


@pytest.fixture()
def subpage_site():
    srv = HTTPServer(("127.0.0.1", 0), _SubpageSite)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


@pytest.mark.parametrize("plan", ["driver", "cluster", "driver_spark_kernel"],
                         indirect=True)
def test_live_crawl_on_subpage_items_final(subpage_site, spark, tmp_path,
                                           plan):
    """Live mode with an on_subpage config retains fetched html in
    debug_pages and items_final() extracts the subpage field from it
    (previously crashed: self.pages was None) — on both sides of the
    round commit (the driver side caches the kernel output and appends
    the html from it before collecting)."""
    from goskyr_spark.spark.crawl import DEBUG_SCHEMA
    from goskyr_spark.spark.fetchers import StaticFetcher

    def factory(host):
        return loads_config(_SUBPAGE_CFG).scrapers[0]

    eng = CrawlEngine(spark, str(tmp_path / "wd"), None, factory,
                      [f"{subpage_site}/list/1"], now=NOW,
                      live_fetcher=lambda: StaticFetcher(timeout=5))
    assert eng._retain_html  # on_subpage forces retention in live mode
    eng.run(max_rounds=4)

    # html persisted with round lineage
    dbg = {r["url"]: bytes(r["html"]).decode()
           for r in eng.t_debug.read(spark, schema=DEBUG_SCHEMA).collect()}
    assert f"{subpage_site}/list/1" in dbg
    assert f"{subpage_site}/detail/1" in dbg
    assert 'class="x"' in dbg[f"{subpage_site}/detail/1"]

    items = {r["t"]: r["extra"] for r in eng.items_final().collect()}
    assert items["item1"] == "extra-1"
    assert items["item2"] == "extra-2"


# --- CLI: crawl -c needs a page source ------------------------------------------

def test_cli_crawl_config_requires_page_source(tmp_path):
    from goskyr_spark.cli import main

    cfg = tmp_path / "c.yml"
    cfg.write_text(_SIMPLE_CFG)
    with pytest.raises(SystemExit, match="page source"):
        main(["crawl", "--workdir", str(tmp_path / "wd"),
              "-c", str(cfg), "--max-rounds", "1"])


# --- per-round broadcast release -------------------------------------------------

def test_round_broadcasts_released(spark, tmp_path, monkeypatch):
    from conftest import force_plan
    from goskyr_spark.synth import (SynthSpec, event_scraper, host_name,
                                    synth_pages_df)

    spec = SynthSpec(n_hosts=2, pages_per_host=2, items_per_page=2,
                     hot_hosts=0, hot_factor=1)
    pages = synth_pages_df(spark, spec, include_fixtures=False)
    # the cluster plan: the driver side of the round creates no
    # broadcasts at all (nothing to release), so the release contract
    # is exercised on the phases that still broadcast
    force_plan(monkeypatch, "cluster")
    eng = CrawlEngine(spark, str(tmp_path / "wd"), pages, event_scraper,
                      [f"https://{host_name(h)}/list/1"
                       for h in range(spec.n_hosts)], now=NOW)
    seen_any = []
    orig = eng._bc

    def spy(value):
        b = orig(value)
        seen_any.append(b)
        return b

    eng._bc = spy
    eng.run(max_rounds=4)
    # broadcasts were created during the run and all released by round end
    assert seen_any, "no broadcasts were tracked — spy not wired?"
    assert eng._round_bcs == []


# --- DynamicFetcher action-plan execution ----------------------------------------

class _FakeEl:
    def __init__(self, log):
        self.log = log

    def click(self):
        self.log.append(("click",))


class _FakePage:
    """Playwright-page-shaped recorder: button.more exists, others not."""

    def __init__(self):
        self.log = []

    def goto(self, url):
        self.log.append(("goto", url))

    def wait_for_timeout(self, ms):
        self.log.append(("wait", ms))

    def query_selector(self, sel):
        self.log.append(("query", sel))
        return _FakeEl(self.log) if sel == "button.more" else None

    def evaluate(self, js):
        self.log.append(("evaluate", js))

    def content(self):
        self.log.append(("content",))
        return "<html>rendered</html>"


def test_dynamic_fetcher_executes_action_plan():
    from goskyr_spark.config import Interaction
    from goskyr_spark.spark.fetchers import DynamicFetcher, FetchOpts

    f = DynamicFetcher(page_load_wait_ms=100)
    opts = FetchOpts(interaction=[
        Interaction(type="click", selector="button.more", count=2,
                    delay=50),
        Interaction(type="click", selector="nope", count=1, delay=50),
        Interaction(type="scroll"),
    ])
    page = _FakePage()
    html = DynamicFetcher.execute_actions(
        page, f.build_actions("https://x.test", opts))
    assert html == "<html>rendered</html>"
    assert page.log[0] == ("goto", "https://x.test")
    assert page.log[1] == ("wait", 100)
    # two clicks on the present selector, each followed by its delay
    assert page.log.count(("click",)) == 2
    # missing selector queried but never clicked
    assert ("query", "nope") in page.log
    # scroll executed with the default interaction delay
    assert any(op[0] == "evaluate" for op in page.log)
    assert page.log[-1] == ("content",)


def test_dynamic_fetch_backend():
    """fetch() uses Playwright when importable, else raises the
    documented NotImplementedError."""
    from goskyr_spark.spark.fetchers import DynamicFetcher

    try:
        import playwright.sync_api  # noqa: F401
        have = True
    except ImportError:
        have = False
    f = DynamicFetcher()
    if not have:
        with pytest.raises(NotImplementedError, match="browser"):
            f.fetch("https://example.com")
    else:  # pragma: no cover — browser-equipped environments only
        html = f.fetch("https://example.com")
        assert "<html" in html.lower()


# --- bucket-size guards -----------------------------------------------------------

def test_minhash_capped_degenerate_corpus(spark):
    """One giant dup class: uncapped materializes the full candidate
    list; capped reports ''+count and never collects the members."""
    from goskyr_spark.ops.dedup import (minhash_lsh_buckets,
                                        minhash_lsh_buckets_capped)

    rows = [(i, "the very same duplicated text body appears here")
            for i in range(20)]
    rows += [(100, "a completely different unique document one"),
             (101, "another unrelated singleton document two")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    full = minhash_lsh_buckets(docs).collect()
    assert all(len(r["candidates"]) == 20 for r in full)

    capped = minhash_lsh_buckets_capped(docs, max_bucket=8).collect()
    assert len(capped) == len(full)
    assert all(r["candidates"] == "" and r["n_docs"] == 20 for r in capped)

    # below the cap the member list is still produced (as a csv string)
    small = minhash_lsh_buckets_capped(docs.filter("doc_id < 3"),
                                       max_bucket=8).collect()
    assert all(r["candidates"] == "0,1,2" and r["n_docs"] == 3
               for r in small)


def test_dup_components_chain_and_islands(spark):
    """Min-label propagation: a 4-node chain collapses to one component
    (needs >1 iteration), disjoint pairs stay separate, nodes without
    edges don't appear."""
    from goskyr_spark.ops.dedup import dup_components

    pairs = spark.createDataFrame(
        [(3, 7), (7, 9), (9, 11),        # chain 3-7-9-11
         (20, 21),                        # island pair
         (30, 32), (31, 32)],             # star onto 32
        ["id_a", "id_b"])
    got = {r["doc_id"]: r["component"]
           for r in dup_components(pairs).collect()}
    assert got == {3: 3, 7: 3, 9: 3, 11: 3,
                   20: 20, 21: 20,
                   30: 30, 31: 30, 32: 30}


def test_embed_capped_bounded_pairs(spark):
    """A skewed SRP bucket (near-identical embeddings) leaves the
    candidate universe under max_bucket — pair count stays bounded."""
    from goskyr_spark.ops.similarity import embed_near_dup_pairs

    rows = []
    # ids 0-3 double as the SRP planes (first n_planes stored vectors)
    planes = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
              [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
    for i, p in enumerate(planes):
        rows.append((i, p))
    # skew class: 40 near-identical vectors, all in bucket 0b1111
    for i in range(4, 44):
        eps = (i - 4) * 1e-4
        rows.append((i, [1.0 + eps, 1.0, 1.0, 1.0]))
    # a small legitimate near-dup group in a different bucket (0b0101)
    for i in range(44, 48):
        eps = (i - 44) * 1e-4
        rows.append((i, [1.0 + eps, -1.0, 1.0, -1.0]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    uncapped = embed_near_dup_pairs(emb, threshold=0.9, n_planes=4)
    assert uncapped.count() == 40 * 39 // 2 + 4 * 3 // 2

    capped = embed_near_dup_pairs(emb, threshold=0.9, n_planes=4,
                                  max_bucket=10).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert got == {(a, b) for a in range(44, 48) for b in range(44, 48)
                   if a < b}
