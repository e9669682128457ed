"""The round plan: one size policy picks the side of every phase, and
both sides agree on the edge cases the driver side used to handle
differently (NULL-host outlinks, parquet timestamp types, outlink
grouping); the kernel's two placements on the driver side (in the
driver process, or a Spark job the driver collects) write the same
rows; a driver-plan round keeps to its Spark job budget."""

import threading
from contextlib import nullcontext
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, HTTPServer

import pyarrow.parquet as pq
import pytest

from conftest import PLANS, force_plan, small_buckets
from goskyr_spark.spark import crawl
from goskyr_spark.spark.crawl import CrawlEngine, FRONTIER_SCHEMA
from goskyr_spark.synth import event_scraper
from perfbench.jobledger import JobLedger

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)
HOST = "h0.test"


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="round-plan-tests", master="local[4]",
                     shuffle_partitions=4)


def _event(title, href):
    return (f'<div class="event"><div class="title">{title}</div>'
            f'<a class="more" href="{href}">more</a>'
            f'<div class="when">5.3.2026 20:00</div>'
            f'<div class="tag">jazz</div></div>')


@pytest.fixture(scope="module")
def pages(spark):
    """One list page whose item links include two without a host: an
    opaque http: URI (NULL host) and a string that is no valid URL."""
    lst = "".join([_event("a", "/event/1/1"),
                   _event("b", "http:tickets@h0.test"),
                   _event("c", "/event/1/2"),
                   _event("d", "https://box office/")])
    rows = [(f"https://{HOST}/list/1", f"<html>{lst}</html>".encode())]
    for i in (1, 2):
        rows.append((f"https://{HOST}/event/1/{i}",
                     f"<html><p>detail {i}</p></html>".encode()))
    return spark.createDataFrame(rows, "url string, html binary")


def _crawl(spark, pages, workdir, **kw):
    eng = CrawlEngine(spark, str(workdir), pages, event_scraper,
                      [f"https://{HOST}/list/1"], now=NOW,
                      fetch_partitions=2, **kw)
    eng.run(max_rounds=10)
    return eng


@pytest.mark.parametrize("plan", ["driver", "cluster", "driver_spark_kernel"],
                         indirect=True)
@pytest.mark.parametrize("bucketed", [False, True],
                         ids=["window", "bucketed"])
def test_null_host_outlink_never_enqueued(spark, pages, tmp_path, plan,
                                          bucketed):
    """Item links without a host (no politeness or robots identity) are
    dropped before the new-url commit on both sides, so every dequeue,
    bucketed writer and fetch_seq sort key sees only non-NULL hosts, and
    an invalid URL does not fail the round (ANSI parse_url raises).
    "window" is the default configuration (its historical id);
    "bucketed" writes under a small BUCKET_BYTES, so the modulus grows
    past 1."""
    with small_buckets(512) if bucketed else nullcontext():
        eng = _crawl(spark, pages, tmp_path / "wd")
    fetched = sorted((r["url"], r["status"])
                     for r in eng.t_fetched.read(spark).collect())
    assert fetched == [(f"https://{HOST}/event/1/1", "ok"),
                       (f"https://{HOST}/event/1/2", "ok"),
                       (f"https://{HOST}/list/1", "ok")]
    seen = sorted(r["url"] for r in eng.t_seen.read(spark).collect())
    assert seen == [u for u, _ in fetched]
    frontier = eng.t_frontier.read(spark, schema=FRONTIER_SCHEMA)
    assert frontier.filter("host IS NULL").count() == 0


def test_invalid_page_url_skipped_by_robots_scan(spark, pages, tmp_path):
    """The mock robots scan reads page hosts with try_parse_url: a pages
    row whose URL is not valid (ANSI parse_url fails the crawl on it
    with INVALID_URL) is skipped, and the crawl ends in the same state
    as over the same table without it."""
    bad = pages.unionByName(spark.createDataFrame(
        [("https://bad host/robots.txt", b"User-agent: *\nDisallow: /\n")],
        "url string, html binary"))

    def state(eng):
        return (sorted((r["round"], r["fetch_seq"], r["url"], r["status"])
                       for r in eng.t_fetched.read(spark).collect()),
                sorted(r["url"] for r in eng.t_seen.read(spark).collect()))

    assert state(_crawl(spark, bad, tmp_path / "bad")) == \
        state(_crawl(spark, pages, tmp_path / "ref"))


def test_mock_robots_at_any_scheme_and_port(spark, tmp_path):
    """A mock robots.txt applies at http:// and at an explicit port: as
    in live mode it is read from the page's own scheme and netloc, so of
    two for one host the one at the page's scheme applies, and a
    robots.txt URL with a query is not robots.txt."""
    deny, allow = b"User-agent: *\nDisallow: /\n", b"User-agent: *\n"
    page = b"<html><p>x</p></html>"
    rows = [("http://a.test/robots.txt", deny),
            ("http://a.test/list/1", page),
            ("https://b.test:8443/robots.txt", deny),
            ("https://b.test:8443/list/1", page),
            ("http://c.test/robots.txt", deny),
            ("https://c.test/robots.txt", allow),
            ("https://c.test/list/1", page),
            ("https://d.test/robots.txt?v=1", deny),
            ("https://d.test/list/1", page)]
    seeds = ["http://a.test/list/1", "https://b.test:8443/list/1",
             "https://c.test/list/1", "https://d.test/list/1"]
    eng = CrawlEngine(spark, str(tmp_path / "wd"),
                      spark.createDataFrame(rows, "url string, html binary"),
                      event_scraper, seeds, now=NOW, fetch_partitions=2)
    eng.run(max_rounds=2)
    assert sorted((r["url"], r["status"])
                  for r in eng.t_fetched.read(spark).collect()) == [
        ("http://a.test/list/1", "robots"),
        ("https://b.test:8443/list/1", "robots"),
        ("https://c.test/list/1", "ok"),
        ("https://d.test/list/1", "ok")]


def test_item_timestamps_one_physical_type(spark, pages, tmp_path,
                                           monkeypatch):
    """Items written by the driver commit (pyarrow) and by the cluster
    commit (Spark) store the date field with one parquet physical type,
    so one items table never mixes INT96 and INT64 timestamps."""
    types = set()
    for name in ("driver", "cluster"):
        force_plan(monkeypatch, name)
        eng = _crawl(spark, pages, tmp_path / name)
        for f in eng.t_items.manifest()["files"]:
            schema = pq.ParquetFile(f"{eng.t_items.dir}/{f}").schema
            types.add((name, schema.column(
                schema.names.index("date")).physical_type))
    assert types == {("driver", "INT64"), ("cluster", "INT64")}


def test_size_policy_thresholds():
    """The policy's gates, at their boundaries."""
    plan = crawl.round_plan
    assert plan().commit_driver and plan().dequeue_driver
    assert plan(n_dequeued=crawl.DRIVER_ROWS).commit_driver
    big = plan(n_dequeued=crawl.DRIVER_ROWS + 1)
    assert not big.commit_driver and not big.new_urls_driver
    assert not plan(dequeue_bytes=crawl.DRIVER_STATE_BYTES + 1) \
        .dequeue_driver
    assert not plan(seen_bytes=crawl.DRIVER_STATE_BYTES + 1).new_urls_driver
    small = plan(n_dequeued=crawl.KERNEL_DRIVER_ROWS)
    assert small.kernel_driver and small.commit_driver
    past = plan(n_dequeued=crawl.KERNEL_DRIVER_ROWS + 1)
    assert not past.kernel_driver and past.commit_driver
    # the in-process kernel runs on the driver's own dequeued rows
    assert not plan(dequeue_bytes=crawl.DRIVER_STATE_BYTES + 1,
                    n_dequeued=1).kernel_driver
    # a live round's GETs overlap across tasks: never in-process
    assert not any(plan(n_dequeued=n, live=True).kernel_driver
                   for n in (0, 1, crawl.KERNEL_DRIVER_ROWS,
                             crawl.DRIVER_ROWS, crawl.DRIVER_ROWS + 1))
    assert plan(n_dequeued=1, live=True).commit_driver
    many_new = plan(n_new=crawl.DRIVER_ROWS + 1)
    assert not many_new.seen_copy_driver and not many_new.slabs_driver
    part = plan(slab_bytes=crawl.SEEN_BROADCAST_BYTES + 1)
    assert part.seen_partitioned and part.seen_copy_driver
    assert not part.slabs_driver and not part.new_urls_driver
    assert not plan(seen_bytes=crawl.BROADCAST_JOIN_BYTES + 1) \
        .broadcast_seen


# --- outlink grouping: one result on every plan -------------------------------

def _list_page(items, nxt=None):
    body = "".join(_event(t, href) for t, href in items)
    if nxt:
        body += f'<a class="next" href="{nxt}">next</a>'
    return f"<html>{body}</html>".encode()


X = "https://x.test/list/9"


def test_outlink_grouping_same_on_every_plan(spark, tmp_path, monkeypatch):
    """Every plan writes the same frontier rows from one set of outlinks:
    X reaches round 1 three times, as the pagination link of a depth-0
    page (depth 1, page 2) and as an item url plus the pagination link
    of a depth-1 page (depth 2, pages 1 and 2), and keeps the min of
    each. Links without a host as Spark parses it (opaque http:x,
    underscore and non-ASCII hosts) are dropped; IPv6 and mixed-case
    hosts take the host Spark parses. per_host_budget=1 holds the second
    b.test seed back a round, so pages of depth 0 and 1 are fetched
    together."""
    rows = [
        ("https://a.test/list/1", _list_page([
            ("s", "https://c.test/list/1"), ("opaque", "http:x"),
            ("v6", "http://[::1]/v6"),
            ("under", "http://under_score.test/u"),
            ("idn", "http://bücher.test/b"),
            ("idn-up", "https://ÜBER.test/ü"),
            ("mixed", "https://MiXeD.Test/m")])),
        ("https://b.test/list/1", _list_page([])),
        ("https://b.test/list/2", _list_page([], nxt=X)),
        ("https://c.test/list/1", _list_page([("x", X)], nxt=X)),
        (X, _list_page([])),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    seeds = ["https://a.test/list/1", "https://b.test/list/1",
             "https://b.test/list/2"]
    got = {}
    for name in PLANS:
        force_plan(monkeypatch, name)
        eng = CrawlEngine(spark, str(tmp_path / name), pages, event_scraper,
                          seeds, now=NOW, fetch_partitions=2,
                          per_host_budget=1)
        eng.run(max_rounds=10)
        got[name] = sorted(
            tuple(r) for r in
            eng.t_frontier.read(spark, schema=FRONTIER_SCHEMA)
            .select("url", "url_hash", "host", "depth", "page_no",
                    "priority", "discovered_round").collect())
    ref = got.pop("driver")
    assert all(rows == ref for rows in got.values()), got
    by_url = {r[0]: r for r in ref}
    assert by_url[X][2:] == ("x.test", 1, 1, 1.0, 1)
    assert by_url["http://[::1]/v6"][2:4] == ("[::1]", 1)
    assert by_url["https://MiXeD.Test/m"][2] == "mixed.test"
    assert sorted(by_url) == sorted(seeds + [
        "https://c.test/list/1", X, "http://[::1]/v6",
        "https://MiXeD.Test/m"])


# --- the kernel's placements: in the driver process or a Spark job -----------

_DENY = b"User-agent: *\nDisallow: /private/\n"


def _detail(text):
    return f'<html><div class="desc">{text}</div></html>'.encode()


def test_kernel_placements_write_same_rows(spark, tmp_path, monkeypatch):
    """The driver commit writes the same fetched, items, frontier, seen,
    slab and debug_pages rows whether the kernel runs in the driver
    process or as a Spark job, with canonicalize_outlinks="full" (%7E
    and ~ spellings, an upper-case host with a default port and a dot
    segment meet on one frontier row), debug=True, a robots-blocked and
    a missing page, and a host without robots.txt."""
    rows = [
        ("https://p.test/robots.txt", _DENY),
        ("https://p.test/list/1", _list_page(
            [("a", "/event/1"), ("b", "/private/2"), ("c", "/event/%7Eu"),
             ("d", "/event/~u"), ("e", "/event/gone")],
            nxt="/list/2")),
        ("https://p.test/list/2", _list_page(
            [("f", "https://P.TEST:443/event/./1")])),
        ("https://p.test/event/1", _detail("one")),
        ("https://p.test/private/2", _detail("private")),
        ("https://p.test/event/~u", _detail("tilde")),
        ("https://q.test/list/1", _list_page([("g", "/event/9")])),
        ("https://q.test/event/9", _detail("nine")),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    seeds = ["https://p.test/list/1", "https://q.test/list/1"]
    tables = ("fetched", "items", "frontier", "seen", "slabs", "debug")
    got = {}
    for name in ("driver", "driver_spark_kernel"):
        force_plan(monkeypatch, name)
        eng = CrawlEngine(spark, str(tmp_path / name), pages, event_scraper,
                          seeds, now=NOW, fetch_partitions=2, debug=True,
                          canonicalize_outlinks="full")
        eng.run(max_rounds=10)
        got[name] = {t: sorted((tuple(r) for r in getattr(eng, f"t_{t}")
                                .read(spark).collect()), key=repr)
                     for t in tables}
    ref = got["driver_spark_kernel"]
    for t in tables:
        assert got["driver"][t] == ref[t], t
    status = {r[0]: r[6] for r in ref["fetched"]}
    assert status == {
        "https://p.test/list/1": "ok", "https://p.test/list/2": "ok",
        "https://p.test/event/1": "ok", "https://p.test/private/2": "robots",
        "https://p.test/event/~u": "ok", "https://p.test/event/gone":
        "missing", "https://q.test/list/1": "ok",
        "https://q.test/event/9": "ok"}
    assert sorted(r[0] for r in ref["debug"]) == sorted(
        u for u, s in status.items() if s == "ok")


# --- job budget: a driver-plan round's Spark jobs ----------------------------

def _round_jobs(spark, eng, max_rounds):
    """(Spark jobs of run()'s recover() plus bootstrap(), [(URLs
    dequeued, Spark jobs) of each non-empty round of eng.run()]), jobs
    counted by job group."""
    ledger, jobs = JobLedger(spark, f"budget-{id(eng)}"), []
    run_round = eng.run_round

    def in_boot_group(fn):
        def call():
            with ledger.group("bootstrap"):
                return fn()
        return call

    def counted(r):
        with ledger.group(f"round{r}") as gid:
            s = run_round(r)
        if s["n_dequeued"]:
            jobs.append((s["n_dequeued"], ledger.counts(gid)[0]))
        return s

    eng.run_round = counted
    eng.recover = in_boot_group(eng.recover)
    eng.bootstrap = in_boot_group(eng.bootstrap)
    eng.run(max_rounds=max_rounds)
    return ledger.counts(f"budget-{id(eng)}:bootstrap")[0], jobs


def test_driver_round_job_budget_mock(spark, tmp_path):
    """Under the size policy, a mock round of at most KERNEL_DRIVER_ROWS
    URLs launches no Spark job: the kernel runs in the driver process
    on the driver's dequeued rows, each outlink's hash and host come
    from a projection Spark folds on the driver, and the commit is
    pyarrow. A larger round keeps the kernel's two jobs (its shuffle
    and the collect)."""
    from goskyr_spark.synth import SynthSpec, host_name, synth_pages_df

    spec = SynthSpec(n_hosts=8, pages_per_host=2, items_per_page=12,
                     hot_hosts=1, hot_factor=4)
    pages = synth_pages_df(spark, spec, include_fixtures=False,
                           num_partitions=4).cache()
    pages.count()
    eng = CrawlEngine(spark, str(tmp_path / "wd"), pages, event_scraper,
                      [f"https://{host_name(h)}/list/1" for h in range(8)],
                      now=NOW, fetch_partitions=4)
    try:
        _, jobs = _round_jobs(spark, eng, 3)
    finally:
        pages.unpersist()
    assert len(jobs) == 3, jobs
    assert all(j == 0 for n, j in jobs if n <= crawl.KERNEL_DRIVER_ROWS), \
        jobs
    assert all(j <= 2 for n, j in jobs), jobs
    assert jobs[0][0] <= crawl.KERNEL_DRIVER_ROWS, jobs


class _LoopbackSite(BaseHTTPRequestHandler):
    def do_GET(self):
        body = {"/robots.txt": b"User-agent: *\n",
                "/list/1": b'<div class="e"><span class="t">a</span>'
                           b'<a class="more" href="/list/2">m</a></div>'
                }.get(self.path, b'<div class="e"><span class="t">b</span>'
                                 b'</div>')
        self.send_response(200)
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


LIVE_CFG = """
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


def test_driver_round_job_budget_live(spark, tmp_path):
    """Under the size policy, a live round over loopback commits on the
    driver but keeps its kernel on the cluster: 1 or 2 Spark jobs (the
    kernel's shuffle and its collect). recover() and bootstrap() launch
    none: the rounds table is read with pyarrow, and the seeds take the
    outlinks' identity step (folded on the driver) and driver-side
    new-url commit."""
    from goskyr_spark.config import loads_config
    from goskyr_spark.spark.fetchers import StaticFetcher

    scraper = loads_config(LIVE_CFG).scrapers[0]
    srv = HTTPServer(("127.0.0.1", 0), _LoopbackSite)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        eng = CrawlEngine(spark, str(tmp_path / "wd"), None,
                          lambda h: scraper,
                          [f"http://127.0.0.1:{srv.server_port}/list/1"],
                          now=NOW, fetch_partitions=2,
                          live_fetcher=lambda: StaticFetcher(timeout=5))
        boot_jobs, jobs = _round_jobs(spark, eng, 4)
    finally:
        srv.shutdown()
        srv.server_close()
    assert boot_jobs == 0
    assert len(jobs) == 2 and all(1 <= j <= 2 for _, j in jobs), jobs
