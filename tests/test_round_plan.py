"""The round plan: one size policy picks the side of every phase, and
both sides agree on the edge cases the driver side used to handle
differently (NULL-host outlinks, parquet timestamp types)."""

from contextlib import nullcontext
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest

from conftest import small_buckets
from goskyr_spark.spark import crawl
from goskyr_spark.spark.crawl import CrawlEngine, FRONTIER_SCHEMA
from goskyr_spark.synth import event_scraper

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


@pytest.mark.parametrize("plan", ["driver", "cluster"], indirect=True)
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
    """A mock robots.txt applies at http:// and at an explicit port, as
    live mode reads it from the page's own scheme and netloc; of two for
    one host the https one wins, and a robots.txt URL with a query is
    not robots.txt."""
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
    from conftest import force_plan

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
    many_new = plan(n_new=crawl.DRIVER_ROWS + 1)
    assert not many_new.seen_copy_driver and not many_new.slabs_driver
    part = plan(slab_bytes=crawl.SEEN_BROADCAST_BYTES + 1)
    assert part.seen_partitioned and part.seen_copy_driver
    assert not part.slabs_driver and not part.new_urls_driver
    assert not plan(seen_bytes=crawl.BROADCAST_JOIN_BYTES + 1) \
        .broadcast_seen
