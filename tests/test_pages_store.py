"""The mock web's pages table: laid out once per workdir in crc32(host)
buckets with one row per url, read by the kernel's StoreFetcher one
Arrow batch at a time from the batch's buckets only, and of those only
the row groups that can hold the batch's urls; items_final's stage 2
reads the same one capture per url; and the fetchers' misses, which are
404s (a missing page, or allow-all robots)."""

import os
import zlib
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from goskyr_spark.config import loads_config
from goskyr_spark.spark import crawl
from goskyr_spark.spark.crawl import CrawlEngine, FETCHED_SCHEMA
from goskyr_spark.spark.fetchers import (FetchError, MockFetcher,
                                         StoreFetcher, row_groups_holding,
                                         store_files)
from goskyr_spark.synth import event_scraper

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)
HOSTS = [f"h{i}.test" for i in range(12)]


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="pages-store-tests", master="local[4]",
                     shuffle_partitions=4)


def _page(title):
    """A list page of one event whose detail link is the page itself, so
    a crawl of it ends after one fetch."""
    return (f'<html><div class="event"><div class="title">{title}</div>'
            f'<a class="more" href="/list/1">more</a>'
            f'<div class="when">5.3.2026 20:00</div>'
            f'<div class="tag">jazz</div></div></html>').encode()


def _fetched(spark, eng):
    return sorted((r["url"], r["fetch_seq"], r["status"]) for r in
                  eng.t_fetched.read(spark, schema=FETCHED_SCHEMA).collect())


def _titles(spark, eng):
    return sorted(r["title"] for r in eng.t_items.read(spark).collect())


@pytest.mark.parametrize("mod", [1, 2, 8])
def test_store_read_rule(spark, tmp_path, monkeypatch, mod):
    """Each file of a store written under modulus 1, 2 or 8 holds the
    hosts of its one bucket, sorted by url, one row per url; a batch's
    hosts select exactly the files that hold them, and the fetcher
    serves their pages and answers any other url with a 404."""
    monkeypatch.setattr(crawl, "_bucket_mod", lambda nbytes: mod)
    rows = [(f"https://{h}/{p}", _page(f"{h}{p}"))
            for h in HOSTS for p in ("robots.txt", "list/1", "list/2")]
    eng = CrawlEngine(spark, str(tmp_path / "wd"),
                      spark.createDataFrame(rows, "url string, html binary"),
                      event_scraper, [], now=NOW)
    eng._layout_pages()
    buckets = {os.path.join(eng.t_pages.dir, f): bn
               for f, bn in eng.t_pages.bucket_map().items()}
    held = {}
    for f, (b, n) in buckets.items():
        assert n == mod
        t = pq.read_table(f)
        urls = t["url"].to_pylist()
        assert urls == sorted(set(urls)), f
        held[f] = set(t["host"].to_pylist())
        assert {zlib.crc32(h.encode()) % n for h in held[f]} == {b}
    assert sorted(h for hs in held.values() for h in hs) == sorted(HOSTS)
    for batch in (HOSTS[:1], HOSTS[3:5], HOSTS):
        files = store_files(buckets, batch)
        assert files == sorted(f for f in buckets if held[f] & set(batch))
        fetcher = StoreFetcher(buckets)
        asked = [u for u, _ in rows if u.split("/")[2] in batch]
        fetcher.prefetch(asked + [f"https://{batch[0]}/gone"], batch)
        assert sorted(fetcher.pages) == sorted(asked)
        assert fetcher.fetch(asked[0]) == dict(rows)[asked[0]].decode()
        with pytest.raises(FetchError) as err:
            fetcher.fetch(f"https://{batch[0]}/gone")
        assert err.value.status == 404


@pytest.mark.parametrize("with_ts", [True, False], ids=["warc_ts", "no_ts"])
def test_one_capture_per_url(spark, tmp_path, with_ts):
    """A url with several captures in pages_df is fetched once: the
    capture with the latest warc_ts, or without that column one picked
    by its content (the same whatever the row order)."""
    url = "https://c.test/list/1"
    caps = [(datetime(2026, 1, d, tzinfo=timezone.utc), _page(t))
            for d, t in ((2, "newer"), (1, "older"), (3, "newest"))]
    states = []
    for order in (caps, caps[::-1]):
        if with_ts:
            pages = spark.createDataFrame(
                [(url, ts, html) for ts, html in order],
                "url string, warc_ts timestamp, html binary")
        else:
            pages = spark.createDataFrame([(url, html) for _, html in order],
                                          "url string, html binary")
        eng = CrawlEngine(spark, str(tmp_path / f"wd{len(states)}"), pages,
                          event_scraper, [url], now=NOW)
        eng.run(max_rounds=3)
        states.append((_fetched(spark, eng), _titles(spark, eng)))
    assert states[0] == states[1]
    assert states[0] == ([(url, 1, "ok")],
                         ["newest"] if with_ts else ["older"])


def test_items_final_one_capture_per_url(spark, tmp_path):
    """items_final joins the detail html of the one capture per url the
    crawl fetched (the pages table), not every capture in pages_df: a
    detail url with two captures gives one item, with the latest
    capture's on_subpage field."""
    detail = "https://s.test/event/1"
    rows = [("https://s.test/list/1", datetime(2026, 1, 1),
             _page("a").replace(b"/list/1", b"/event/1"))]
    rows += [(detail, datetime(2026, 1, d),
              f'<html><div class="desc">{t}</div></html>'.encode())
             for d, t in ((1, "old"), (2, "new"))]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary")
    eng = CrawlEngine(spark, str(tmp_path / "wd"), pages,
                      lambda h: event_scraper(h, subpage=True),
                      ["https://s.test/list/1"], now=NOW)
    eng.run(max_rounds=3)
    assert sorted((r["title"], r["desc"])
                  for r in eng.items_final().collect()) == [("a", "new")]


def _read_groups(monkeypatch):
    """Record the row groups every ParquetFile.read_row_groups call
    reads, as (file's row-group count, sorted indices)."""
    calls = []
    read = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **kw):
        calls.append((self.metadata.num_row_groups, sorted(row_groups)))
        return read(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    return calls


def _whole_file_pages(paths, urls):
    """{url: html} of `urls` from a whole-file read of `paths`."""
    t = pa.concat_tables(pq.read_table(p, columns=["url", "html"])
                         for p in paths)
    return {u: h.decode() for u, h in zip(t["url"].to_pylist(),
                                          t["html"].to_pylist())
            if u in set(urls)}


def test_prefetch_reads_only_row_groups_holding_urls(spark, tmp_path,
                                                     monkeypatch):
    """On pages files of several row groups, prefetch reads only the
    row groups whose url min/max statistics hold a requested url, and
    serves the same pages as a whole-file read."""
    monkeypatch.setattr(crawl, "_bucket_mod", lambda nbytes: 2)
    monkeypatch.setattr(crawl, "PAGES_ROW_GROUP_BYTES", 32 << 10)
    pad = b"<!--" + b"x" * 1500 + b"-->"
    rows = [(f"https://{h}/list/{p:03d}", _page(f"{h}{p}") + pad)
            for h in HOSTS for p in range(60)]
    eng = CrawlEngine(spark, str(tmp_path / "wd"),
                      spark.createDataFrame(rows, "url string, html binary"),
                      event_scraper, [], now=NOW)
    eng._layout_pages()
    buckets = {os.path.join(eng.t_pages.dir, f): bn
               for f, bn in eng.t_pages.bucket_map().items()}
    stats = {}
    for f in buckets:
        md = pq.ParquetFile(f).metadata
        assert md.num_row_groups > 2, f
        stats[f] = [(md.row_group(i).column(0).statistics.min,
                     md.row_group(i).column(0).statistics.max)
                    for i in range(md.num_row_groups)]
    hosts = HOSTS[:3]
    asked = [f"https://{h}/list/{p:03d}" for h in hosts for p in (0, 31)]
    asked += [f"https://{hosts[0]}/gone", f"https://{hosts[0]}/robots.txt"]
    calls = _read_groups(monkeypatch)
    fetcher = StoreFetcher(buckets)
    fetcher.prefetch(asked, hosts)
    files = store_files(buckets, hosts)
    expect = [(len(stats[f]), [i for i, (lo, hi) in enumerate(stats[f])
                               if any(lo <= u <= hi for u in asked)])
              for f in files]
    assert calls == [c for c in expect if c[1]]
    assert sum(len(g) for _, g in calls) < sum(n for n, _ in calls)
    assert fetcher.pages == _whole_file_pages(files, asked)
    assert len(fetcher.pages) == 6


def test_prefetch_without_url_statistics(tmp_path, monkeypatch):
    """A file written without column statistics has every row group
    read whole, and serves the same pages as a whole-file read."""
    urls = [f"https://n.test/list/{p:03d}" for p in range(40)]
    path = str(tmp_path / "nostats.parquet")
    pq.write_table(pa.table({"url": urls, "host": ["n.test"] * 40,
                             "html": [_page(u) for u in urls]}),
                   path, row_group_size=10, write_statistics=False)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 4
    assert row_groups_holding(md, 0, [urls[3]]) == [0, 1, 2, 3]
    calls = _read_groups(monkeypatch)
    fetcher = StoreFetcher({path: (0, 1)})
    fetcher.prefetch([urls[3], urls[25]], ["n.test"])
    assert calls == [(4, [0, 1, 2, 3])]
    assert fetcher.pages == _whole_file_pages([path], [urls[3], urls[25]])


def test_row_groups_holding():
    """The bisect keeps exactly the row groups whose [min, max] holds a
    requested string (groups u00-u09, u10-u19, u20-u29)."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table({"url": [f"u{i:02d}" for i in range(30)]}),
                   buf, row_group_size=10)
    md = pq.ParquetFile(pa.BufferReader(buf.getvalue())).metadata
    assert md.num_row_groups == 3
    assert row_groups_holding(md, 0, []) == []
    assert row_groups_holding(md, 0, ["u05"]) == [0]
    # below, between and above the groups' ranges
    assert row_groups_holding(md, 0, ["a", "u095", "u2", "v"]) == []
    assert row_groups_holding(md, 0, ["u09", "u10", "u29"]) == [0, 1, 2]
    assert row_groups_holding(md, 0, ["u195", "u25"]) == [2]


@pytest.mark.parametrize("has_table", [True, False],
                         ids=["reused", "laid_out"])
def test_resume_and_the_pages_table(spark, tmp_path, has_table):
    """A resumed crawl reuses the workdir's pages table (its files stay);
    a workdir without one gets it laid out on resume, so its later pages
    are fetched, not all `missing`. per_host_budget=1 keeps list/2 for
    round 1, after the crash point."""
    seeds = ["https://r.test/list/1", "https://r.test/list/2"]
    pages = spark.createDataFrame([(u, _page("r")) for u in seeds],
                                  "url string, html binary")
    wd = str(tmp_path / "wd")

    def engine():
        return CrawlEngine(spark, wd, pages, event_scraper, seeds, now=NOW,
                           per_host_budget=1)

    eng = engine()
    eng.run(max_rounds=1)
    files = eng.t_pages.manifest()["files"]
    if not has_table:
        os.remove(os.path.join(eng.t_pages.dir, "HEAD"))
    again = engine()
    again.run(max_rounds=3)
    assert (again.t_pages.manifest()["files"] == files) == has_table
    assert _fetched(spark, again) == [(seeds[0], 1, "ok"),
                                      (seeds[1], 1, "ok")]


CFG = """
scrapers:
  - name: m
    url: x
    item: div.e
    fields:
      - name: t
        location: {selector: span.t}
"""


def test_mock_fetcher_miss_is_404(spark, tmp_path):
    """MockFetcher answers a url it does not hold with a 404, so a live
    crawl over a config's mock_pages without a robots.txt reads
    allow-all and fetches the page (an unreachable robots.txt would
    block it)."""
    with pytest.raises(FetchError) as err:
        MockFetcher([]).fetch("https://a.test/robots.txt")
    assert err.value.status == 404
    url = "https://a.test/list/1"
    page = '<div class="e"><span class="t">x</span></div>'
    scraper = loads_config(CFG).scrapers[0]
    eng = CrawlEngine(spark, str(tmp_path / "wd"), None, lambda h: scraper,
                      [url], now=NOW, live_fetcher=lambda: MockFetcher(
                          [{"url": url, "content": page}]))
    eng.run(max_rounds=3)
    assert [(u, s) for u, _, s in _fetched(spark, eng)] == [(url, "ok")]
