"""RFC 3986 syntax-based URL normalization (ops/urlnorm.py):
hand-computed expectations including the §5.2.4 dot-segment cases, and
Spark↔DuckDB parity of the catalog query's expression pair."""

import pytest

from pyspark.sql import functions as F

from goskyr_spark.ops.urlnorm import oracle_sql_expr, url_normalize_expr


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="urlnorm-tests", master="local[2]",
                     shuffle_partitions=2)


CASES = [
    # scheme+host lowering, default port, dot segments, fragment strip
    ("HTTP://WWW.EXAMPLE.com:80/a/./b/../c?X=1#frag",
     "http://www.example.com/a/c?X=1"),
    ("https://Host.COM:443/", "https://host.com/"),
    # non-default port survives
    ("https://h.test:8080/p", "https://h.test:8080/p"),
    # :80 is only default for http
    ("https://h.test:80/p", "https://h.test:80/p"),
    # empty path with authority -> '/'
    ("https://h.test", "https://h.test/"),
    ("https://h.test?q=1", "https://h.test/?q=1"),
    # leading-.. overflow clamps at root
    ("https://h.test/a/b/../../../x", "https://h.test/x"),
    # trailing '/.' and '/..'
    ("https://h.test/a/.", "https://h.test/a/"),
    ("https://h.test/a/b/..", "https://h.test/a/"),
    # query keeps case and inner '?'
    ("https://h.test/p?a=1?B=2", "https://h.test/p?a=1?B=2"),
    # path case preserved
    ("https://H.test/CaSe/./x", "https://h.test/CaSe/x"),
    # repeated nesting within the pass budget
    ("https://h.test/" + "a/" * 6 + "../" * 6 + "end",
     "https://h.test/end"),
    # non-URL input: trimmed, otherwise untouched
    ("  not a url  ", "not a url"),
]


def test_hand_cases(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(CASES)],
                               "i long, url string")
    got = {r.i: r.n for r in df.select(
        "i", url_normalize_expr(F.col("url")).alias("n")).collect()}
    for i, (u, want) in enumerate(CASES):
        assert got[i] == want, (u, got[i], want)


def test_duckdb_expr_matches_spark(spark):
    """The oracle SQL expression applies the identical pass sequence —
    byte-equal output on every hand case."""
    import duckdb

    con = duckdb.connect()
    expr = oracle_sql_expr("url")
    for u, want in CASES:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS url)", [u]).fetchone()[0]
        assert got == want, (u, got, want)


def test_plan_is_pure_projection(spark):
    df = spark.createDataFrame([("https://a.b/c",)], "url string")
    plan = df.select(url_normalize_expr(F.col("url")).alias("n")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


# --- engine integration: canonicalize_outlinks --------------------------------

LIST_HTML = """<html><body><div class="listing">
<div class="event">
  <div class="title">A</div>
  <a class="more" href="/event/1/1">more</a>
  <div class="when">5.3.2026 20:00</div>
  <div class="tag">rock</div>
</div>
<div class="event">
  <div class="title">B</div>
  <a class="more" href="/x/../event/1/1#sec">more</a>
  <div class="when">6.3.2026 21:00</div>
  <div class="tag">jazz</div>
</div>
</div></body></html>"""

DETAIL_HTML = "<html><body><h1>detail</h1></body></html>"


def _crawl_messy(spark, tmp_path, name, canonicalize,
                 seeds=("HTTPS://h0.TEST/list/1",)):
    from datetime import datetime, timezone

    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.synth import event_scraper

    pages = spark.createDataFrame(
        [("https://h0.test/list/1", LIST_HTML),
         ("https://h0.test/event/1/1", DETAIL_HTML)],
        "url string, html string")
    eng = CrawlEngine(spark, str(tmp_path / name), pages, event_scraper,
                      list(seeds),
                      now=datetime(2026, 3, 1, tzinfo=timezone.utc),
                      fetch_partitions=2,
                      canonicalize_outlinks=canonicalize)
    eng.run(max_rounds=5)
    return eng, [(r["url"], r["status"]) for r in
                 eng.t_fetched.read(spark).orderBy("round", "fetch_seq")
                 .collect()]


# the canon expression runs in the fetch/extract kernel's job; its
# output reaches the frontier through both new-url commits
@pytest.mark.parametrize("plan", ["driver", "cluster", "driver_spark_kernel"],
                         indirect=True)
def test_engine_canonicalize_outlinks(spark, tmp_path, plan):
    # ON: both spellings of the seed and both spellings of the detail
    # link normalize to one identity -> every fetch hits a real page;
    # the two seeds are one round -1 frontier row
    eng, on = _crawl_messy(
        spark, tmp_path, "on", True,
        ("HTTPS://h0.TEST/list/1", "https://h0.test/list/1"))
    assert ("https://h0.test/list/1", "ok") in on
    assert on.count(("https://h0.test/event/1/1", "ok")) == 1
    assert all(st == "ok" for _, st in on)
    assert len(on) == 2
    seeded = eng.t_frontier.read(spark).filter("discovered_round = -1")
    assert [r["url"] for r in seeded.collect()] == ["https://h0.test/list/1"]
    boot = eng.t_rounds.read(spark).filter("round = -1").collect()
    assert [r["n_new_urls"] for r in boot] == [1]
    # OFF: the dot-segment spelling stays a distinct frontier row and
    # misses the pages table; the mixed-case seed misses entirely
    _, off = _crawl_messy(spark, tmp_path, "off", False)
    assert ("HTTPS://h0.TEST/list/1", "missing") in off


# --- percent-encoding normalization (round 4) ---------------------------------

PCT_CASES = [
    ("https://h.test/%7euser/x", "https://h.test/~user/x"),
    ("https://h.test/%7Euser/x", "https://h.test/~user/x"),
    # unreserved decodes, reserved keeps its triplet (hex uppercased)
    ("https://h.test/%41%2fb", "https://h.test/A%2Fb"),
    ("https://h.test/a%3ab", "https://h.test/a%3Ab"),
    # invalid triplet untouched
    ("https://h.test/%zz", "https://h.test/%zz"),
    # single-pass: the decoded '4' does NOT form a new decodable
    # triplet with the dangling '%' (a chained replace would emit 'A')
    ("https://h.test/%%341", "https://h.test/%41"),
    # %2e decodes to '.' and then collapses as a dot segment
    ("https://h.test/a/%2e%2E/x", "https://h.test/x"),
    ("https://h.test/a/%2e/x", "https://h.test/a/x"),
]


def test_percent_normalize_hand_cases(spark):
    from goskyr_spark.ops.urlnorm import url_normalize_full_expr

    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(PCT_CASES)],
        "i long, url string")
    got = {r.i: r.n for r in df.select(
        "i", url_normalize_full_expr(F.col("url")).alias("n")).collect()}
    for i, (u, want) in enumerate(PCT_CASES):
        assert got[i] == want, (u, got[i], want)
    # the syntax cases still hold under the full pass (no triplets)
    df2 = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(CASES)],
        "i long, url string")
    got2 = {r.i: r.n for r in df2.select(
        "i", url_normalize_full_expr(F.col("url")).alias("n")).collect()}
    for i, (u, want) in enumerate(CASES):
        assert got2[i] == want, (u, got2[i], want)


PCT_LIST_HTML = """<html><body><div class="listing">
<div class="event">
  <div class="title">A</div>
  <a class="more" href="/%7Euser/event/1">more</a>
  <div class="when">5.3.2026 20:00</div>
  <div class="tag">rock</div>
</div>
<div class="event">
  <div class="title">B</div>
  <a class="more" href="/~user/event/1">more</a>
  <div class="when">6.3.2026 21:00</div>
  <div class="tag">jazz</div>
</div>
</div></body></html>"""


@pytest.mark.parametrize("plan", ["driver", "cluster", "driver_spark_kernel"],
                         indirect=True)
def test_engine_full_canonicalize_merges_pct_spellings(spark, tmp_path,
                                                       plan):
    """%7Euser and ~user outlink spellings land on ONE frontier row
    under canonicalize_outlinks='full' (VERDICT r3 #7) — and stay two
    rows (one 'missing') under syntax-only normalization."""
    from datetime import datetime, timezone

    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.synth import event_scraper

    pages = spark.createDataFrame(
        [("https://h0.test/list/1", PCT_LIST_HTML),
         ("https://h0.test/~user/event/1", DETAIL_HTML)],
        "url string, html string")

    def crawl(name, canonicalize):
        eng = CrawlEngine(spark, str(tmp_path / name), pages,
                          event_scraper, ["https://h0.test/list/1"],
                          now=datetime(2026, 3, 1, tzinfo=timezone.utc),
                          fetch_partitions=2,
                          canonicalize_outlinks=canonicalize)
        eng.run(max_rounds=5)
        return [(r["url"], r["status"]) for r in
                eng.t_fetched.read(spark).collect()]

    full = crawl("full", "full")
    assert full.count(("https://h0.test/~user/event/1", "ok")) == 1
    assert len(full) == 2 and all(st == "ok" for _, st in full)
    syntax = crawl("syntax", True)
    assert ("https://h0.test/%7Euser/event/1", "missing") in syntax
    assert len(syntax) == 3
