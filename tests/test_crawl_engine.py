"""Crawl-engine integration: seen-set exactness vs a Python set oracle,
politeness timestamps, robots enforcement, resume-from-checkpoint
equivalence, and parallelism invariance (FIXTURES.md §7)."""

import logging
import os
import shutil
from datetime import datetime, timezone
from urllib.parse import urlsplit

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from goskyr_spark.kernels.robots import parse_robots
from goskyr_spark.kernels.scrape import scrape_page
from goskyr_spark.kernels.filters import filter_item, initialize_filters
from goskyr_spark.spark.crawl import CrawlEngine, _host_col
from goskyr_spark.synth import SynthSpec, event_scraper, host_name, synth_pages_df

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="session")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="crawl-tests", master="local[4]",
                     shuffle_partitions=4)


@pytest.fixture(scope="session")
def spec():
    # 7 hosts → exercises the robots disallow-/event/ host (h%11==6) and
    # crawl-delay hosts (h<3); host 0 is hot (2x pages)
    return SynthSpec(n_hosts=7, pages_per_host=3, items_per_page=2,
                     hot_hosts=1, hot_factor=2)


@pytest.fixture(scope="session")
def pages(spark, spec):
    df = synth_pages_df(spark, spec, include_fixtures=False).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def page_lookup(spec):
    lookup = {}
    for rid in range(spec.total_rows):
        r = spec.row(rid)
        lookup[r["url"]] = r["html"].decode()
    return lookup


def seeds_for(spec):
    return [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]


# --- pure-Python crawl oracle (replicates the documented dequeue policy) ----

def crawl_oracle(page_lookup, seeds, per_host_budget=64, round_budget=10_000,
                 user_agent="*", max_rounds=50):
    seen = set(seeds)
    depth_of = {u: 0 for u in seeds}
    fetched = {}
    fetch_order = []          # (round, fetch_ts, host, url, status)
    items = []
    robots_cache = {}
    r = 0
    while r < max_rounds:
        pending = sorted((float(depth_of[u]), u) for u in seen
                         if u not in fetched)
        by_host = {}
        flat = []
        for prio, u in pending:
            h = urlsplit(u).netloc
            by_host.setdefault(h, 0)
            if by_host[h] < per_host_budget:
                by_host[h] += 1
                flat.append((prio, u))
        flat = sorted(flat)[:round_budget]
        if not flat:
            break
        # politeness virtual clock per host
        host_seq = {}
        new_urls = {}
        round_rows = []
        for prio, u in flat:
            h = urlsplit(u).netloc
            if h not in robots_cache:
                rb = page_lookup.get(f"https://{h}/robots.txt", "")
                robots_cache[h] = parse_robots(rb, user_agent)
            rules = robots_cache[h]
            delay = rules.crawl_delay or 0.0
            host_seq[h] = host_seq.get(h, 0) + 1
            ts = r * 1e6 + (host_seq[h] - 1) * delay
            path = urlsplit(u).path or "/"
            if not rules.allowed(path):
                fetched[u] = r
                round_rows.append((r, ts, h, u, "robots"))
                continue
            html = page_lookup.get(u)
            if html is None:
                fetched[u] = r
                round_rows.append((r, ts, h, u, "missing"))
                continue
            scraper = event_scraper(h)
            filters = initialize_filters(scraper, now=NOW)
            pr = scrape_page(scraper, u, html, filters=filters, now=NOW)
            for item in pr.items:
                clean = {k: v for k, v in item.items()
                         if not k.startswith("_")}
                if not filter_item(filters, clean):
                    continue
                items.append((u, item["_item_idx"], item["title"]))
                for f in scraper.fields:
                    if f.type == "url" and item.get(f.name):
                        v = item[f.name]
                        d = depth_of[u] + 1
                        new_urls[v] = min(new_urls.get(v, d), d)
            if pr.next_page_url:
                v = pr.next_page_url
                d = depth_of[u] + 1
                new_urls[v] = min(new_urls.get(v, d), d)
            fetched[u] = r
            round_rows.append((r, ts, h, u, "ok"))
        round_rows.sort(key=lambda x: (x[1], x[2], x[3]))
        fetch_order.extend(round_rows)
        for v, d in new_urls.items():
            if v not in seen:
                seen.add(v)
                depth_of[v] = d
        r += 1
    return {"seen": seen, "fetch_order": fetch_order, "items": items}


@pytest.fixture(scope="session")
def oracle(page_lookup, spec):
    return crawl_oracle(page_lookup, seeds_for(spec))


@pytest.fixture(scope="session")
def engine_run(spark, pages, spec, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl"))
    eng = CrawlEngine(spark, wd, pages, event_scraper, seeds_for(spec),
                      now=NOW, fetch_partitions=5)
    summaries = eng.run(max_rounds=20)
    return eng, summaries


def test_seen_set_exact(engine_run, oracle, spark):
    eng, _ = engine_run
    seen = {r["url"] for r in eng.t_seen.read(spark).collect()}
    assert seen == oracle["seen"]


def test_crawl_order_matches_oracle(engine_run, oracle, spark):
    eng, _ = engine_run
    rows = (eng.t_fetched.read(spark)
            .orderBy("round", "fetch_seq").collect())
    got = [(r["round"], r["host"], r["url"], r["status"]) for r in rows]
    want = [(r, h, u, s) for (r, ts, h, u, s) in oracle["fetch_order"]]
    assert got == want


def test_items_match_oracle(engine_run, oracle, spark):
    eng, _ = engine_run
    rows = eng.t_items.read(spark).collect()
    got = sorted((r["page_url"], r["item_idx"], r["title"]) for r in rows)
    assert got == sorted(oracle["items"])


def test_politeness_budget(engine_run, spark, spec):
    """Consecutive same-host fetches respect robots Crawl-delay."""
    eng, _ = engine_run
    rows = eng.t_fetched.read(spark).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault((r["host"], r["round"]), []).append(r["fetch_ts"])
    for h in range(spec.crawl_delay_hosts):
        host = host_name(h)
        delay = 1.0 + h
        for (hh, rnd), tss in by_host.items():
            if hh != host or len(tss) < 2:
                continue
            tss = sorted(tss)
            gaps = [b - a for a, b in zip(tss, tss[1:])]
            assert min(gaps) >= delay - 1e-9, (host, rnd, gaps)


def test_robots_enforced(engine_run, spark):
    """Host 6 disallows /event/ → detail pages marked robots, never ok."""
    eng, _ = engine_run
    host = host_name(6)
    rows = (eng.t_fetched.read(spark)
            .filter(f"host = '{host}'").collect())
    detail = [r for r in rows if "/event/" in r["url"]]
    assert detail and all(r["status"] == "robots" for r in detail)
    lists = [r for r in rows if "/list/" in r["url"]]
    assert lists and all(r["status"] == "ok" for r in lists)


def test_resume_equivalence(spark, pages, spec, engine_run, tmp_path_factory):
    """Kill after round 1, resume with a fresh engine → identical final
    seen set, fetch order, and items."""
    wd = str(tmp_path_factory.mktemp("crawl-resume"))
    e1 = CrawlEngine(spark, wd, pages, event_scraper, seeds_for(spec),
                     now=NOW, fetch_partitions=3)
    e1.recover()
    e1.bootstrap()
    e1.run_round(0)
    e1.run_round(1)
    # simulate a crash mid-round-2: partial append to fetched, no rounds row
    import pyspark.sql.functions as F

    junk = e1.t_fetched.read(spark).limit(1) \
        .withColumn("round", F.lit(2).cast("long"))
    e1.t_fetched.append(junk, {"round": 2})

    e2 = CrawlEngine(spark, wd, pages, event_scraper, seeds_for(spec),
                     now=NOW, fetch_partitions=8)
    e2.run(max_rounds=20)

    ref, _ = engine_run
    for t in ("seen", "fetched", "items"):
        a = getattr(e2, f"t_{t}").read(spark)
        b = getattr(ref, f"t_{t}").read(spark)
        cols = sorted(set(a.columns) & set(b.columns))
        la = sorted(tuple(r[c] for c in cols) for r in a.select(cols).collect())
        lb = sorted(tuple(r[c] for c in cols) for r in b.select(cols).collect())
        assert la == lb, f"table {t} differs after resume"


def _table_rows(table):
    """Sorted rows of a snapshot table's current files (pyarrow)."""
    rows = []
    for f in table.manifest()["files"]:
        t = pq.read_table(os.path.join(table.dir, f))
        rows += [tuple(sorted(r.items())) for r in t.to_pylist()]
    return sorted(rows)


class _Crash(Exception):
    pass


@pytest.mark.parametrize("plan", ["driver", "cluster"], indirect=True)
@pytest.mark.parametrize("at", ["_commit_seen", "_update_slabs"],
                         ids=["after_frontier", "after_seen"])
def test_resume_after_bootstrap_crash(spark, pages, spec, engine_run,
                                      tmp_path, plan, at, monkeypatch):
    """A crash inside bootstrap, after the seeds' frontier commit or
    after their seen commit, leaves no rounds row: a fresh engine's
    run() rolls the workdir back to empty and bootstraps again, so
    seen, slabs, frontier and fetched equal an uninterrupted run."""
    wd = str(tmp_path / "wd")
    e1 = CrawlEngine(spark, wd, pages, event_scraper, seeds_for(spec),
                     now=NOW, fetch_partitions=3)

    def crash(*a, **kw):
        raise _Crash(at)

    monkeypatch.setattr(e1, at, crash)
    with pytest.raises(_Crash):
        e1.run(max_rounds=20)
    assert e1.last_complete_round() is None
    e2 = CrawlEngine(spark, wd, pages, event_scraper, seeds_for(spec),
                     now=NOW, fetch_partitions=5)
    e2.run(max_rounds=20)
    ref, _ = engine_run
    for t in ("seen", "slabs", "frontier", "fetched"):
        assert _table_rows(getattr(e2, f"t_{t}")) == \
            _table_rows(getattr(ref, f"t_{t}")), t


def test_one_url_identity(spark, pages, spec, tmp_path, plan):
    """Seeds, outlinks and fetched pages share one identity: every
    frontier, fetched and seen row has url_hash = xxhash64(url), and
    every frontier row has host = _host_col(url). Two spellings of a
    seed, canonicalized with the percent pass, are one frontier row."""
    seeds = seeds_for(spec) + ["HTTPS://%68ost0000.TEST:443/list/1"]
    eng = CrawlEngine(spark, str(tmp_path / "wd"), pages, event_scraper,
                      seeds, now=NOW, fetch_partitions=3,
                      canonicalize_outlinks="full")
    eng.run(max_rounds=20)
    for t in ("frontier", "fetched", "seen"):
        rows = (getattr(eng, f"t_{t}").read(spark)
                .select("url_hash", F.xxhash64("url").alias("want"))
                .collect())
        assert rows and all(r[0] == r[1] for r in rows), t
    rows = (eng.t_frontier.read(spark)
            .select("host", _host_col("url").alias("want")).collect())
    assert all(r[0] is not None and r[0] == r[1] for r in rows)
    boot = eng.t_rounds.read(spark).filter("round = -1").collect()
    assert [r["n_new_urls"] for r in boot] == [spec.n_hosts]


def test_parallelism_invariance_crawl(spark, pages, spec, engine_run,
                                      tmp_path_factory):
    """Different fetch partitioning → identical crawl order + seen set."""
    wd = str(tmp_path_factory.mktemp("crawl-par"))
    e = CrawlEngine(spark, wd, pages, event_scraper, seeds_for(spec),
                    now=NOW, fetch_partitions=11)
    e.run(max_rounds=20)
    ref, _ = engine_run
    a = [(r["round"], r["fetch_seq"], r["url"]) for r in
         e.t_fetched.read(spark).orderBy("round", "fetch_seq").collect()]
    b = [(r["round"], r["fetch_seq"], r["url"]) for r in
         ref.t_fetched.read(spark).orderBy("round", "fetch_seq").collect()]
    assert a == b


def _crawl_pages(spark, wd, rows, seeds, **kw):
    pages = spark.createDataFrame(rows, "url string, html binary")
    eng = CrawlEngine(spark, wd, pages, event_scraper, seeds, now=NOW, **kw)
    eng.run(max_rounds=3)
    status = {r["url"]: (r["host"], r["status"])
              for r in eng.t_fetched.read(spark).collect()}
    return eng, status


def test_seed_host_matches_robots_host(spark, tmp_path, caplog):
    """A seed's host comes from the same parser as the outlinks' and the
    robots.txt join's: an IPv6 seed keeps its brackets, so its robots
    rules apply; a seed Spark finds no host in is dropped, as an outlink
    would be, and the drop is logged."""
    v6 = "https://[::1]/list/1"
    with caplog.at_level(logging.WARNING, logger="goskyr_spark.crawl"):
        _, status = _crawl_pages(
            spark, str(tmp_path / "wd"),
            [("https://[::1]/robots.txt",
              b"User-agent: *\nDisallow: /list/1\n"),
             (v6, b"<p>x</p>"), ("https://h_x.test/a", b"<p>x</p>")],
            [v6, "https://h_x.test/a"])
    assert status == {v6: ("[::1]", "robots")}
    assert "dropped 1 seed(s) without a host" in caplog.messages


def test_debug_pages_hold_fetched_pages_only(spark, tmp_path):
    """Mock-mode debug_pages is written from the kernel output, like live
    mode: only the ok page lands there, with its html bytes; the
    robots-blocked and the missing page do not."""
    ok, blocked, gone = (f"https://d.test/{p}/1"
                         for p in ("list", "blocked", "gone"))
    eng, status = _crawl_pages(
        spark, str(tmp_path / "wd"),
        [("https://d.test/robots.txt", b"User-agent: *\nDisallow: /blocked\n"),
         (ok, b"<p>ok</p>"), (blocked, b"<p>blocked</p>")],
        [ok, blocked, gone], debug=True)
    assert {u: s for u, (_, s) in status.items()} == {
        ok: "ok", blocked: "robots", gone: "missing"}
    rows = eng.t_debug.read(spark).collect()
    assert [(r["url"], r["html"], r["round"]) for r in rows] == [
        (ok, b"<p>ok</p>", 0)]
