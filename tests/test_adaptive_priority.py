"""Adaptive host-priority crawl scheduling (focused crawling): hosts
that yield items are dequeued earlier, hosts that fail or yield nothing
later. The feedback derives from the fetched-history table only, so it
is deterministic, resume-safe, and identical whatever the host-bucket
modulus of the tables."""

import functools
from datetime import datetime, timezone

import pytest

from conftest import small_buckets
from goskyr_spark.spark import crawl
from goskyr_spark.spark.crawl import CrawlEngine
from goskyr_spark.synth import (SynthSpec, host_name, mixed_yield_factory,
                                synth_pages_df)

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)
JUNK_HOST = host_name(1)

# partial of a goskyr_spark.synth function — executors unpickle it by
# module reference (a test-module closure would not import there)
mixed_factory = functools.partial(mixed_yield_factory,
                                  junk_hosts=frozenset({JUNK_HOST}))


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="adaptive-tests", master="local[4]",
                     shuffle_partitions=4)


@pytest.fixture(scope="module")
def pages(spark):
    spec = SynthSpec(n_hosts=3, pages_per_host=4, items_per_page=2,
                     hot_hosts=0)
    df = synth_pages_df(spark, spec, include_fixtures=False).cache()
    df.count()
    return df


@pytest.fixture(autouse=True)
def yield_weight(monkeypatch):
    # yield weight 2.0: the item-yield bonus can outweigh a full depth
    # tier, so the zero-yield host's demotion is unambiguous
    monkeypatch.setattr(crawl, "ADAPTIVE_YIELD_WEIGHT", 2.0)


def run_crawl(spark, pages, wd, **kw):
    seeds = [f"https://{host_name(h)}/list/1" for h in range(3)]
    eng = CrawlEngine(spark, str(wd), pages, mixed_factory, seeds,
                      now=NOW, per_host_budget=1, round_budget=2,
                      fetch_partitions=4, **kw)
    eng.run(max_rounds=40)
    rows = (eng.t_fetched.read(spark)
            .orderBy("round", "fetch_seq").collect())
    fetch_order = [(r["round"], r["fetch_seq"], r["url"], r["status"])
                   for r in rows]
    seen = sorted(r["url"] for r in eng.t_seen.read(spark).collect())
    return fetch_order, seen


def rounds_of(fetch_order, host):
    """url -> fetch round for one host."""
    return {url: rnd for rnd, _, url, _ in fetch_order if host in url}


def test_adaptive_demotes_zero_yield_host(spark, pages, tmp_path):
    base, seen_b = run_crawl(spark, pages, tmp_path / "base")
    adap, seen_a = run_crawl(spark, pages, tmp_path / "adaptive",
                             adaptive_priority=True)
    # coverage is unchanged: same final seen set and same fetched URLs
    assert seen_a == seen_b
    assert sorted(u for *_, u, _ in adap) == sorted(
        u for *_, u, _ in base)
    # demotion: every junk url is fetched no earlier than in the
    # neutral baseline, and the non-seed pages strictly later (with
    # yield weight 2.0 the productive hosts' whole depth<=3 pool
    # outranks the junk host's depth-1 page)
    jb, ja = rounds_of(base, JUNK_HOST), rounds_of(adap, JUNK_HOST)
    assert all(ja[u] >= jb[u] for u in jb)
    assert sum(ja[u] > jb[u] for u in jb) >= 2
    assert ja[f"https://{JUNK_HOST}/list/2"] > \
        jb[f"https://{JUNK_HOST}/list/2"]
    # promotion: host0002's work moves earlier in aggregate (host0000
    # wins most url-order ties already in the baseline, so its shift is
    # marginal and not a clean promotion signal)
    pb, pa = rounds_of(base, host_name(2)), rounds_of(adap, host_name(2))
    assert sum(pa.values()) < sum(pb.values())


def test_adaptive_deterministic_and_bucketed_identical(spark, pages,
                                                       tmp_path):
    a, seen_a = run_crawl(spark, pages, tmp_path / "a",
                          adaptive_priority=True)
    b, seen_b = run_crawl(spark, pages, tmp_path / "b",
                          adaptive_priority=True)
    with small_buckets():
        c, seen_c = run_crawl(spark, pages, tmp_path / "c",
                              adaptive_priority=True)
    # same config twice -> identical order (determinism), and a
    # bucketed workdir (host_stats included) gives the same order
    assert a == b == c
    assert seen_a == seen_b == seen_c
