"""The dequeue's per-host rank `_host_seq`: every dequeue emits each
row's rank within its host by (priority, url), 1..k after the per-host
and round-budget cuts, and the fetch phase uses it as it stands for the
virtual politeness clock and for salting."""

from datetime import datetime, timezone

import pyarrow as pa
import pytest

from conftest import small_buckets
from goskyr_spark.spark import crawl
from goskyr_spark.spark.crawl import (_FRONTIER_ARROW, _HOST_SUMS_ARROW,
                                      _URL_ARROW, CrawlEngine,
                                      _dequeue_frame)
from goskyr_spark.synth import SynthSpec, event_scraper, host_name, synth_pages_df

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


def _frontier():
    """Three hosts of six rows each; integer priorities (depths) with
    ties, so the url breaks them (rows are not in rank order)."""
    rows = []
    for h in "abc":
        for i in range(6):
            rows.append({"url": f"https://{h}.test/p/{(5 * i) % 6}",
                         "url_hash": 0, "host": f"{h}.test",
                         "priority": float(i % 3), "depth": i % 3,
                         "discovered_round": 0, "page_no": 1})
    return pa.Table.from_pylist(rows, schema=_FRONTIER_ARROW)


@pytest.mark.parametrize("weights", [None, (2.0, 0.5)])
def test_dequeue_frame_host_seq_is_priority_url_rank(weights):
    frontier = _frontier()
    fetched = pa.table({"url": ["https://a.test/p/0", "https://c.test/p/3"]},
                       schema=_URL_ARROW)
    # the adaptive adjustment differs per host (a fails, c yields), so
    # the cross-host order moves while each host's order must not
    host_stats = pa.Table.from_pylist(
        [{"host": "a.test", "n_fetched": 4, "n_ok": 1, "n_items": 0},
         {"host": "c.test", "n_fetched": 2, "n_ok": 2, "n_items": 9}],
        schema=_HOST_SUMS_ARROW)
    out = _dequeue_frame(frontier, fetched, host_stats, per_host=4,
                         budget=9, weights=weights)
    gone = set(fetched.column("url").to_pylist())
    rank = {}
    for h in ("a.test", "b.test", "c.test"):
        pending = sorted((r["priority"], r["url"])
                         for r in frontier.to_pylist()
                         if r["host"] == h and r["url"] not in gone)
        rank.update({u: i + 1 for i, (_, u) in enumerate(pending)})
    assert len(out) == 9  # the budget cut lands inside a host
    assert all(rank[u] == s for u, s in zip(out["url"], out["_host_seq"]))
    for h, g in out.groupby("host"):
        assert sorted(g["_host_seq"]) == list(range(1, len(g) + 1)), h
        assert len(g) <= 4
    assert out["_host_seq"].dtype == "int64"


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="host-seq", master="local[2]", shuffle_partitions=2)


@pytest.mark.parametrize("adaptive", [False, True])
def test_dequeues_agree_on_host_seq(spark, tmp_path, monkeypatch, adaptive):
    """On one engine's tables (a plain seed file, round-0 files of a
    larger modulus) the cluster dequeue, at 1, 2 and 4 tasks, and the
    driver dequeue give the same (url, _host_seq) pairs, per-host and
    budget cuts included."""
    spec = SynthSpec(n_hosts=3, pages_per_host=3, items_per_page=3,
                     hot_hosts=1, hot_factor=2)
    pages = synth_pages_df(spark, spec, include_fixtures=False)
    with small_buckets(512):  # round 0 appends under modulus > 1
        eng = CrawlEngine(spark, str(tmp_path / "wd"), pages, event_scraper,
                          [f"https://{host_name(h)}/list/1" for h in range(3)],
                          now=NOW, per_host_budget=3, round_budget=7,
                          adaptive_priority=adaptive)
        eng.run(max_rounds=1)

    def pairs(df):
        return sorted((r["url"], r["_host_seq"])
                      for r in df.select("url", "_host_seq").collect())

    driver = eng._dequeue_driver()
    want = sorted(zip(driver["url"], driver["_host_seq"]))
    assert len(want) == 7 and max(s for _, s in want) > 1
    # the 4-task dequeue filters the seed file and reads the rest whole
    mods = {n for _, n in eng.t_frontier.bucket_map().values()}
    assert 1 in mods and max(mods) >= 4, mods
    # tiny BUCKET_BYTES: the task count is fetch_partitions, floored to
    # a power of two
    monkeypatch.setattr(crawl, "BUCKET_BYTES", 1)
    for n in (1, 2, 4):
        eng.fetch_partitions = n
        assert pairs(eng._dequeue_cluster()) == want, n
    eng._release_round()
