"""The dequeue's per-host rank `_host_seq`: every dequeue emits each
row's rank within its host by (priority, url), 1..k after the per-host
and round-budget cuts, and the fetch phase uses it as it stands for the
virtual politeness clock and for salting."""

from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from conftest import small_buckets
from goskyr_spark.spark import crawl
from goskyr_spark.spark.crawl import (_DEQUEUED_ARROW, _FRONTIER_ARROW,
                                      _HOST_SUMS_ARROW, _URL_ARROW,
                                      CrawlEngine, _dequeue_frame)
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
    assert out.num_rows == 9  # the budget cut lands inside a host
    rows = out.select(["url", "host", "_host_seq"]).to_pylist()
    assert all(rank[r["url"]] == r["_host_seq"] for r in rows)
    for h in {r["host"] for r in rows}:
        g = [r["_host_seq"] for r in rows if r["host"] == h]
        assert sorted(g) == list(range(1, len(g) + 1)), h
        assert len(g) <= 4
    assert out.schema.field("_host_seq").type == pa.int64()


def _dequeue_frame_pandas(frontier, fetched, host_stats, per_host, budget,
                          weights):
    """The reference dequeue, in pandas: anti-join by isin, per-host
    adjustment by groupby sums mapped onto the rows, sort_values by
    (_eff, url), groupby cumcount as _host_seq, then the two cuts."""
    pdf = frontier.to_pandas()
    if fetched is not None and fetched.num_rows:
        pdf = pdf[~pdf["url"].isin(set(fetched.column("url").to_pylist()))]
    eff = pdf["priority"].to_numpy(dtype="float64")
    if weights is not None and host_stats is not None \
            and host_stats.num_rows:
        g = host_stats.to_pandas().groupby("host", sort=False).agg(
            _nf=("n_fetched", "sum"), _nok=("n_ok", "sum"),
            _ni=("n_items", "sum"))
        nf, nok, ni = (g[c].to_numpy(dtype="float64")
                       for c in ("_nf", "_nok", "_ni"))
        with np.errstate(divide="ignore", invalid="ignore"):
            adj = (weights[0] * ((nf - nok) / nf)
                   - weights[1] * np.minimum(1.0, ni / np.maximum(nok, 1.0)))
        eff = eff + pdf["host"].map(dict(zip(g.index, adj))) \
            .fillna(0.0).to_numpy(dtype="float64")
    pdf = pdf.assign(_eff=eff).sort_values(["_eff", "url"])
    pdf = pdf.assign(_host_seq=pdf.groupby("host", sort=False).cumcount() + 1)
    return pdf[pdf["_host_seq"] <= per_host].head(budget)


_HOSTS = ["a.test", "b.test", "bücher.test", "例え.test", "z.test",
          "xn--nxa.test", "ü.test"]


def _random_case(seed):
    """A frontier over a few hosts (ASCII and not) whose priorities tie
    often, a fetched set of some of its urls plus unknown ones, and
    host_stats deltas for some hosts only, several rows per host, a
    zero-fetch host (NaN adjustment) among them."""
    rng = np.random.default_rng(seed)
    hosts = _HOSTS[:int(rng.integers(1, len(_HOSTS) + 1))]
    n = int(rng.integers(1, 80))
    rows = []
    for i in range(n):
        h = hosts[int(rng.integers(len(hosts)))]
        tail = ["", "é", "ß/ä", "日本", "~x"][int(rng.integers(5))]
        rows.append({"url": f"https://{h}/p/{int(rng.integers(40))}{tail}",
                     "url_hash": i, "host": h,
                     "priority": float(rng.integers(0, 4)),
                     "depth": int(rng.integers(0, 4)),
                     "discovered_round": 0, "page_no": 1})
    frontier = pa.Table.from_pylist(rows, schema=_FRONTIER_ARROW)
    urls = [r["url"] for r in rows]
    gone = [u for u in urls if rng.random() < 0.3] + ["https://q.test/"]
    fetched = pa.table({"url": gone}, schema=_URL_ARROW)
    stats = []
    for h in hosts:
        if rng.random() < 0.35:
            continue  # a host absent from host_stats
        for _ in range(int(rng.integers(1, 4))):
            nf = int(rng.integers(0, 9))
            nok = int(rng.integers(0, nf + 1))
            stats.append({"host": h, "n_fetched": nf, "n_ok": nok,
                          "n_items": int(rng.integers(0, 30))})
    stats.append({"host": "gone.test", "n_fetched": 0, "n_ok": 0,
                  "n_items": 0})
    host_stats = pa.Table.from_pylist(stats, schema=_HOST_SUMS_ARROW)
    per_host = int(rng.integers(1, 8))
    budget = int(rng.integers(1, n + 2))
    return frontier, fetched, host_stats, per_host, budget


def _assert_same_dequeue(got, frontier, fetched, host_stats, per_host,
                         budget, weights):
    """got equals the pandas reference: every column in row order,
    _eff bit for bit."""
    ref = _dequeue_frame_pandas(frontier, fetched, host_stats, per_host,
                                budget, weights)
    want = pa.Table.from_pandas(ref[_DEQUEUED_ARROW.names],
                                schema=_DEQUEUED_ARROW, preserve_index=False)
    assert got.schema.names == _DEQUEUED_ARROW.names + ["_eff"]
    assert got.drop_columns("_eff").equals(want)
    assert (got["_eff"].to_numpy().view(np.uint64).tolist()
            == ref["_eff"].to_numpy(dtype="float64").view(np.uint64).tolist())


@pytest.mark.parametrize("weights", [None, (2.0, 0.5), (0.3, 1.7)])
@pytest.mark.parametrize("seed", range(40))
def test_dequeue_frame_matches_pandas_reference(seed, weights):
    """Generated inputs: tied priorities, non-ASCII urls and hosts,
    hosts absent from host_stats, a NaN adjustment, per-host and budget
    cuts that land inside a host; adaptive on and off."""
    case = _random_case(seed)
    got = _dequeue_frame(*case, weights)
    _assert_same_dequeue(got, *case, weights)


@pytest.mark.parametrize("weights", [None, (2.0, 0.5)])
def test_dequeue_frame_edges_match_pandas_reference(weights):
    frontier, _, host_stats, _, _ = _random_case(3)
    everything = pa.table({"url": frontier["url"]}, schema=_URL_ARROW)
    # an empty pending set
    got = _dequeue_frame(frontier, everything, host_stats, 4, 10, weights)
    assert got.num_rows == 0
    _assert_same_dequeue(got, frontier, everything, host_stats, 4, 10,
                         weights)
    # no fetched and no host_stats tables at all
    got = _dequeue_frame(frontier, None, None, 2, 5, weights)
    _assert_same_dequeue(got, frontier, None, None, 2, 5, weights)
    # the per-host cut lands inside every host, the budget inside a host
    one = _dequeue_frame(frontier, None, host_stats, 1, 3, weights)
    _assert_same_dequeue(one, frontier, None, host_stats, 1, 3, weights)
    assert set(one["_host_seq"].to_pylist()) == {1}


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
    assert driver.schema.equals(crawl._DEQUEUED_ARROW)
    want = sorted(zip(driver["url"].to_pylist(),
                      driver["_host_seq"].to_pylist()))
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
