"""Seen-set slab growth: with a tiny initial capacity the amortized-
doubling rebuild path must trigger and the seen set must stay exact
(no false negatives ever → no URL refetched or re-enqueued)."""

import os
from datetime import datetime, timezone

import pytest

from goskyr_spark.kernels.cuckoo import CuckooFilter
from goskyr_spark.spark.crawl import CrawlEngine, _slab_blobs
from goskyr_spark.synth import SynthSpec, event_scraper, host_name, synth_pages_df

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


def _blobs(eng):
    """{sid: (bloom, cuckoo) bytes} of each slab's latest row."""
    latest = eng._slab_latest()
    return _slab_blobs(latest, latest)


@pytest.fixture(scope="session")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="slab-tests", master="local[4]",
                     shuffle_partitions=4)


def test_rebuild_keeps_seen_exact(spark, tmp_path):
    spec = SynthSpec(n_hosts=4, pages_per_host=3, items_per_page=4,
                     hot_hosts=1, hot_factor=2)
    pages = synth_pages_df(spark, spec, include_fixtures=False).cache()
    pages.count()
    seeds = [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]

    # capacity 8 per slab, 2 slabs → dozens of rebuilds over ~200 urls
    eng = CrawlEngine(spark, str(tmp_path / "wd"), pages, event_scraper,
                      seeds, now=NOW, n_slabs=2, slab_capacity=8,
                      fetch_partitions=4)
    eng.run(max_rounds=25)

    seen = [r for r in eng.t_seen.read(spark).collect()]
    urls = [r["url"] for r in seen]
    assert len(urls) == len(set(urls)), "duplicate urls in seen set"

    # slabs grew beyond the initial capacity and contain every seen hash
    slabs = _blobs(eng)
    assert any(CuckooFilter.from_bytes(c).nbuckets * 4 > 8
               for _, c in slabs.values())
    import numpy as np

    for r in seen:
        sid = int(r["url_hash"]) % 2
        bloom_b, cuckoo_b = slabs[sid]
        cf = CuckooFilter.from_bytes(cuckoo_b)
        h = np.array([r["url_hash"]], dtype=np.int64).view(np.uint64)
        assert cf.contains_many(h)[0], f"false negative for {r['url']}"

    # frontier never re-enqueued anything: every fetched url unique
    fetched = [r["url"] for r in eng.t_fetched.read(spark).collect()]
    assert len(fetched) == len(set(fetched))


def _run_engine(spark, tmp_path, name, **kw):
    spec = SynthSpec(n_hosts=4, pages_per_host=3, items_per_page=4,
                     hot_hosts=1, hot_factor=2)
    pages = synth_pages_df(spark, spec, include_fixtures=False).cache()
    pages.count()
    seeds = [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]
    eng = CrawlEngine(spark, str(tmp_path / name), pages, event_scraper,
                      seeds, now=NOW, **kw)
    eng.run(max_rounds=25)
    return eng


def _state(eng, spark):
    """Seen urls, fetched rows and every round's slab rows."""
    seen = sorted(r["url"] for r in eng.t_seen.read(spark).collect())
    fetched = sorted((r["round"], r["fetch_seq"], r["url"], r["status"])
                     for r in eng.t_fetched.read(spark).collect())
    slabs = sorted((r["slab_id"], r["round"], bytes(r["bloom"]),
                    bytes(r["cuckoo"]), r["count"], r["capacity"])
                   for r in eng.t_slabs.read(spark).collect())
    return seen, fetched, slabs


def _latest_slabs(state):
    """`state` with only each slab's latest row: what compact() keeps of
    the slab table (superseded generations are dropped by design)."""
    seen, fetched, slabs = state
    return seen, fetched, sorted({r[0]: r for r in slabs}.values())


@pytest.fixture(scope="module")
def policy_state(spark, tmp_path_factory):
    """Crawl state under the real size policy (driver side at this
    scale), computed before any plan is forced."""
    eng = _run_engine(spark, tmp_path_factory.mktemp("policy"), "ref",
                      n_slabs=2, slab_capacity=8, fetch_partitions=4)
    return _state(eng, spark)


def test_slab_paths_match_size_policy(spark, tmp_path, policy_state, plan):
    """Every forced plan — driver, cluster (executor-side slab-aligned
    update, incl. rebuilds at slab_capacity=8), cluster with the
    partition-aligned seen test, and the policy's mixed plans — ends in
    the size policy's crawl state, slab rows of every round included,
    at a different parallelism, and its slabs hold every seen hash (no
    false negatives)."""
    eng = _run_engine(spark, tmp_path, "forced", n_slabs=2,
                      slab_capacity=8, fetch_partitions=7)
    assert _state(eng, spark) == policy_state

    import numpy as np

    slabs = _blobs(eng)
    for r in eng.t_seen.read(spark).collect():
        sid = int(r["url_hash"]) % 2
        cf = CuckooFilter.from_bytes(slabs[sid][1])
        h = np.array([r["url_hash"]], dtype=np.int64).view(np.uint64)
        assert cf.contains_many(h)[0], f"false negative for {r['url']}"
    # seen set exact: no url fetched twice
    fetched = [r["url"] for r in eng.t_fetched.read(spark).collect()]
    assert len(fetched) == len(set(fetched))


@pytest.mark.parametrize("plan", ["driver"], indirect=True)
def test_insert_overflow_retried_as_rebuild(spark, tmp_path, policy_state,
                                            plan, monkeypatch):
    """An insert whose cuckoo overflows (forced here for every insert)
    is retried as a rebuild from the seen slice: the crawl ends in the
    size policy's seen/fetched state, every slab row has its blobs, and
    the slabs hold every seen hash."""
    from goskyr_spark.spark import crawl

    overflows = []
    monkeypatch.setattr(crawl, "_insert_filters",
                        lambda blobs, arr: overflows.append(len(arr)))
    eng = _run_engine(spark, tmp_path, "overflow", n_slabs=2,
                      slab_capacity=8, fetch_partitions=4)
    assert overflows
    seen, fetched, slabs = _state(eng, spark)
    assert (seen, fetched) == policy_state[:2]
    assert slabs and all(r[2] and r[3] for r in slabs)
    # every touched slab still gets exactly one row per round
    assert {(r[0], r[1]) for r in slabs} == \
        {(r[0], r[1]) for r in policy_state[2]}

    import numpy as np

    blobs = _blobs(eng)
    for r in eng.t_seen.read(spark).collect():
        sid = int(r["url_hash"]) % 2
        cf = CuckooFilter.from_bytes(blobs[sid][1])
        h = np.array([r["url_hash"]], dtype=np.int64).view(np.uint64)
        assert cf.contains_many(h)[0], f"false negative for {r['url']}"


def test_partitioned_seen_resume(spark, tmp_path, monkeypatch):
    """Partitioned seen test + cluster slab update + crash-resume:
    rollback must replay identically (slab files of rolled-back rounds
    are ignored via round filtering)."""
    from conftest import force_plan

    force_plan(monkeypatch, "cluster_partitioned")
    spec = SynthSpec(n_hosts=3, pages_per_host=3, items_per_page=2,
                     hot_hosts=1, hot_factor=2)
    pages = synth_pages_df(spark, spec, include_fixtures=False).cache()
    seeds = [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]
    kw = dict(now=NOW, n_slabs=2, slab_capacity=16, fetch_partitions=3)
    ref = CrawlEngine(spark, str(tmp_path / "ref"), pages, event_scraper,
                      seeds, **kw)
    ref.run(max_rounds=20)

    e1 = CrawlEngine(spark, str(tmp_path / "crash"), pages, event_scraper,
                     seeds, **kw)
    e1.recover()
    e1.bootstrap()
    e1.run_round(0)
    e1.run_round(1)
    import pyspark.sql.functions as F

    junk = e1.t_fetched.read(spark).limit(1) \
        .withColumn("round", F.lit(2).cast("long"))
    e1.t_fetched.append(junk, {"round": 2})
    e2 = CrawlEngine(spark, str(tmp_path / "crash"), pages, event_scraper,
                     seeds, **kw)
    e2.run(max_rounds=20)
    assert _state(ref, spark) == _state(e2, spark)


def test_compact_preserves_state_and_resume(spark, tmp_path):
    """compact() must not change any observable state, must shrink the
    slab table to one row per slab, and the compacted store must still
    crawl on (resume point)."""
    eng = _run_engine(spark, tmp_path, "cmp", n_slabs=2, slab_capacity=8,
                      fetch_partitions=4)
    before = _state(eng, spark)
    n_slab_rows_before = eng.t_slabs.read(spark).count()
    n_frontier_before = eng.t_frontier.read(spark).count()
    eng.compact()
    assert _state(eng, spark) == _latest_slabs(before)
    assert eng.t_slabs.read(spark).count() == 2  # latest per slab only
    assert n_slab_rows_before > 2
    # frontier compacted to the PENDING set (everything was fetched)
    from goskyr_spark.spark.crawl import FRONTIER_SCHEMA
    n_frontier_after = eng.t_frontier.read(
        spark, schema=FRONTIER_SCHEMA).count()
    assert n_frontier_after == 0 and n_frontier_before > 0

    # a fresh engine over the compacted store resumes and stays done
    spec = SynthSpec(n_hosts=4, pages_per_host=3, items_per_page=4,
                     hot_hosts=1, hot_factor=2)
    from goskyr_spark.synth import synth_pages_df as _spd

    pages = _spd(spark, spec, include_fixtures=False)
    seeds = [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]
    e2 = CrawlEngine(spark, str(tmp_path / "cmp"), pages, event_scraper,
                     seeds, now=NOW, n_slabs=2, slab_capacity=8,
                     fetch_partitions=4)
    e2.run(max_rounds=30)
    assert _state(e2, spark) == _latest_slabs(before)


def test_auto_compaction_mid_run_equivalent(spark, tmp_path):
    """compact_every=2: compaction INSIDE the crawl loop must not change
    any observable state vs an uncompacted run."""
    ref = _run_engine(spark, tmp_path, "nc", n_slabs=2, slab_capacity=16,
                      fetch_partitions=4)
    auto = _run_engine(spark, tmp_path, "ac", n_slabs=2, slab_capacity=16,
                       fetch_partitions=4, compact_every=2)
    assert _latest_slabs(_state(ref, spark)) == \
        _latest_slabs(_state(auto, spark))


def _count_slab_reads(monkeypatch, eng):
    """Record (consumer, path) of every parquet read of a slab file made
    while the driver's new-url commit ("probe") or its slab update
    ("slabs", nested in it) runs; returns the list."""
    from goskyr_spark.spark import crawl

    reads, consumer = [], []
    real = crawl.pq.read_table

    def counted(path, *args, **kw):
        if consumer and str(path).startswith(eng.t_slabs.dir):
            reads.append((consumer[-1], str(path)))
        return real(path, *args, **kw)

    def tagged(name, method):
        def run(self, *args, **kw):
            consumer.append(name)
            try:
                return method(self, *args, **kw)
            finally:
                consumer.pop()
        return run

    monkeypatch.setattr(crawl.pq, "read_table", counted)
    monkeypatch.setattr(CrawlEngine, "_commit_new_urls_driver",
                        tagged("probe", CrawlEngine._commit_new_urls_driver))
    monkeypatch.setattr(CrawlEngine, "_update_slabs",
                        tagged("slabs", CrawlEngine._update_slabs))
    return reads


@pytest.mark.parametrize("plan", ["driver"], indirect=True)
def test_driver_round_reads_each_slab_file_once(spark, tmp_path, plan,
                                                monkeypatch):
    """A driver round's seen probe and slab update each read a slab file
    at most once, however many of its slabs they need (a read per slab
    id made 8 of one file per round at n_slabs=8)."""
    from collections import Counter

    spec = SynthSpec(n_hosts=4, pages_per_host=3, items_per_page=4,
                     hot_hosts=1, hot_factor=2)
    pages = synth_pages_df(spark, spec, include_fixtures=False).cache()
    seeds = [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]
    eng = CrawlEngine(spark, str(tmp_path / "wd"), pages, event_scraper,
                      seeds, now=NOW, fetch_partitions=4)
    reads = _count_slab_reads(monkeypatch, eng)
    eng.recover()
    eng.bootstrap()
    per_round = []
    for r in range(4):
        reads.clear()
        eng.run_round(r)
        per_round.append(Counter(reads))
    # every round probed and inserted into slabs written before
    assert all({k[0] for k in c} == {"probe", "slabs"} for c in per_round)
    assert max(n for c in per_round for n in c.values()) == 1


def test_rolled_back_slab_files_never_read(spark, tmp_path, monkeypatch):
    """After a rollback the latest rows come from the manifest's files
    only: a slab file of a rolled-back round is never read."""
    from goskyr_spark.spark import crawl

    eng = _run_engine(spark, tmp_path, "rb", n_slabs=2, slab_capacity=16,
                      fetch_partitions=4)
    files = eng.t_slabs.manifest()["files"]
    eng._rollback_table(eng.t_slabs, 1)
    kept = eng.t_slabs.manifest()["files"]
    gone = {os.path.join(eng.t_slabs.dir, f) for f in set(files) - set(kept)}
    assert gone
    reads = []
    real = crawl.pq.read_table

    def counted(path, *args, **kw):
        reads.append(str(path))
        return real(path, *args, **kw)

    monkeypatch.setattr(crawl.pq, "read_table", counted)
    latest = eng._slab_latest()
    blobs = _slab_blobs(latest, [0, 1])
    assert reads and not gone & set(reads)
    assert set(blobs) == {0, 1} and all(at[1] <= 1 for at in latest.values())
