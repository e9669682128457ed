"""Host-hash-bucketed frontier/fetched storage (the 10^10 dequeue
path): host-keyed writes use a modulus M that follows the dequeue
input (crawl.BUCKET_BYTES is patched small here, so M grows
mid-crawl), and the crawl must be EXACTLY the same as at the default
size — same fetch order, same seen set. Also: every file holds one
(bucket, M) pair's rows, resume works, and a workdir resumed under a
different modulus (a flat one included) crawls identically on the
driver and on the cluster dequeue, which reads each host's rows from
files of any modulus."""

import hashlib
import os
import sys
from datetime import datetime, timezone

import pytest

sys.path.insert(0, os.path.dirname(__file__))

from conftest import small_buckets
from goskyr_spark.spark.crawl import CrawlEngine, FETCHED_SCHEMA

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="bucketed-tests", master="local[4]",
                     shuffle_partitions=4)


@pytest.fixture(scope="module")
def pages(spark):
    from goskyr_spark.synth import SynthSpec, synth_pages_df

    spec = SynthSpec(n_hosts=6, pages_per_host=3, items_per_page=3,
                     hot_hosts=1, hot_factor=3)
    return synth_pages_df(spark, spec, include_fixtures=False).cache()


def _digest(eng, spark):
    h = hashlib.sha256()
    for r in eng.t_fetched.read(spark, schema=FETCHED_SCHEMA) \
            .orderBy("round", "fetch_seq") \
            .select("round", "fetch_seq", "url", "status").collect():
        h.update(f"{r['round']}|{r['fetch_seq']}|{r['url']}|{r['status']}"
                 .encode())
    for r in eng.t_seen.read(spark).orderBy("url").select("url").collect():
        h.update(r["url"].encode())
    return h.hexdigest()


def _run(spark, pages, wd, **kw):
    from goskyr_spark.synth import event_scraper, host_name

    eng = CrawlEngine(spark, wd, pages, event_scraper,
                      [f"https://{host_name(h)}/list/1" for h in range(6)],
                      now=NOW, **kw)
    eng.run(max_rounds=15)
    return eng


@pytest.fixture(scope="module")
def ref_engine(spark, pages, tmp_path_factory):
    """One default-size reference crawl (one plain file per append at
    this size) shared by every equality test."""
    return _run(spark, pages, str(tmp_path_factory.mktemp("ref")))


@pytest.fixture(scope="module")
def bucketed_engine(spark, pages, tmp_path_factory):
    """One small-bucket crawl shared by the digest/file/resume tests."""
    with small_buckets():
        return _run(spark, pages, str(tmp_path_factory.mktemp("bkt")))


def test_bucketed_dequeue_identical_crawl(spark, pages, tmp_path,
                                          ref_engine, bucketed_engine):
    assert _digest(bucketed_engine, spark) == _digest(ref_engine, spark)
    # and with per-host budgets + compaction in the loop
    ref2 = _run(spark, pages, str(tmp_path / "win2"), per_host_budget=2,
                round_budget=7)
    with small_buckets():
        got2 = _run(spark, pages, str(tmp_path / "bkt2"), per_host_budget=2,
                    round_budget=7, compact_every=2)
    assert _digest(got2, spark) == _digest(ref2, spark)


def test_bucketed_files_are_per_bucket(spark, pages, bucketed_engine):
    """Every live file holds only rows of its recorded (bucket, M), and
    the modulus grew mid-crawl."""
    import zlib

    import pyarrow.parquet as pq

    eng = bucketed_engine
    mods = set()
    for t in (eng.t_frontier, eng.t_fetched):
        bmap = t.bucket_map()
        assert set(bmap) == set(t.manifest()["files"]), t.name
        for rel, (b, n) in bmap.items():
            tbl = pq.read_table(os.path.join(t.dir, rel), columns=["host"])
            got = {zlib.crc32(h.encode()) % n
                   for h in tbl.column(0).to_pylist()}
            assert got == {b}, (t.name, rel)
            mods.add(n)
    assert len(mods) >= 3, mods


def test_bucketed_resume(spark, pages, tmp_path, bucketed_engine):
    """Crash-resume on a bucketed workdir replays identically."""
    from goskyr_spark.synth import event_scraper, host_name

    seeds = [f"https://{host_name(h)}/list/1" for h in range(6)]
    full = bucketed_engine

    with small_buckets():
        eng1 = CrawlEngine(spark, str(tmp_path / "part"), pages,
                           event_scraper, seeds, now=NOW)
        eng1.run(max_rounds=2)
        eng2 = CrawlEngine(spark, str(tmp_path / "part"), pages,
                           event_scraper, seeds, now=NOW)
        eng2.run(max_rounds=15)
    assert _digest(eng2, spark) == _digest(full, spark)


@pytest.mark.parametrize("plan", ["driver", "cluster", "driver_spark_kernel"],
                         indirect=True)
@pytest.mark.parametrize("first_small", [True, False],
                         ids=["small_then_default", "default_then_small"])
def test_resume_across_modulus_change(spark, pages, tmp_path, ref_engine,
                                      plan, first_small):
    """Two rounds under one modulus rule, then a fresh engine resumes
    under the other: tiny BUCKET_BYTES then the default (bucketed files
    followed by plain ones), and the reverse (a flat workdir followed by
    a growing modulus). The crawl equals the reference on the driver
    dequeue and on the cluster dequeue, which reads every live file by
    its own (bucket, modulus)."""
    from contextlib import nullcontext

    from goskyr_spark.synth import event_scraper, host_name

    seeds = [f"https://{host_name(h)}/list/1" for h in range(6)]
    wd = str(tmp_path / "mod")
    for small, rounds in ((first_small, 2), (not first_small, 15)):
        with small_buckets() if small else nullcontext():
            eng = CrawlEngine(spark, wd, pages, event_scraper, seeds,
                              now=NOW)
            eng.run(max_rounds=rounds)
    mods = {n for t in (eng.t_frontier, eng.t_fetched)
            for _, n in t.bucket_map().values()}
    assert 1 in mods and len(mods) > 1, mods
    assert _digest(eng, spark) == _digest(ref_engine, spark)


@pytest.mark.parametrize("n_tasks", [1, 2, 4, 8, 16])
def test_read_rule_sends_each_host_to_one_task(tmp_path, n_tasks):
    """The cluster dequeue's read rule, pure pyarrow: random hosts in
    files written under moduli 1, 2, 4, 8 and 16 (one file per bucket);
    every row reaches exactly one of n_tasks tasks, and all rows of one
    host the same task."""
    import random
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from goskyr_spark.spark.crawl import _dequeue_reads, _read_share

    rng = random.Random(n_tasks)
    hosts = [f"h{rng.getrandbits(48):x}.test" for _ in range(300)]
    schema = pa.schema([("host", pa.string()), ("rid", pa.int64())])
    buckets, n_rows = {}, 0
    for mod in (1, 2, 4, 8, 16):
        rows = [(rng.choice(hosts), n_rows + i) for i in range(400)]
        n_rows += len(rows)
        for b in range(mod):
            part = [r for r in rows if zlib.crc32(r[0].encode()) % mod == b]
            if part:
                path = str(tmp_path / f"m{mod}-b{b}.parquet")
                pq.write_table(pa.Table.from_pylist(
                    [dict(zip(schema.names, r)) for r in part],
                    schema=schema), path)
                buckets[path] = (b, mod)
    reads = _dequeue_reads(buckets, n_tasks)
    task_of_row, task_of_host = {}, {}
    for t in range(n_tasks):
        share = _read_share(reads[t], schema, t, n_tasks)
        for host, rid in zip(*share.to_pydict().values()):
            assert rid not in task_of_row, (rid, t)
            task_of_row[rid] = t
            assert task_of_host.setdefault(host, t) == t, host
    assert sorted(task_of_row) == list(range(n_rows))


HOSTS = ["example.com", "[::1]", "[2001:db8::8a2e:370:7334]",
         "under_score.example", "bücher.example", "例え.テスト",
         "xn--bcher-kva.example", "", "a", "UPPER.example"]


@pytest.mark.parametrize("mod", [1, 2, 8, 1024])
def test_host_bucket_matches_crc32_and_spark(spark, mod):
    """_host_bucket hashes each distinct host once and gives the bucket
    per-row zlib.crc32 and Spark's pmod(crc32(host), mod) give: repeats,
    several chunks, IPv6, underscore, non-ASCII and empty hosts."""
    import zlib

    import pyarrow as pa
    from pyspark.sql import functions as F

    from goskyr_spark.spark.crawl import _host_bucket

    rows = HOSTS + HOSTS[::-1] + HOSTS[:3]
    col = pa.chunked_array([rows[:7], rows[7:], []], pa.string())
    want = [zlib.crc32(h.encode()) % mod for h in rows]
    assert _host_bucket(col, mod).tolist() == want
    assert _host_bucket(pa.array(rows), mod).tolist() == want
    df = spark.createDataFrame([(i, h) for i, h in enumerate(rows)],
                               "i long, host string")
    got = df.select("i", F.pmod(F.crc32("host"), F.lit(mod)).alias("b")) \
        .orderBy("i").collect()
    assert [r.b for r in got] == want
