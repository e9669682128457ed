"""Round-7 optimization pins: the driver side of every round phase
(dequeue, round commit, new-url commit, seen/slabs) must be
bit-identical to the cluster side it bypasses, and the de-duplicated
query lineages must match their reference formulations exactly."""

import hashlib
import shutil
import tempfile
from contextlib import nullcontext
from datetime import datetime, timezone

import pytest

from conftest import small_buckets
from goskyr_spark.spark.crawl import CrawlEngine
from goskyr_spark.synth import SynthSpec, event_scraper, host_name, \
    synth_pages_df

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="r7-fastpath-tests", master="local[4]",
                     shuffle_partitions=4)


@pytest.fixture(scope="module")
def spec():
    return SynthSpec(n_hosts=6, pages_per_host=3, items_per_page=3,
                     hot_hosts=1, hot_factor=2)


@pytest.fixture(scope="module")
def pages(spark, spec):
    df = synth_pages_df(spark, spec, include_fixtures=False).cache()
    df.count()
    return df


def _digest(eng, spark):
    h = hashlib.sha256()
    for r in eng.t_fetched.read(spark).orderBy("round", "fetch_seq") \
            .select("round", "fetch_seq", "url", "status").collect():
        h.update(f"{r['round']}|{r['fetch_seq']}|{r['url']}|{r['status']}"
                 .encode())
    for r in eng.t_seen.read(spark).orderBy("url").select("url").collect():
        h.update(r["url"].encode())
    return h.hexdigest()


def _run(spark, pages, spec, bucketed=False, **kw):
    wd = tempfile.mkdtemp(prefix="r7fp-")
    try:
        with small_buckets() if bucketed else nullcontext():
            eng = CrawlEngine(spark, wd, pages, event_scraper,
                              [f"https://{host_name(h)}/list/1"
                               for h in range(spec.n_hosts)],
                              now=NOW, fetch_partitions=4,
                              round_budget=10_000, **kw)
            summaries = eng.run(max_rounds=30)
        # ALL item columns (incl. timestamp fields): the driver-side
        # items write must be value-identical to the Spark write path
        items = sorted(tuple(r) for r in eng.items_final().collect())
        return _digest(eng, spark), summaries, items
    finally:
        shutil.rmtree(wd, ignore_errors=True)


MODES = [
    {},                            # default size: plain files
    {"bucketed": True},            # small BUCKET_BYTES: growing modulus
    {"adaptive_priority": True},   # adaptive dequeue
]


@pytest.fixture(scope="module")
def reference(spark, pages, spec):
    """Crawl state per mode under the real size policy (every phase on
    the driver at this scale), computed before any plan is forced."""
    return [_run(spark, pages, spec, **kw) for kw in MODES]


@pytest.mark.parametrize("mode", range(len(MODES)),
                         ids=["mode_kw0", "mode_kw1", "mode_kw2"])
def test_driver_fast_paths_match_distributed(spark, pages, spec, reference,
                                             plan, mode):
    """Every side of every phase, forced through the round plan, ends
    in the state the size policy's choice produces: digest, items and
    per-round counts."""
    ref_digest, ref_sum, ref_items = reference[mode]
    digest, summaries, items = _run(spark, pages, spec, **MODES[mode])
    assert digest == ref_digest
    assert items == ref_items
    assert [(s.get("n_dequeued"), s.get("n_items")) for s in summaries] == \
        [(s.get("n_dequeued"), s.get("n_items")) for s in ref_sum]


def test_append_counted_empty_append_is_meta_only(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    from goskyr_spark.spark.store import SnapshotTable

    schema = StructType([StructField("a", StringType()),
                         StructField("b", LongType())])
    t = SnapshotTable(str(tmp_path), "t")
    n, files = t.append_counted(
        spark.createDataFrame([("x", 1)], schema).coalesce(1), {"round": 0})
    assert n == 1 and len(files) == 1
    head_before = t.head()
    n2, files2 = t.append_counted(spark.createDataFrame([], schema),
                                  {"round": 1})
    assert n2 == 0 and files2 == []
    # a meta commit happened, but no new files joined the manifest
    assert t.head() == head_before + 1
    assert len(t.manifest()["files"]) == 1
    assert t.row_count() == 1


def test_append_arrow_bucketed_records_bucket_map(tmp_path):
    import pyarrow as pa

    from goskyr_spark.spark.store import SnapshotTable

    t = SnapshotTable(str(tmp_path), "t")
    tables = {3: pa.table({"host": ["a"], "n": [1]}),
              7: pa.table({"host": ["b"], "n": [2]})}
    t.append_arrow_bucketed(tables, {"round": 0, "bucket_mod": 8})
    t.append_arrow(pa.table({"host": ["c"], "n": [3]}), {"round": 1})
    t.append_arrow_bucketed({1: pa.table({"host": ["d"], "n": [4]})},
                            {"round": 2, "bucket_mod": 2})
    # (bucket, modulus) per live file; a plain write is (0, 1)
    assert sorted(t.bucket_map().values()) == [(0, 1), (1, 2), (3, 8),
                                               (7, 8)]
    assert t.row_count() == 4


def test_pq_train_joint_matches_per_subspace_reference(spark):
    """The joint-iteration pq_train must equal the definitional
    per-subspace training loop (slice, then ivf_train each subspace
    independently) — books and final stats bit-identical."""
    from pyspark.sql import functions as F

    from goskyr_spark.ops.similarity import ivf_train, pq_train
    from goskyr_spark.queries import embeddings

    emb = embeddings(spark, "/root/testdata/sf0.001")
    m, k, n_iter = 2, 4, 2
    books, stats = pq_train(emb, m=m, n_centroids=k, n_iter=n_iter)

    dim = len(emb.orderBy("vec_id").select("embedding").first()[0])
    d_sub = dim // m
    ref_books = []
    ref_stats = []
    for s in range(m):
        sub = emb.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), s * d_sub + 1, d_sub)
            .alias("embedding"))
        cents, st = ivf_train(sub, n_centroids=k, n_iter=n_iter)
        ref_books.append(cents)
        ref_stats.extend(
            (s, int(r["centroid"]), int(r["i"]), int(r["sum_v"]),
             int(r["n_members"]))
            for r in st.collect())
    assert books == ref_books
    got = [(int(r["subspace"]), int(r["centroid"]), int(r["i"]),
            int(r["sum_v"]), int(r["n_members"]))
           for r in stats.collect()]
    assert got == sorted(ref_stats)


def test_minhash_capped_single_signature_pass(spark):
    """The capped LSH bucket query computes the shingle+signature
    aggregation exactly ONCE (the pre-round-7 three-branch form ran it
    three times — one full corpus pass per branch)."""
    import contextlib
    import io

    from goskyr_spark.queries import q_dedup_minhash_lsh_capped

    df = q_dedup_minhash_lsh_capped(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Scan parquet") // 2 <= 1, plan
