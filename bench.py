#!/usr/bin/env python
"""Benchmark harness.

Headline metric (BASELINE.json): URLs fetched+extracted/sec through the
crawl engine, plus the two-cluster-size scaling evidence the north rule
requires — the same job at local[N/4] and local[N] on the same input,
reporting throughput at both and efficiency (thr_N / thr_N4) / 4.

Prints ONE JSON line:
  {"metric": "crawl_urls_per_sec", "value": <urls/sec at local[N]>,
   "unit": "sec", "queries": {...per-query seconds...}, "sf": <sf>,
   "scaling": {...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     GOSKYR_BENCH_SCALING=0 to skip the second (small-parallelism) run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


def sf_of(path):
    base = os.path.basename(path.rstrip("/"))
    return float(base[2:]) if base.startswith("sf") else 0.1


SF = sf_of(SF_DIR)


def make_spark(cores):
    from goskyr_spark.spark.session import get_spark

    return get_spark(app=f"bench-{cores}", master=f"local[{cores}]",
                     shuffle_partitions=max(cores, 8))


def crawl_spec():
    from goskyr_spark.synth import SynthSpec

    # wide + shallow: ~3 fat rounds (per-round fixed overhead amortizes);
    # ~14k pages at sf0.1, scales linearly with sf
    n_hosts = max(8, int(500 * SF / 0.1))
    return SynthSpec(n_hosts=n_hosts, pages_per_host=2, items_per_page=12,
                     hot_hosts=max(1, n_hosts // 100), hot_factor=4)


# BUCKET_BYTES for the small-bucket crawl: the ~0.6 MB dequeue input of
# crawl_spec() at sf0.1 then grows the host-bucket modulus 1 → 32
SMALL_BUCKET_BYTES = 32 << 10


@contextmanager
def small_buckets(n=SMALL_BUCKET_BYTES):
    """Run the crawl engine with BUCKET_BYTES = n inside the block, so
    its host-keyed tables are written under a modulus that doubles
    several times mid-crawl."""
    from goskyr_spark.spark import crawl

    saved, crawl.BUCKET_BYTES = crawl.BUCKET_BYTES, n
    try:
        yield
    finally:
        crawl.BUCKET_BYTES = saved


def crawl_state_digest(eng, spark):
    """Order-sensitive digest of the crawl's observable state: fetch
    order + statuses + the final seen set."""
    import hashlib

    h = hashlib.sha256()
    for r in eng.t_fetched.read(spark).orderBy("round", "fetch_seq") \
            .select("round", "fetch_seq", "url", "status").collect():
        h.update(f"{r['round']}|{r['fetch_seq']}|{r['url']}|{r['status']}"
                 .encode())
    for r in eng.t_seen.read(spark).orderBy("url").select("url").collect():
        h.update(r["url"].encode())
    return h.hexdigest()[:16]


def slab_digest(eng, spark):
    """Digest of every slab row (slab_id, round, bloom, cuckoo, count,
    capacity): equal across round plans, since every plan builds the
    same slab rows."""
    import hashlib

    h = hashlib.sha256()
    for r in eng.t_slabs.read(spark).orderBy("slab_id", "round").select(
            "slab_id", "round", "bloom", "cuckoo", "count", "capacity") \
            .collect():
        h.update(f"{r['slab_id']}|{r['round']}|{r['count']}|"
                 f"{r['capacity']}|".encode())
        h.update(bytes(r["bloom"]) + b"|" + bytes(r["cuckoo"]))
    return h.hexdigest()[:16]


def bench_crawl(spark, cores, digest=False, **engine_kw):
    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.synth import event_scraper, host_name, synth_pages_df

    spec = crawl_spec()
    pages = synth_pages_df(spark, spec, include_fixtures=False,
                           num_partitions=cores * 2).cache()
    pages.count()
    seeds = [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]
    wd = tempfile.mkdtemp(prefix="goskyr-bench-")
    try:
        eng = CrawlEngine(spark, wd, pages, event_scraper, seeds, now=NOW,
                          fetch_partitions=cores * 2,
                          round_budget=10_000_000, **engine_kw)
        t0 = time.time()
        summaries = eng.run(max_rounds=50)
        wall = time.time() - t0
        n_fetched = sum(s.get("n_dequeued", 0) for s in summaries)
        n_items = sum(s.get("n_items", 0) for s in summaries)
        out = {"wall": wall, "urls": n_fetched, "items": n_items,
               "urls_per_sec": n_fetched / wall if wall else 0.0}
        if digest:
            out["digest"] = crawl_state_digest(eng, spark)
            out["slab_digest"] = slab_digest(eng, spark)
        return out
    finally:
        pages.unpersist()
        shutil.rmtree(wd, ignore_errors=True)


def _best_of(fn, reps=2):
    """Measurement hygiene (same protocol as bench_fetch_extract): warm
    up, then the fastest of ``reps`` timed runs counts — single unwarmed
    measurements were ±40% noisy (round-2 verdict, 'what's wrong' #1).

    Round-4 refinement: warm-up repeats until it stabilizes (next run
    within 1.5× of the previous, max 3 passes) — one pass JITs the
    kernel path and fills the page cache, but the heavier codegen'd
    plans (posting-list jaccard, PQ/IVF) showed a 2× tail on their
    SECOND run too when the JVM was young (measured: 14.7 → 6.9 → 6.6 s
    on dedup_jaccard in a fresh session), which best-of-2 alone
    mis-reports as a slow query."""
    prev = None
    for _ in range(3):
        t0 = time.time()
        fn()
        wall = time.time() - t0
        if prev is not None and wall <= prev * 1.5:
            break
        prev = wall
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn()
        wall = time.time() - t0
        best = wall if best is None else min(best, wall)
    return best


def bench_extract(spark, cores):
    """Extraction-kernel throughput: full goskyr pipeline over pages
    synthesized from the documents table (no crawl machinery).
    Warm-up + best-of-2."""
    from goskyr_spark.queries import q_ex_items_explode

    n = q_ex_items_explode(spark, SF_DIR).count()
    wall = _best_of(lambda: q_ex_items_explode(spark, SF_DIR).count())
    return {"wall": wall, "rows": n,
            "rows_per_sec": n / wall if wall else 0.0}


def heavy_spec():
    """Realistic-page corpus for the scaling measurement: ~60 KB list
    pages with 250 items each (news-archive shape), no detail pages — the
    fetch+extract stage dominates (~300 core-seconds at sf0.1), which is
    exactly the per-URL work that scales with executors at production
    size."""
    from goskyr_spark.synth import SynthSpec

    n_hosts = max(16, int(2500 * SF / 0.1))
    return SynthSpec(n_hosts=n_hosts, pages_per_host=4, items_per_page=250,
                     hot_hosts=max(1, n_hosts // 100), hot_factor=2,
                     include_details=False)


def _heavy_corpus_path():
    return os.path.join(tempfile.gettempdir(),
                        f"goskyr-heavy-sf{SF}.parquet")


def bench_fetch_extract(spark, cores):
    """The north-rule scaling job: fetch+extract every list page of the
    heavy corpus through the full stage-1 pipeline (same kernel path the
    crawl uses), measured as urls/sec. The corpus is written to parquet
    once so both parallelism levels read the identical input.

    Measurement hygiene: the job is a pure scan→mapInArrow (no shuffle —
    small maxPartitionBytes yields enough input splits for even task
    distribution at any width, instead of a timed repartition whose
    serial shuffle I/O would understate scaling); one small warm-up pass
    JITs the kernel path, then the job runs twice and the faster run
    counts (one-off GC/page-cache noise otherwise dominates a ±3% gate)."""
    from goskyr_spark.spark.pipeline import extract_stage1
    from goskyr_spark.synth import event_scraper, synth_pages_df

    path = _heavy_corpus_path()
    if not os.path.exists(path):
        spec = heavy_spec()
        synth_pages_df(spark, spec, include_fixtures=False,
                       num_partitions=64).write.parquet(path)
    # ~600 MB of pages / 4 MB splits ≈ 150 map tasks — even at local[16]
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 20))
    lists = spark.read.parquet(path).filter(F_contains_list())
    n_urls = lists.count()
    scraper = event_scraper("host0000.test")

    def run(df):
        t0 = time.time()
        n_items = (extract_stage1(df, scraper, now=NOW)
                   .filter("item_idx >= 0").count())
        return time.time() - t0, n_items

    run(lists.limit(max(64, n_urls // 20)))  # warm-up: JIT + page cache
    wall, n_items = run(lists)
    wall2, _ = run(lists)
    wall = min(wall, wall2)
    return {"wall": wall, "urls": n_urls, "items": n_items,
            "urls_per_sec": n_urls / wall if wall else 0.0}


def F_contains_list():
    from pyspark.sql import functions as F

    return F.col("url").contains("/list/")


_LIVE_CFG = """
scrapers:
  - name: live
    url: x
    item: div.e
    fields:
      - name: t
        location: {selector: span.t}
      - name: next
        type: url
        can_be_empty: true
        location: {selector: a.next, attr: href}
"""


def bench_live_crawl(spark, cores, crawl_delay=0.02):
    """Real-socket crawl throughput: the live fetch path (HTTP GETs,
    robots.txt per host, wall-clock crawl-delay sleeps) against a local
    multi-host site. Distinct hosts are distinct 127.0.0.0/8 loopback
    addresses served by ONE threading server bound to 0.0.0.0 —
    the engine keys politeness by host, so each address is an
    independent politeness domain, exactly like distinct servers.

    With the default Crawl-delay 0.02 the reported urls/sec is a
    politeness-bound floor — it includes mandatory sleeps, robots
    fetches, and extraction, i.e. the number a production operator
    would see. With crawl_delay=0 the sleeps vanish and the connection
    path itself is the floor — the row that shows the keep-alive
    (requests.Session) gain: a fetcher lives for one fetch task, so the
    GETs of one round to one host share a TCP connection; each round
    opens new ones (a host's chain takes one page per round).

    The server sends each response in one write with Nagle's algorithm
    off: headers and body written separately stall every reused
    keep-alive connection on the client's delayed ACK (~40 ms a GET)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from goskyr_spark.config import loads_config
    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.spark.fetchers import StaticFetcher

    n_hosts = max(16, int(250 * SF / 0.1))
    pages_per_host = 6
    robots = f"User-agent: *\nCrawl-delay: {crawl_delay:g}\n".encode()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def do_GET(self):
            status, body = "200 OK", b""
            if self.path == "/robots.txt":
                body = robots
            elif self.path.startswith("/list/"):
                p = int(self.path.rsplit("/", 1)[1])
                items = "".join(
                    f'<div class="e"><span class="t">i{p}-{i}</span></div>'
                    for i in range(12))
                nxt = (f'<div class="e"><span class="t">n</span>'
                       f'<a class="next" href="/list/{p + 1}">n</a></div>'
                       if p < pages_per_host else "")
                body = (items + nxt).encode()
            else:
                status = "404 Not Found"
            self.wfile.write(f"HTTP/1.1 {status}\r\n"
                             f"Content-Type: text/html\r\n"
                             f"Content-Length: {len(body)}\r\n\r\n"
                             .encode() + body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("0.0.0.0", 0), Handler)
    srv.daemon_threads = True
    port = srv.server_port
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    def host(i):
        return f"127.0.{i // 250}.{i % 250 + 1}"

    seeds = [f"http://{host(i)}:{port}/list/1" for i in range(n_hosts)]
    scraper = loads_config(_LIVE_CFG).scrapers[0]
    wd = tempfile.mkdtemp(prefix="goskyr-live-bench-")
    try:
        eng = CrawlEngine(spark, wd, None, lambda h: scraper, seeds,
                          now=NOW, fetch_partitions=cores * 2,
                          round_budget=10_000_000,
                          live_fetcher=lambda: StaticFetcher(timeout=10))
        t0 = time.time()
        summaries = eng.run(max_rounds=pages_per_host + 2)
        wall = time.time() - t0
        n_fetched = sum(s.get("n_dequeued", 0) for s in summaries)
        n_items = sum(s.get("n_items", 0) for s in summaries)
        return {"wall": wall, "urls": n_fetched, "items": n_items,
                "hosts": n_hosts,
                "urls_per_sec": n_fetched / wall if wall else 0.0}
    finally:
        srv.shutdown()
        shutil.rmtree(wd, ignore_errors=True)


def bench_queries(spark):
    """Per-query wall times for the catalog's heavier operators —
    warm-up + best-of-2 per query (see _best_of). Retired demo twins
    (extra_queries) keep their bench rows for round-over-round
    comparability."""
    from goskyr_spark.queries import all_queries, extra_queries

    picks = ["ex_text_css", "ex_date", "ex_items_explode", "dedup_exact",
             "dedup_lines", "dedup_substring", "dedup_substring_cut",
             "txt_pii",
             "dedup_minhash_lsh", "dedup_minhash_lsh_capped",
             "dedup_minhash128",
             "dedup_jaccard", "dedup_jaccard_capped", "dedup_components",
             "dedup_components_capped", "dedup_incremental",
             "dedup_incremental_verified",
             "dedup_simhash", "dedup_simhash64", "dedup_embed",
             "dedup_embed_capped",
             "txt_tokens", "txt_quality", "txt_langid", "txt_fingerprint",
             "txt_bpe", "txt_bpe_real", "sim_topk", "sim_topk_batch",
             "sim_ann_lsh",
             "sim_ann_lsh_multi", "sim_ann_lsh_probed",
             "sim_ann_ivf", "sim_ann_ivf_probed",
             "sim_ivf_train", "sim_ann_ivf_trained",
             "sim_pq_train", "sim_ann_pq", "sim_ann_pq_rerank",
             "sim_ann_pq_indexed", "sim_ann_lsh_indexed",
             "sim_ann_ivf_indexed", "sim_ann_ivfpq_indexed",
             "txt_repetition", "txt_gopher_quality", "txt_c4_clean",
             "curate_gopher", "curate_corpus", "curate_corpus_capped",
             "url_canonicalize", "url_canonicalize_full",
             "mm_decode", "mm_resize", "mm_frames", "mm_audio",
             "curate_keep", "curate_decontaminate",
             "curate_decontaminate_cut", "curate_split",
             "curate_mixture", "warc_roundtrip",
             "curate_token_budget"]
    qs = dict(extra_queries())
    qs.update(all_queries())
    out = {}
    for name in picks:
        out[name] = round(
            _best_of(lambda: qs[name](spark, SF_DIR).count()), 3)
    return out


def bench_bpe_vocab(spark):
    """Production-vocab BPE (ops/bpe.py): train a >=1k-merge table from
    the sf documents corpus (one distributed histogram pass + driver
    merge loop), then the mapInPandas per-doc token count under that
    vocab. Reported separately: train is one-time, encode is the
    per-corpus-pass cost that must scale. The synthetic sf corpus has a
    ~40-word vocabulary, so training saturates near 126 merges (that IS
    full compression of this corpus — n_merges is reported); encoder
    cost is ranks-dict-size-insensitive (O(1) pair lookups), and the
    >=1k-merge parity gate is tests/test_bpe_vocab.py."""
    import time as _t

    from goskyr_spark.ops.bpe import bpe_token_count_vocab, train_bpe_df

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    t0 = _t.perf_counter()
    merges = train_bpe_df(docs, 1500)
    train_wall = _t.perf_counter() - t0
    encode_wall = _best_of(
        lambda: bpe_token_count_vocab(docs, merges).count())
    return {"train_wall": round(train_wall, 3),
            "encode_wall": round(encode_wall, 3),
            "n_merges": len(merges)}


def bench_bpe_32k(spark):
    """PRODUCTION-vocab BPE at real width (round-6): train >=32k merges
    from a char-diverse deterministic corpus (synth.charrich_docs_df —
    the sf corpus's ~40-word vocabulary saturates at 126 merges, so the
    32k demonstration needs its own corpus; generated map-only, no
    driver materialization), then the distributed mapInPandas encode
    under that vocabulary. The trainer is the lazy-heap incremental
    Sennrich loop (ops/bpe.py) — the histogram pass is the only
    corpus-sized work. cache_hit_rate is measured driver-side over a
    corpus sample (the same Zipf the executor-side per-task caches
    see); parity at this vocab is pytest-gated
    (tests/test_bpe_vocab.py::test_encoder_parity_at_32k_merges)."""
    import time as _t

    from goskyr_spark.ops.bpe import (BPEEncoder, bpe_token_count_vocab,
                                      pretokenize, train_bpe_df)
    from goskyr_spark.synth import charrich_docs_df

    docs = charrich_docs_df(spark, n_docs=20_000, words_per_doc=60)
    t0 = _t.perf_counter()
    merges = train_bpe_df(docs, 32_768)
    train_wall = _t.perf_counter() - t0
    encode_wall = _best_of(
        lambda: bpe_token_count_vocab(docs, merges).count())
    enc = BPEEncoder(merges)
    for r in docs.filter("doc_id % 40 = 0").collect():
        enc.count(r["text"])
    hit_rate = enc.hits / max(1, enc.hits + enc.misses)
    return {"train_wall": round(train_wall, 3),
            "encode_wall": round(encode_wall, 3),
            "n_merges": len(merges),
            "n_docs": 20_000,
            "cache_hit_rate": round(hit_rate, 4)}


def main():
    # --- headline crawl: each Spark core drives one JVM task thread AND
    # one Python kernel worker, so the non-oversubscribed width on this
    # machine is cores/2 (16 JVM + 16 Python = 32 runnable) — the same
    # executor sizing rule a real cluster uses for Python-kernel-heavy
    # stages. local[32] schedules 64 runnable threads and measures
    # 25-40% slower on the same crawl.
    crawl_cores = int(os.environ.get("GOSKYR_CRAWL_CORES",
                                     str(min(CPUS, 16))))
    spark = make_spark(crawl_cores)
    # best-of-2 for the HEADLINE metric too: the first crawl of a fresh
    # JVM runs 30-50% slower (codegen JIT, page cache, Python worker
    # pool spin-up) — same hygiene as every other bench row
    crawl_a = bench_crawl(spark, crawl_cores, digest=True)
    crawl_b = bench_crawl(spark, crawl_cores, digest=True)
    crawl_big = min(crawl_a, crawl_b, key=lambda c: c["wall"])
    # the 10^10 layout: host-keyed tables written under a host-bucket
    # modulus that grows mid-crawl (small BUCKET_BYTES) — measured at
    # the same scale and REQUIRED to reproduce the default digest
    with small_buckets():
        crawl_bucketed = bench_crawl(spark, crawl_cores, digest=True)
    # adaptive host priority: same crawl with the fetch-history feedback
    # fold-in — measures the per-round host-aggregation overhead (the
    # digest legitimately differs: scheduling changes by design)
    crawl_adaptive = bench_crawl(spark, crawl_cores,
                                 adaptive_priority=True)
    spark.stop()
    assert crawl_a["digest"] == crawl_b["digest"]

    # --- full-parallelism run for the query catalog
    spark = make_spark(CPUS)
    extract_big = bench_extract(spark, CPUS)
    per_query = bench_queries(spark)
    bpe_vocab = bench_bpe_vocab(spark)
    bpe_32k = bench_bpe_32k(spark)
    # live-socket crawl (real GETs + robots + wall-clock politeness),
    # plus the zero-delay variant where the connection path is the
    # floor — the keep-alive (one Session per fetcher) evidence row
    crawl_live = bench_live_crawl(spark, CPUS)
    crawl_live0 = bench_live_crawl(spark, CPUS, crawl_delay=0)
    spark.stop()

    scaling = None
    if os.environ.get("GOSKYR_BENCH_SCALING", "1") != "0":
        # north-rule evidence: the same fetch+extract job at N and 4N
        # cores on the same parquet input. Each Spark core drives one JVM
        # task thread AND one Python kernel worker, so the biggest
        # non-oversubscribed width on this 32-core box is local[16]
        # (16 JVM + 16 Python = 32 runnable) — the same sizing rule a
        # real cluster uses for Python-kernel-heavy executors.
        big = int(os.environ.get("GOSKYR_SCALE_BIG", max(4, CPUS // 2)))
        small = int(os.environ.get("GOSKYR_SCALE_SMALL", max(1, big // 4)))
        spark3 = make_spark(big)
        fe_big = bench_fetch_extract(spark3, big)
        spark3.stop()
        spark2 = make_spark(small)
        fe_small = bench_fetch_extract(spark2, small)
        # crawl-ordering determinism across cluster sizes (north rule):
        # the same crawl at the small width must produce the identical
        # fetch order + seen set
        crawl_small = bench_crawl(spark2, small, digest=True)
        spark2.stop()
        thr_big = fe_big["urls_per_sec"]
        thr_small = fe_small["urls_per_sec"]
        scaling = {
            "job": "fetch+extract stage over heavy list pages",
            "n_urls": fe_big["urls"],
            "cores_small": small,
            "cores_big": big,
            "urls_per_sec_small": round(thr_small, 2),
            "urls_per_sec_big": round(thr_big, 2),
            "efficiency": round((thr_big / thr_small) / (big / small), 3)
            if thr_small else None,
            "crawl_order_identical":
                crawl_small.get("digest") == crawl_big.get("digest"),
        }

    per_query["crawl_full"] = round(crawl_big["wall"], 3)
    per_query["crawl_bucketed"] = round(crawl_bucketed["wall"], 3)
    per_query["crawl_adaptive"] = round(crawl_adaptive["wall"], 3)
    per_query["crawl_live"] = round(crawl_live["wall"], 3)
    per_query["crawl_live_keepalive"] = round(crawl_live0["wall"], 3)
    per_query["extract_pipeline"] = round(extract_big["wall"], 3)
    per_query["txt_bpe_vocab_train"] = bpe_vocab["train_wall"]
    per_query["txt_bpe_vocab"] = bpe_vocab["encode_wall"]
    per_query["txt_bpe_32k_train"] = bpe_32k["train_wall"]
    per_query["txt_bpe_32k"] = bpe_32k["encode_wall"]
    out = {
        "metric": "crawl_urls_per_sec",
        "value": round(crawl_big["urls_per_sec"], 2),
        "unit": "sec",
        "queries": per_query,
        "sf": SF,
        "crawl": {k: round(v, 3) if isinstance(v, float) else v
                  for k, v in crawl_big.items()},
        "crawl_bucketed": {
            k: round(v, 3) if isinstance(v, float) else v
            for k, v in crawl_bucketed.items()},
        "bucketed_digest_identical":
            crawl_bucketed.get("digest") == crawl_big.get("digest"),
        "crawl_adaptive": {
            k: round(v, 3) if isinstance(v, float) else v
            for k, v in crawl_adaptive.items()},
        "crawl_live": {k: round(v, 3) if isinstance(v, float) else v
                       for k, v in crawl_live.items()},
        "crawl_live_keepalive": {
            k: round(v, 3) if isinstance(v, float) else v
            for k, v in crawl_live0.items()},
        "extract_rows_per_sec": round(extract_big["rows_per_sec"], 2),
        "bpe_vocab": bpe_vocab,
        "bpe_32k": bpe_32k,
        "scaling": scaling,
    }
    # full results on disk (round-over-round record, no size limit)...
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH"), exist_ok=True)
    latest = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "BENCH", "latest.json")
    with open(latest, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    # ...and a COMPACT headline as the LAST printed line: the driver
    # tail-captures stdout with a bounded window (BENCH_r04's 2.3 KB
    # line was cut mid-object → "parsed": null), so the final line
    # carries only the contract fields + scaling, 2-decimal floats,
    # no spaces. Everything else lives in BENCH/latest.json.
    top = ["crawl_full", "crawl_bucketed", "crawl_adaptive", "crawl_live",
           "extract_pipeline"]
    headline = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": {k: round(per_query[k], 2) for k in top},
        "all_queries_in": "BENCH/latest.json",
        "sf": SF,
        "scaling": scaling,
        "crawl_urls_per_sec": round(crawl_big["urls_per_sec"], 2),
        "live_urls_per_sec": round(crawl_live["urls_per_sec"], 2),
        "extract_rows_per_sec": round(extract_big["rows_per_sec"], 2),
        "bucketed_digest_identical": out["bucketed_digest_identical"],
    }
    print(json.dumps(headline, separators=(",", ":")))


if __name__ == "__main__":
    main()
