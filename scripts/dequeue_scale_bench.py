"""Dequeue microbench at a LARGE pending set.

``python dequeue_scale_bench.py [ROWS]`` (default 2,000,000): ROWS
frontier rows over ROWS/100 hosts, 10% of them already fetched. Times
the cluster dequeue (`CrawlEngine._dequeue_cluster`) on two layouts of
the same rows — flat (one plain write, every file (0, 1)) and rewritten
at the modulus the engine's rule picks for their bytes — warm-up then
best of 2, and checks that each gives the driver dequeue's (url,
_host_seq) pairs. The driver dequeue (`CrawlEngine._dequeue_driver`,
pyarrow over the same files, no Spark job) is timed too, best of 2
from cold reads of the files. `local[SPARK_GRAFT_CPUS]` (default: all
cores) with fetch_partitions = cores.

``python dequeue_scale_bench.py history`` runs the crawl-length
independence phase instead: per-round cluster dequeue cost as fetched
history accumulates, with and without a trailing frontier compaction —
the compaction-pruned anti-join must stay FLAT while the unpruned cost
grows with history."""
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F

from goskyr_spark.spark.crawl import (CrawlEngine, FETCHED_SCHEMA,
                                      FRONTIER_SCHEMA, _bucket_mod)
from goskyr_spark.spark.session import get_spark
from goskyr_spark.synth import event_scraper

CORES = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
spark = get_spark(app="dq-scale", master=f"local[{CORES}]",
                  shuffle_partitions=2 * CORES)
spark.sparkContext.setLogLevel("ERROR")


def engine(wd):
    shutil.rmtree(wd, ignore_errors=True)
    return CrawlEngine(spark, wd, None, event_scraper, ["https://seed.test/"],
                       live_fetcher=lambda: None, per_host_budget=64,
                       round_budget=100_000, fetch_partitions=CORES)


def frontier_rows(n, hosts, path="p"):
    return (spark.range(n)
            .withColumn("host", F.concat(F.lit("h"),
                                         (F.col("id") % hosts).cast("string"),
                                         F.lit(".test")))
            .withColumn("url", F.concat(F.lit("https://"), F.col("host"),
                                        F.lit(f"/{path}/"), F.col("id")))
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("priority", (F.col("id") % 7).cast("double"))
            .withColumn("depth", (F.col("id") % 7))
            .withColumn("discovered_round", F.lit(0).cast("long"))
            .withColumn("page_no", F.lit(1).cast("long"))
            .select(*FRONTIER_SCHEMA.names))


def fetched_rows(frontier, rnd=0):
    return (frontier.select("url", "url_hash", "host")
            .withColumn("round", F.lit(rnd).cast("long"))
            .withColumn("fetch_seq", F.lit(1).cast("long"))
            .withColumn("fetch_ts", F.lit(0.0))
            .withColumn("status", F.lit("ok"))
            .withColumn("n_items", F.lit(0).cast("long"))
            .withColumn("n_errors", F.lit(0).cast("long"))
            .select(*FETCHED_SCHEMA.names))


def rule_layout(eng):
    """Set the engine's sizes from its tables and rewrite frontier and
    fetched at the modulus its rule picks for them."""
    eng._sizes = eng._measure_sizes()
    for t, schema in ((eng.t_frontier, FRONTIER_SCHEMA),
                      (eng.t_fetched, FETCHED_SCHEMA)):
        eng._hostpart_write(t, t.read(spark, schema=schema), {"round": 0},
                            mode="overwrite")
    return _bucket_mod(eng._sizes["dequeue_bytes"])


def history_phase():
    """Per-round cluster dequeue cost vs accumulated fetched history.

    Frontier: FIXED 1M pending rows. Fetched: R append-commits of 1M
    rows each, all DISJOINT from the frontier (so the pending set — and
    the correct dequeue output — is identical every round; only the
    history size changes). Two engines on two workdirs, frontier at the
    rule's modulus:

      grow: no compaction ever → anti-join reads ALL fetched files;
            per-round cost must grow with history.
      flat: after each round the frontier is rewritten with a
            compaction marker at that round → _antijoin_fetched_files
            prunes to rounds > r, i.e. ZERO files here; per-round cost
            must stay flat however long the crawl ran."""
    R, NPEND, NHIST, HOSTS = 8, 1_000_000, 1_000_000, 20_000
    engines = {}
    for label in ("grow", "flat"):
        e = engine(f"/tmp/goskyr-dqhist-{label}")
        e._hostpart_write(e.t_frontier, frontier_rows(NPEND, HOSTS),
                          {"round": 0})
        rule_layout(e)
        engines[label] = e

    times = {"grow": [], "flat": []}
    counts = {}
    for rnd in range(1, R + 1):
        # /f/ path space: disjoint from the frontier's /p/ URLs
        hist = fetched_rows(frontier_rows(NHIST, HOSTS, f"f/{rnd}"), rnd)
        for label, e in engines.items():
            e._hostpart_write(e.t_fetched, hist, {"round": rnd})
            if label == "flat":
                # trailing compaction: pending set unchanged, marker
                # round = rnd → anti-join prunes all fetched files
                e._hostpart_write(
                    e.t_frontier,
                    e.t_frontier.read(spark, schema=FRONTIER_SCHEMA),
                    {"round": rnd, "compacted": True}, mode="overwrite")
            aj, _ = e._antijoin_fetched_files()
            t0 = time.time()
            counts[label] = e._dequeue_cluster().count()
            times[label].append(time.time() - t0)
            e._release_round()
            if rnd in (1, R):
                print(f"RESULT {label} r{rnd}: aj_files={len(aj)} "
                      f"cluster={times[label][-1]:.2f}s", flush=True)
    assert len(set(counts.values())) == 1, counts   # same dequeue out
    growth = {}
    for label, ts in sorted(times.items()):
        # mean of last two rounds vs first two (warm-up noise averaged)
        growth[label] = (ts[-1] + ts[-2]) / (ts[0] + ts[1])
        print(f"RESULT {label}: per-round "
              + " ".join(f"{t:.2f}" for t in ts)
              + f" | last/first growth {growth[label]:.2f}x", flush=True)
    print(f"RESULT history-independent: {growth['flat']:.2f}x (flat; "
          f"pass if ~1.0 while grow climbs)", flush=True)


def timed(fn, label):
    fn().count()  # warm-up
    best = None
    for _ in range(2):
        t0 = time.time()
        n = fn().count()
        el = time.time() - t0
        best = el if best is None else min(best, el)
    print(f"RESULT {label}: {best:.2f}s ({n} rows)", flush=True)
    return best


def pairs(df):
    return sorted((r["url"], r["_host_seq"])
                  for r in df.select("url", "_host_seq").collect())


def scale_phase(n):
    eng = engine("/tmp/goskyr-dqscale-wd")
    base = frontier_rows(n, max(1, n // 100))
    eng._hostpart_write(eng.t_frontier, base, {"round": 0})
    eng._hostpart_write(eng.t_fetched, fetched_rows(
        base.filter(F.col("url_hash") % 10 == 0)), {"round": 0})
    best = None
    for _ in range(2):
        eng._file_cache = {}  # the driver dequeue's Arrow copies
        t0 = time.time()
        driver = eng._dequeue_driver()
        el = time.time() - t0
        best = el if best is None else min(best, el)
    print(f"RESULT driver: {best:.2f}s ({driver.num_rows} rows)", flush=True)
    want = sorted(zip(driver["url"].to_pylist(),
                      driver["_host_seq"].to_pylist()))
    del driver
    eng._file_cache = {}
    for layout in ("flat", "rule"):
        if layout == "rule":
            mod = rule_layout(eng)
            print(f"RESULT modulus: {mod} (dequeue input "
                  f"{eng._sizes['dequeue_bytes'] / 2**20:.1f} MB)", flush=True)
        timed(eng._dequeue_cluster, f"cluster_{layout}")
        print(f"RESULT identical_{layout}:",
              pairs(eng._dequeue_cluster()) == want, flush=True)
        eng._release_round()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "history":
        history_phase()
    else:
        scale_phase(int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000)
