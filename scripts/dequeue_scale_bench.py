"""Dequeue microbench at a LARGE pending set: 8M frontier rows over
80k hosts — time the window dequeue vs the bucketed per-bucket dequeue
on identical tables, and verify they dequeue the same (url, _host_seq)
pairs.

``python dequeue_scale_bench.py history`` runs the crawl-length
independence phase instead: per-round dequeue cost as fetched history
accumulates, with and without a trailing frontier compaction — the
compaction-pruned anti-join (window AND bucketed paths) must stay FLAT
while the unpruned cost grows with history."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F

from goskyr_spark.spark.crawl import (CrawlEngine, FETCHED_SCHEMA,
                                      FRONTIER_SCHEMA, round_plan)
from goskyr_spark.spark.session import get_spark
from goskyr_spark.synth import event_scraper

spark = get_spark(app="dq-scale", master="local[16]",
                  shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")


def history_phase():
    """Per-round dequeue cost vs accumulated fetched history.

    Frontier: FIXED 1M pending rows. Fetched: R append-commits of 1M
    rows each, all DISJOINT from the frontier (so the pending set — and
    the correct dequeue output — is identical every round; only the
    history size changes). Two engines on two workdirs:

      grow: no compaction ever → anti-join reads ALL fetched files;
            per-round cost must grow with history.
      flat: after each round the frontier is rewritten with a
            compaction marker at that round → _antijoin_fetched_files
            prunes to rounds > r, i.e. ZERO files here; per-round cost
            must stay flat however long the crawl ran.

    Both the window and the bucketed dequeue are timed each round."""
    import shutil

    R = 8
    NPEND = 1_000_000
    NHIST = 1_000_000
    HOSTS = 20_000

    def mk_frontier(eng):
        return (spark.range(NPEND)
                .withColumn("host",
                            F.concat(F.lit("h"),
                                     (F.col("id") % HOSTS).cast("string"),
                                     F.lit(".test")))
                .withColumn("url", F.concat(F.lit("https://"),
                                            F.col("host"), F.lit("/p/"),
                                            F.col("id")))
                .withColumn("url_hash", F.xxhash64("url"))
                .withColumn("priority", (F.col("id") % 7).cast("double"))
                .withColumn("depth", (F.col("id") % 7))
                .withColumn("discovered_round", F.lit(0).cast("long"))
                .withColumn("page_no", F.lit(1).cast("long"))
                .select(*[f.name for f in FRONTIER_SCHEMA.fields]))

    def mk_fetched(rnd):
        # /f/ path space: disjoint from the frontier's /p/ URLs
        return (spark.range(NHIST)
                .withColumn("host",
                            F.concat(F.lit("h"),
                                     (F.col("id") % HOSTS).cast("string"),
                                     F.lit(".test")))
                .withColumn("url", F.concat(F.lit("https://"),
                                            F.col("host"),
                                            F.lit(f"/f/{rnd}/"),
                                            F.col("id").cast("string")))
                .withColumn("url_hash", F.xxhash64("url"))
                .withColumn("round", F.lit(rnd).cast("long"))
                .withColumn("fetch_seq", F.lit(1).cast("long"))
                .withColumn("fetch_ts", F.lit(0.0))
                .withColumn("status", F.lit("ok"))
                .withColumn("n_items", F.lit(0).cast("long"))
                .withColumn("n_errors", F.lit(0).cast("long"))
                .select(*[f.name for f in FETCHED_SCHEMA.fields]))

    engines = {}
    for label in ("grow", "flat"):
        wd = f"/tmp/goskyr-dqhist-{label}"
        shutil.rmtree(wd, ignore_errors=True)
        e = CrawlEngine(spark, wd, None, event_scraper,
                        ["https://seed.test/"], live_fetcher=lambda: None,
                        frontier_buckets=64, per_host_budget=64,
                        round_budget=100_000, fetch_partitions=32)
        e._hostpart_write(e.t_frontier, mk_frontier(e), {"round": 0})
        engines[label] = e

    times = {("grow", "win"): [], ("grow", "bkt"): [],
             ("flat", "win"): [], ("flat", "bkt"): []}
    counts = {}
    for rnd in range(1, R + 1):
        hist = mk_fetched(rnd)
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
            plan = round_plan(**e._measure_sizes())
            for kind, fn in (("win", lambda: e._dequeue_window(plan)),
                             ("bkt", e._dequeue_bucketed)):
                t0 = time.time()
                n = fn().count()
                times[(label, kind)].append(time.time() - t0)
                counts[(label, kind)] = n
            e._release_round()
            if rnd in (1, R):
                print(f"RESULT {label} r{rnd}: aj_files={len(aj)} "
                      f"win={times[(label, 'win')][-1]:.2f}s "
                      f"bkt={times[(label, 'bkt')][-1]:.2f}s",
                      flush=True)
    assert len(set(counts.values())) == 1, counts   # same dequeue out
    for key, ts in sorted(times.items()):
        label, kind = key
        # growth factor: mean of last two rounds vs first two (warm-up
        # noise averaged out)
        g = (ts[-1] + ts[-2]) / (ts[0] + ts[1])
        print(f"RESULT {label}/{kind}: per-round "
              + " ".join(f"{t:.2f}" for t in ts)
              + f" | last/first growth {g:.2f}x", flush=True)
    flat_g = max((times[('flat', k)][-1] + times[('flat', k)][-2])
                 / (times[('flat', k)][0] + times[('flat', k)][1])
                 for k in ("win", "bkt"))
    print(f"RESULT history-independent: {flat_g:.2f}x (flat paths; "
          f"pass if ~1.0 while grow paths climb)", flush=True)


if len(sys.argv) > 1 and sys.argv[1] == "history":
    history_phase()
    sys.exit(0)

N = 8_000_000
HOSTS = 80_000
eng = CrawlEngine(spark, "/tmp/goskyr-dqscale-wd", None, event_scraper,
                  ["https://seed.test/"], live_fetcher=lambda: None,
                  frontier_buckets=64, per_host_budget=64,
                  round_budget=100_000, fetch_partitions=32)

base = (spark.range(N)
        .withColumn("host", F.concat(F.lit("h"),
                                     (F.col("id") % HOSTS).cast("string"),
                                     F.lit(".test")))
        .withColumn("url", F.concat(F.lit("https://"), F.col("host"),
                                    F.lit("/p/"), F.col("id")))
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn("priority", (F.col("id") % 7).cast("double"))
        .withColumn("depth", (F.col("id") % 7))
        .withColumn("discovered_round", F.lit(0).cast("long"))
        .withColumn("page_no", F.lit(1).cast("long"))
        .select(*[f.name for f in FRONTIER_SCHEMA.fields]))
# 10% already fetched
fetched = (base.filter(F.col("url_hash") % 10 == 0)
           .select("url", "url_hash", "host")
           .withColumn("round", F.lit(0).cast("long"))
           .withColumn("fetch_seq", F.lit(1).cast("long"))
           .withColumn("fetch_ts", F.lit(0.0))
           .withColumn("status", F.lit("ok"))
           .withColumn("n_items", F.lit(0).cast("long"))
           .withColumn("n_errors", F.lit(0).cast("long"))
           .select(*[f.name for f in FETCHED_SCHEMA.fields]))

eng._hostpart_write(eng.t_frontier, base, {"round": 0})
eng._hostpart_write(eng.t_fetched, fetched, {"round": 0})


plan = round_plan(**eng._measure_sizes())


def window_dequeue():
    return eng._dequeue_window(plan)


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


tw = timed(window_dequeue, "window")
tb = timed(eng._dequeue_bucketed, "bucketed")
print(f"RESULT speedup: {tw / tb:.2f}x", flush=True)



def pairs(df):
    return sorted((r["url"], r["_host_seq"])
                  for r in df.select("url", "_host_seq").collect())


# identical (url, per-host rank) pairs
print("RESULT identical:",
      pairs(window_dequeue()) == pairs(eng._dequeue_bucketed()), flush=True)
