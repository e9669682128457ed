#!/usr/bin/env python
"""Cluster entry point: `spark-submit --py-files goskyr_spark.zip
scripts/crawl_job.py --pages <parquet> --workdir <dir> --seeds <file>`.

Runs crawl rounds against an existing pages table (or the synthetic web)
on whatever cluster the spark-submit config provides; the engine itself
is master-agnostic — the same code runs at N and 4N executors and, by
construction (explicit sort keys everywhere), produces the identical
crawl order and seen set.
"""

from __future__ import annotations

import argparse
from datetime import datetime, timezone

from pyspark.sql import SparkSession


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--pages", default="", help="parquet pages table")
    p.add_argument("--workdir", required=True)
    p.add_argument("--seeds", default="", help="file of seed urls")
    p.add_argument("--hosts", type=int, default=50,
                   help="synthetic web size when --pages is absent")
    p.add_argument("--max-rounds", type=int, default=100)
    p.add_argument("--round-budget", type=int, default=100_000)
    p.add_argument("--per-host-budget", type=int, default=64)
    p.add_argument("--adaptive", action="store_true",
                   help="adaptive host priority (item-yield/failure "
                        "feedback from crawl history)")
    p.add_argument("--canonicalize", action="store_true",
                   help="RFC 3986-normalize outlinks + seeds before "
                        "the seen-set test")
    p.add_argument("--warc", default="",
                   help="read pages from .warc/.warc.gz files at this "
                        "path instead of --pages parquet (streamed: "
                        "task memory is O(largest record), not archive "
                        "size)")
    p.add_argument("--compact-every", type=int, default=16,
                   help="compact snapshot tables every N rounds; also "
                        "bounds the dequeue anti-join, which only reads "
                        "fetched files written AFTER the last "
                        "compaction — per-round dequeue cost tracks "
                        "work since compaction, never total crawl "
                        "history")
    args = p.parse_args()

    spark = (SparkSession.builder.appName("goskyr-crawl")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.files.maxPartitionBytes", "16m")
             .getOrCreate())

    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.synth import SynthSpec, event_scraper, host_name, \
        synth_pages_df

    if args.warc:
        from goskyr_spark.io.warc import read_warc_pages

        pages = read_warc_pages(spark, args.warc).select("url", "html")
        if args.seeds:
            seeds = [ln.strip() for ln in open(args.seeds) if ln.strip()]
        else:
            seeds = [r["url"] for r in
                     pages.select("url").orderBy("url").limit(100).collect()]
    elif args.pages:
        pages = spark.read.parquet(args.pages)
        if args.seeds:
            seeds = [ln.strip() for ln in open(args.seeds) if ln.strip()]
        else:
            seeds = [r["url"] for r in
                     pages.select("url").orderBy("url").limit(100).collect()]
    else:
        spec = SynthSpec(n_hosts=args.hosts)
        pages = synth_pages_df(spark, spec, include_fixtures=False)
        seeds = [f"https://{host_name(h)}/list/1"
                 for h in range(spec.n_hosts)]

    eng = CrawlEngine(spark, args.workdir, pages, event_scraper, seeds,
                      round_budget=args.round_budget,
                      per_host_budget=args.per_host_budget,
                      adaptive_priority=args.adaptive,
                      canonicalize_outlinks=args.canonicalize,
                      compact_every=args.compact_every,
                      now=datetime(2026, 3, 1, tzinfo=timezone.utc))
    for s in eng.run(max_rounds=args.max_rounds):
        print(s, flush=True)


if __name__ == "__main__":
    main()
