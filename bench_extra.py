#!/usr/bin/env python
"""Extra benchmarks / profiling for the optimization round (bench.py is
frozen — this file holds the measurement tooling the guide §1 asks for:
per-phase crawl timing and per-round Spark job counts, noop-sink query
isolation, plan captures).

Usage:
  python bench_extra.py crawl [default|bucketed|adaptive] [--rounds N]
  python bench_extra.py queries <name> [name...]   # noop-sink isolation
  python bench_extra.py plans <name> [name...]     # explain(formatted)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict
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

    return get_spark(app=f"bench-extra-{cores}", master=f"local[{cores}]",
                     shuffle_partitions=max(cores, 8))


def profile_crawl(mode="default"):
    """Same spec as bench.py's bench_crawl, but reports per-round AND
    per-phase wall times (CrawlEngine.last_phases) and each round's
    Spark job count (one job group per round), bootstrap's (the pages
    layout included) first."""
    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.synth import SynthSpec, event_scraper, host_name, \
        synth_pages_df
    from perfbench.jobledger import JobLedger

    cores = int(os.environ.get("GOSKYR_CRAWL_CORES", str(min(CPUS, 16))))
    spark = make_spark(cores)
    n_hosts = max(8, int(500 * SF / 0.1))
    spec = SynthSpec(n_hosts=n_hosts, pages_per_host=2, items_per_page=12,
                     hot_hosts=max(1, n_hosts // 100), hot_factor=4)
    pages = synth_pages_df(spark, spec, include_fixtures=False,
                           num_partitions=cores * 2).cache()
    pages.count()
    seeds = [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]
    kw = {}
    if mode == "bucketed":
        from bench import SMALL_BUCKET_BYTES
        from goskyr_spark.spark import crawl

        crawl.BUCKET_BYTES = SMALL_BUCKET_BYTES  # for this process
    elif mode == "adaptive":
        kw["adaptive_priority"] = True
    ledger = JobLedger(spark, "bench-extra")
    for attempt in ("warm", "timed"):
        wd = tempfile.mkdtemp(prefix="goskyr-prof-")
        try:
            eng = CrawlEngine(spark, wd, pages, event_scraper, seeds,
                              now=NOW, fetch_partitions=cores * 2,
                              round_budget=10_000_000, **kw)
            t0 = time.time()
            phase_tot = defaultdict(float)
            rounds = []
            last = eng.recover()
            boot = None
            if last is None:  # run()'s rule: no complete bootstrap
                tb = time.time()
                with ledger.group(f"{attempt}.bootstrap") as gid:
                    eng.bootstrap()
                phase_tot["bootstrap"] = time.time() - tb
                # the pages layout is bootstrap's first phase
                boot = ([(n, round(x, 2)) for n, x in eng.last_phases],
                        gid)
                last = -1
            r = last + 1
            while r < 50:
                with ledger.group(f"{attempt}.round{r}") as gid:
                    s = eng.run_round(r)
                for name, secs in eng.last_phases:
                    phase_tot[name] += secs
                rounds.append((r, s.get("n_dequeued", 0),
                               round(s.get("wall_secs", 0.0), 2),
                               [(n, round(x, 2)) for n, x in
                                eng.last_phases], gid))
                if s["n_dequeued"] == 0:
                    break
                r += 1
            wall = time.time() - t0
            if attempt == "timed":
                n = sum(x[1] for x in rounds)
                print(f"\n=== crawl mode={mode} wall={wall:.2f}s "
                      f"urls={n} ({n / wall:.1f}/s) ===")
                if boot:
                    print(f" bootstrap: jobs={ledger.counts(boot[1])[0]}  "
                          f"{boot[0]}")
                for rr, nd, w, ph, gid in rounds:
                    print(f" round {rr}: n={nd} wall={w}s "
                          f"jobs={ledger.counts(gid)[0]}  {ph}")
                print(" phase totals:",
                      json.dumps({k: round(v, 2) for k, v in
                                  sorted(phase_tot.items(),
                                         key=lambda kv: -kv[1])}))
        finally:
            shutil.rmtree(wd, ignore_errors=True)
    pages.unpersist()
    spark.stop()


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def profile_queries(names):
    """noop-sink isolation per guide §1.4: time each query's full
    computation (every column of every row), warm-up + best-of-2."""
    from goskyr_spark.queries import all_queries, extra_queries

    spark = make_spark(CPUS)
    qs = dict(extra_queries())
    qs.update(all_queries())
    if names == ["all"]:
        names = list(qs)
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"noop:{name}")
        fn = qs[name]
        _noop(fn(spark, SF_DIR))  # warm-up
        best = None
        for _ in range(2):
            t0 = time.time()
            _noop(fn(spark, SF_DIR))
            w = time.time() - t0
            best = w if best is None else min(best, w)
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}s")
    print(json.dumps(out))
    spark.stop()


def dump_plans(names, outdir="plans/r07", suffix="before"):
    from goskyr_spark.queries import all_queries, extra_queries

    spark = make_spark(CPUS)
    qs = dict(extra_queries())
    qs.update(all_queries())
    if names == ["all"]:
        names = list(all_queries())
    os.makedirs(outdir, exist_ok=True)
    import contextlib
    import io

    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {outdir}/{name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "crawl"
    if cmd == "crawl":
        profile_crawl(sys.argv[2] if len(sys.argv) > 2 else "default")
    elif cmd == "queries":
        profile_queries(sys.argv[2:])
    elif cmd == "plans":
        suffix = "before"
        args = sys.argv[2:]
        if args and args[0].startswith("--suffix="):
            suffix = args[0].split("=", 1)[1]
            args = args[1:]
        dump_plans(args, suffix=suffix)
    else:
        print(__doc__)
