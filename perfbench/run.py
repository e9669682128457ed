#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_wide --seed 42 --seconds 10 \\
        --trace 0

Run from the repository root. Spark runs as local[N], N the number of
cores this process may use. Set-up (session start, input synthesis or
the parquet write, and a small warm-up job) is timed as ``setup_s``.
Then jobs run back to back, one at a time, until ``--seconds`` have
passed and the workload's ``min_jobs`` are done (two crawls for
``crawl_wide``, else one job). The last job's outputs are checked; a
wrong output makes the run fail (exit 1, ``"correct": false``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs
one untraced job, then traced jobs (at least one, whatever ``min_jobs``
says): spans around every call into the engine, a Spark job group per
bootstrap and round, then the layer replays. It prints the per-layer metrics and writes the spans to
``.perfbench/spans-<workload>-<seed>-<pid>.jsonl``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> {value, unit}). The line before it
holds run details (core count, per-job walls, digest, span self times).

Self-test options: ``--tiny`` shrinks every workload, ``--corrupt``
damages the checked outputs (the run must then fail).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {"urls_per_s": "urls/s", "round_p50_s": "s", "setup_s": "s",
             "success_ratio": "ratio", "driver_rss_mb": "MB"}
LAYER_UNITS = {
    "crawl.bootstrap_s": "s", "crawl.rounds": "count",
    "crawl.round_fixed_s": "s", "crawl.ms_per_url_fat": "ms",
    "crawl.jobs_per_round": "count", "crawl.tasks_total": "count",
    "crawl.failed_tasks": "count",
    "store.files_per_round": "count", "store.bytes_per_url": "B",
    "kernel.parse_ms_per_page": "ms", "kernel.select_ms_per_page": "ms",
    "kernel.scrape_ms_per_page": "ms", "kernel.items_per_page": "count",
    "pipeline.parallel_efficiency": "ratio", "pipeline.tasks": "count",
    "seen.fp_ratio": "ratio", "seen.bloom_fp_ratio": "ratio",
    "seen.probe_ns_per_key": "ns",
    "fetch.robots_gets_per_host": "count", "fetch.page_gets": "count",
    "fetch.errors": "count", "fetch.get_ms_p50": "ms",
    "fetch.get_ms_p99": "ms",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_wide", "extract_batch", "crawl_live"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    return ap.parse_args(argv)


def start_spark(cores, work, name):
    from goskyr_spark.spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app=f"perfbench-{name}", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })


def stop_spark(spark):
    """Stop Spark and wait for its JVM to exit (it exits on EOF on its
    stdin; its Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb():
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def untraced_job(wl):
    """Seconds per URL of one untraced job (for the tracing overhead)."""
    job = wl.job(traced=False)
    wl.discard(job)
    return job.wall / job.urls


def main(argv=None):
    args = parse_args(argv)
    sys.path[0:1] = [ROOT]  # the checkout root, not this directory
    try:
        import goskyr_spark
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(goskyr_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine must come from {ROOT}, not "
              f"{goskyr_spark.__file__}", file=sys.stderr)
        return 2
    from perfbench.jobledger import JobLedger
    from perfbench.spans import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # every temp file of this process, Spark and its Python workers stays
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the Spark launcher too): no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tracer = Tracer(run_id) if args.trace else NullTracer()

    spark = None
    try:
        with tracer.span("workload", workload=args.workload,
                         seed=args.seed, cores=cores):
            t0 = time.perf_counter()
            phases = {}
            with tracer.span("setup"):
                spark = start_spark(cores, work, args.workload)
                phases["session"] = time.perf_counter() - t0
                ctx = SimpleNamespace(
                    spark=spark, cores=cores, work=work, seed=args.seed,
                    tiny=args.tiny, tracer=tracer,
                    ledger=JobLedger(spark, run_id) if args.trace else None)
                wl = WORKLOADS[args.workload](ctx)
                wl.setup()
                phases["inputs"] = time.perf_counter() - t0 - \
                    phases["session"]
                wl.warmup()
            setup_s = time.perf_counter() - t0
            phases["warmup"] = setup_s - phases["inputs"] - phases["session"]

            untraced = []  # s/URL of the untraced jobs around traced ones
            if args.trace:
                untraced.append(untraced_job(wl))
            jobs = []
            min_jobs = 1 if args.trace else wl.min_jobs
            t_start = time.perf_counter()
            while True:
                if jobs:
                    wl.discard(jobs[-1])
                job = wl.job(traced=bool(args.trace))
                wl.finish(job)
                jobs.append(job)
                if len(jobs) >= min_jobs and \
                        time.perf_counter() - t_start >= args.seconds:
                    break
            rss_mb = peak_rss_mb()
            if args.trace:
                untraced.append(untraced_job(wl))
            last = jobs[-1]
            if args.corrupt:
                wl.corrupt(last)
            t_check = time.perf_counter()
            with tracer.span("check"):
                errors = wl.check(last)
            check_s = time.perf_counter() - t_check
            layer = {}
            if args.trace:
                with tracer.span("layers"):
                    layer = wl.layers(last)
                layer.update((k, 0) for k in LAYER_UNITS
                             if k.startswith(wl.unexercised))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(j.urls for j in jobs)
    failed = sum(j.failed for j in jobs)
    wall = sum(j.wall for j in jobs)
    urls_per_s = attempted / wall
    round_walls = [w for j in jobs for n, w in j.rounds]
    if args.trace:
        layer["pipeline.parallel_efficiency"] = urls_per_s / (
            cores * 1e3 / layer["kernel.scrape_ms_per_page"])
        layer["trace.overhead_ratio"] = \
            (wall / attempted) / statistics.mean(untraced) - 1.0
        values, units = layer, LAYER_UNITS
        spans_path = os.path.join(out_dir, f"spans-{run_id}.jsonl")
        tracer.write(spans_path)
    else:
        values = {"urls_per_s": urls_per_s,
                  "round_p50_s": statistics.median(round_walls),
                  "setup_s": setup_s,
                  "success_ratio": 1.0 - failed / attempted,
                  "driver_rss_mb": rss_mb}
        units = E2E_UNITS
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "trace": args.trace,
        "setup_s": setup_s, "setup_phases_s": phases,
        "urls_per_s": urls_per_s,
        "jobs": [{"wall": j.wall, "urls": j.urls, "items": j.items,
                  "failed": j.failed, "rounds": j.rounds} for j in jobs],
        "check_s": check_s, "digest": last.state.get("digest"),
        "errors": errors,
    }
    if args.trace:
        detail["spans"] = spans_path
        detail["self_time_s"] = {k: {"n": n, "total": tot, "self": slf}
                                 for k, (n, tot, slf)
                                 in tracer.self_times().items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units}}))
    if errors:
        for e in errors:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
