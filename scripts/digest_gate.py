"""Digest gate: run the exact bench-spec crawl in three configurations
— default; small buckets (bench.small_buckets(): BUCKET_BYTES patched
so the host-bucket modulus grows 1 → 32 mid-crawl); adaptive — each
on the driver and on the cluster side of every round phase, on the
driver plan with the kernel as a Spark job, and on the two mixed plans
the size policy produces first (cluster dequeue + driver commit;
driver commit + cluster new-url commit with the partition-aligned seen
test), and assert the historical state digest 768bf8d782fb251d (fetch
order + statuses + seen set, unchanged since round 1) for every run,
and that the five plans of a configuration write the same slab rows
(bench.slab_digest). Run after any crawl-engine change (`make
digest`). Uses bench.py's own spec/digest code so the gate can never
drift from the frozen measurement."""
import os
import sys
from contextlib import nullcontext
from dataclasses import fields, replace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402
from goskyr_spark.spark import crawl  # noqa: E402

EXPECTED = "768bf8d782fb251d"


def whole_round(driver):
    """A plan with every phase on one side (seen test broadcast)."""
    return crawl.RoundPlan(**{f.name: driver for f in fields(crawl.RoundPlan)
                              if f.name != "seen_partitioned"},
                           seen_partitioned=False)


if __name__ == "__main__":
    cores = min(bench.CPUS, 16)
    spark = bench.make_spark(cores)
    policy = crawl.round_plan
    plans = {
        "driver": whole_round(True),
        "cluster": whole_round(False),
        # the driver commit over the Spark kernel (a round past
        # KERNEL_DRIVER_ROWS)
        "driver_spark_kernel": replace(whole_round(True),
                                       kernel_driver=False),
        "dequeue_cluster": policy(
            dequeue_bytes=crawl.DRIVER_STATE_BYTES + 1),
        "seen_partitioned": policy(
            slab_bytes=crawl.SEEN_BROADCAST_BYTES + 1),
    }
    ok = True
    slabs = {}
    for plan_name, forced in plans.items():
        crawl.round_plan = lambda _forced=forced, **_: _forced
        for name, ctx, kw in [
                ("default", nullcontext, {}),
                ("small_buckets", bench.small_buckets, {}),
                ("adaptive", nullcontext, {"adaptive_priority": True})]:
            with ctx():
                out = bench.bench_crawl(spark, cores, digest=True, **kw)
            good = out["digest"] == EXPECTED
            ok &= good
            slabs.setdefault(name, set()).add(out["slab_digest"])
            print(f"{plan_name}/{name}: digest={out['digest']} "
                  f"slabs={out['slab_digest']} "
                  f"urls={out['urls']} items={out['items']} "
                  f"wall={out['wall']:.2f}s "
                  f"{'OK' if good else 'MISMATCH (expected ' + EXPECTED + ')'}",
                  flush=True)
    for name, digests in slabs.items():
        ok &= len(digests) == 1
        print(f"{name}: slab rows " + ("agree across plans" if len(digests)
              == 1 else "DIFFER: " + " ".join(sorted(digests))), flush=True)
    spark.stop()
    sys.exit(0 if ok else 1)
