import os
import sys
from dataclasses import replace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from goskyr_spark.spark import crawl  # noqa: E402

_CLUSTER = crawl.RoundPlan(
    dequeue_driver=False, commit_driver=False, kernel_driver=False,
    new_urls_driver=False, seen_copy_driver=False, slabs_driver=False,
    seen_partitioned=False, broadcast_seen=False)
_DRIVER = crawl.RoundPlan(
    dequeue_driver=True, commit_driver=True, kernel_driver=True,
    new_urls_driver=True, seen_copy_driver=True, slabs_driver=True,
    seen_partitioned=False, broadcast_seen=True)

# Plans forced on every round whatever the table sizes (the real size
# policy picks "driver" for every phase at test scale): whole-round
# plans with every phase on one side, then mixed ones.
PLANS = {
    "driver": _DRIVER,
    "cluster": _CLUSTER,
    # every phase on the driver but the kernel, a Spark job whose output
    # the driver commit collects (a live round's plan, and a mock round's
    # past KERNEL_DRIVER_ROWS)
    "driver_spark_kernel": replace(_DRIVER, kernel_driver=False),
    # partition-aligned seen test; the seen copy stays on the driver, so
    # the cluster slab update takes its input from driver-held hashes
    "cluster_partitioned": replace(
        _CLUSTER, seen_copy_driver=True, seen_partitioned=True,
        broadcast_seen=True),
    # the real policy just past a boundary, so each handoff production
    # reaches is covered: a cluster dequeue feeding the driver commit
    # (the first mixed plan a growing crawl reaches) ...
    "dequeue_cluster": crawl.round_plan(
        dequeue_bytes=crawl.DRIVER_STATE_BYTES + 1),
    # ... and a driver commit whose local outlinks feed the cluster
    # new-url commit, partition-aligned seen test and cluster slab update
    "seen_partitioned": crawl.round_plan(
        slab_bytes=crawl.SEEN_BROADCAST_BYTES + 1),
}


def force_plan(monkeypatch, name):
    """Make every CrawlEngine round run PLANS[name]."""
    monkeypatch.setattr(crawl, "round_plan", lambda **_: PLANS[name])


@pytest.fixture(params=list(PLANS))
def plan(request, monkeypatch):
    """Runs the test once per forced plan; narrow it with
    ``@pytest.mark.parametrize("plan", [...], indirect=True)``."""
    force_plan(monkeypatch, request.param)
    return request.param


# BUCKET_BYTES at which a test-sized crawl (a few KB per parquet file)
# grows its host-bucket modulus through several powers of two
SMALL_BUCKET_BYTES = 4 << 10


def small_buckets(n=SMALL_BUCKET_BYTES):
    """Run crawl engines with crawl.BUCKET_BYTES = n inside the block."""
    return bench.small_buckets(n)
