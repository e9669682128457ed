"""Per-call CPU cost of four driver or kernel steps that run with no
Spark at all.

``python scripts/kernel_cpu_bench.py [REPEATS]`` (default 5) prints:

- ``loads_config`` ms per call on the synthetic event scraper's YAML
  (``synth.EVENT_SCRAPER_YAML``, the config ``crawl_wide``'s factory
  parses once per host per kernel call), under libyaml's
  ``yaml.CSafeLoader`` and the pure-Python ``yaml.SafeLoader``;
- ``CuckooFilter.insert_many`` seconds at 812, 6,500 and 50,000 sorted
  random hashes into a fresh filter sized for them (load 0.84), the
  fill a slab build runs (``spark/crawl.py`` ``_slab_build``);
- ``_dequeue_frame`` ms at ``crawl_wide``'s tail-round shape (13,400
  frontier rows over 505 hosts, 13,300 of their urls fetched, 8 rounds
  of host_stats deltas, per-host budget 64), adaptive priority off and
  on: the whole driver dequeue but its parquet reads;
- the driver's seen-set probe in ms per call at ``crawl_wide``'s
  tail-round shape (8 slabs of 1,700 hashes each, built at the default
  slab capacity and written as one slab file, probed with 65 candidate
  hashes): ``_slab_blobs`` (the file's parquet read), the filters'
  decode and ``_maybe_seen`` together.

Each figure is the median of REPEATS timed runs after one warm-up."""
import os
import statistics
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import yaml

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from goskyr_spark import config  # noqa: E402
from goskyr_spark.kernels.cuckoo import CuckooFilter  # noqa: E402
from goskyr_spark.spark.crawl import (  # noqa: E402
    _FRONTIER_ARROW, _HOST_SUMS_ARROW, _URL_ARROW, _decode, _dequeue_frame,
    _maybe_seen, _slab_blobs, _slab_build, _slab_ids)
from goskyr_spark.synth import EVENT_SCRAPER_YAML  # noqa: E402


def median_s(fn, repeats):
    fn()
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def tail_round_tables(rng, n=13_400, n_hosts=505, n_fetched=13_300,
                      rounds=8):
    """(frontier, fetched, host_stats) Arrow tables at crawl_wide's
    tail-round shape, in the schemas the driver dequeue reads."""
    host = [f"host{h}.test" for h in rng.integers(0, n_hosts, n)]
    url = [f"https://{h}/event/{i}" for i, h in enumerate(host)]
    depth = rng.integers(0, 4, n)
    frontier = pa.table([url, rng.integers(-2**63, 2**63 - 1, n), host,
                         depth.astype(np.float64), depth,
                         np.zeros(n, np.int64), np.ones(n, np.int64)],
                        schema=_FRONTIER_ARROW)
    fetched = pa.table([rng.permutation(url)[:n_fetched].tolist()],
                       schema=_URL_ARROW)
    nf = rng.integers(1, 40, n_hosts * rounds)
    ok = rng.integers(0, nf + 1)
    host_stats = pa.table(
        [[f"host{h % n_hosts}.test" for h in range(n_hosts * rounds)],
         nf, ok, rng.integers(0, 12 * ok + 1)], schema=_HOST_SUMS_ARROW)
    return frontier, fetched, host_stats


def slab_probe_ms(rng, repeats, n_slabs=8, per_slab=1_700, n_probe=65):
    """ms per driver seen probe over one slab file of n_slabs slabs."""
    hashes = rng.integers(-2**63, 2**63 - 1, n_slabs * per_slab)
    sids = hashes % n_slabs
    slabs = _slab_build({s: hashes[sids == s] for s in range(n_slabs)}, {},
                        {s: 4096 for s in range(n_slabs)}, 0)
    probe = pa.array(rng.integers(-2**63, 2**63 - 1, n_probe))
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "slabs.parquet")
        pq.write_table(slabs, path)
        latest = {r["slab_id"]: (path, 0, r["count"], r["capacity"])
                  for r in slabs.select(["slab_id", "count", "capacity"])
                  .to_pylist()}
        s = median_s(lambda: _maybe_seen(probe, n_slabs, _decode(
            _slab_blobs(latest, _slab_ids(probe, n_slabs)))), repeats)
    return 1e3 * s


def main(repeats):
    text = EVENT_SCRAPER_YAML.format(host="bench.test")
    calls = 200
    engine_loader = config._LOADER
    for name in ("CSafeLoader", "SafeLoader"):
        loader = getattr(yaml, name, None)
        if loader is None:
            print(f"loads_config {name}: not available")
            continue
        config._LOADER = loader
        try:
            s = median_s(lambda: [config.loads_config(text)
                                  for _ in range(calls)], repeats)
        finally:
            config._LOADER = engine_loader
        mark = " (engine)" if loader is engine_loader else ""
        print(f"loads_config {name}{mark}: {1e3 * s / calls:.3f} ms/call")
    rng = np.random.default_rng(0)
    for n in (812, 6_500, 50_000):
        keys = np.sort(rng.integers(0, 2**64, n, dtype=np.uint64))
        s = median_s(lambda: CuckooFilter.sized_for(n).insert_many(keys),
                     repeats)
        print(f"insert_many {n} hashes: {s:.4f} s")
    tables = tail_round_tables(rng)
    for label, weights in (("off", None), ("on", (2.0, 0.5))):
        s = median_s(lambda: _dequeue_frame(*tables, 64, 10_000_000,
                                            weights), repeats)
        print(f"_dequeue_frame tail round, adaptive {label}: "
              f"{1e3 * s:.2f} ms")
    print(f"slab probe tail round (8 slabs, 65 hashes): "
          f"{slab_probe_ms(rng, repeats):.2f} ms/call")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 5)
