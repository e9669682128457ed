"""Per-call CPU cost of two kernel steps that run with no Spark at all.

``python scripts/kernel_cpu_bench.py [REPEATS]`` (default 5) prints:

- ``loads_config`` ms per call on the synthetic event scraper's YAML
  (``synth.EVENT_SCRAPER_YAML``, the config ``crawl_wide``'s factory
  parses once per host per kernel call), under libyaml's
  ``yaml.CSafeLoader`` and the pure-Python ``yaml.SafeLoader``;
- ``CuckooFilter.insert_many`` seconds at 812, 6,500 and 50,000 sorted
  random hashes into a fresh filter sized for them (load 0.84), the
  fill a slab build runs (``spark/crawl.py`` ``_slab_build``).

Each figure is the median of REPEATS timed runs after one warm-up."""
import os
import statistics
import sys
import time

import numpy as np
import yaml

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from goskyr_spark import config  # noqa: E402
from goskyr_spark.kernels.cuckoo import CuckooFilter  # noqa: E402
from goskyr_spark.synth import EVENT_SCRAPER_YAML  # noqa: E402


def median_s(fn, repeats):
    fn()
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


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


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 5)
