#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all three, ``extract_batch`` too although
BENCHMARK.json leaves it out) and a fixed seed it checks that
``perfbench/run.py``:

- with ``--trace 0`` prints every end-to-end metric of BENCHMARK.json,
  by name and with its unit, and passes its output checks;
- with ``--trace 1`` does the same for every per-layer metric;
- with ``--corrupt`` (outputs damaged on purpose) fails: exit code 1 and
  ``"correct": false``.

It also checks that the benchmark, copied alone into an empty directory
(no engine beside it), exits non-zero without printing a result.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 3


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr


def check_result(result, spec):
    errs = []
    if result is None:
        return ["no JSON result line"]
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(result)}")
    if not isinstance(result.get("attempted"), int) or \
            result["attempted"] < 1:
        errs.append(f"attempted {result.get('attempted')!r}")
    metrics = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in spec}
    if set(metrics) != set(want):
        errs.append(f"metrics {sorted(set(metrics) ^ set(want))} differ")
    for name, unit in want.items():
        m = metrics.get(name, {})
        if m.get("unit") != unit or \
                not isinstance(m.get("value"), (int, float)):
            errs.append(f"{name}: {m!r}, want a number in {unit}")
    return errs


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = argv or ["crawl_wide", "extract_batch", "crawl_live"]
    failures = []
    for wl in names:
        base = ["--workload", wl, "--seed", str(SEED), "--seconds", "1",
                "--tiny"]
        for trace, spec in ((0, bench["end_to_end"]),
                            (1, bench["per_layer"])):
            rc, result, err = run(base + ["--trace", str(trace)])
            errs = check_result(result, spec)
            if rc != 0 or not (result or {}).get("correct"):
                errs.append(f"exit {rc}, correct="
                            f"{(result or {}).get('correct')}\n{err[-2000:]}")
            print(f"{wl} trace={trace}: {'ok' if not errs else errs}")
            failures += errs
        rc, result, _ = run(base + ["--trace", "0", "--corrupt"])
        ok = rc == 1 and result is not None and result["correct"] is False
        print(f"{wl} corrupted output: {'fails as it must' if ok else 'NOT'}"
              f" (exit {rc})")
        if not ok:
            failures.append(f"{wl}: corrupted output passed")
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".selftest-") as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, result, _ = run(["--workload", names[0], "--seed", str(SEED),
                             "--seconds", "1", "--trace", "0"], cwd=d)
        ok = rc != 0 and result is None
        print(f"benchmark without the engine: "
              f"{'fails as it must' if ok else 'NOT'} (exit {rc})")
        if not ok:
            failures.append("ran without the engine")
    print("selftest:", "PASS" if not failures else f"FAIL ({len(failures)})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
