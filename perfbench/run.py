"""Benchmark of the CDC engine, run on every change.

    python3 perfbench/run.py --workload <a name in BENCHMARK.json>
        --seed N --seconds S --trace {0,1} [--tamper]

Run from the checkout root. Generates the workload's inputs from the seed
(cached under .perfbench_work/), starts Spark at local[<cores>], warms up
on the same shape, measures for S seconds (at least one unit), checks the
engine's output against the oracle, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. The line before it is a
JSON record of the run's context (cache hits, heap, cores, busy cores,
samples, oracle mismatches). --tamper corrupts one row of what the check
reads, to show that a wrong table fails the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def workload_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workload_names())
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tamper", action="store_true")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    # the engine is built from the checkout's own source: without it there
    # is nothing to measure
    if not os.path.isfile(os.path.join(ROOT, "mysql_syncer_spark", "__init__.py")):
        print("perfbench: no mysql_syncer_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import run

    result, info = run(args.workload, args.seed, args.seconds, bool(args.trace),
                       T_START, tamper=args.tamper)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
