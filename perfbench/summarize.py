#!/usr/bin/env python3
"""Median, quartiles and spread of each metric over several runs.

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload ocds_load --seed $s --seconds 10 --trace 0 | tail -1
    done > runs.jsonl
    python3 perfbench/summarize.py runs.jsonl

Each input line is one run's result JSON (the last line run.py prints).
The spread is the distance between the first and third quartile as a share
of the median: the figure a metric's bound in BENCHMARK.json is set against.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def summarize(results):
    """{metric: (median, q1, q3, spread, n)} over the correct runs (two or more)."""
    values = {}
    for r in results:
        if r["correct"]:
            for name, m in r["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    out = {}
    for name, v in values.items():
        if len(v) > 1:
            out[name] = (stats.median(v), *stats.quartiles(v), stats.spread(v), len(v))
    return out


def main(paths):
    results = [json.loads(line) for p in paths for line in open(p) if line.strip()]
    bad = sum(not r["correct"] for r in results)
    print(f"{len(results)} runs, {bad} incorrect, "
          f"{sum(r['failed'] for r in results)} of {sum(r['attempted'] for r in results)} "
          "operations failed")
    for name, (med, q1, q3, spread, n) in summarize(results).items():
        print(f"{name:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {spread:.3f}  n={n}")


if __name__ == "__main__":
    main(sys.argv[1:])
