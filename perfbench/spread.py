"""Summarize benchmark runs: for each metric, the median over runs and the
spread (distance between the first and third quartile, as a share of the
median), computed the way BENCHMARK.json's bounds are checked.

    python3 perfbench/spread.py runs/sparql_mix-*.out

Each file holds the standard output of one ``perfbench/run.py`` run; its
last line is the run's result.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> None:
    values: dict[str, list[float]] = {}
    failed = 0
    for path in paths:
        with open(path) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        failed += result["failed"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{len(paths)} runs, {failed} failed operations")
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{name:40s} median {med:14.4f}  spread {share:7.2%}")


if __name__ == "__main__":
    main(sys.argv[1:])
