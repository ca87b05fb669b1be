"""Median, quartiles and spread of each metric over several benchmark runs.

Usage::

    for s in 1 2 3 4 5 6 7 8 9 10; do
        python3 perfbench/run.py --workload mapreduce --seed $s --seconds 5 --trace 0 | tail -1
    done > runs.jsonl
    python3 perfbench/summarize.py runs.jsonl

Each input line is one run's result object (the last line ``run.py``
prints). Quartiles are ``statistics.quantiles(values, n=4)``; the spread is
their distance as a share of the median.
"""

from __future__ import annotations

import json
import statistics
import sys


def summarize(results: list[dict]) -> dict:
    out: dict = {
        "runs": len(results),
        "correct": all(r["correct"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "metrics": {},
    }
    for name, first in results[0]["metrics"].items():
        values = [r["metrics"][name]["value"] for r in results]
        median = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (median,) * 3
        out["metrics"][name] = {
            "unit": first["unit"],
            "median": median,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / median if median else 0.0,
        }
    return out


def main() -> int:
    results = []
    for path in sys.argv[1:]:
        with open(path) as f:
            results.extend(json.loads(line) for line in f if line.strip())
    if not results:
        print("usage: summarize.py RESULTS.jsonl [...]", file=sys.stderr)
        return 2
    print(json.dumps(summarize(results), indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
