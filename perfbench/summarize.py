"""Median, quartiles and quartile spread of a set of benchmark runs.

    python3 perfbench/summarize.py RESULTS.jsonl [...]

Each input line is one run's result object (the last line ``run.py``
prints).  For every metric this prints the sample count, the median,
the first and third quartiles (``statistics.quantiles(n=4)``) and the
spread (Q3 − Q1) ÷ median that the benchmark's bounds are checked
against.  Runs that report ``correct: false`` are listed, not dropped.
"""

from __future__ import annotations

import json
import statistics
import sys


def summarize(results: list[dict]) -> dict[str, dict]:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    out = {}
    for name, v in values.items():
        q1, q2, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        out[name] = {"n": len(v), "unit": units[name], "median": statistics.median(v),
                     "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else 0.0}
    return out


def main(paths: list[str]) -> None:
    for path in paths:
        with open(path) as f:
            results = [json.loads(line) for line in f if line.strip()]
        bad = sum(1 for r in results if not r["correct"])
        print(f"{path}: {len(results)} runs, {bad} not correct")
        for name, s in summarize(results).items():
            print(f"  {name:32s} n={s['n']:<3d} median {s['median']:.4g} {s['unit']}  "
                  f"q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  spread {s['spread']:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
