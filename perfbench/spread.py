"""Summarize benchmark results: per workload and metric, the median and
the spread (distance between the first and third quartile as a share of
the median) over runs.

Each input file holds one run's standard output; its last line is the
result object. The workload is read from the report line before it.

    python3 perfbench/spread.py results/*.out
"""

from __future__ import annotations

import json
import sys

from stats import iqr_share, median


def load(path: str) -> tuple[str, dict]:
    with open(path) as f:
        lines = f.read().strip().splitlines()
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    if not result["correct"]:
        raise ValueError(f"{path}: run reported incorrect output")
    return report["workload"], result["metrics"]


def summarize(paths: list[str]) -> dict[str, dict[str, dict]]:
    values: dict[str, dict[str, list[float]]] = {}
    for path in paths:
        workload, metrics = load(path)
        for name, m in metrics.items():
            values.setdefault(workload, {}).setdefault(name, []).append(
                m["value"])
    return {
        w: {name: {"n": len(xs), "median": median(xs),
                   "spread": iqr_share(xs)}
            for name, xs in ms.items()}
        for w, ms in values.items()
    }


if __name__ == "__main__":
    for w, ms in summarize(sys.argv[1:]).items():
        for name, s in ms.items():
            print(f"{w:14s} {name:32s} n={s['n']:<3d} "
                  f"median={s['median']:<12.6g} spread={s['spread']:.4f}")
