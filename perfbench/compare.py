"""Compare two sets of benchmark records, parent and change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py --spread RECORDS_DIR

Records are the JSON files ``run.py`` archives (``.perfbench/records``);
only untraced runs are compared. For each workload and end-to-end metric
of ``BENCHMARK.json``, runs are paired by seed (by order when the seeds
differ). A metric is a ``gain`` when the change is better in at least 9 of
10 pairs and the median difference exceeds the parent's quartile spread,
``worse`` when the change's median is worse than the parent's by more than
the metric's bound, ``unresolved`` when the parent's quartile spread is
wider than the bound (unless every run of the change reads better than
every run of the parent), else ``same``. One row per workload is printed.
``--spread`` prints each metric's quartile spread as a share of its median.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(directory: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("trace") == 0:
            by_workload.setdefault(rec["workload"], []).append(rec)
    return by_workload


def spread(values: list[float]) -> float:
    """Quartile spread (Q3 - Q1) as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / abs(statistics.median(values))


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    sign = 1.0 if better == "higher" else -1.0
    pm, cm = statistics.median(parent), statistics.median(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    if len(parent) > 1:
        q1, _, q3 = statistics.quantiles(parent, n=4)
        iqr = q3 - q1
    else:
        iqr = 0.0
    every_run_better = all(sign * (c - p) > 0 for p in parent for c in change)
    if spread(parent) > bound and not every_run_better:
        return "unresolved"
    if pairs and wins >= 0.9 * len(pairs) and sign * (cm - pm) > iqr:
        return "gain"
    if sign * (cm - pm) < -bound * abs(pm):
        return "worse"
    return "same"


def _paired(parent: list[dict], change: list[dict], name: str) -> tuple[list, list]:
    def by_seed(recs):
        return {r["seed"]: r["metrics"][name]["value"] for r in recs if name in r["metrics"]}

    p, c = by_seed(parent), by_seed(change)
    common = sorted(set(p) & set(c))
    if common:
        return [p[s] for s in common], [c[s] for s in common]
    return [p[s] for s in sorted(p)], [c[s] for s in sorted(c)]


def main(argv: list[str]) -> int:
    with open(BENCHMARK) as f:
        metrics = json.load(f)["end_to_end"]
    if len(argv) == 2 and argv[0] == "--spread":
        for workload, recs in sorted(load(argv[1]).items()):
            cells = []
            for m in metrics:
                vals = [r["metrics"][m["name"]]["value"] for r in recs
                        if m["name"] in r["metrics"]]
                cells.append(f"{m['name']}={spread(vals):.3f} (bound {m['bound']})")
            print(f"{workload} n={len(recs)}: " + "  ".join(cells))
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load(argv[0]), load(argv[1])
    for workload in sorted(set(parent) & set(change)):
        cells = []
        for m in metrics:
            p, c = _paired(parent[workload], change[workload], m["name"])
            if not p or not c:
                cells.append(f"{m['name']}: missing")
                continue
            delta = statistics.median(c) / statistics.median(p) - 1.0
            cells.append(f"{m['name']}: {verdict(p, c, m['better'], m['bound'])} "
                         f"({delta:+.1%}, spread {spread(p):.3f}/{m['bound']})")
        print(f"{workload:15s} " + " | ".join(cells))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
