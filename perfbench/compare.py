"""Compare benchmark results of a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the result files ``perfbench/run.py`` writes to
``.perfbench_results/``, from runs alternating between the two commits.
Runs of one workload and trace setting are paired in start order; at
least ten pairs are required. For every metric and workload it prints
each side's median and quartiles, the change's win share (ties count
for neither side) and a verdict:

- improved: the change wins at least 9 in 10 pairs and the medians
  differ by more than the parent's quartile spread;
- worse: the same rule the other way, or the change's median is worse
  than the parent's by more than the metric's bound;
- unresolved: the parent's quartile spread is wider than the bound and
  not every change run beats every parent run;
- unchanged: otherwise.

Per-layer metrics have no bound; the parent's quartile spread stands in
for it.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
MIN_PAIRS = 10


def load(directory: Path) -> dict[tuple[str, bool], list[dict]]:
    """Result records by (workload, trace), in start order."""
    runs: dict[tuple[str, bool], list[dict]] = {}
    for path in sorted(directory.glob("*.json")):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["started"])
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(parent: list[float], change: list[float], lower_is_better: bool, bound: float | None) -> dict:
    sign = 1.0 if lower_is_better else -1.0
    wins = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    losses = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    n = len(parent)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    spread = pq3 - pq1
    worse_by = sign * (cmed - pmed)
    allowed = spread if bound is None else bound * abs(pmed)
    if wins >= 0.9 * n and abs(cmed - pmed) > spread:
        v = "improved"
    elif (losses >= 0.9 * n and abs(cmed - pmed) > spread) or worse_by > allowed:
        v = "worse"
    elif spread > allowed and not max(sign * c for c in change) < min(sign * p for p in parent):
        v = "unresolved"
    else:
        v = "unchanged"
    return {
        "parent": (pq1, pmed, pq3),
        "change": (cq1, cmed, cq3),
        "win_share": wins / n,
        "verdict": v,
    }


def compare(parent_dir: Path, change_dir: Path, spec: dict) -> list[dict]:
    metrics = {m["name"]: (m, False) for m in spec["end_to_end"]}
    metrics.update({m["name"]: (m, True) for m in spec["per_layer"]})
    parent, change = load(parent_dir), load(change_dir)
    rows = []
    for key in sorted(set(parent) & set(change)):
        workload, trace = key
        n = min(len(parent[key]), len(change[key]))
        if n < MIN_PAIRS:
            raise SystemExit(f"{workload} trace={int(trace)}: {n} pairs, need {MIN_PAIRS}")
        field = "per_layer" if trace else "end_to_end"
        for name, (m, layer) in metrics.items():
            if layer != trace:
                continue
            p = [r[field][name] for r in parent[key][:n]]
            c = [r[field][name] for r in change[key][:n]]
            v = verdict(p, c, m.get("better", "lower") == "lower", m.get("bound"))
            rows.append({"workload": workload, "metric": name, "unit": m["unit"], **v})
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    args = ap.parse_args(argv)
    with open(HERE.parent / "BENCHMARK.json") as f:
        spec = json.load(f)
    rows = compare(args.parent, args.change, spec)
    print(f"{'workload':<13} {'metric':<32} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>5}  verdict")
    for r in rows:
        p = "/".join(f"{x:.4g}" for x in r["parent"])
        c = "/".join(f"{x:.4g}" for x in r["change"])
        print(f"{r['workload']:<13} {r['metric']:<32} {p:>30} {c:>30} {r['win_share']:>5.0%}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
