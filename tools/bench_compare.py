"""Compare two bench detail files (``bench.py``'s BENCH_DETAIL_*.json).

Two reports:

- WALL TIME: the sum of WARM MEDIANS over the INTERSECTION of queries
  with non-error medians in BOTH files — the rule ADVICE r3 forced after
  error sentinels (-1.0) summed into a total inverted a conclusion — and
  per-query ratio outliers (>2x either way), so "regression vs
  data-drift vs contention" is decidable from artifacts: a broad uniform
  inflation across unrelated queries is contention; a single query
  moving alone is code or data.
- COUNTERS: for every query with harness records in both files, the
  exact change in ``build_jobs``, ``exec_jobs``, ``build_tasks`` and
  ``exec_tasks`` (each the low median over the warm runs). These do not
  swing with box load, so a change here is code or data, never noise.

Two gate rules on the wall-time report (VERDICT r6 item 7 + ADVICE r6):

- MEASUREMENT-VERSION GUARD: detail files carry ``schema_version`` (2 =
  noop-write full-plan execution, r6+; absent = count()-based, r<=5,
  partially pruned by Catalyst). Comparing across versions is
  meaningless — the tool REFUSES unless --allow-mixed.

- SUB-SECOND NOISE RULE: a 2x-gate breach where EITHER median is below
  ``--noise-floor`` seconds (default 0.5) is NOT a confirmed regression
  — the warm-JVM run spread on this box is +-0.3-0.9 s, which alone
  produces 1.5-2x ratios on sub-second queries (r6 false alarms:
  q_scalar_variant 0.24->0.37, q_bpe_pair_counts 0.30->0.46). Such
  breaches are bucketed separately as ``needs_idle_remeasure``; read
  the counter report for those queries, and re-measure them
  interleaved (tools/probe_queries.py) before calling them regressions.
  Either median, not both: contention can inflate a sub-second baseline
  median PAST the floor (VERDICT r7: q_text_quality 0.30->1.71 s, idle
  re-measure 0.33 s).

Usage:
    python tools/bench_compare.py OLD_DETAIL.json NEW_DETAIL.json \
        [--outlier 2.0] [--noise-floor 0.5] [--allow-mixed]
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

COUNTERS = ("build_jobs", "exec_jobs", "build_tasks", "exec_tasks")


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def medians(d: dict) -> dict[str, float]:
    m = d.get("medians", d.get("queries", {}))
    return {
        k: float(v)
        for k, v in m.items()
        if isinstance(v, (int, float)) and float(v) >= 0
    }


def counters(d: dict) -> dict[str, dict[str, int]]:
    """Per query, each counter's low median over the warm runs of its
    error-free records."""
    out = {}
    for q, recs in d.get("records", {}).items():
        if not recs or any(r["error"] for r in recs):
            continue
        warm = recs[1:] if len(recs) > 1 else recs
        out[q] = {c: statistics.median_low(r[c] for r in warm) for c in COUNTERS}
    return out


def counter_report(dold: dict, dnew: dict) -> dict:
    old, new = counters(dold), counters(dnew)
    common = sorted(set(old) & set(new))
    changed = []
    for q in common:
        diff = {c: [old[q][c], new[q][c]] for c in COUNTERS if old[q][c] != new[q][c]}
        if diff:
            changed.append({"query": q, **diff})
    return {
        "n_common_records": len(common),
        "totals": {
            c: [sum(old[q][c] for q in common), sum(new[q][c] for q in common)]
            for c in COUNTERS
        },
        "changed": changed,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--outlier", type=float, default=2.0)
    ap.add_argument(
        "--noise-floor",
        type=float,
        default=0.5,
        help="2x breaches with either median below this are flagged for "
        "re-measure instead of counted as regressions",
    )
    ap.add_argument(
        "--allow-mixed",
        action="store_true",
        help="compare across measurement schema versions anyway "
        "(count()-era vs noop-write-era medians — normally refused)",
    )
    args = ap.parse_args()
    dold, dnew = load(args.old), load(args.new)
    vold = dold.get("schema_version", 1)
    vnew = dnew.get("schema_version", 1)
    if vold != vnew and not args.allow_mixed:
        print(
            json.dumps(
                {
                    "error": "mixed_measurement_versions",
                    "old_schema_version": vold,
                    "new_schema_version": vnew,
                    "detail": "v1=count()-based (Catalyst-pruned, r<=5), "
                    "v2=noop-write full plan (r6+); medians are not "
                    "comparable. Pass --allow-mixed to override.",
                },
                indent=1,
            )
        )
        sys.exit(2)
    old, new = medians(dold), medians(dnew)
    common = sorted(set(old) & set(new))
    so, sn = sum(old[k] for k in common), sum(new[k] for k in common)
    out = {
        "old_schema_version": vold,
        "new_schema_version": vnew,
        "n_old": len(old),
        "n_new": len(new),
        "n_common_nonerror": len(common),
        "sum_old_sec": round(so, 2),
        "sum_new_sec": round(sn, 2),
        "ratio_new_over_old": round(sn / so, 3) if so else None,
    }
    slower = sorted(
        (
            (round(new[k] / old[k], 2), k, old[k], new[k])
            for k in common
            if old[k] > 0.05 and new[k] / old[k] > args.outlier
        ),
        reverse=True,
    )
    faster = sorted(
        (round(old[k] / new[k], 2), k, old[k], new[k])
        for k in common
        if new[k] > 0.05 and old[k] / new[k] > args.outlier
    )

    def noisy(o: float, n: float) -> bool:
        return o < args.noise_floor or n < args.noise_floor

    out["slower_than_%sx" % args.outlier] = [
        {"query": k, "old": o, "new": n, "x": r} for r, k, o, n in slower if not noisy(o, n)
    ]
    out["needs_idle_remeasure"] = [
        {"query": k, "old": o, "new": n, "x": r} for r, k, o, n in slower if noisy(o, n)
    ]
    out["faster_than_%sx" % args.outlier] = [
        {"query": k, "old": o, "new": n, "x": r} for r, k, o, n in faster[::-1]
    ]
    out["counters"] = counter_report(dold, dnew)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
