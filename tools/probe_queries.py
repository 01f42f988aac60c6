"""Interleaved per-query probe.

Runs the named queries ROUND-ROBIN (q1, q2, ..., q1, q2, ...) in ONE
fresh session through ``tools/harness.run_query`` with the noop-sink
action, so box-state drift hits every query equally and warm medians are
comparable. This is the measurement discipline OPTIMIZATION_r12 §7
settled on: the box swings 3-5x on a minutes scale, so only
tightly-interleaved samples support a before/after claim.

Usage:
    python tools/probe_queries.py [--sf DIR] [--runs N] q_a q_b ...

Prints one JSON object {query: {"runs": [...], "warm_median": s,
"<counter>": [...], "warm_<counter>_median": s, ..., "records": [...]}}.
``runs`` is the build + execute wall time of each run; the counters are
the harness record's ``cpu_s``, ``jit_cpu_s``, ``pyworker_cpu_s``,
``build_jobs`` and ``exec_jobs`` (the harness docstring defines them),
and ``records`` holds every full record.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import run_query, wall_s, warm_median  # noqa: E402

COUNTERS = ("cpu_s", "jit_cpu_s", "pyworker_cpu_s", "build_jobs", "exec_jobs")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from etl4s_spark.queries import QUERIES, load_all
    from etl4s_spark.session import get_spark

    load_all()
    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark("probe")
    spark.read.parquet(f"{args.sf}/region.parquet").count()
    records: dict[str, list[dict]] = {q: [] for q in args.queries}
    for _ in range(args.runs):
        for q in args.queries:
            records[q].append(run_query(spark, q, args.sf, "noop"))

    out = {}
    for q, recs in records.items():
        failed = [r["error"] for r in recs if r["error"]]
        if failed:
            out[q] = {"error": failed[0], "records": recs}
            continue
        out[q] = {"runs": [wall_s(r) for r in recs]}
        out[q]["warm_median"] = warm_median(out[q]["runs"])
        for c in COUNTERS:
            out[q][c] = [r[c] for r in recs]
            out[q][f"warm_{c}_median"] = warm_median(out[q][c])
        out[q]["records"] = recs
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
