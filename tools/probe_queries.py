"""Interleaved per-query probe (round-13 measurement harness).

Runs the named queries ROUND-ROBIN (q1, q2, ..., q1, q2, ...) in ONE
fresh session with the bench's noop-sink methodology, so box-state
drift hits every query equally and warm medians are comparable. This
is the measurement discipline OPTIMIZATION_r12 §7 settled on: the box
swings 3-5x on a minutes scale, so only tightly-interleaved samples
support a before/after claim.

Usage:
    python tools/probe_queries.py [--sf DIR] [--runs N] q_a q_b ...
Prints one JSON object {query: {"runs": [...], "warm_median": s,
"jobs": [...]}}, where jobs counts the Spark jobs of each run (build
and execute — eager checkpoints inside the build included).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from etl4s_spark.session import get_spark

    spark = get_spark("probe")
    qs = entry_mod.queries()
    for q in args.queries:
        if q not in qs:
            print(f"unknown query: {q}", file=sys.stderr)
            sys.exit(2)

    spark.read.parquet(f"{args.sf}/region.parquet").count()
    sc = spark.sparkContext
    samples: dict[str, list[float]] = {q: [] for q in args.queries}
    jobs: dict[str, list[int]] = {q: [] for q in args.queries}
    for i in range(args.runs):
        for q in args.queries:
            group = f"probe:{q}:run{i}"
            sc.setJobGroup(group, group)
            t0 = time.monotonic()
            df = qs[q](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            samples[q].append(round(time.monotonic() - t0, 3))
            jobs[q].append(len(sc.statusTracker().getJobIdsForGroup(group)))
    sc.setJobGroup(None, None)
    out = {}
    for q, ss in samples.items():
        warm = ss[1:] if len(ss) > 1 else ss
        out[q] = {
            "runs": ss,
            "warm_median": round(statistics.median(warm), 3),
            "jobs": jobs[q],
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
