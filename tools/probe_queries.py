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
"cpu_s": [...], "warm_cpu_median": s, "jit_cpu_s": [...],
"warm_jit_cpu_median": s, "pyworker_cpu_s": [...],
"warm_pyworker_cpu_median": s, "jobs": [...]}}. Per run: ``runs`` is the
wall time; ``cpu_s`` the user + system CPU of this process and every
process below it (the JVM and its Python workers), so JVM-level changes
can be judged in CPU terms on a host whose wall time follows co-tenant
load; ``jit_cpu_s`` the part of it spent on the JVM's live C1/C2
compiler threads; ``pyworker_cpu_s`` the part spent in the processes
below the JVM: the Python worker daemon and its workers, plus the short
helpers the JVM forks. Spark's executor CPU metric counts JVM task
threads only, so work moved into a Python worker shows here and not
there. ``jobs`` counts the Spark jobs (build and execute — eager
checkpoints inside the build included).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import CLK_TCK, tree_cpu_s  # noqa: E402


def jit_thread_ticks(jvm_pid: int) -> dict[int, int]:
    """CPU ticks (user + system) of each live JIT compiler thread of the
    JVM, by thread id. HotSpot names them "C1 CompilerThreadN" and "C2
    CompilerThreadN", which /proc truncates to 15 characters."""
    ticks = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:  # thread ended during the scan
            continue
        if head.split("(", 1)[1] in ("C1 CompilerThre", "C2 CompilerThre"):
            fields = tail.split()
            ticks[int(tid)] = int(fields[11]) + int(fields[12])
    return ticks


def jit_cpu_s(before: dict[int, int], after: dict[int, int]) -> float:
    """Compiler-thread CPU seconds between two snapshots. HotSpot starts
    and retires compiler threads on demand; a thread that ended between
    the snapshots loses its last share, so this is a lower bound."""
    return sum(t - before.get(tid, 0) for tid, t in after.items()) / CLK_TCK


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of every process below the JVM: the children it has
    reaped, plus the process tree of each live child (listed per JVM
    thread in /proc/<pid>/task/<tid>/children)."""
    kids: set[int] = set()
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/children") as f:
                kids.update(map(int, f.read().split()))
        except OSError:  # thread ended during the scan
            continue
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    reaped = (int(fields[13]) + int(fields[14])) / CLK_TCK
    return reaped + sum(tree_cpu_s(k) for k in kids)


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
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    series = ("runs", "cpu_s", "jit_cpu_s", "pyworker_cpu_s", "jobs")
    samples = {q: {k: [] for k in series} for q in args.queries}
    for i in range(args.runs):
        for q in args.queries:
            group = f"probe:{q}:run{i}"
            sc.setJobGroup(group, group)
            c0, j0, w0 = tree_cpu_s(os.getpid()), jit_thread_ticks(jvm_pid), pyworker_cpu_s(jvm_pid)
            t0 = time.monotonic()
            df = qs[q](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            t1 = time.monotonic()
            w1, j1, c1 = pyworker_cpu_s(jvm_pid), jit_thread_ticks(jvm_pid), tree_cpu_s(os.getpid())
            s = samples[q]
            s["runs"].append(round(t1 - t0, 3))
            s["cpu_s"].append(round(c1 - c0, 2))
            s["jit_cpu_s"].append(round(jit_cpu_s(j0, j1), 2))
            s["pyworker_cpu_s"].append(round(w1 - w0, 2))
            s["jobs"].append(len(sc.statusTracker().getJobIdsForGroup(group)))
    sc.setJobGroup(None, None)

    def warm_median(xs: list[float]) -> float:
        return round(statistics.median(xs[1:] if len(xs) > 1 else xs), 3)

    out = {}
    for q, s in samples.items():
        out[q] = {
            "runs": s["runs"],
            "warm_median": warm_median(s["runs"]),
            "cpu_s": s["cpu_s"],
            "warm_cpu_median": warm_median(s["cpu_s"]),
            "jit_cpu_s": s["jit_cpu_s"],
            "warm_jit_cpu_median": warm_median(s["jit_cpu_s"]),
            "pyworker_cpu_s": s["pyworker_cpu_s"],
            "warm_pyworker_cpu_median": warm_median(s["pyworker_cpu_s"]),
            "jobs": s["jobs"],
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
