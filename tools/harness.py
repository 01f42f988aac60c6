"""One query run, recorded: the loop bench.py and the query-running tools share.

``run_query(spark, name, sf_dir, action)`` builds one registered query
under the job group ``<tag>:build`` and times that as ``build_s``, then
runs one action on the DataFrame under ``<tag>:exec`` and times that as
``exec_s``. The actions:

- ``noop``: a noop-sink write, which computes every output column and
  the final sort like the driver's ``toPandas`` minus the transfer
  (``count()`` lets Catalyst prune projections); bench and probe;
- ``pandas``: ``toPandas()``, the driver's own path; verify_local;
- ``collect``: ``collect()``; the adversarial sweep;
- ``plan``: the formatted explain and the executed plan's tree string,
  planned but not executed; plan_audit.

The record it returns holds ``build_s``, ``exec_s``, the Spark jobs,
stages and tasks each phase ran (from the status tracker, by job
group), ``cpu_s`` (user + system CPU of this process and every process
below it), ``jit_cpu_s`` (the part spent on the driver JVM's live
C1/C2 compiler threads) and ``pyworker_cpu_s`` (the part spent in the
processes below the JVM: Python workers and the helpers it forks;
Spark's executor CPU metric counts JVM task threads only, so work moved
into a Python worker shows here and not there), plus ``rows`` (when the
action yields a row count) and ``error``. An exception is caught into
``error``, so a sweep keeps going. The CPU counters are read outside the
timed windows. Where the action yields an object (the pandas frame, the
plan text), it is under ``result``; callers pop it before serialising.

Stream micro-batch jobs run on the stream's own thread and do not carry
the caller's job group, so a replay's build jobs are undercounted.
Event-log counters (executor CPU, shuffle, spill) and Catalyst phase
times are in perfbench's traced run (``perfbench/run.py --trace 1``).
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

from perfbench.run import CLK_TCK, TABLES, tree_cpu_s  # noqa: F401

_runs = itertools.count()


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


def _noop(df):
    if hasattr(df, "write"):
        df.write.format("noop").mode("overwrite").save()
        return None, None
    return df.count(), None


def _pandas(df):
    pdf = df.toPandas()
    return len(pdf), pdf


def _collect(df):
    return len(df.collect()), None


def _plan(df):
    qe = df._jdf.queryExecution()
    formatted = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    return None, (formatted, qe.executedPlan().toString())


ACTIONS = {"noop": _noop, "pandas": _pandas, "collect": _collect, "plan": _plan}


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    """Jobs, run stages and completed tasks of one job group. A stage
    whose output an earlier job already wrote is skipped, not run."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            s = tracker.getStageInfo(stage)
            if s and s.numCompletedTasks:
                stages += 1
                tasks += s.numCompletedTasks
    return len(jobs), stages, tasks


def run_query(spark, name: str, sf_dir: str, action: str = "noop") -> dict:
    """Build and run one registered query; see the module docstring for
    the record."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    sc = spark.sparkContext
    tag = f"{name}:{next(_runs)}"
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rec: dict = {"query": name, "build_s": None, "exec_s": None, "rows": None, "error": None}
    c0, j0, w0 = tree_cpu_s(os.getpid()), jit_thread_ticks(jvm_pid), pyworker_cpu_s(jvm_pid)
    try:
        sc.setJobGroup(f"{tag}:build", name)
        t = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        rec["build_s"] = round(time.perf_counter() - t, 4)
        sc.setJobGroup(f"{tag}:exec", name)
        t = time.perf_counter()
        rec["rows"], result = ACTIONS[action](df)
        rec["exec_s"] = round(time.perf_counter() - t, 4)
        if result is not None:
            rec["result"] = result
    except Exception as e:  # noqa: BLE001 — recorded; the sweep goes on
        rec["error"] = f"{type(e).__name__}: {e}"[:500]
    finally:
        sc.setJobGroup(None, None)
    w1, j1, c1 = pyworker_cpu_s(jvm_pid), jit_thread_ticks(jvm_pid), tree_cpu_s(os.getpid())
    rec["cpu_s"] = round(c1 - c0, 2)
    rec["jit_cpu_s"] = round(jit_cpu_s(j0, j1), 2)
    rec["pyworker_cpu_s"] = round(w1 - w0, 2)
    for phase in ("build", "exec"):
        counts = _job_counts(sc, f"{tag}:{phase}")
        rec[f"{phase}_jobs"], rec[f"{phase}_stages"], rec[f"{phase}_tasks"] = counts
    return rec


def wall_s(rec: dict) -> float:
    """Build plus execute seconds of a successful record."""
    return round(rec["build_s"] + rec["exec_s"], 3)


def warm_median(xs: list[float]) -> float:
    """Median without run 0 when there are two or more runs: the cold run
    pays plan compilation, class loading and the Python-worker fork."""
    return round(statistics.median(xs[1:] if len(xs) > 1 else xs), 3)
