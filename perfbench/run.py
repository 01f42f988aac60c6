"""Benchmark for etl4s_spark: three workloads, end-to-end and per-layer.

Run from the repository root:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 6 --trace 0

Load model: a closed loop, one client issuing one query at a time, in
this Python process, against ``local[N]`` with N = the task slots this
process may use. One run sets up a fresh session several times (the
median is ``setup_s``), then makes one cold pass over the workload and
round(--seconds / the workload's measured warm-pass time) warm passes,
at least three (``workloads.warm_passes``). The cold pass runs the
queries in their declared order; each warm pass in an order drawn from
``--seed``.
Every execution runs the query's build, then a noop write of the
returned DataFrame. Each set-up and pass is timed twice: by the wall
clock, and by the CPU time of this process and every process below it
(the JVM and its Python workers). The end-to-end metrics are the CPU
times, because on a shared host the wall times move with the
hypervisor's steal time; the traced run reports the wall times. After
the timed passes, the DataFrames of the final pass are collected and
checked against each query's DuckDB oracle.

With ``--trace 1`` the run also records spans, Spark's event log and
streaming progress, and alternates traced and untraced warm passes; the
last line then carries the per-layer metrics instead of the end-to-end
ones. The full record of every run is written to
``.perfbench_results/`` at the repository root; the last line of stdout
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import argparse
import datetime
import importlib
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
SETUPS = 5
CLK_TCK = os.sysconf("SC_CLK_TCK")

if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import metrics, workloads  # noqa: E402


def canon(v) -> str:
    """One cell, formatted type-strictly (3 and 3.0 differ) so that a
    Spark row and a DuckDB row compare equal only when their values do."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return str(v.replace(tzinfo=None))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (bool, int, str, Decimal, datetime.date)):
        return str(v)
    return repr(v)


def normalize(rows) -> list[tuple[str, ...]]:
    return sorted(tuple(canon(v) for v in r) for r in rows)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every live process below
    it, each with the children it has reaped."""
    procs = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended during the scan
            continue
        # fields[1] is the ppid; [11:15] utime, stime, cutime, cstime
        procs[int(entry.name)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        ticks += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / CLK_TCK


def _git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


class BenchRun:
    """One benchmark run: session set-ups, passes, output check."""

    def __init__(self, workload: str, seed: int, trace: bool, run_dir: Path) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.run_dir = run_dir
        self.slots = len(os.sched_getaffinity(0))
        self.executions: list[dict] = []
        self.final_dfs: dict = {}  # query -> DataFrame of the final pass
        self.spark = None
        self.registry = None
        self.tracer = None
        self.streams = None
        self._pin_environment()
        if trace:
            from perfbench import tracing

            self.tracer = tracing.Tracer()
            self.streams = tracing.StreamProgress()

    def _pin_environment(self) -> None:
        """Keep every file the package, Spark and Python workers write
        inside the run directory; fix the driver heap."""
        dirs = {sub: self.run_dir / sub for sub in ("tmp", "local", "sinks", "replay", "eventlog")}
        for d in dirs.values():
            d.mkdir(parents=True)
        os.environ.update(
            TMPDIR=str(dirs["tmp"]),
            SPARK_GRAFT_LOCAL_DIR=str(dirs["local"]),
            SPARK_GRAFT_SINK_TMP=str(dirs["sinks"]),
            SPARK_GRAFT_REPLAY_TMP=str(dirs["replay"]),
            SPARK_GRAFT_DRIVER_MEM="2g",
            # no hsperfdata files in /tmp from the launcher or the driver JVM
            JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        )
        tempfile.tempdir = None
        self.conf = {
            # the package's modules must import on the Python workers too
            "spark.executorEnv.PYTHONPATH": str(ROOT),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['local']}",
        }
        if self.trace:
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": dirs["eventlog"].as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )

    def setup(self, last: bool) -> dict:
        """One set-up as a user pays it: import the package, get_spark,
        load_all and a warm-up action, in a fresh session."""
        if self.spark is not None:
            self.spark.stop()
        for name in [m for m in sys.modules if m == "etl4s_spark" or m.startswith("etl4s_spark.")]:
            del sys.modules[name]
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        session = importlib.import_module("etl4s_spark.session")
        self.spark = session.get_spark(
            "perfbench", master=f"local[{self.slots}]", shuffle_partitions=self.slots, extra_conf=self.conf
        )
        c1, t1 = tree_cpu_s(os.getpid()), time.perf_counter()
        if self.trace and last:
            from perfbench import tracing

            tracing.install_wrappers(self.tracer)
            self.spark.streams.addListener(self.streams)
        c2, t2 = tree_cpu_s(os.getpid()), time.perf_counter()
        self.registry = importlib.import_module("etl4s_spark.queries")
        self.registry.load_all()
        t3 = time.perf_counter()
        self.spark.read.parquet(str(DATA / "region.parquet")).count()
        c4, t4 = tree_cpu_s(os.getpid()), time.perf_counter()
        return {
            "get_spark_s": t1 - t0,
            "load_all_s": t3 - t2,
            "warmup_s": t4 - t3,
            "total_s": (t1 - t0) + (t4 - t2),
            "cpu_s": (c1 - c0) + (c4 - c2),
        }

    def run_pass(self, index: int, traced: bool, final: bool) -> tuple[float, float]:
        """One pass over the workload: its wall and CPU seconds. The final
        pass keeps each query's DataFrame for the output check."""
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        for name in workloads.query_order(self.workload, self.seed, index):
            self.executions.append(self._execute(name, index, traced, final))
        wall = time.perf_counter() - t0
        return wall, tree_cpu_s(os.getpid()) - c0

    def _execute(self, name: str, pass_index: int, traced: bool, final: bool) -> dict:
        """One query execution. Durations (``*_s``) come from the
        monotonic clock; the epoch stamps (``start``, ``build_end``,
        ``plan_end``, ``end``) only place Spark's jobs and stream batches,
        because the wall clock may be stepped during a run."""
        rec = {"id": len(self.executions), "pass": pass_index, "query": name, "traced": traced, "error": None}
        sc = self.spark.sparkContext
        if traced:
            self.tracer.execution = rec["id"]
            self.tracer.active = True
        rec["start"] = time.time()
        t_start = time.perf_counter()
        try:
            if traced:
                sc.setJobGroup(f"perfbench:{rec['id']}:build", name)
            t = time.perf_counter()
            df = self.registry.QUERIES[name](self.spark, str(DATA))
            rec["build_s"] = time.perf_counter() - t
            rec["build_end"] = time.time()
            if traced:
                sc.setJobGroup(f"perfbench:{rec['id']}:plan", name)
                t = time.perf_counter()
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                rec["plan_s"] = time.perf_counter() - t
                phases = qe.tracker().phases()
                for phase in ("analysis", "optimization", "planning"):
                    opt = phases.get(phase)
                    rec[f"{phase}_ms"] = opt.get().durationMs() if opt.isDefined() else 0
                sc.setJobGroup(f"perfbench:{rec['id']}:exec", name)
            rec["plan_end"] = time.time()
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec["exec_s"] = time.perf_counter() - t
            if final:
                self.final_dfs[name] = df
        except Exception as e:  # a failing query is counted and the run goes on
            traceback.print_exc()
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        finally:
            rec["wall_s"] = time.perf_counter() - t_start
            rec["end"] = time.time()
            rec.setdefault("build_end", rec["end"])
            rec.setdefault("plan_end", rec["end"])
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.active = False
                self.tracer.execution = None
        return rec

    def hygiene(self) -> dict:
        """Session state the queries left behind, read through the public
        catalog and streams APIs."""
        tables = self.spark.catalog.listTables()
        return {
            "temp_views": sum(t.isTemporary for t in tables),
            "cached_tables": sum(self.spark.catalog.isCached(f"`{t.name}`") for t in tables),
            "active_streams": len(self.spark.streams.active),
        }

    def jvm_heap_used_mb(self) -> float:
        rt = self.spark._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def check_outputs(self) -> dict[str, str]:
        """Collect each DataFrame of the final pass and compare it with the
        query's DuckDB oracle: columns sorted by name, rows
        order-insensitive. Returns name -> problem."""
        import duckdb

        problems = {}
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / t}.parquet'")
            for name in workloads.WORKLOADS[self.workload]:
                if name not in self.final_dfs:
                    problems[name] = "failed in the final pass, no result to check"
                    continue
                try:
                    df = self.final_dfs[name]
                    cols = sorted(df.columns)
                    got = [tuple(r[c] for c in cols) for r in df.collect()]
                    rel = con.execute(self.registry.ORACLES[name])
                    dcols = [d[0] for d in rel.description]
                    order = sorted(range(len(dcols)), key=dcols.__getitem__)
                    want = [tuple(r[i] for i in order) for r in rel.fetchall()]
                except Exception as e:  # reported as a wrong result
                    traceback.print_exc()
                    problems[name] = f"{type(e).__name__}: {e}"[:500]
                    continue
                if cols != sorted(dcols):
                    problems[name] = f"columns differ: spark={cols} oracle={sorted(dcols)}"
                elif len(got) != len(want):
                    problems[name] = f"row count differs: spark={len(got)} oracle={len(want)}"
                else:
                    diffs = [(a, b) for a, b in zip(normalize(got), normalize(want)) if a != b]
                    if diffs:
                        problems[name] = f"values differ, first: {diffs[0]}"[:500]
        return problems

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)

    def close(self) -> list | None:
        """Stop the session and its JVM and wait for it to exit. In a
        traced run, return the jobs of the final session's event log."""
        from pyspark import SparkContext

        jobs = None
        if self.spark is not None:
            if self.trace:
                self.spark._jsc.sc().listenerBus().waitUntilEmpty()
                app_id = self.spark.sparkContext.applicationId
            self.spark.stop()
            if self.trace:
                from perfbench import tracing

                with open(self.run_dir / "eventlog" / app_id) as f:
                    jobs = tracing.read_event_log(f)
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        return jobs


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: Path) -> dict:
    started = datetime.datetime.now(datetime.timezone.utc).isoformat()
    load_start = os.getloadavg()
    bench = BenchRun(workload, seed, trace, run_dir)
    try:
        setups = [bench.setup(last=i == SETUPS - 1) for i in range(SETUPS)]
        n_warm = workloads.warm_passes(workload, seconds)
        # Pass 0 is the cold pass. A traced run makes twice the warm
        # passes, traced and untraced in ABBA order, so that the JVM's
        # warm-up over the run biases neither side of the overhead.
        traced = [False] + ([p % 4 in (0, 1) for p in range(1, 2 * n_warm + 1)] if trace else [False] * n_warm)
        walls, cpus, hygiene, heap_mb = [], [], [], []
        for p, t in enumerate(traced):
            wall, cpu = bench.run_pass(p, traced=t, final=p == len(traced) - 1)
            walls.append(wall)
            cpus.append(cpu)
            hygiene.append(bench.hygiene())
            heap_mb.append(bench.jvm_heap_used_mb())
        wrong = bench.check_outputs()
        peak_rss_mb = bench.peak_rss_mb()
        java_version = bench.spark._jvm.System.getProperty("java.version")
    finally:
        jobs = bench.close()

    import pyspark

    execs = bench.executions
    failed = [e for e in execs if e["error"] or e["query"] in wrong]
    plain = [not t for t in traced]
    plain_cpus = [c for c, keep in zip(cpus, plain) if keep]
    e2e = metrics.end_to_end([s["cpu_s"] for s in setups], plain_cpus, len(execs), len(failed))
    warm_ok = [e["wall_s"] for e in execs if e["pass"] > 0 and not e["traced"] and not e["error"]]
    record = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "seconds": seconds,
        "warm_passes": n_warm,
        "started": started,
        "nproc": bench.slots,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "versions": {
            "pyspark": pyspark.__version__,
            "java": java_version,
            "python": platform.python_version(),
        },
        "commit": _git_commit(),
        "setups": setups,
        "pass_walls_s": walls,
        "pass_cpu_s": cpus,
        "wall": metrics.wall([s["total_s"] for s in setups], [w for w, keep in zip(walls, plain) if keep], warm_ok),
        "hygiene": hygiene,
        "jvm_heap_used_mb": heap_mb,
        "wrong_results": wrong,
        "failures": {e["query"]: e["error"] or wrong[e["query"]] for e in failed},
        "peak_rss_mb": peak_rss_mb,
        "end_to_end": e2e,
        "executions": execs,
        "attempted": len(execs),
        "failed": len(failed),
    }
    if trace:
        from perfbench import tracing

        traced_execs = [e for e in execs if e["traced"]]
        counters = tracing.attribute(traced_execs, bench.tracer.spans, jobs, bench.streams)
        passes: dict[int, list[dict]] = {}
        for e, c in zip(traced_execs, counters):
            phase_keys = ("build_s", "plan_s", "exec_s", "analysis_ms", "optimization_ms", "planning_ms")
            passes.setdefault(e["pass"], []).append({**c, **{k: e.get(k, 0.0) for k in phase_keys}})
        record["per_query_layers"] = {f"{e['pass']}:{e['query']}": c for e, c in zip(traced_execs, counters)}
        record["per_layer"] = metrics.per_layer(
            setups,
            list(passes.values()),
            wall_metrics=record["wall"],
            plain_pass_walls=[w for w, t in zip(walls[1:], traced[1:]) if not t],
            traced_pass_walls=[w for w, t in zip(walls, traced) if t],
            hygiene=hygiene[-1],
            heap_mb=heap_mb,
            peak_rss_mb=peak_rss_mb,
            slots=bench.slots,
        )
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    run_dir = ROOT / ".perfbench_run" / tag
    # Spark and the JVM may write to fd 1; keep stdout for the result.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
    results = ROOT / ".perfbench_results"
    results.mkdir(exist_ok=True)
    with open(results / f"{tag}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    values = record["per_layer"] if args.trace else record["end_to_end"]
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    for name, value in values.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"{record['warm_passes']} warm passes of {len(workloads.WORKLOADS[args.workload])} queries, seed {args.seed}")
    for name, err in record["failures"].items():
        print(f"FAILED {name}: {err}")
    line = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
