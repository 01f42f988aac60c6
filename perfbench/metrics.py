"""Metric names, units and their computation from a run's records.

Pure Python, so the tests can check the names against BENCHMARK.json
without a Spark session.
"""

from __future__ import annotations

import statistics

# name -> unit. Measured with tracing off. The times are CPU seconds of
# the benchmark's process tree (Python driver, JVM, Python workers);
# ok_frac is 1 - (failed or wrong-result executions / attempted).
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "ok_frac": "frac",
}

OPERATOR_MODULES = ("dedup", "graph", "similarity", "text", "joins")

# name -> unit. From the traced run; per-pass values are means over the
# traced warm passes, so build + plan + exec + remainder = trace.pass_s.
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "queries.load_all_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_tasks": "count",
    "queries.build_executor_cpu_ms": "ms",
    "plan.s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.cpu_busy_frac": "frac",
    **{f"operators.{m}.{k}": u for m in OPERATOR_MODULES for k, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))},
    "core.node_runs": "count",
    "core.node_run_s": "s",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "sources.write_calls": "count",
    "sources.write_s": "s",
    "sources.output_bytes": "bytes",
    "driver.remainder_s": "s",
    "driver.jvm_heap_used_mb": "MB",
    "driver.peak_rss_mb": "MB",
    "driver.temp_views_left": "count",
    "driver.cached_tables_left": "count",
    "driver.active_streams_left": "count",
    "trace.pass_s": "s",
    "trace.overhead_frac": "frac",
    "wall.setup_s": "s",
    "wall.cold_pass_s": "s",
    "wall.pass_s": "s",
    "wall.query_p50_s": "s",
}

# per-layer name -> key in the attribution records of tracing.attribute()
_ATTRIBUTED = {
    "queries.build_jobs": "build.jobs",
    "queries.build_tasks": "build.tasks",
    "queries.build_executor_cpu_ms": "build.cpu_ms",
    "exec.jobs": "exec.jobs",
    "exec.stages": "exec.stages",
    "exec.tasks": "exec.tasks",
    "exec.executor_run_ms": "exec.run_ms",
    "exec.executor_cpu_ms": "exec.cpu_ms",
    "exec.gc_ms": "exec.gc_ms",
    "exec.shuffle_read_bytes": "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes": "exec.shuffle_write_bytes",
    "exec.input_bytes": "exec.input_bytes",
    "exec.spill_bytes": "exec.spill_bytes",
    **{f"operators.{m}.{k}": f"operators.{m}.{k}" for m in OPERATOR_MODULES for k in ("calls", "s", "jobs")},
    "core.node_runs": "core.calls",
    "core.node_run_s": "core.s",
    "streaming.queries": "stream.queries",
    "streaming.batches": "stream.batches",
    "streaming.trigger_ms": "stream.triggerExecution",
    "streaming.add_batch_ms": "stream.addBatch",
    "streaming.wal_commit_ms": "stream.walCommit",
    "streaming.commit_offsets_ms": "stream.commitOffsets",
    "streaming.query_planning_ms": "stream.queryPlanning",
    "streaming.state_commit_ms": "stream.state_commit_ms",
    "sources.read_calls": "sources.read.calls",
    "sources.read_s": "sources.read.s",
    "sources.write_calls": "sources.write.calls",
    "sources.write_s": "sources.write.s",
    "sources.output_bytes": "output_bytes",
}


def end_to_end(setup_cpus: list[float], pass_cpus: list[float], attempted: int, failed: int) -> dict[str, float]:
    """``pass_cpus[0]`` is the cold pass, the rest are warm. The warm
    passes are averaged, not their median taken: the JVM's compiler is
    still busy in them and its work moves between consecutive passes, so
    one pass varies more between runs than their sum does."""
    return {
        "setup_s": statistics.median(setup_cpus),
        "cold_pass_cpu_s": pass_cpus[0],
        "pass_cpu_s": statistics.mean(pass_cpus[1:]),
        "ok_frac": 1.0 - failed / attempted,
    }


def wall(setup_walls: list[float], pass_walls: list[float], warm_query_s: list[float]) -> dict[str, float]:
    """Wall seconds of the set-ups and the untraced passes:
    ``pass_walls[0]`` is the cold pass, the rest are warm;
    ``warm_query_s`` are their executions."""
    return {
        "setup_s": statistics.median(setup_walls),
        "cold_pass_s": pass_walls[0],
        "pass_s": statistics.median(pass_walls[1:]),
        "query_p50_s": statistics.median(warm_query_s),
    }


def per_layer(
    setups: list[dict],
    traced_passes: list[list[dict]],
    wall_metrics: dict[str, float],
    plain_pass_walls: list[float],
    traced_pass_walls: list[float],
    hygiene: dict,
    heap_mb: list[float],
    peak_rss_mb: float,
    slots: int,
) -> dict[str, float]:
    """``traced_passes`` holds, for each traced warm pass, one record per
    query execution: the durations of its build, plan and exec calls
    (``build_s``, ``plan_s``, ``exec_s``), its Catalyst phase ms and the
    attribution counters of ``tracing.attribute``. ``wall_metrics``
    holds the untraced passes' wall metrics (see ``wall()``)."""
    n = len(traced_passes)

    def mean(key: str) -> float:
        return sum(r.get(key, 0.0) for p in traced_passes for r in p) / n

    out = {k: mean(v) for k, v in _ATTRIBUTED.items()}
    out["queries.build_s"] = mean("build_s")
    out["plan.s"] = mean("plan_s")
    out["exec.s"] = mean("exec_s")
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        out[f"plan.{k}"] = mean(k)
    wall = statistics.mean(traced_pass_walls)
    out["exec.cpu_busy_frac"] = out["exec.executor_cpu_ms"] / (1000.0 * out["exec.s"] * slots) if out["exec.s"] else 0.0
    out["driver.remainder_s"] = wall - out["queries.build_s"] - out["plan.s"] - out["exec.s"]
    out["driver.jvm_heap_used_mb"] = statistics.median(heap_mb)
    out["driver.peak_rss_mb"] = peak_rss_mb
    out["driver.temp_views_left"] = hygiene["temp_views"]
    out["driver.cached_tables_left"] = hygiene["cached_tables"]
    out["driver.active_streams_left"] = hygiene["active_streams"]
    out["session.get_spark_s"] = statistics.median(s["get_spark_s"] for s in setups)
    out["queries.load_all_s"] = statistics.median(s["load_all_s"] for s in setups)
    out["trace.pass_s"] = wall
    out["trace.overhead_frac"] = statistics.median(traced_pass_walls) / statistics.median(plain_pass_walls) - 1.0
    out.update({f"wall.{k}": v for k, v in wall_metrics.items()})
    return {k: out[k] for k in PER_LAYER}
