"""Tests of the benchmark itself; none starts a Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import compare, metrics, tracing, workloads  # noqa: E402


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def test_workload_queries_resolve_and_are_disjoint():
    from etl4s_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    seen: set[str] = set()
    for name, queries in workloads.WORKLOADS.items():
        assert len(set(queries)) == len(queries), name
        assert not seen & set(queries), f"{name} shares queries with another workload"
        seen |= set(queries)
        for q in queries:
            assert q in QUERIES, q
            assert q in ORACLES, f"{q} has no oracle for the output check"


def test_workloads_match_benchmark_json():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    assert len(names) >= 2 and set(names) <= set(workloads.WORKLOADS)
    assert set(workloads.PASS_S) == set(workloads.WORKLOADS)
    for w in workloads.WORKLOADS:
        assert workloads.warm_passes(w, spec["run_seconds"]) >= workloads.MIN_WARM_PASSES


def test_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [m["name"] for m in spec["end_to_end"]] == list(metrics.END_TO_END)


def test_metric_functions_return_exactly_the_declared_names():
    e2e = metrics.end_to_end([1.0, 0.5, 0.7], [9.0, 3.0, 2.0, 4.0], 12, 0)
    assert list(e2e) == list(metrics.END_TO_END)
    assert e2e["pass_cpu_s"] == 3.0 and e2e["cold_pass_cpu_s"] == 9.0 and e2e["ok_frac"] == 1.0
    assert metrics.end_to_end([1.0], [9.0, 4.0, 1.0, 1.0], 4, 1)["pass_cpu_s"] == 2.0  # mean, not median
    wall = metrics.wall([9.0, 1.0, 1.2], [5.0, 1.0, 2.0], [0.2, 0.4, 0.3])
    assert wall == {"setup_s": 1.2, "cold_pass_s": 5.0, "pass_s": 1.5, "query_p50_s": 0.3}
    setups = [{"get_spark_s": 0.3, "load_all_s": 0.2}]
    rec = {"build_s": 0.1, "plan_s": 0.05, "exec_s": 0.4, "exec.cpu_ms": 800.0}
    layers = metrics.per_layer(
        setups,
        [[rec, rec]],
        wall_metrics=wall,
        plain_pass_walls=[1.0],
        traced_pass_walls=[1.2],
        hygiene={"temp_views": 1, "cached_tables": 0, "active_streams": 0},
        heap_mb=[100.0],
        peak_rss_mb=900.0,
        slots=4,
    )
    assert list(layers) == list(metrics.PER_LAYER)
    wall = layers["queries.build_s"] + layers["plan.s"] + layers["exec.s"] + layers["driver.remainder_s"]
    assert abs(wall - layers["trace.pass_s"]) < 1e-9
    assert abs(layers["trace.overhead_frac"] - 0.2) < 1e-9
    assert layers["wall.pass_s"] == 1.5


def test_tree_cpu_counts_live_and_reaped_children():
    from perfbench import run

    # The child burns 0.3 s of CPU, says so, and waits to be released.
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\nprint(flush=True)\ninput()"
    before = run.tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.readline()
        live = run.tree_cpu_s(os.getpid()) - before
    finally:
        child.communicate(b"\n", timeout=60)
    assert live >= 0.3
    assert run.tree_cpu_s(os.getpid()) - before >= live  # once reaped, in this process's cutime


def test_same_seed_gives_same_order():
    for w in workloads.WORKLOADS:
        a = [workloads.query_order(w, 7, p) for p in range(4)]
        assert a == [workloads.query_order(w, 7, p) for p in range(4)]
        assert all(sorted(x) == sorted(workloads.WORKLOADS[w]) for x in a)
    olap = [workloads.query_order("olap", s, 1) for s in range(5)]
    assert len({tuple(x) for x in olap}) > 1


def test_event_log_parser_on_recorded_log():
    # Two jobs recorded from local[2]: a 4-partition count (1 stage,
    # 4 tasks) and a reduceByKey into 2 partitions (2 stages, 4 + 2
    # tasks), the second in job group "perfbench:1:exec".
    with open(HERE / "data" / "eventlog_two_jobs.jsonl") as f:
        jobs = tracing.read_event_log(f)
    assert [j.group for j in jobs] == [None, "perfbench:1:exec"]
    assert [j.stages for j in jobs] == [1, 2]
    assert [j.counters["tasks"] for j in jobs] == [4, 6]
    count, shuffle = jobs[0].counters, jobs[1].counters
    assert count["shuffle_write_bytes"] == 0 and count["shuffle_read_bytes"] == 0
    assert shuffle["shuffle_write_bytes"] > 0
    assert shuffle["shuffle_read_bytes"] == shuffle["shuffle_write_bytes"]
    assert all(j.counters["run_ms"] >= 0 and j.counters["cpu_ms"] > 0 for j in jobs)
    assert jobs[0].submitted < jobs[1].submitted


def test_self_times_subtract_direct_children():
    spans = [
        tracing.Span("operators.dedup", "a", 0.0, 10.0, None, 0, 1, 10.0),
        tracing.Span("operators.similarity", "b", 1.0, 4.0, 0, 1, 1, 3.0),
        tracing.Span("sources.read", "c", 2.0, 3.0, 1, 2, 1, 1.0),
    ]
    assert tracing.self_times(spans) == [7.0, 2.0, 1.0]


def test_compare_verdicts():
    parent = [10.0 + 0.1 * i for i in range(10)]
    faster = [x * 0.8 for x in parent]
    assert compare.verdict(parent, faster, True, 0.1)["verdict"] == "improved"
    assert compare.verdict(faster, parent, True, 0.1)["verdict"] == "worse"
    assert compare.verdict(parent, list(parent), True, 0.1)["verdict"] == "unchanged"
    # higher is better: a wide parent spread and overlapping runs
    wide = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    assert compare.verdict(wide, list(reversed(wide)), False, 0.05)["verdict"] == "unresolved"
    # every change run beats every parent run: not unresolved
    assert compare.verdict(wide, [x + 10 for x in wide], False, 0.05)["verdict"] == "improved"
