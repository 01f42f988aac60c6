"""``tools/harness.run_query``: the per-run record bench.py and the tools
share. Its job counts come from the status tracker by job group, so they
are exact: a warm run of the same query on the same data repeats them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tools.harness import run_query


def _runs(spark, sf_dir, name, n):
    recs = [run_query(spark, name, sf_dir) for _ in range(n)]
    assert not any(r["error"] for r in recs), recs
    return recs


def test_eager_checkpoints_count_as_build_jobs(spark, sf_dir):
    """bfs_hops checkpoints each frontier level inside the build, so
    q_graph_shortest_hops runs jobs before its DataFrame is returned; the
    cold run may add one (the session's first read of a table)."""
    _, a, b = _runs(spark, sf_dir, "q_graph_shortest_hops", 3)
    assert a["build_jobs"] > 0
    for key in ("build_jobs", "build_stages", "build_tasks", "exec_jobs", "exec_tasks"):
        assert a[key] == b[key], key
    assert a["exec_s"] > 0 and a["rows"] is None


def test_lazy_query_runs_no_build_job_when_warm(spark, sf_dir):
    _, a, b = _runs(spark, sf_dir, "q_agg_groupby", 3)
    assert a["build_jobs"] == b["build_jobs"] == 0
    assert a["exec_jobs"] == b["exec_jobs"] > 0
    assert a["exec_tasks"] == b["exec_tasks"] > 0
    assert a["cpu_s"] >= a["pyworker_cpu_s"] >= 0


def test_actions_yield_rows_and_plans(spark, sf_dir):
    pandas = run_query(spark, "q_agg_groupby", sf_dir, "pandas")
    assert pandas["rows"] == len(pandas["result"]) > 0
    collect = run_query(spark, "q_agg_groupby", sf_dir, "collect")
    assert collect["rows"] == pandas["rows"] and "result" not in collect
    plan = run_query(spark, "q_agg_groupby", sf_dir, "plan")
    formatted, simple = plan["result"]
    assert "HashAggregate" in formatted and "HashAggregate" in simple
    assert plan["exec_jobs"] == 0


@pytest.mark.parametrize("phase", ["build", "exec"])
def test_failing_query_is_recorded_not_raised(spark, sf_dir, monkeypatch, phase):
    from etl4s_spark.queries import QUERIES

    def broken(spark, sf_dir):
        if phase == "build":
            raise ValueError("no table")
        return spark.range(3).select(F.raise_error(F.lit("boom")).alias("x"))

    monkeypatch.setitem(QUERIES, "q_test_broken", broken)
    rec = run_query(spark, "q_test_broken", sf_dir)
    assert rec["error"].startswith("ValueError: no table" if phase == "build" else "SparkRuntimeException")
    assert (rec["build_s"] is None) == (phase == "build")
    assert rec["exec_s"] is None
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
