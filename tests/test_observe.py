"""Observability-layer tests: single-pass ensure gates, observe metrics,
plan inspection (SURVEY.md §2.A22/A28 Spark-side realization)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl4s_spark.core.validation import ValidationException
from etl4s_spark.plans import ensure_df, explain_str, observe_counts
from etl4s_spark.sources.tables import load_table


def test_ensure_df_passes_clean_data(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    out = ensure_df(
        li,
        negative_qty=F.col("l_quantity") <= 0,
        bad_discount=~F.col("l_discount").between(0, 1),
    )
    assert out.count() > 0


def test_ensure_df_collects_all_violations(spark):
    df = spark.createDataFrame([(1, -5.0), (2, 3.0), (3, -1.0)], "id int, v double")
    with pytest.raises(ValidationException) as ei:
        ensure_df(
            df,
            negative_v=F.col("v") < 0,
            huge_id=F.col("id") > 100,  # no violations — must NOT appear
        )
    assert len(ei.value.failures) == 1
    assert "negative_v: 2 rows violate" in ei.value.failures[0]


def test_ensure_df_warn_only_logs(spark):
    from etl4s_spark.core.node import node

    df = spark.createDataFrame([(1, -5.0)], "id int, v double")
    p = node(lambda _: ensure_df(df, warn_only=True, neg=F.col("v") < 0))
    rep = p.run_trace(None)
    assert any("WARN neg" in l for l in rep.logs)


def test_observe_counts_rides_along(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    om = observe_counts(li, big_qty=F.col("l_quantity") > 30)
    n = om.df.count()  # one action computes rows + metric together
    m = om.get()
    assert m["__rows"] == n
    assert 0 < m["big_qty"] < n


def test_explain_str_modes(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    assert "Scan parquet" in explain_str(li, "simple")
    assert "== Physical Plan ==" in explain_str(li, "formatted")


def test_lineage_from_plan_sees_through_join(spark, sf_dir):
    from etl4s_spark.core.lineage import LineageGraph
    from etl4s_spark.plans import lineage_from_plan

    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    joined = li.join(od, li.l_orderkey == od.o_orderkey).select("l_orderkey", "o_totalprice")
    ln = lineage_from_plan(joined, "enrich", outputs=("warehouse.enriched",))
    assert f"{sf_dir}/lineitem.parquet" in ln.inputs
    assert f"{sf_dir}/orders.parquet" in ln.inputs
    # derived lineage renders like hand lineage
    g = LineageGraph.build([ln])
    assert "enrich" in g.to_mermaid() and "lineitem" in g.to_json()
