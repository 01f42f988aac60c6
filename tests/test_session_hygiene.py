"""Catalog boundedness across repeated query runs (VERDICT r11 item 5).

The SQL-entry queries register uuid-named temp views to hand DataFrames
into SQL-scripting / recursive-CTE text, and drop them once the plan is
analyzed. The only session-lifetime registrations are the bounded
``_view()`` table views (one per table × sf_dir). This test pins the
invariant a 366-query bench session depends on: re-running the
view-using queries does NOT grow the temp-view catalog — a leaked view
per run would put hundreds of entries (each pinning an analyzed plan)
into a long session's catalog.

The stream replays read their result from a memory sink, which registers
a uuid-named temp view holding the sink's rows; they drop it once the
returned DataFrame is built, and are run twice here as well.
"""

from __future__ import annotations


def _run(spark, sf_dir, qname):
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    QUERIES[qname](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_temp_view_catalog_is_bounded_across_runs(spark, sf_dir):
    # every sql_entry query that registers uuid temp views, the
    # scripting/recursive pair the r11 verdict called out explicitly, and
    # two memory-sink stream replays
    view_users = [
        "q_sql_scripting",
        "q_sql_recursive_bfs",
        "q_sql_pipe_syntax",
        "q_sql_subquery_correlated",
        "q_stream_dedup_replay",
        "q_stream_state_replay",
    ]
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    assert {"q_stream_dedup_replay", "q_stream_state_replay"} <= set(QUERIES)
    view_users = [q for q in view_users if q in QUERIES]
    assert view_users, "sql_entry query names drifted — update this test"

    for q in view_users:  # first pass: lets _view() registrations happen
        _run(spark, sf_dir, q)
    after_first = {v.name for v in spark.catalog.listTables() if v.isTemporary}

    for q in view_users:  # second pass must add NOTHING
        _run(spark, sf_dir, q)
    after_second = {v.name for v in spark.catalog.listTables() if v.isTemporary}

    leaked = after_second - after_first
    assert not leaked, f"temp views leaked by a re-run: {sorted(leaked)}"
