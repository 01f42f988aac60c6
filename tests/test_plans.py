"""Physical-plan assertions — the scale contract (SURVEY.md §4.2).

Correctness tests say WHAT comes out; these say HOW: filters must reach
the parquet scan, projections must prune ReadSchema, small-dim joins must
broadcast. At 100 TB these properties are the difference between touching
terabytes and touching everything.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl4s_spark.sources.tables import load_table


def plan_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = plan_str(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan, plan


def test_projection_prunes_read_schema(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_extendedprice")
    plan = plan_str(df)
    # ReadSchema carries ONLY the projected columns — not all 11
    assert "struct<l_orderkey:bigint,l_extendedprice:double>" in plan, plan
    assert "l_shipdate" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_flagship_plan_has_partial_aggregate_and_one_shuffle(spark, sf_dir):
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    df = QUERIES["q_agg_groupby"](spark, sf_dir)
    plan = plan_str(df)
    tree = plan.split("\n\n")[0]  # the numbered operator tree
    # partial + final HashAggregate; exactly 2 exchanges (1 key shuffle for
    # the agg + 1 range shuffle for the final sort)
    assert tree.count("HashAggregate") == 2, tree
    assert tree.count("Exchange") == 2, tree
    assert "hashpartitioning(l_returnflag" in plan, plan


def test_small_dim_join_broadcasts(spark, sf_dir):
    nat = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    df = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    plan = plan_str(df)
    assert "BroadcastHashJoin" in plan, plan


def test_whole_stage_codegen_covers_project(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select((F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"))
    plan = plan_str(df)
    # '*' prefix in the formatted tree marks whole-stage-codegen'd operators
    assert "* Project" in plan, plan


def test_ivf_plan_size_constant_in_cells_and_dims(spark, sf_dir):
    """The r1 scale fix: centroids travel as DATA (one-row broadcast
    matrix), so the PLAN must not grow with n_cells × dim. The old
    unrolled-SQL formulation grew the plan by ~n_cells × dim terms."""
    from etl4s_spark.operators.similarity import (
        as_double,
        centroid_matrix_frame,
        rank_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")

    def assignment_plan(n_cells: int, dim: int = 64) -> str:
        cents = [[float(i + j) for j in range(dim)] for i in range(n_cells)]
        cmat = centroid_matrix_frame(spark, cents)
        df = (
            e.select("vec_id", as_double(F.col("embedding")).alias("__cv"))
            .crossJoin(F.broadcast(cmat))
            .select("vec_id", F.element_at(rank_cells(F.col("__cv")), 1).alias("__cell"))
        )
        return plan_str(df)

    p8, p64 = assignment_plan(8), assignment_plan(64)
    assert "BroadcastNestedLoopJoin" in p8
    # 8× the centroids must not inflate the plan text (same operators,
    # same expressions — the matrix is data, not plan)
    assert abs(len(p64) - len(p8)) < 0.1 * len(p8), (len(p8), len(p64))
    # and neither do production-sized dims (the r1 formulation grew the
    # plan by n_cells × dim unrolled terms — 64×256 would be ~16k terms)
    p_big = assignment_plan(64, dim=256)
    assert abs(len(p_big) - len(p8)) < 0.1 * len(p8), (len(p8), len(p_big))


def test_hyperplane_buckets_plan_is_codegen_join_agg(spark, sf_dir):
    """LSH signatures must be the explode → broadcast-join(±1 sign table)
    → partial-agg shape: codegen'd, no interpreted higher-order lambdas,
    plan size independent of planes × tables."""
    from etl4s_spark.operators.similarity import hyperplane_buckets

    e = load_table(spark, sf_dir, "embeddings")
    p1 = plan_str(hyperplane_buckets(e, "vec_id", "embedding", 64, 6, 2))
    p2 = plan_str(hyperplane_buckets(e, "vec_id", "embedding", 64, 12, 8))
    assert "BroadcastHashJoin" in p1 and "posexplode" in p1
    assert "transform(" not in p1  # no higher-order lambdas in the plan
    assert abs(len(p2) - len(p1)) < 0.1 * len(p1), (len(p1), len(p2))


def test_dedup_funnel_does_not_pin_candidates_to_broadcast(spark, sf_dir):
    """r1 scale fix: the candidate-pair set is an unbounded intermediate —
    the plan must not carry an explicit broadcast HINT on it (AQE may
    still choose to broadcast at runtime when it is actually small)."""
    from etl4s_spark.operators.dedup import dedup_funnel

    d = load_table(spark, sf_dir, "documents")
    optimized = dedup_funnel(d, "doc_id", "text")._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized and "BROADCAST" not in optimized


def test_salted_join_matches_plain_join_and_spreads_hot_key(spark, sf_dir):
    from etl4s_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    # manufacture skew: fold most keys into one hot key
    skewed = li.withColumn(
        "k", F.when(F.col("l_orderkey") % 4 != 0, F.lit(1)).otherwise(F.col("l_orderkey"))
    )
    dim = (
        skewed.select("k").distinct().withColumn("attr", F.col("k") * 10)
    )
    plain = skewed.join(dim, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s")
    ).collect()[0]
    salted = salted_join(skewed, dim, on=["k"], salt_buckets=8).agg(
        F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s")
    ).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)
    # anti join: rows with no dim match survive identically
    dim_partial = dim.filter(F.col("k") != 1)
    plain_anti = skewed.join(dim_partial, "k", "left_anti").count()
    salted_anti = salted_join(skewed, dim_partial, on=["k"], how="left_anti", salt_buckets=8).count()
    assert plain_anti == salted_anti
    # the hot key's rows really do spread across several salt buckets
    spread = (
        skewed.filter(F.col("k") == 1)
        .withColumn(
            "salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(8)),
        )
        .select("salt")
        .distinct()
        .count()
    )
    assert spread >= 6, spread


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    import uuid

    from etl4s_spark.sources.batch import write_bucketed

    suffix = uuid.uuid4().hex[:8]
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, f"li_b_{suffix}", ["l_orderkey"], 8, sort_by=["l_orderkey"])
    write_bucketed(od, f"od_b_{suffix}", ["o_orderkey"], 8, sort_by=["o_orderkey"])
    a = spark.table(f"li_b_{suffix}")
    b = spark.table(f"od_b_{suffix}")
    joined = a.join(b, a.l_orderkey == b.o_orderkey)
    # co-bucketed join: SortMergeJoin with NO Exchange anywhere in the plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_str(a.join(b, a.l_orderkey == b.o_orderkey))
        tree = plan.split("\n\n")[0]
        assert "SortMergeJoin" in tree, tree
        assert "Exchange" not in tree, tree
        assert joined.count() == li.join(od, li.l_orderkey == od.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS li_b_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS od_b_{suffix}")


def test_rollup_hierarchy_reuses_finest_exchange_at_runtime(spark, sf_dir):
    from etl4s_spark.operators.rollup import rollup_hierarchy

    ev = load_table(spark, sf_dir, "events")
    df = rollup_hierarchy(ev, "ts", "value", keys=["event_type"])
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # hour and day branches must reuse the minute-level shuffle instead of
    # rescanning/re-aggregating the raw table
    assert executed.count("ReusedExchange") >= 2, executed[:2000]


def test_tpch_q3_plan_pushes_filters_and_takes_ordered(spark, sf_dir):
    """The macro-query scale contract: every scan filter pushed down,
    ReadSchema pruned to used columns, and the top-10 executed as
    TakeOrderedAndProject (no global sort materialization)."""
    from etl4s_spark.queries.tpch import q_tpch_q3

    plan = plan_str(q_tpch_q3(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # all three scans carry their pushed predicate
    for frag in ("GreaterThan(l_shipdate", "LessThan(o_orderdate", "EqualTo(c_mktsegment,BUILDING)"):
        assert frag in plan, frag
    # lineitem scan reads only the 4 needed columns of 11
    li_schema = plan.split("lineitem.parquet")[1].split("ReadSchema: ")[1].splitlines()[0]
    assert li_schema.count(":") == 4, li_schema


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark shingle set must broadcast — the corpus side of the
    contamination probe may never shuffle on the shingle key."""
    from etl4s_spark.queries.llm import q_decontaminate

    plan = plan_str(q_decontaminate(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree


def test_tpch_q6_every_predicate_pushed(spark, sf_dir):
    """Q6 is pure scan bandwidth at scale: all four predicates must
    appear in PushedFilters and the only exchange is the single-row
    final aggregation."""
    from etl4s_spark.queries.tpch import q_tpch_q6

    plan = plan_str(q_tpch_q6(spark, sf_dir))
    pushed = plan.split("PushedFilters: ")[1].splitlines()[0]
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, (frag, pushed)
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree


def test_pq_encode_plan_constant_in_codebook_size(spark, sf_dir):
    """PQ codewords are DATA (a broadcast values table), so the encode
    plan must not grow with M × K × dim — the same contract the IVF
    centroid matrix carries."""
    from etl4s_spark.operators.similarity import pq_encode

    e = load_table(spark, sf_dir, "embeddings")

    def encode_plan(m_subspaces: int, n_codes: int, dim: int = 64) -> str:
        sub = dim // m_subspaces
        books = [
            [[float(m + c + p) for p in range(sub)] for c in range(n_codes)]
            for m in range(m_subspaces)
        ]
        return plan_str(pq_encode(e, "vec_id", "embedding", books))

    p_small, p_big = encode_plan(8, 16), encode_plan(16, 256)
    # 32× the codewords: same operators, same expressions
    assert abs(len(p_big) - len(p_small)) < 0.1 * len(p_small), (
        len(p_small),
        len(p_big),
    )


def test_round5_plan_contracts(spark, sf_dir):
    """Scale-shape assertions for the round-5 surface: CDC collapse is a
    pure aggregation (no Window), TF-IDF's per-source top-3 compiles to
    a map-side WindowGroupLimit, the bloom probe broadcasts the bit set,
    and the stream-static dim join broadcasts the dimension."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    cdc = plan_str(QUERIES["q_cdc_apply"](spark, sf_dir))
    assert "partial_" in cdc and "Window" not in cdc

    tfidf = plan_str(QUERIES["q_text_tfidf"](spark, sf_dir))
    assert "WindowGroupLimit" in tfidf and "BroadcastHashJoin" in tfidf

    bloom = plan_str(QUERIES["q_filter_bloom"](spark, sf_dir))
    assert "BroadcastHashJoin" in bloom

    quant = plan_str(QUERIES["q_embedding_quantize"](spark, sf_dir))
    assert "BroadcastHashJoin" in quant  # 64-row bounds join never shuffles


def test_ts_grid_is_distributed_not_driver_side(spark, sf_dir):
    """The resample grid must be explode(sequence(...)) in the plan —
    generated executor-side from each key's span row — not a
    driver-collected range. A LocalTableScan feeding the join would mean
    the grid materialized on the driver."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    plan = plan_str(QUERIES["q_ts_resample"](spark, sf_dir))
    assert "explode(sequence(" in plan, plan
    assert "Generate" in plan, plan


def test_geo_nearest_coords_materialize_before_fanout(spark, sf_dir):
    """The customer side must be WIDENED before the broadcast site
    fan-out: the join, distance math, and partial min-agg pipeline into
    the scan stage, and a small parquet arrives as ONE split — the whole
    fan-out on one core (14x at sf0.1; operators/parallelism.py). On a
    narrow scan the guard shows as a REPARTITION_BY_COL exchange on
    c_custkey below the join, and the pair-struct projection must
    reference plain coord attributes (the coords are materialized per
    customer row, never per pair)."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    plan = plan_str(QUERIES["q_join_geo_nearest"](spark, sf_dir))
    assert "REPARTITION_BY_NUM" in plan or "REPARTITION_BY_COL" in plan, plan
    # the pair-struct projection must reference plain coord attributes,
    # not an inlined conv(md5(...)) recomputation
    pair_lines = [ln for ln in plan.splitlines() if " AS p#" in ln]
    assert pair_lines, plan
    assert all("conv(" not in ln for ln in pair_lines), pair_lines


def test_unbounded_partitionless_window_gate(spark):
    """The r5 scale-killer class, made mechanical (VERDICT r6 item 3):
    a WindowExec with an empty partition spec whose input is not an
    aggregate/limit/local relation funnels data-scale rows through ONE
    task. The detector lives in tools/plan_audit.py; this pins (a) the
    detector's verdict on the four canonical shapes and (b) the audit
    artifact's repo-wide count at ZERO."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.plan_audit import count_unbounded_partitionless_windows as gate

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from etl4s_spark.operators.ranking import global_index, log_bucket, one_part

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    # the offender: global row_number over a data-scale frame
    bad = spark.range(1000).withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert gate(plan(bad)) == 1
    # unpartitioned AND unordered over raw data: still the offender
    bad2 = spark.range(1000).withColumn("c", F.count("*").over(Window.partitionBy()))
    assert gate(plan(bad2)) == 1
    # partitioned (ordered or not): fine
    part = spark.range(1000).withColumn(
        "rn", F.row_number().over(Window.partitionBy(F.col("id") % 5).orderBy("id"))
    )
    assert gate(plan(part)) == 0
    part_unord = spark.range(1000).withColumn(
        "c", F.count("*").over(Window.partitionBy(F.col("id") % 16))
    )
    assert gate(plan(part_unord)) == 0
    # global window over an AGGREGATE output: bounded-domain, blessed
    agg = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("g"))
        .count()
        .withColumn("rn", F.row_number().over(Window.orderBy("g")))
    )
    assert gate(plan(agg)) == 0
    # the blessed explicit-single-partition form (one_part) never flags
    blessed = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.partitionBy(one_part("id")).orderBy("id"))
    )
    assert gate(plan(blessed)) == 0
    # the two-pass distributed rank keeps itself clean
    gi = global_index(
        spark.range(1000).withColumn("v", (F.col("id") * 7) % 97),
        F.col("v"),
        log_bucket(F.col("v")),
        ["id"],
    )
    assert gate(plan(gi)) == 0

    # repo-wide invariant: the committed audit says ZERO such windows
    audit_path = os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT.json")
    with open(audit_path) as f:
        doc = json.load(f)
    assert doc["totals"]["unbounded_partitionless_windows"] == 0, (
        "plan audit found unbounded partition-less windows — rerun "
        "tools/plan_audit.py and fix the flagged queries (bless bounded "
        "frames with operators/ranking.py one_part)"
    )


def test_literal_group_quartiles_window_stays_partitioned(spark, sf_dir):
    """FoldablePropagation trap (round 7): callers pass exact_quartiles_
    cents a LITERAL group (F.lit(1).alias('g')); Catalyst folds the
    attribute out of the partition spec, silently decaying the window to
    'No Partition Defined'. The operator rides one_part alongside g so
    the spec survives — this pins the plan shape."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.plan_audit import count_unbounded_partitionless_windows as gate

    from pyspark.sql import functions as F

    from etl4s_spark.operators.analytics import exact_quartiles_cents
    from etl4s_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(500)
    df = exact_quartiles_cents(
        li.select(
            F.lit(1).alias("g"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        ),
        "g",
        "p",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert gate(plan) == 0, plan
    # and the result is still the single-group quartile row
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["n"] == 500


def _join_condition(df) -> str:
    """The condition of the first Join in ``df``'s optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return next(line for line in plan.splitlines() if "Join Inner" in line)


def _ordered(cond: str, *patterns: str) -> bool:
    """Each regex first matches ``cond`` after the previous one."""
    import re

    spots = [re.search(p, cond) for p in patterns]
    return all(spots) and [m.start() for m in spots] == sorted(m.start() for m in spots)


def test_pair_joins_test_ids_before_expensive_score(spark, sf_dir):
    """The pair joins author their ON clause cheapest-first and Catalyst
    keeps that order, so the interpreted cosine (semdedup) and the
    banded levenshtein DP (q_fuzzy_pairs, ADVICE r13) run only on pairs
    that passed the cell-key / id-order tests. A post-join filter on the
    score would merge into the join condition AHEAD of ``id_a < id_b``
    and score every row pair. embedding_neardup_pairs has no join: Spark
    scores only the rows its kernel emits, and the kernel emits only
    ``id_a < id_b`` pairs — a threshold every pair passes must return
    each ordered pair exactly once."""
    from etl4s_spark.operators.similarity import embedding_neardup_pairs, semdedup
    from etl4s_spark.queries import QUERIES, load_all

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    ids, cos = r"\(id_a#\d+L? < id_b#\d+L?\)", r"round\(\(aggregate"
    every = embedding_neardup_pairs(e, "vec_id", "embedding", -2.0)
    plan = every._jdf.queryExecution().optimizedPlan().toString().splitlines()
    assert not any("Join" in line for line in plan), plan
    score = next(i for i, line in enumerate(plan) if "Filter (round((dot#" in line)
    assert "MapInArrow" in plan[score + 1], plan
    rows = [(r.id_a, r.id_b) for r in every.collect()]
    n = e.count()
    assert len(rows) == len(set(rows)) == n * (n - 1) // 2 > 0
    assert all(a < b for a, b in rows)
    cond = _join_condition(semdedup(e, "vec_id", "embedding", n_clusters=8))
    assert _ordered(cond, r"\(__ca#\d+ = __cb#\d+\)", ids, cos), cond

    load_all()
    cond = _join_condition(QUERIES["q_fuzzy_pairs"](spark, sf_dir))
    assert _ordered(
        cond, r"\(p_partkey#\d+L? < p_partkey#\d+L?\)", r"levenshtein\("
    ), cond
