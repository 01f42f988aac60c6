"""Aggregation queries (SURVEY.md §2.B Aggregations).

All group-bys compile to HashAggregateExec with partial (map-side) +
final aggregation — one shuffle on the grouping keys, no more
(reference delegates these to Spark: docs/examples-spark.md:27-29).
At 100 TB the partial-agg shrinks the shuffle to |groups| × partitions
rows; low-cardinality keys like (l_returnflag, l_linestatus) make the
shuffle negligible regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl4s_spark.operators.parallelism import widen
from etl4s_spark.queries import query
from etl4s_spark.sources.tables import load_table

# DuckDB mirror of the normalized word split (operators/text.py words)
_WORDS_LIM = "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"


@query(
    "q_agg_groupby",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity) AS BIGINT)            AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
             CAST(round(l_discount * 100) AS BIGINT)      AS d,
             CAST(round(l_tax * 100) AS BIGINT)           AS t
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(q) AS DOUBLE)                           AS sum_qty,
           CAST(sum(p) AS DOUBLE) / 100                     AS sum_base_price,
           CAST(sum(p * (100 - d)) AS DOUBLE) / 10000.0     AS sum_disc_price,
           CAST((2 * sum(p * (100 - d) * (100 + t)) + 100)
                // 200 AS BIGINT) / 10000.0                 AS sum_charge,
           CAST((2 * sum(q) * 10000 + count(*))
                // (2 * count(*)) AS BIGINT) / 10000.0      AS avg_qty,
           CAST((2 * sum(p) * 100 + count(*))
                // (2 * count(*)) AS BIGINT) / 10000.0      AS avg_price,
           CAST((2 * sum(d) * 100 + count(*))
                // (2 * count(*)) AS BIGINT) / 10000.0      AS avg_disc,
           count(*)                                         AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the flagship query (SURVEY.md §7.2).

    Plan: parquet scan (pushed filter on l_shipdate, pruned to 8 columns)
    → partial HashAggregate → shuffle on 2 low-cardinality keys → final
    HashAggregate → sort. One shuffle; scales linearly in input.

    TPC-H defines these columns on DECIMALS, and this formulation keeps
    them exact: cents/percent integers in, bigint moment sums (the
    disc-price and charge products are integers at 10⁻⁴/10⁻⁶ scale),
    ONE identical division (or integer half-up round) out. The original
    round(sum(double), 4) had passed five rounds on luck — the same
    class diverged at sf0.1 in q_agg_filtered, where ~100k-term float
    sums accumulate in engine-specific orders (FIXTURES.md §C).

    Range note: the charge-product sum is ~1e11/row, so bigint exactness
    holds to ~5·10⁷ rows per group; beyond that ANSI mode RAISES (loud,
    never silently wrong) and the sums should widen to decimal(38,0) —
    at that scale a 4-dp double can't represent the total anyway (ulp of
    1e13 is ~2·10⁻³), so the display contract itself changes first."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.filter(
        F.lit("1998-09-02 00:00:00").cast("timestamp") >= F.col("l_shipdate")
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.round("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100).cast("long").alias("t"),
    )
    return (
        c.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("q").cast("double").alias("sum_qty"),
            (F.sum("p").cast("double") / 100).alias("sum_base_price"),
            (
                F.sum(F.col("p") * (100 - F.col("d"))).cast("double") / 10000.0
            ).alias("sum_disc_price"),
            F.expr(
                "CAST((2 * sum(p * (100 - d) * (100 + t)) + 100) div 200 AS BIGINT)"
                " / 10000.0D"
            ).alias("sum_charge"),
            F.expr(
                "CAST((2 * sum(q) * 10000 + count(1)) div (2 * count(1)) AS BIGINT)"
                " / 10000.0D"
            ).alias("avg_qty"),
            F.expr(
                "CAST((2 * sum(p) * 100 + count(1)) div (2 * count(1)) AS BIGINT)"
                " / 10000.0D"
            ).alias("avg_price"),
            F.expr(
                "CAST((2 * sum(d) * 100 + count(1)) div (2 * count(1)) AS BIGINT)"
                " / 10000.0D"
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_agg_global",
    oracle="""
    SELECT round(sum(l_quantity), 4)       AS sum_qty,
           round(avg(l_extendedprice), 4)  AS avg_price,
           round(min(l_discount), 4)       AS min_disc,
           round(max(l_tax), 4)            AS max_tax,
           count(*)                        AS n_rows
    FROM lineitem
    """,
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate: partial agg per partition → single-row final.
    No per-key shuffle — reduces to one row per partition then one task."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.min("l_discount"), 4).alias("min_disc"),
        F.round(F.max("l_tax"), 4).alias("max_tax"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT)  AS distinct_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT)  AS distinct_supps,
           count(*)                                   AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) — Catalyst expands to a two-phase aggregate
    (Expand + two HashAggregates); still one logical shuffle chain."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE                      AS approx_within_10pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct. At 100 TB this replaces the
    memory-unbounded exact distinct: fixed-size sketch per group, merges
    in the partial-agg phase, no distinct-expand shuffle.

    Oracle-checked as a BOUNDED-ERROR query: the exact count plus a flag
    asserting the HLL estimate (rsd=2%) landed within 10% of it — the
    sketch's accuracy contract becomes part of the hash-matched result
    instead of an unchecked rows-only pass."""
    li = load_table(spark, sf_dir, "lineitem")
    # widen before the aggregate (guide §2): partial distinct-set and HLL
    # register state both depend only on the value SET — merge-order-
    # independent; no-op at scale
    return (
        widen(li.select("l_returnflag", "l_partkey"), "l_partkey")
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("__approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("__approx") - F.col("exact_parts"))
                <= 0.1 * F.col("exact_parts")
            ).alias("approx_within_10pct"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS exact_p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS exact_p95,
           TRUE                                           AS p50_within_1pct,
           TRUE                                           AS p95_within_1pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch). At 100 TB this
    replaces exact percentile's full-sort/collect per group: fixed-size
    sketch per group, merged map-side, no sort shuffle.

    Bounded-error oracle in the q_agg_approx_distinct pattern: the exact
    quantile plus flags asserting the approx (accuracy 10000) landed
    within 1% — the sketch's contract becomes hash-matched instead of
    rows-only."""
    li = load_table(spark, sf_dir, "lineitem")
    # widen before the aggregate: the partial percentile buffers (a
    # value→count map per group) otherwise build on the single-split
    # scan's ONE core (guide §2; exact percentile and the GK sketch are
    # both merge-order-independent — the map/sketch state depends only
    # on the value multiset). Both cuts share ONE buffer via the array
    # form (identical per-cut arithmetic, half the per-row updates).
    wli = widen(
        li.select("l_returnflag", "l_extendedprice", "l_orderkey"), "l_orderkey"
    )
    return (
        wli.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95))
            ).alias("__ex"),
            F.percentile_approx(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
            ).alias("__ap"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("__ex", 1), 4).alias("exact_p50"),
            F.round(F.element_at("__ex", 2), 4).alias("exact_p95"),
            F.element_at("__ap", 1).alias("__a50"),
            F.element_at("__ap", 2).alias("__a95"),
        )
        .select(
            "l_returnflag",
            "exact_p50",
            "exact_p95",
            (F.abs(F.col("__a50") - F.col("exact_p50")) <= 0.01 * F.col("exact_p50")).alias(
                "p50_within_1pct"
            ),
            (F.abs(F.col("__a95") - F.col("exact_p95")) <= 0.01 * F.col("exact_p95")).alias(
                "p95_within_1pct"
            ),
        )
        # no final sort: 3-row output, but the range sort's sampling pass
        # re-runs the exact-percentile aggregation (order-insensitive
        # compare makes the sort pure cost — measured 2x at sf0.1)
    )


@query(
    "q_agg_filtered",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25)                    AS n_big,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                FILTER (WHERE l_discount > 0.05) AS DOUBLE) / 100     AS disc_rev,
           CAST((2 * sum(CAST(round(l_quantity) AS BIGINT))
                       FILTER (WHERE l_tax = 0) * 10000
                 + count(*) FILTER (WHERE l_tax = 0))
                // (2 * count(*) FILTER (WHERE l_tax = 0)) AS BIGINT)
             / 10000.0                                                AS notax_avg_qty,
           count(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F')
                                                                      AS n_supp_f
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates (SQL FILTER clause): several differently-
    conditioned aggregates over ONE scan and ONE shuffle — the
    alternative to N self-joined subqueries. Spark expresses them as
    count_if / agg-over-when; all conditions evaluate in the scan
    stage. Money/quantity aggregates are exact-integer (cents / integral
    units) before ONE identical float op: round(sum(double), 4) diverged
    at sf0.1, where ~100k-term float sums accumulate in different orders
    on the two engines (FIXTURES.md §C)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).alias("n_big"),
            (
                F.sum(
                    F.when(
                        F.col("l_discount") > 0.05,
                        F.round(F.col("l_extendedprice") * 100).cast("long"),
                    )
                ).cast("double")
                / 100
            ).alias("disc_rev"),
            F.expr(
                "CAST((2 * sum(CASE WHEN l_tax = 0 THEN CAST(round(l_quantity) AS BIGINT) END) * 10000"
                " + count(CASE WHEN l_tax = 0 THEN 1 END))"
                " div (2 * count(CASE WHEN l_tax = 0 THEN 1 END)) AS BIGINT) / 10000.0D"
            ).alias("notax_avg_qty"),
            F.count_distinct(
                F.when(F.col("l_linestatus") == "F", F.col("l_suppkey"))
            ).alias("n_supp_f"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_maxby",
    oracle="""
    SELECT l_returnflag,
           (max(struct_pack(p := l_extendedprice, k := l_orderkey,
                            n := l_linenumber))).k AS top_orderkey,
           (max(struct_pack(p := l_extendedprice, k := l_orderkey,
                            n := l_linenumber))).n AS top_linenumber,
           round((max(struct_pack(p := l_extendedprice, k := l_orderkey,
                                  n := l_linenumber))).p, 4) AS top_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/arg-max via STRUCT ordering: the whole winning row's
    fields come from one max(struct(...)) — tie-broken
    deterministically by the trailing key fields, so both engines pick
    the identical row even when the ordering value repeats (plain
    max_by/arg_max leaves ties engine-defined). One shuffle, map-side
    combined — the groupBy-free way to answer 'which row is the
    maximum' without a window sort."""
    li = load_table(spark, sf_dir, "lineitem")
    top = F.max(
        F.struct(
            F.col("l_extendedprice").alias("p"),
            F.col("l_orderkey").alias("k"),
            F.col("l_linenumber").alias("n"),
        )
    ).alias("t")
    return (
        li.groupBy("l_returnflag")
        .agg(top)
        .select(
            "l_returnflag",
            F.col("t.k").alias("top_orderkey"),
            F.col("t.n").alias("top_linenumber"),
            F.round(F.col("t.p"), 4).alias("top_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_udtf_posexplode",
    oracle=f"""
    WITH x AS (
      SELECT doc_id,
             unnest(list_transform(range(len({_WORDS_LIM})),
                    i -> struct_pack(pos := i, word := {_WORDS_LIM}[i+1]))) AS s
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.word AS word
    FROM x
    ORDER BY doc_id, pos
    """,
)
def q_udtf_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (ordinal-preserving fan-out): one row per word WITH
    its position — the ordered variant of explode that tokenization and
    windowed n-gram passes need. The oracle reconstructs ordinality as
    a struct list (this DuckDB lacks WITH ORDINALITY)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    w = F.split(F.trim(F.regexp_replace(F.lower("text"), r"[^a-z0-9]+", " ")), " ")
    return (
        d.select("doc_id", F.posexplode(w).alias("pos", "word"))
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "word")
        .orderBy("doc_id", "pos")
    )


@query(
    "q_agg_hll_union",
    oracle="""
    SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_partial_sketches,
           count(DISTINCT o_custkey)                       AS exact_custs,
           TRUE                                            AS union_within_5pct
    FROM orders
    """,
)
def q_agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE HLL sketches (Apache DataSketches, Spark 3.5+
    hll_sketch_agg/hll_union_agg) — the 100 TB distinct-count pattern
    approx_count_distinct can't express: build one fixed-size sketch PER
    PARTITION/GROUP (here: per order priority), persist them, then merge
    any subset later with hll_union_agg WITHOUT rescanning the data.
    That is how daily distinct-user sketches roll up to
    week/month/arbitrary windows at constant cost.

    Bounded-error oracle in the q_agg_approx_distinct pattern: the exact
    global distinct plus a flag asserting the merged-sketch estimate
    (lgConfigK=14 → ~1% rsd) landed within 5%."""
    o = load_table(spark, sf_dir, "orders")
    sketches = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk")
    )
    merged = sketches.agg(
        F.count(F.lit(1)).alias("n_partial_sketches"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__approx"),
    )
    exact = o.agg(F.count_distinct("o_custkey").alias("exact_custs"))
    return exact.crossJoin(merged).select(
        "n_partial_sketches",
        "exact_custs",
        (
            F.abs(F.col("__approx") - F.col("exact_custs"))
            <= 0.05 * F.col("exact_custs")
        ).alias("union_within_5pct"),
    )


@query(
    "q_agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           count(*)                  AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — Catalyst Expand (3 grouping sets) + one hash aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — the grand-total cell sums the WHOLE table, so the money
    column is exact cents (a double sum at 2e10 magnitude carries more
    engine-order error than the 4-dp half width — FIXTURES.md §C)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast(
                    "double"
                )
                / 100
            ).alias("sum_price")
        )
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INTEGER) * 2
             + CAST(grouping(l_linestatus) AS INTEGER) AS gid,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via SQL (DataFrame API has no direct equivalent);
    grouping_id recomputed portably as grouping()-bit arithmetic."""
    import uuid

    # a view literally named `lineitem` would outlive this query and
    # shadow nothing today but serve stale-sf data to any future bare
    # `lineitem` SQL reference — scope it and drop after analysis
    view = f"__gsets_lineitem_{uuid.uuid4().hex}"
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    out = spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) * 2
                 + CAST(grouping(l_linestatus) AS INT) AS gid,
               round(sum(l_quantity), 4) AS sum_qty
        FROM {view}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )
    spark.catalog.dropTempView(view)  # plan already analyzed; safe to drop
    return out


@query(
    "q_agg_having",
    oracle="""
    SELECT l_partkey, round(sum(l_quantity), 4) AS total_qty, count(*) AS n
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_quantity) > 100 AND count(*) >= 3
    ORDER BY l_partkey
    """,
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter; Catalyst keeps it after the final
    agg (cannot push below) but prunes columns into the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter((F.col("_raw_qty") > 100) & (F.col("n") >= 3))
        .drop("_raw_qty")
        .orderBy("l_partkey")
    )


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4)              AS sd_qty,
           round(var_samp(l_extendedprice), 4)            AS var_price,
           round(corr(l_quantity, l_extendedprice), 4)    AS corr_qty_price,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates. ``median`` (exact interpolated percentile)
    matches DuckDB quantile_cont; percentile_approx is kept OUT of the
    oracle-checked set (approximate)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_extendedprice"), 4).alias("var_price"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_collect",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',')          AS line_numbers,
           array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags
    FROM lineitem
    WHERE l_orderkey <= 100
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list/collect_set with deterministic sort_array wrapping
    (array order is engine-dependent otherwise — FIXTURES.md §C).

    Outputs are emitted as comma-joined strings, not array<>, because the
    driver's pandas canonicalizer cannot sort/hash list cells
    (CORRECTNESS_r01: 'unhashable type: list'). The array-typed forms stay
    covered by pytest (tests/test_llm_ops.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .groupBy("l_orderkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("l_linenumber")), ",").alias(
                "line_numbers"
            ),
            F.array_join(F.sort_array(F.collect_set("l_returnflag")), ",").alias("flags"),
        )
        .orderBy("l_orderkey")
    )


@query(
    "q_agg_mode",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_quantity, count(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_quantity
    )
    SELECT l_returnflag,
           round(l_quantity, 4)  AS mode_qty,
           CAST(cnt AS BIGINT)   AS mode_count
    FROM c
    QUALIFY row_number() OVER (
      PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity ASC) = 1
    ORDER BY l_returnflag
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value, smallest-value
    tie-break) as a two-level aggregate. Built-in ``mode()`` is
    tie-nondeterministic on BOTH engines, so the operator is spelled as
    count-per-(group,value) → struct-ordered arg-max — the same
    max(struct(cnt, -value)) trick as q_agg_maxby, which rides the
    partial aggregate instead of a window sort. Scale: two shuffles
    (value-count then group arg-max), both map-side combined; the
    second input is |distinct values per group| rows, not raw data.
    Reference: mode is absent from the reference DSL (closure
    combinators, src-3/Etl4s.scala) — this is engine surface."""
    li = load_table(spark, sf_dir, "lineitem")
    counted = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    st = F.max(
        F.struct(F.col("cnt"), (-F.col("l_quantity")).alias("neg_q"))
    ).alias("st")
    return (
        counted.groupBy("l_returnflag")
        .agg(st)
        .select(
            "l_returnflag",
            F.round(-F.col("st.neg_q"), 4).alias("mode_qty"),
            F.col("st.cnt").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_winsorize",
    oracle="""
    WITH bounds AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           count(*)                                                        AS n,
           round(sum(least(greatest(l.l_extendedprice, b.p05), b.p95)), 4) AS winsorized_sum,
           round(avg(least(greatest(l.l_extendedprice, b.p05), b.p95)), 4) AS winsorized_avg,
           CAST(sum(CASE WHEN l.l_extendedprice < b.p05
                          OR l.l_extendedprice > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
                                                                           AS n_clipped
    FROM lineitem l JOIN bounds b USING (l_returnflag)
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q_agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization (robust-stats cleaning): clip values to
    their group's [p5, p95] band before aggregating — the standard
    defense against heavy-tail outliers poisoning a mean. EXACT
    interpolated percentiles (F.percentile ≡ DuckDB quantile_cont, same
    linear-interpolation definition) computed per group in one pass,
    broadcast back, clipped with least/greatest — two shuffles total
    (percentile agg + final agg), both on the same low-cardinality key.
    At 100 TB swap F.percentile for approx_percentile and re-verify
    bounds-only — the plan shape is identical."""
    li = load_table(spark, sf_dir, "lineitem")
    # bounds pass widened + one shared percentile buffer for both cuts
    # (exact percentile state is a value→count map — merge-order-
    # independent, identical p05/p95). The CLIPPED pass is deliberately
    # left on the narrow scan: its float sum/avg would change summation
    # order under a repartition (the FIXTURES §C 4-dp half-boundary
    # class), and it is the cheaper of the two aggregates.
    bounds = (
        widen(li.select("l_returnflag", "l_extendedprice", "l_orderkey"), "l_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.05), F.lit(0.95))
            ).alias("__b")
        )
        .select(
            "l_returnflag",
            F.element_at("__b", 1).alias("p05"),
            F.element_at("__b", 2).alias("p95"),
        )
    )
    clipped = li.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")).alias(
            "w"
        ),
        (
            (F.col("l_extendedprice") < F.col("p05"))
            | (F.col("l_extendedprice") > F.col("p95"))
        )
        .cast("long")
        .alias("clip"),
    )
    return (
        clipped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("w"), 4).alias("winsorized_sum"),
            F.round(F.avg("w"), 4).alias("winsorized_avg"),
            F.sum("clip").alias("n_clipped"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_listagg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           CAST(count(*) AS BIGINT)                      AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LISTAGG (SQL:2016) — ordered string aggregation with an
    explicit WITHIN GROUP sort, the deterministic sibling of
    collect_list (whose order is partition-arrival and therefore
    unhashable across engines; q_agg_collect handles that by
    sort_array-ing). DISTINCT + ORDER BY make the output a pure
    function of the group's value SET, so it hash-matches DuckDB's
    string_agg exactly. The state is bounded by the distinct-value
    domain here (order statuses), not group row count — the safe
    LISTAGG usage at 100 TB; unbounded-domain listagg is the same
    memory trap as collect_list and belongs behind a group-limit.

    Routed through spark.sql, with n_statuses DERIVED from the string:
    Spark 4.1's RewriteDistinctAggregates miscasts listagg's SortOrder
    when another DISTINCT aggregate shares the Aggregate node
    (ClassCastException) — one distinct aggregate per node is the
    supported rung, and the count falls out of the result anyway."""
    import uuid

    o = load_table(spark, sf_dir, "orders")
    view = f"__listagg_orders_{uuid.uuid4().hex}"
    o.createOrReplaceTempView(view)
    out = spark.sql(
        f"""
        SELECT o_orderpriority, statuses,
               CAST(size(split(statuses, ',')) AS BIGINT) AS n_statuses,
               n_orders
        FROM (
          SELECT o_orderpriority,
                 listagg(DISTINCT o_orderstatus, ',')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
                 CAST(count(*) AS BIGINT)                AS n_orders
          FROM {view}
          GROUP BY o_orderpriority
        )
        ORDER BY o_orderpriority
        """
    )
    spark.catalog.dropTempView(view)  # plan already analyzed; safe to drop
    return out


def _weighted_cents_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price histogram per return flag with its
    cumulative window: (g, p cents, cw = weight of prices ≤ p, tw =
    the flag's total weight), exact BIGINTs."""
    li = load_table(spark, sf_dir, "lineitem")
    # no pre-aggregation widen: map-side combine collapses the fact rows
    # to the (flag, cents) histogram before the exchange; repartitioning
    # raw rows below the partial aggregate shuffles the whole fact table
    # for nothing (guide §2.3; round-12 regression, reverted)
    cw = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
            F.round("l_quantity").cast("long").alias("__q"),
        )
        .groupBy("g", "p")
        .agg(F.sum("__q").alias("w"))
    )
    wo = Window.partitionBy("g").orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    wg = Window.partitionBy("g")
    return cw.select(
        "g",
        "p",
        F.sum("w").over(wo).alias("cw"),
        F.sum("w").over(wg).alias("tw"),
    )


@query(
    "q_agg_weighted_median",
    oracle="""
    WITH cw AS (
      SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
             sum(CAST(round(l_quantity) AS BIGINT))       AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT g, p, w,
             sum(w) OVER (PARTITION BY g ORDER BY p
                          ROWS UNBOUNDED PRECEDING)  AS cw,
             sum(w) OVER (PARTITION BY g)            AS tw
      FROM cw
    )
    SELECT g AS l_returnflag,
           round(min(p) FILTER (WHERE 2 * cw >= tw) / 100, 2) AS weighted_median,
           CAST(any_value(tw) AS BIGINT)                      AS total_weight
    FROM cum
    GROUP BY g
    ORDER BY g
    """,
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-weighted median price per return flag (lower weighted
    median: smallest value whose cumulative weight reaches half the
    total) — the unit-economics median, where a 50-unit line counts 50×.
    Same counts-histogram shape as exact_quartiles_cents: the fact
    table collapses map-side to (flag, cents, Σweight) — the cumulative
    window runs over the bounded price DOMAIN, never raw rows — and
    weights/cents are exact BIGINTs, so the defining inequality
    2·cumw ≥ total is integer arithmetic in both engines."""
    cum = _weighted_cents_cum(spark, sf_dir)
    return (
        cum.groupBy("g")
        .agg(
            F.round(
                F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("p"))) / 100, 2
            ).alias("weighted_median"),
            F.first("tw").cast("long").alias("total_weight"),
        )
        .select(F.col("g").alias("l_returnflag"), "weighted_median", "total_weight")
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_grouping_id",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>')  AS returnflag,
           coalesce(l_linestatus, '<all>')  AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
             AS grouping_level,
           CAST(count(*) AS BIGINT)         AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY grouping_level, returnflag, linestatus
    """,
)
def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() disambiguation: in a rollup/grouping-sets result a
    NULL cell is ambiguous — was the source value NULL, or is this a
    subtotal row? GROUPING(col) answers it (1 = aggregated away), and
    the combined bitmask labels each stratum level explicitly — the
    detail every BI layer on top of a cube needs to render subtotals
    correctly. Exact-cent sums; one expand + one shuffle exactly like
    the plain grouping-sets query."""
    import uuid

    li = load_table(spark, sf_dir, "lineitem")
    view = f"__lineitem_gid_{uuid.uuid4().hex}"
    li.createOrReplaceTempView(view)
    out = li.sparkSession.sql(
        f"""
        SELECT coalesce(l_returnflag, '<all>')  AS returnflag,
               coalesce(l_linestatus, '<all>')  AS linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT)
                 AS grouping_level,
               CAST(count(*) AS BIGINT)         AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM {view}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY grouping_level, returnflag, linestatus
        """
    )
    li.sparkSession.catalog.dropTempView(view)  # plan analyzed; safe
    return out


@query(
    "q_agg_percentile_disc",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p
      FROM lineitem
    )
    SELECT g AS l_returnflag,
           round(quantile_disc(p, 0.25) / 100.0, 2) AS p25,
           round(quantile_disc(p, 0.5)  / 100.0, 2) AS median,
           round(quantile_disc(p, 0.75) / 100.0, 2) AS p75,
           round(quantile_disc(p, 0.99) / 100.0, 2) AS p99,
           CAST(count(*) AS BIGINT) AS n
    FROM cents GROUP BY g ORDER BY g
    """,
)
def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (percentile_disc semantics: the smallest
    ACTUAL value whose cumulative share reaches q — no interpolation,
    so the answer is always a real observed price): computed from the
    same counts histogram as the exact interpolated quartiles, but the
    selection rule is pure integer comparison cum_end ≥ ceil(q·n) —
    no arithmetic on values at all, which is why DISC is the right
    spec when the quantile must be join-able back to real rows (p99
    latency of an actual request, not a synthetic average). One
    map-side-combined shuffle; per-group state bounded by the cents
    domain."""
    li = load_table(spark, sf_dir, "lineitem")
    # no pre-aggregation widen: map-side combine collapses raw rows to
    # the bounded histogram before the exchange (guide §2.3; the
    # round-12 raw-row repartition below the partial aggregate cost
    # +0.4 s on both boxes and was reverted)
    cents = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
    )
    hist = cents.groupBy("g", "p").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("g").orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "g",
        "p",
        F.sum("c").over(w).alias("cum_end"),
        F.sum("c").over(Window.partitionBy("g")).alias("n"),
    )
    def disc(q_num: int, q_den: int, name: str):
        # smallest p with cum_end*q_den >= q_num*n  (ceil via integer cross-mult)
        return F.round(
            F.min(
                F.when(F.col("cum_end") * q_den >= F.lit(q_num) * F.col("n"), F.col("p"))
            )
            / 100.0,
            2,
        ).alias(name)

    return (
        cum.groupBy("g")
        .agg(
            disc(1, 4, "p25"),
            disc(1, 2, "median"),
            disc(3, 4, "p75"),
            disc(99, 100, "p99"),
            F.first("n").cast("long").alias("n"),
        )
        .select(F.col("g").alias("l_returnflag"), "p25", "median", "p75", "p99", "n")
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_weighted_percentiles",
    oracle="""
    WITH cw AS (
      SELECT l_returnflag AS g,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
             sum(CAST(round(l_quantity) AS BIGINT))       AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT g, p, w,
             sum(w) OVER (PARTITION BY g ORDER BY p
                          ROWS UNBOUNDED PRECEDING)  AS cw,
             sum(w) OVER (PARTITION BY g)            AS tw
      FROM cw
    )
    SELECT g AS l_returnflag,
           round(min(p) FILTER (WHERE 4 * cw >= tw) / 100, 2)     AS w_p25,
           round(min(p) FILTER (WHERE 2 * cw >= tw) / 100, 2)     AS w_median,
           round(min(p) FILTER (WHERE 4 * cw >= 3 * tw) / 100, 2) AS w_p75,
           CAST(any_value(tw) AS BIGINT)                          AS total_weight
    FROM cum
    GROUP BY g
    ORDER BY g
    """,
)
def q_agg_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted QUARTILES (lower weighted percentile at each
    cut: smallest value whose cumulative weight reaches q of the
    total) — the full unit-economics distribution, not just its
    median: the inter-quartile spread of the price a UNIT actually
    trades at. Same counts-histogram plan as q_agg_weighted_median;
    each cut is one integer cross-multiplication (4·cumw ≥ q·total) —
    three FILTERed mins share the same cumulative pass."""
    cum = _weighted_cents_cum(spark, sf_dir)
    def cut(mult_c: int, mult_t: int, name: str):
        return F.round(
            F.min(
                F.when(mult_c * F.col("cw") >= mult_t * F.col("tw"), F.col("p"))
            )
            / 100,
            2,
        ).alias(name)

    return (
        cum.groupBy("g")
        .agg(
            cut(4, 1, "w_p25"),
            cut(2, 1, "w_median"),
            cut(4, 3, "w_p75"),
            F.first("tw").cast("long").alias("total_weight"),
        )
        .select(F.col("g").alias("l_returnflag"), "w_p25", "w_median", "w_p75", "total_weight")
        .orderBy("l_returnflag")
    )
