"""Join queries (SURVEY.md §2.B Joins).

Physical strategy by query (what you see in .explain at scale):
- inner/outer/semi/anti on big×big → sort-merge join after AQE, one
  shuffle per side on the join key
- broadcast → BroadcastHashJoin, zero shuffle of the fact table
- theta/range vs a tiny VALUES table → BroadcastNestedLoopJoin (safe:
  broadcast side is 4 rows)
- multiway star → fact shuffled once per dim join, bounded dims
  broadcast; Catalyst reorders by size
- as-of / interval → custom compositions (operators/joins.py) with
  exactly one key shuffle
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl4s_spark.operators.joins import asof_join, broadcast_join, interval_join
from etl4s_spark.queries import query
from etl4s_spark.sources.tables import load_table


@query(
    "q_join_inner_hash",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus,
           round(l.l_extendedprice * (1 - l.l_discount), 6) AS net_price,
           o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .filter(F.col("o_totalprice") > 400000)
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderstatus",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("net_price"),
            "o_totalprice",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
      ON c.c_custkey = o.o_custkey
    ORDER BY c.c_custkey, o.o_orderkey NULLS FIRST
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN against a filtered side so unmatched rows (null columns)
    actually occur."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(F.col("c_custkey"), F.col("o_orderkey").asc_nulls_first())
    )


@query(
    "q_join_right",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey
    FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
    RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderkey <= 2000
    ORDER BY o.o_orderkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "right")
        .filter(F.col("o_orderkey") <= 2000)
        .select("c_custkey", "c_name", "o_orderkey")
        .orderBy("o_orderkey")
    )


@query(
    "q_join_full",
    oracle="""
    SELECT hi.c_custkey AS hi_key, hi.c_acctbal AS hi_bal,
           lo.c_custkey AS lo_key, lo.c_acctbal AS lo_bal
    FROM (SELECT * FROM customer WHERE c_acctbal > 9500) hi
    FULL JOIN (SELECT * FROM customer WHERE c_acctbal < -900) lo
      ON hi.c_custkey = lo.c_custkey
    ORDER BY hi_key NULLS FIRST, lo_key NULLS FIRST
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER over two disjoint filters — every row is unmatched on
    one side, exercising null propagation both ways."""
    c = load_table(spark, sf_dir, "customer")
    hi = c.filter(F.col("c_acctbal") > 9500).select(
        F.col("c_custkey").alias("hi_key"), F.col("c_acctbal").alias("hi_bal")
    )
    lo = c.filter(F.col("c_acctbal") < -900).select(
        F.col("c_custkey").alias("lo_key"), F.col("c_acctbal").alias("lo_bal")
    )
    return (
        hi.join(lo, hi.hi_key == lo.lo_key, "full")
        .select("hi_key", "hi_bal", "lo_key", "lo_bal")
        .orderBy(F.col("hi_key").asc_nulls_first(), F.col("lo_key").asc_nulls_first())
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    ORDER BY c_custkey
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI = EXISTS: emits each left row at most once; right columns
    never materialize, so the shuffle carries keys only."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    ORDER BY c_custkey
    LIMIT 500
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no large (> $300k) order. The
    plain customers-without-orders predicate returned ZERO rows at every
    driver SF (the generator gives every customer orders), so its
    hash-green rows proved only that both engines agree on emptiness —
    the same vacuity class as q_graph_kcore's r5 row. The filtered anti
    set is non-empty and deterministic at every SF, so the driver's
    value hash now checks real anti-join semantics; LIMIT keeps the
    output bounded as customer count scales."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .limit(500)
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           count(*) AS n_customers, round(sum(c.c_acctbal), 4) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    ORDER BY region_name, nation_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded dims (nation=25, region=5 rows at every SF) broadcast —
    the fact side never shuffles for the joins, only for the final agg."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        broadcast_join(c, n, c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
        .orderBy("region_name", "nation_name")
    )


@query(
    "q_join_theta_range",
    oracle="""
    WITH bands(band_name, lo, hi) AS (
      VALUES ('small', 0, 100000), ('medium', 100000, 250000),
             ('large', 250000, 400000), ('jumbo', 400000, 1000000)
    )
    SELECT b.band_name, count(*) AS n_orders,
           round(avg(o.o_totalprice), 4) AS avg_price
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band_name
    ORDER BY b.band_name
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure non-equi join → BroadcastNestedLoopJoin. Safe ONLY because the
    bands side is 4 rows; the pattern at scale is always tiny-side
    broadcast (bucket tables, calendars)."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0, 100000), ("medium", 100000, 250000),
         ("large", 250000, 400000), ("jumbo", 400000, 1000000)],
        "band_name string, lo int, hi int",
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
        .orderBy("band_name")
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    ORDER BY r.r_name, n.n_name
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — only ever on bounded dims (5 × 25 here)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name").orderBy("r_name", "n_name")


@query(
    "q_join_multiway",
    oracle="""
    SELECT n.n_name AS nation_name,
           round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-table star. lineitem (fact) joins orders (big,
    sort-merge after shuffle) then dims — customer mid-size, nation/region
    broadcast. The region filter prunes BEFORE the join chain (Catalyst
    pushes it through the broadcasts)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            # decimal-carried revenue (tpch.py _revenue recipe): a double
            # sum over ~100k rows/nation carries engine-order error near
            # the 4-dp half width; the 4-dp-exact products sum exactly
            # as decimals
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ).cast("double"),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "nation_name")
    )


def _asof_purchase_click(
    spark: SparkSession, sf_dir: str, purchase_ts: bool = False, **how
) -> DataFrame:
    """Each purchase as-of joined to the same user's clicks (``how`` is
    asof_join's tolerance or direction), timestamps stringified on both
    sides (tz/precision rule); ``purchase_ts`` keeps the purchase's own."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["value"],
        **how,
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    own = [F.date_format("ts", fmt).alias("purchase_ts")] if purchase_ts else []
    return joined.select(
        "event_id",
        "user_id",
        *own,
        F.date_format("matched_ts", fmt).alias("matched_ts"),
        F.col("matched_value").alias("matched_value"),
    ).orderBy("event_id")


@query(
    "q_join_asof",
    oracle="""
    SELECT p.event_id, p.user_id,
           CAST(strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS VARCHAR) AS purchase_ts,
           CAST(strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS VARCHAR) AS matched_ts,
           c.value AS matched_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click
    at-or-before it — proven against DuckDB's native ASOF JOIN.
    Timestamps stringified on both sides (tz/precision rule)."""
    return _asof_purchase_click(spark, sf_dir, purchase_ts=True)


@query(
    "q_join_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id,
           CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR
                THEN CAST(strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS VARCHAR) END AS matched_ts,
           CASE WHEN c.ts >= p.ts - INTERVAL 1 HOUR THEN c.value END             AS matched_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 1-hour tolerance: matches older than
    left_ts − 1h are nulled (stale quotes don't count). The oracle
    applies the same cutoff as CASE over DuckDB's native ASOF JOIN."""
    return _asof_purchase_click(spark, sf_dir, tolerance=F.expr("INTERVAL 1 HOUR"))


@query(
    "q_join_interval",
    oracle="""
    SELECT o.o_orderkey, count(l.l_orderkey) AS n_shipped_30d,
           round(coalesce(sum(l.l_extendedprice), 0), 4) AS val_shipped_30d
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    WHERE o.o_orderkey <= 5000
    GROUP BY o.o_orderkey
    ORDER BY o.o_orderkey
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with an equi anchor: hash join on orderkey, range
    predicate on the ship window evaluated inside the join — no
    cross-product, scales like a plain equi join."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    li = load_table(spark, sf_dir, "lineitem")
    joined = interval_join(
        o,
        li,
        equi_keys=[("o_orderkey", "l_orderkey")],
        range_cond=(F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        how="left",
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_shipped_30d"),
            F.round(F.coalesce(F.sum("l_extendedprice"), F.lit(0.0)), 4).alias("val_shipped_30d"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_join_range_bucket",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id
    FROM events v JOIN events c
      ON v.event_type = 'view' AND v.event_id < 300
     AND c.event_type = 'click' AND c.event_id < 20000
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY view_id, click_id
    """,
)
def q_join_range_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join WITHOUT an equi key (every click within 30 min
    of any view — no shared user/key column), via the bucketed rewrite
    (operators/joins.py range_bucket_join): intervals explode to
    1800-second buckets, points land in exactly one, the bucket
    equi-join proposes each true pair exactly once, the precise
    timestamp predicate refines in-join. This is the both-sides-big
    formulation interval_join's BroadcastNestedLoopJoin fallback can't
    reach; the oracle is the naive range join."""
    from etl4s_spark.operators.joins import range_bucket_join

    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter((F.col("event_type") == "view") & (F.col("event_id") < 300))
        .select(
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
            F.unix_timestamp("ts").alias("lo"),
            (F.unix_timestamp("ts") + 1800).alias("hi"),
        )
    )
    clicks = (
        ev.filter((F.col("event_type") == "click") & (F.col("event_id") < 20000))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            F.unix_timestamp("ts").alias("pt"),
        )
    )
    return (
        range_bucket_join(views, clicks, "lo", "hi", "pt", bucket_width=1800)
        # exact refine on the original timestamps (bucket epochs are
        # second-truncated; ts carries sub-second precision)
        .filter((F.col("c_ts") >= F.col("v_ts")) & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")))
        .select("view_id", "click_id")
        .orderBy("view_id", "click_id")
    )


@query(
    "q_join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id,
           CAST(strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS VARCHAR) AS purchase_ts,
           CAST(strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS VARCHAR) AS matched_ts,
           c.value AS matched_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    ORDER BY p.event_id
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/joins.py asof_join
    direction="forward" — pandas merge_asof parity): each purchase
    matched to the user's EARLIEST click at-or-after it ("what did they
    do next"), proven against DuckDB's native ASOF JOIN with the
    inequality flipped. Same single-shuffle union+window plan as
    backward — only the sort direction differs."""
    return _asof_purchase_click(spark, sf_dir, purchase_ts=True, direction="forward")


@query(
    "q_join_asof_nearest",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    bwd AS (
      SELECT p.event_id, c.ts AS b_ts, c.value AS b_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    ), fwd AS (
      SELECT p.event_id, c.ts AS f_ts, c.value AS f_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts <= c.ts
    )
    SELECT p.event_id, p.user_id,
           CAST(strftime(
             CASE WHEN f_ts IS NULL THEN b_ts
                  WHEN b_ts IS NULL THEN f_ts
                  WHEN epoch_us(p.ts) - epoch_us(b_ts)
                       <= epoch_us(f_ts) - epoch_us(p.ts) THEN b_ts
                  ELSE f_ts END,
             '%Y-%m-%d %H:%M:%S.%f') AS VARCHAR) AS matched_ts,
           CASE WHEN f_ts IS NULL THEN b_value
                WHEN b_ts IS NULL THEN f_value
                WHEN epoch_us(p.ts) - epoch_us(b_ts)
                     <= epoch_us(f_ts) - epoch_us(p.ts) THEN b_value
                ELSE f_value END AS matched_value
    FROM p
    LEFT JOIN bwd ON bwd.event_id = p.event_id
    LEFT JOIN fwd ON fwd.event_id = p.event_id
    ORDER BY p.event_id
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (direction="nearest" - pandas
    merge_asof(direction='nearest') parity): each purchase matched to
    the user's click closest in time in EITHER direction, microsecond
    distance, ties to the backward match. The operator computes both
    directional fills over ONE hash exchange (two sorts, zero extra
    shuffles); the oracle composes DuckDB's two native ASOF directions
    with the same integer-microsecond tie rule."""
    return _asof_purchase_click(spark, sf_dir, direction="nearest")


@query(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT event_id, nullif(user_id % 10, 0) AS k, value
      FROM events WHERE event_id % 2 = 0 AND event_id < 5000
    ), b AS (
      SELECT event_id, nullif(user_id % 10, 0) AS k
      FROM events WHERE event_id % 2 = 1 AND event_id < 5000
    )
    SELECT a.k AS k,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT a.event_id) AS BIGINT) AS n_left
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    ORDER BY k NULLS FIRST
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantic needed
    when the join key is a nullable dimension attribute ("unknown"
    buckets must pair with "unknown", not silently drop). Spark plans
    `eqNullSafe` as a plain hash join (the null bucket hashes like any
    value); the standard equi-join on the same data would lose every
    NULL row, which is exactly the bug this query exists to document.
    Output keeps the NULL group first so the match is visible;
    the slice is bounded (the semantic needs matching behavior, not
    corpus volume — an uncapped half-vs-half self-join is ~60M pairs
    at sf0.1)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    k = F.nullif(F.col("user_id") % 10, F.lit(0))
    a = ev.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("a_id"), k.alias("k")
    )
    b = ev.filter(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("b_id"), k.alias("kb")
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["kb"]))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count_distinct("a_id").cast("long").alias("n_left"),
        )
        .orderBy(F.col("k").asc_nulls_first())
    )
