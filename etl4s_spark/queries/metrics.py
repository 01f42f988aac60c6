"""Distribution-shape & dependence metrics (round 5, continuation).

Five profiling statistics a 100 TB corpus/warehouse health report needs
beyond means and percentiles: rank dependence (Spearman), temporal
dependence (ACF), distribution shape (skewness/kurtosis), inequality
(Gini), and graph mixing (degree assortativity). Every one follows the
exact-moment-sum determinism recipe (FIXTURES.md §C, q_corr_matrix):
fixed-point inputs → exact integer/decimal sums → ONE final float
formula written with identical shape on both engines → round 6 dp.
No built-in corr()/skewness()/kurtosis() anywhere — those accumulate
doubles in partition order and diverge in the last ulp across engines
(and DuckDB's skewness/kurtosis apply sample-bias corrections Spark's
don't, so even the definitions differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl4s_spark.functions.exact import d38
from etl4s_spark.operators.parallelism import widen
from etl4s_spark.operators.ranking import one_part
from etl4s_spark.queries import query
from etl4s_spark.queries.analytics import _PAIRS_SQL, _daily_series, _neardup_pairs
from etl4s_spark.sources.tables import load_table


def _dsum(col, prec: int = 38):
    """Exact decimal(38,0) sum — the hugeint-equivalent lane
    (functions/exact.py d38). The old per-site precision caps (16/24)
    overflowed two decades up: per-row rank products alone exceed
    decimal(24) once n passes ~2e9 (the SCALING_100X class). prec is
    retained for call-site compatibility; every sum now runs at 38."""
    return F.sum(d38(col))


@query(
    "q_stat_spearman",
    oracle="""
    WITH f AS (
      SELECT CAST(round(l_quantity) AS BIGINT)       AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_tax * 100) AS BIGINT)      AS t
      FROM lineitem
    ), hq AS (SELECT q, count(*) AS c FROM f GROUP BY q),
       hd AS (SELECT d, count(*) AS c FROM f GROUP BY d),
       ht AS (SELECT t, count(*) AS c FROM f GROUP BY t),
    rq AS (SELECT q, 2 * sum(c) OVER (ORDER BY q) - c
                     - sum(c) OVER () AS cx FROM hq),
    rd AS (SELECT d, 2 * sum(c) OVER (ORDER BY d) - c
                     - sum(c) OVER () AS cx FROM hd),
    rt AS (SELECT t, 2 * sum(c) OVER (ORDER BY t) - c
                     - sum(c) OVER () AS cx FROM ht),
    j AS (
      SELECT rq.cx AS rx, rd.cx AS ry, rt.cx AS rz
      FROM f JOIN rq USING (q) JOIN rd USING (d) JOIN rt USING (t)
    ), s AS (
      SELECT count(*) AS n,
             sum(rx * ry) AS sxy, sum(rx * rz) AS sxz, sum(ry * rz) AS syz,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy, sum(rz * rz) AS szz
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(sxy AS DOUBLE) /
                 (sqrt(CAST(sxx AS DOUBLE))
                  * sqrt(CAST(syy AS DOUBLE))), 6) AS rho_qty_disc,
           round(CAST(sxz AS DOUBLE) /
                 (sqrt(CAST(sxx AS DOUBLE))
                  * sqrt(CAST(szz AS DOUBLE))), 6) AS rho_qty_tax,
           round(CAST(syz AS DOUBLE) /
                 (sqrt(CAST(syy AS DOUBLE))
                  * sqrt(CAST(szz AS DOUBLE))), 6) AS rho_disc_tax
    FROM s
    """,
)
def q_stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (tie-corrected, qty/discount/tax) — the
    nonparametric dependence check a profiler runs when Pearson is
    distorted by outliers. Ranks are NOT computed with a row-level
    window (an unpartitioned 600k-row sort per variable): each variable
    is integral with a tiny domain (50/11/9 values), so the average
    rank comes from the value HISTOGRAM — cumulative count over ≤50
    rows gives the doubled average rank r2 = 2·cumsum(c) − c + 1
    (doubling keeps half-integer tie ranks exact in bigint; scaling
    both variables by ½ leaves the correlation unchanged). Ranks are
    CENTERED at the histogram (mean doubled rank is EXACTLY n+1, so
    cx = r2 − (n+1) is exact integer centering): the moment sums are
    then Σcx·cy ≤ n³ instead of the uncentered combination's
    n·Σxy − Σx·Σy ~ n⁴, which pushed Decimal(38,0) past its ceiling
    near n ≈ 2e9 rows — centered, the exact lane survives to n ≈ 4e12,
    i.e. genuine 100 TB row counts (r8; mathematically identical ρ —
    the uncentered numerator equals n·Σcx·cy and the denominator
    carries the same factor n). n rides the SAME tiny histogram window
    as the cumulative count (a total-sum frame over the one_part
    partition — the _offsets pattern), so the whole query stays ONE
    lazy plan: no driver collect, no checkpoint barrier. The centered
    rank maps broadcast back onto the fact rows, then one aggregate of
    exact decimal moment sums feeds the Pearson-on-ranks formula,
    rounded to 6 dp. At 100 TB: the histograms are the only tiny
    state, and the rank attach is a broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        F.round("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
        F.round(F.col("l_tax") * 100).cast("long").alias("t"),
    )

    def rank_map(col: str) -> DataFrame:
        h = f.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy(one_part(col)).orderBy(col)
        wt = Window.partitionBy(one_part(col))
        return h.select(
            col,
            (
                2 * F.sum("c").over(w) - F.col("c") - F.sum("c").over(wt)
            ).alias(f"r_{col}"),
        )

    # widen the fact frame before the rank attach: the three broadcast
    # joins + six Decimal(38) moment products fuse into the (single-split)
    # scan stage otherwise — 600k exact decimal multiplies on one core at
    # sf0.1 (guide §2 single-split collapse; no-op on a wide scan).
    j = (
        widen(f, "q")
        .join(F.broadcast(rank_map("q")), "q")
        .join(F.broadcast(rank_map("d")), "d")
        .join(F.broadcast(rank_map("t")), "t")
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(d38("r_q") * d38("r_d")).alias("sxy"),
        _dsum(d38("r_q") * d38("r_t")).alias("sxz"),
        _dsum(d38("r_d") * d38("r_t")).alias("syz"),
        _dsum(d38("r_q") * d38("r_q")).alias("sxx"),
        _dsum(d38("r_d") * d38("r_d")).alias("syy"),
        _dsum(d38("r_t") * d38("r_t")).alias("szz"),
    )

    def rho(sab, saa, sbb):
        return F.round(
            F.col(sab).cast("double")
            / (
                F.sqrt(F.col(saa).cast("double"))
                * F.sqrt(F.col(sbb).cast("double"))
            ),
            6,
        )

    return s.select(
        F.col("n").cast("long").alias("n"),
        rho("sxy", "sxx", "syy").alias("rho_qty_disc"),
        rho("sxz", "sxx", "szz").alias("rho_qty_tax"),
        rho("syz", "syy", "szz").alias("rho_disc_tax"),
    )


@query(
    "q_ts_acf",
    oracle="""
    WITH span AS (
      SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span
    ), hourly AS (
      SELECT g.h,
             coalesce(sum(CASE WHEN e.event_type = 'click' THEN 1 END), 0) AS x
      FROM grid g LEFT JOIN events e ON date_trunc('hour', e.ts) = g.h
      GROUP BY g.h
    ), g AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx FROM hourly
    ), lagged AS (
      SELECT l.lag, a.x AS xh, b.x AS xt
      FROM (SELECT unnest(generate_series(1, 7)) AS lag) l
      JOIN hourly a ON true
      JOIN hourly b ON b.h = a.h + to_hours(CAST(l.lag AS INT))
    ), m AS (
      SELECT lag, count(*) AS nk, sum(xh * xt) AS sxy,
             sum(xh) AS sh, sum(xt) AS st
      FROM lagged GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag_hours,
           CAST(nk AS BIGINT) AS n_pairs,
           round(CAST(n * n * sxy - n * sx * (sh + st) + nk * sx * sx AS DOUBLE)
                 / CAST(n * n * sxx - n * sx * sx AS DOUBLE), 6) AS acf
    FROM m, g ORDER BY lag_hours
    """,
)
def q_ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function (lags 1–7 h) of the hourly click
    series — the correlogram that decides seasonality windows and
    anomaly baselines. Textbook ACF (global mean and variance, not
    per-lag Pearson — that is q_ts_cross_corr's variant): ρ(k) =
    Σ_{t}(x_t−μ)(x_{t+k}−μ) / Σ_t(x_t−μ)². Both sides expand the
    products so every accumulation is an exact bigint sum over integer
    counts; multiplying through by n² clears the rational mean:
    num·n² = n²Σxy − n·Sx·(Sh+St) + n_k·Sx², den·n² = n²Σxx − n·Sx².
    One float division at the end, rounded to 6 dp. At 100 TB the
    hourly aggregation is the only fact-table shuffle; the lag joins
    run on O(hours) rows with the 7-row lag table broadcast."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("h0"),
        F.date_trunc("HOUR", F.max("ts")).alias("h1"),
    )
    grid = span.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("h")
    )
    counts = ev.groupBy(F.date_trunc("HOUR", "ts").alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1)).alias("cx")
    )
    hourly = (
        grid.join(counts, "h", "left")
        .select("h", F.coalesce("cx", F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)  # hourly grid (bounded); reused by moments + 7 lag joins, no cache left behind
    )
    g = hourly.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a, b = hourly.alias("a"), hourly.alias("b")
    lagged = (
        F.broadcast(lags)
        .join(a)
        .join(
            b,
            F.col("b.h")
            == F.col("a.h") + F.make_dt_interval(F.lit(0), F.col("lag")),
        )
        .select("lag", F.col("a.x").alias("xh"), F.col("b.x").alias("xt"))
    )
    m = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).alias("nk"),
        # hourly sums are data-scale, so their per-row product needs the
        # d38 lane (functions/exact.py — the SCALING_100X overflow class)
        F.sum(d38("xh") * d38("xt")).alias("sxy"),
        F.sum(d38("xh")).alias("sh"),
        F.sum(d38("xt")).alias("st"),
    )
    num = (
        d38("n") * d38("n") * F.col("sxy")
        - d38("n") * d38("sx") * (F.col("sh") + F.col("st"))
        + d38("nk") * d38("sx") * d38("sx")
    ).cast("double")
    den = (
        d38("n") * d38("n") * F.col("sxx")
        - d38("n") * d38("sx") * d38("sx")
    ).cast("double")
    return (
        m.join(F.broadcast(g))
        .select(
            F.col("lag").cast("int").alias("lag_hours"),
            F.col("nk").cast("long").alias("n_pairs"),
            F.round(num / den, 6).alias("acf"),
        )
        .orderBy("lag_hours")
    )


@query(
    "q_agg_moments",
    oracle="""
    WITH f AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS x
      FROM lineitem
    ), s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(x) AS s1, sum(x * x) AS s2,
             sum(x * x * x) AS s3, sum(x * x * x * x) AS s4
      FROM f GROUP BY l_returnflag
    ), d AS (
      SELECT l_returnflag,
             CAST(n AS DOUBLE) AS n,
             CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
             CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
      FROM s
    ), mo AS (
      SELECT l_returnflag, n, s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
                    + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM d
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           round(mu / 100, 4) AS mean_price,
           round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
    FROM mo ORDER BY l_returnflag
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group skewness and excess kurtosis of the price distribution
    from EXACT raw power sums: cents are integral, so Σx…Σx⁴ are exact
    (Spark: decimal(38,0); DuckDB: HUGEINT — x⁴ ≈ 1e28 overflows bigint,
    hence the explicit widening on both sides), and both engines cast
    the SAME exact integers to double before one shared central-moment
    formula (m3/m2^1.5 written as m3/(m2·√m2) — FIXTURES §C bans pow()).
    Built-in skewness()/kurtosis() are unusable for a cross-engine
    contract: they accumulate doubles in partition order AND disagree on
    bias correction (DuckDB applies the sample G1/G2 corrections, Spark
    reports population g1/g2). One scan, one 3-row aggregate — the
    shape profile of a 100 TB column costs exactly one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_extendedprice") * 100).cast("decimal(10,0)")
    f = li.select("l_returnflag", x.alias("x"))
    x2 = (F.col("x") * F.col("x")).alias("x2")  # decimal(21,0)
    s = f.select("l_returnflag", F.col("x"), x2).select(
        "l_returnflag",
        "x",
        "x2",
        (F.col("x2") * F.col("x")).alias("x3"),  # decimal(32,0)
        (F.col("x2") * F.col("x2")).alias("x4"),  # capped decimal(38,0)
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("x3").alias("s3"),
        F.sum("x4").alias("s4"),
    )
    d = s.select(
        "l_returnflag",
        F.col("n").cast("double").alias("nd"),
        F.col("s1").cast("double").alias("s1"),
        F.col("s2").cast("double").alias("s2"),
        F.col("s3").cast("double").alias("s3"),
        F.col("s4").cast("double").alias("s4"),
        F.col("n").cast("long").alias("n"),
    )
    mu = F.col("s1") / F.col("nd")
    m2 = F.col("s2") / F.col("nd") - mu * mu
    m3 = (
        F.col("s3") / F.col("nd")
        - 3 * mu * (F.col("s2") / F.col("nd"))
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("s4") / F.col("nd")
        - 4 * mu * (F.col("s3") / F.col("nd"))
        + 6 * mu * mu * (F.col("s2") / F.col("nd"))
        - 3 * mu * mu * mu * mu
    )
    return d.select(
        "l_returnflag",
        "n",
        F.round(mu / 100, 4).alias("mean_price"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


@query(
    "q_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment AS segment, c.c_custkey,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, c.c_custkey
    ), ranked AS (
      SELECT segment, x,
             row_number() OVER (PARTITION BY segment
                                ORDER BY x, c_custkey) AS i
      FROM rev
    ), s AS (
      SELECT segment, count(*) AS n, sum(x) AS sx, sum(i * x) AS six
      FROM ranked GROUP BY segment
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS BIGINT) AS total_rev_cents,
           round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                 / CAST(n * sx AS DOUBLE), 6) AS gini
    FROM s ORDER BY segment
    """,
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Gini coefficient of customer revenue — the
    inequality scalar behind 'whale-risk' dashboards (q_revenue_pareto
    shows the curve; this is its summary statistic). Revenue is exact
    cents; customers rank ascending within segment with a custkey
    tie-break (total order → both engines assign identical i), and the
    closed form G = (2Σi·xᵢ − (n+1)Σx)/(nΣx) needs only two exact
    bigint sums — one float division at the end, 6 dp. The rank window
    partitions by segment (5 groups); at 100 TB the same closed form
    runs off a distributed sort + prefix-sum (i is a zipWithIndex-style
    global offset per partition), never a single-node sort."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.join(cu, o["o_custkey"] == cu["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "c_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"))
    )
    w = Window.partitionBy("segment").orderBy("x", "c_custkey")
    ranked = rev.select("segment", "x", F.row_number().over(w).alias("i"))
    s = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38("x")).alias("sx"),
        # i runs to the segment row count: i*x is corpus-squared, d38
        F.sum(d38("i") * d38("x")).alias("six"),
    )
    gini = F.round(
        (2 * F.col("six") - (d38("n") + 1) * F.col("sx")).cast("double")
        / (d38("n") * F.col("sx")).cast("double"),
        6,
    )
    return s.select(
        "segment",
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_rev_cents"),
        gini.alias("gini"),
    ).orderBy("segment")


@query(
    "q_graph_assortativity",
    oracle=f"""
    WITH pairs AS ({_PAIRS_SQL}),
    sym AS (
      SELECT id_a AS id, id_b AS nbr FROM pairs
      UNION ALL
      SELECT id_b AS id, id_a AS nbr FROM pairs
    ), deg AS (
      SELECT id, count(*) AS degree FROM sym GROUP BY id
    ), e AS (
      SELECT da.degree AS x, db.degree AS y
      FROM pairs p
      JOIN deg da ON da.id = p.id_a
      JOIN deg db ON db.id = p.id_b
    ), s AS (
      SELECT count(*) AS ne,
             sum(x + y) AS sx,
             sum(2 * x * y) AS sxy2,
             sum(x * x + y * y) AS sxx
      FROM e
    )
    SELECT CAST(ne AS BIGINT) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           round(CAST(2 * ne * sxy2 - sx * sx AS DOUBLE)
                 / CAST(2 * ne * sxx - sx * sx AS DOUBLE), 6) AS assortativity
    FROM s
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the near-dup pair graph —
    SAME graph as q_graph_degrees/triangles, so the three stats profile
    one object. Assortativity = Pearson correlation of endpoint degrees
    over both orientations of every edge; with both orientations the x
    and y marginals coincide, so the whole statistic reduces to three
    exact bigint sums over the edge list (m = 2·|E|): r = (m·Σ2xy −
    S²)/(m·Σ(x²+y²) − S²), S = Σ(dₐ+d_b). Strongly negative r on a dup
    graph means hub-leaf mixing — an LSH band is chaining unrelated
    docs through hubs; near 0/positive means clean clique-like dup
    groups. Degrees attach via broadcast join (the degree table is one
    row per node in the PAIR graph, tiny relative to the corpus)."""
    # _neardup_pairs arrives materialized; deg backs three consumers
    # (two broadcast build sides + the node count) so it gets the same
    # localCheckpoint treatment — computed once, served from blocks.
    pairs = _neardup_pairs(spark, sf_dir)
    sym = pairs.select(F.col("id_a").alias("id")).unionAll(
        pairs.select(F.col("id_b").alias("id"))
    )
    deg = (
        sym.groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=True)
    )
    e = (
        pairs.join(F.broadcast(deg.withColumnRenamed("id", "id_a")), "id_a")
        .withColumnRenamed("degree", "x")
        .join(F.broadcast(deg.withColumnRenamed("id", "id_b")), "id_b")
        .withColumnRenamed("degree", "y")
    )
    s = e.agg(
        F.count(F.lit(1)).alias("ne"),
        # degrees are data-scale (hub nodes): products and corpus-wide
        # sums run in the d38 lane (functions/exact.py)
        F.sum(d38(F.col("x") + F.col("y"))).alias("sx"),
        F.sum(2 * d38("x") * d38("y")).alias("sxy2"),
        F.sum(d38("x") * d38("x") + d38("y") * d38("y")).alias("sxx"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    assort = F.round(
        (2 * d38("ne") * F.col("sxy2") - F.col("sx") * F.col("sx")).cast("double")
        / (2 * d38("ne") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        6,
    )
    return s.join(F.broadcast(n_nodes)).select(
        F.col("ne").cast("long").alias("n_edges"),
        "n_nodes",
        assort.alias("assortativity"),
    )


@query(
    "q_ts_theil_sen",
    oracle="""
    WITH span AS (
      SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
    ), daily AS (
      SELECT g.day,
             coalesce(sum(CASE WHEN e.event_type = 'click' THEN 1 END), 0) AS y
      FROM grid g LEFT JOIN events e ON date_trunc('day', e.ts) = g.day
      GROUP BY g.day
    ), idx AS (
      SELECT row_number() OVER (ORDER BY day) - 1 AS t, y FROM daily
    ), slopes AS (
      SELECT CAST(round((b.y - a.y) * 1000000.0 / (b.t - a.t)) AS BIGINT) AS s_e6
      FROM idx a JOIN idx b ON b.t > a.t
    ), cum AS (
      SELECT s_e6,
             sum(cnt) OVER (ORDER BY s_e6 ROWS UNBOUNDED PRECEDING) AS cw,
             sum(cnt) OVER () AS tw
      FROM (SELECT s_e6, count(*) AS cnt FROM slopes GROUP BY s_e6)
    ), ols AS (
      SELECT count(*) AS n, sum(t) AS sx, sum(y) AS sy,
             sum(t * y) AS sxy, sum(t * t) AS sxx
      FROM idx
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM idx)    AS n_days,
           (SELECT CAST(count(*) AS BIGINT) FROM slopes) AS n_pairs,
           round(min(s_e6) FILTER (WHERE 2 * cw >= tw) / 1000000.0, 6)
             AS theil_sen_slope,
           (SELECT round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6) FROM ols)
             AS ols_slope
    FROM cum
    """,
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily click series (median of all
    pairwise slopes), with the OLS slope alongside — the outlier-robust
    trend estimator a metrics pipeline prefers when one traffic-spike
    day would drag least squares. The O(n²) pair join runs on the DAILY
    aggregate (one fact-table shuffle produces ~30 rows; the quadratic
    stage is bounded by days², never corpus size). Each slope is scaled
    to exact integer micro-units per-pair BEFORE aggregation (Δy·1e6/Δt
    on identical doubles, then round — Δt ≤ 29 has 2-adic valuation
    < 7, so no exact-half ties exist), and the median is the
    lower-median histogram selection (min s with 2·cum ≥ total — the
    q_agg_weighted_median recipe, integer arithmetic end-to-end). OLS
    comes from exact bigint moment sums over the integer day index."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_series(ev, y=F.sum(F.when(F.col("event_type") == "click", 1)))
    # VERDICT r5 item 5 (14-exchange plan): materialize the day-indexed
    # series ONCE (localCheckpoint, one row per day) so the pair join and
    # the OLS moments read it without re-deriving the fact-table subtree
    # and nothing stays cached in executor storage; n_pairs falls out of
    # the histogram's own total (tw) instead of a second slopes pass.
    idx = daily.select(
        (F.row_number().over(Window.partitionBy(one_part("day")).orderBy("day")) - 1).alias("t"), "y"
    ).localCheckpoint(eager=True)
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("b.t") > F.col("a.t")).select(
        F.round(
            (F.col("b.y") - F.col("a.y"))
            * 1000000.0
            / (F.col("b.t") - F.col("a.t"))
        )
        .cast("long")
        .alias("s_e6")
    )
    hist = slopes.groupBy("s_e6").agg(F.count(F.lit(1)).alias("cnt"))
    wo = Window.partitionBy(one_part("s_e6")).orderBy("s_e6").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy(one_part("s_e6"))
    cum = hist.select(
        "s_e6",
        F.sum("cnt").over(wo).alias("cw"),
        F.sum("cnt").over(wt).alias("tw"),
    )
    med = cum.agg(
        F.round(
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("s_e6"))) / 1000000.0,
            6,
        ).alias("theil_sen_slope"),
        F.coalesce(F.max("tw"), F.lit(0)).cast("long").alias("n_pairs"),
    )
    ols = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("sx"),
        F.sum(d38("y")).alias("sy"),
        F.sum(d38("t") * d38("y")).alias("sxy"),
        F.sum(F.col("t") * F.col("t")).alias("sxx"),
    ).select(
        F.col("n").cast("long").alias("n_days"),
        F.round(
            (d38("n") * F.col("sxy") - d38("sx") * F.col("sy")).cast("double")
            / (d38("n") * d38("sxx") - d38("sx") * d38("sx")).cast("double"),
            6,
        ).alias("ols_slope"),
    )
    return ols.join(F.broadcast(med)).select(
        "n_days", "n_pairs", "theil_sen_slope", "ols_slope"
    )


@query(
    "q_stat_kendall",
    oracle="""
    WITH f AS (
      SELECT CAST(round(l_quantity) AS BIGINT)       AS q,
             CAST(round(l_discount * 100) AS BIGINT) AS d
      FROM lineitem
    ), cells AS (
      SELECT q, d, count(*) AS c FROM f GROUP BY q, d
    ), pairs AS (
      SELECT sum(CASE WHEN b.d > a.d THEN a.c * b.c ELSE 0 END) AS conc,
             sum(CASE WHEN b.d < a.d THEN a.c * b.c ELSE 0 END) AS disc
      FROM cells a JOIN cells b ON b.q > a.q
    ), tq AS (
      SELECT sum(tc * (tc - 1)) AS m1
      FROM (SELECT sum(c) AS tc FROM cells GROUP BY q)
    ), td AS (
      SELECT sum(tc * (tc - 1)) AS m2
      FROM (SELECT sum(c) AS tc FROM cells GROUP BY d)
    ), tot AS (
      SELECT sum(c) AS n, count(*) AS n_cells FROM cells
    )
    SELECT CAST(tot.n AS BIGINT)       AS n,
           CAST(tot.n_cells AS BIGINT) AS n_cells,
           CAST(pairs.conc AS BIGINT)  AS concordant,
           CAST(pairs.disc AS BIGINT)  AS discordant,
           round(CAST(2 * (pairs.conc - pairs.disc) AS DOUBLE) /
                 (sqrt(CAST(tot.n * (tot.n - 1) - tq.m1 AS DOUBLE))
                  * sqrt(CAST(tot.n * (tot.n - 1) - td.m2 AS DOUBLE))), 6)
             AS tau_b
    FROM pairs, tq, td, tot
    """,
)
def q_stat_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b (tie-corrected, quantity × discount) computed from
    the JOINT HISTOGRAM, not row pairs: the textbook estimator is
    O(n²) over rows, but with integral variables the concordant/
    discordant counts collapse to one self-join over the ≤50×11
    contingency cells — Σ c_ij·c_kl over cell pairs with both
    coordinates strictly ordered. That turns a 3.6·10¹¹-pair problem
    into a 550-row broadcast join whose cost is DOMAIN-squared,
    independent of corpus size — the only way a rank statistic survives
    100 TB. Tie corrections n1/n2 come from the marginal totals; all
    counts exact bigint, one final float formula (products of
    pair-counts near n²/2 overflow bigint, so each factor casts to
    double BEFORE multiplying — identical shape both engines), 6 dp."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        F.round("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    # reused by the pair join (twice), both tie terms and the total —
    # checkpoint the ≤550-cell histogram so the fact table scans once
    cells = (
        f.groupBy("q", "d")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    a, b = cells.alias("a"), cells.alias("b")
    # d38 internal lane (r8): cell-count products c_i·c_j and the
    # conc/disc sums are n²-magnitude — int64 accumulation caps the
    # statistic at n ≈ 4e9 rows; the decimal lane carries it to
    # n ≈ 1.4e19 (√(2·10³⁸)). Output columns stay bigint (exact far
    # beyond every test SF); the τ formula divides doubles cast from
    # the same exact decimals on both engines (DuckDB sums bigint into
    # hugeint natively, so the oracle always had the wide lane).
    pairs = (
        a.join(F.broadcast(b), F.col("b.q") > F.col("a.q"))
        .agg(
            F.sum(
                F.when(
                    F.col("b.d") > F.col("a.d"), d38(F.col("a.c")) * d38(F.col("b.c"))
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("conc"),
            F.sum(
                F.when(
                    F.col("b.d") < F.col("a.d"), d38(F.col("a.c")) * d38(F.col("b.c"))
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("disc"),
        )
    )
    # DOUBLED tie terms keep the lane integral: m0 = n(n−1),
    # m1/m2 = Σ tc(tc−1) (a decimal /2 would introduce scale), and
    # τ = 2(C−D)/(√(m0−m1)·√(m0−m2)) — algebraically identical to
    # (C−D)/(√(n0−n1)·√(n0−n2)) with n0−nk = (m0−mk)/2.
    tq = (
        cells.groupBy("q")
        .agg(F.sum("c").alias("tc"))
        .agg(F.sum(d38("tc") * (d38("tc") - 1)).alias("m1"))
    )
    td = (
        cells.groupBy("d")
        .agg(F.sum("c").alias("tc"))
        .agg(F.sum(d38("tc") * (d38("tc") - 1)).alias("m2"))
    )
    tot = cells.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_cells")
    )
    m0 = d38("n") * (d38("n") - 1)
    tau = F.round(
        ((F.col("conc") - F.col("disc")) * 2).cast("double")
        / (
            F.sqrt((m0 - F.col("m1")).cast("double"))
            * F.sqrt((m0 - F.col("m2")).cast("double"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(tq))
        .join(F.broadcast(td))
        .join(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("conc").cast("long").alias("concordant"),
            F.col("disc").cast("long").alias("discordant"),
            tau.alias("tau_b"),
        )
    )


@query(
    "q_stat_mutual_info",
    oracle="""
    WITH cells AS (
      SELECT lang, source, count(*) AS c
      FROM documents GROUP BY lang, source
    ), ml AS (SELECT lang, sum(c) AS cl FROM cells GROUP BY lang),
       ms AS (SELECT source, sum(c) AS cs FROM cells GROUP BY source),
       tot AS (SELECT sum(c) AS n FROM cells),
    mi AS (
      SELECT sum(CAST(round((CAST(cells.c AS DOUBLE) / n)
                            * ln(CAST(cells.c * n AS DOUBLE)
                                 / CAST(ml.cl * ms.cs AS DOUBLE))
                            * 1000000000) AS BIGINT)) AS mi_e9
      FROM cells JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN tot
    ), hl AS (
      SELECT sum(CAST(round(-(CAST(cl AS DOUBLE) / n)
                            * ln(CAST(cl AS DOUBLE) / n)
                            * 1000000000) AS BIGINT)) AS h_e9
      FROM ml CROSS JOIN tot
    ), hs AS (
      SELECT sum(CAST(round(-(CAST(cs AS DOUBLE) / n)
                            * ln(CAST(cs AS DOUBLE) / n)
                            * 1000000000) AS BIGINT)) AS h_e9
      FROM ms CROSS JOIN tot
    )
    SELECT CAST(tot.n AS BIGINT) AS n_docs,
           (SELECT CAST(count(*) AS BIGINT) FROM ml) AS n_langs,
           (SELECT CAST(count(*) AS BIGINT) FROM ms) AS n_sources,
           round(mi.mi_e9 / 1000000000.0, 6) AS mi_nats,
           round(hl.h_e9 / 1000000000.0, 6) AS h_lang,
           round(hs.h_e9 / 1000000000.0, 6) AS h_source,
           round(mi.mi_e9 / sqrt(CAST(hl.h_e9 AS DOUBLE)
                                 * CAST(hs.h_e9 AS DOUBLE)), 6) AS nmi
    FROM mi, hl, hs, tot
    """,
)
def q_stat_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between language and source (plus both
    marginal entropies and sqrt-normalized MI) — the corpus-composition
    dependence scalar: high NMI means sources are language silos, near
    0 means language mix is uniform across sources. Float-sum ordering
    is the cross-engine hazard here (Σ p·ln terms), so every per-cell
    term is computed on identical doubles (exact count ratios) and
    quantized to integer NANO-nats BEFORE summation — the sums are then
    exact bigints in any order (the q_stat_chisq quantization recipe).
    ONE contingency shuffle over the fact table (cached — eleven
    re-scans otherwise, Spark shares no common subplans without it);
    margins and the grand total attach as WINDOWS over the
    O(langs·sources) frame, entropy terms fire once per margin via
    row_number flags, and a single final aggregate emits the scalar
    row — no join fan-out, no broadcast cascade."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # O(langs*sources) cells, materialized once
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    # grand total over the bounded O(langs*sources) cell frame: one_part
    # declares the single bounded partition explicitly (plan-audit gate;
    # a bare partitionBy() decays to 'No Partition Defined')
    wg = Window.partitionBy(one_part("lang"))
    fr = cells.select(
        "lang",
        "source",
        "c",
        F.sum("c").over(wl).alias("cl"),
        F.sum("c").over(ws).alias("cs"),
        F.sum("c").over(wg).alias("n"),
        F.row_number().over(wl.orderBy("source")).alias("rl"),
        F.row_number().over(ws.orderBy("lang")).alias("rs"),
    )
    mi_term = (
        (F.col("c").cast("double") / F.col("n"))
        * F.log(
            (F.col("c") * F.col("n")).cast("double")
            / (F.col("cl") * F.col("cs")).cast("double")
        )
        * 1000000000
    )
    hl_term = (
        -(F.col("cl").cast("double") / F.col("n"))
        * F.log(F.col("cl").cast("double") / F.col("n"))
        * 1000000000
    )
    hs_term = (
        -(F.col("cs").cast("double") / F.col("n"))
        * F.log(F.col("cs").cast("double") / F.col("n"))
        * 1000000000
    )
    s = fr.agg(
        F.max("n").alias("n"),
        F.sum(F.round(mi_term).cast("long")).alias("mi_e9"),
        F.sum(
            F.when(F.col("rl") == 1, F.round(hl_term).cast("long")).otherwise(0)
        ).alias("hl_e9"),
        F.sum(
            F.when(F.col("rs") == 1, F.round(hs_term).cast("long")).otherwise(0)
        ).alias("hs_e9"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_docs"),
        "n_langs",
        "n_sources",
        F.round(F.col("mi_e9") / 1000000000.0, 6).alias("mi_nats"),
        F.round(F.col("hl_e9") / 1000000000.0, 6).alias("h_lang"),
        F.round(F.col("hs_e9") / 1000000000.0, 6).alias("h_source"),
        F.round(
            F.col("mi_e9")
            / F.sqrt(
                F.col("hl_e9").cast("double") * F.col("hs_e9").cast("double")
            ),
            6,
        ).alias("nmi"),
    )


