"""Data-quality expectations + statistical audits (round 5).

The expectations suite is the dbt-test / Great-Expectations pattern as
ONE query: each rule is a tiny aggregate, the suite is their union —
at 100 TB the rules that share a table share its scan (Catalyst reuses
the exchange-free scans), and the output is a bounded rule-status
table a scheduler can alert on.

The statistical audits — Benford first-digit conformance, WoE/IV
feature screening, OLS via moment sums — follow the module-wide
determinism recipe: integer counts all the way, one float op per
output row from exact integer inputs, rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl4s_spark.functions.exact import d38
from etl4s_spark.operators.similarity import sq_l2
from etl4s_spark.queries import query
from etl4s_spark.sources.tables import load_table


@query(
    "q_audit_expectations",
    oracle="""
    SELECT * FROM (
      SELECT 'orders_pk_unique' AS rule,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
      FROM orders
      UNION ALL
      SELECT 'orders_custkey_refint',
             CAST(count(*) AS BIGINT)
      FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      UNION ALL
      SELECT 'lineitem_qty_in_range',
             CAST(count(*) AS BIGINT)
      FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
      UNION ALL
      SELECT 'orders_totalprice_not_null',
             CAST(count(*) FILTER (o_totalprice IS NULL) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders_status_in_set',
             CAST(count(*) FILTER (o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem_lines_per_order_1_to_7',
             CAST(count(*) AS BIGINT)
      FROM (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING count(*) < 1 OR count(*) > 7)
    )
    ORDER BY rule
    """,
)
def q_audit_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations suite — six contract rules (PK uniqueness,
    referential integrity, range, non-null, domain set, per-group
    cardinality) evaluated in one query, emitting violation counts
    (0 = pass). The anti-join is the referential check's scale shape
    (never a collect of keys); the three orders rules share one scan
    via conditional aggregation where possible. This is the query a
    100 TB pipeline runs after every load — O(rules) output rows, all
    integer-exact."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def rule(name, df):
        return df.select(
            F.lit(name).alias("rule"), F.col("violations").cast("long")
        )

    pk = o.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("violations")
    )
    refint = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    qty = li.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).agg(
        F.count(F.lit(1)).alias("violations")
    )
    nn = o.agg(F.count_if(F.col("o_totalprice").isNull()).alias("violations"))
    dom = o.agg(
        F.count_if(~F.col("o_orderstatus").isin("F", "O", "P")).alias("violations")
    )
    card = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") < 1) | (F.col("n") > 7))
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    return (
        rule("orders_pk_unique", pk)
        .unionByName(rule("orders_custkey_refint", refint))
        .unionByName(rule("lineitem_qty_in_range", qty))
        .unionByName(rule("orders_totalprice_not_null", nn))
        .unionByName(rule("orders_status_in_set", dom))
        .unionByName(rule("lineitem_lines_per_order_1_to_7", card))
        .orderBy("rule")
    )


@query(
    "q_audit_benford",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counts AS (
      SELECT digit, count(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT sum(n) AS total FROM counts)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           CAST((n * 1000000) // (SELECT total FROM tot) AS BIGINT) AS share_e6,
           CAST(round(log10(1 + 1.0 / digit) * 1000000) AS BIGINT)  AS benford_e6,
           CAST(abs((n * 1000000) // (SELECT total FROM tot)
                    - CAST(round(log10(1 + 1.0 / digit) * 1000000) AS BIGINT))
                AS BIGINT) AS abs_dev_e6
    FROM counts ORDER BY digit
    """,
)
def q_audit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the classic
    fabricated-data screen: naturally-occurring amounts follow
    P(d) = log₁₀(1+1/d); synthetic or tampered ones don't. The first
    significant digit comes from the exact cent integer's string head
    (no float log to bucket), shares are integer micro-units, and the
    Benford expectation is ONE log per output row (9 rows) from integer
    inputs — deterministic on both engines. One scan, one 9-key
    map-side-combined aggregate at any scale."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    benford = F.round(F.log10(1 + 1.0 / F.col("digit")) * 1000000).cast("long")
    return (
        counts.join(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("long"),
            F.expr("(n * 1000000) div total").alias("share_e6"),
            benford.alias("benford_e6"),
            F.abs(F.expr("(n * 1000000) div total") - benford)
            .cast("long")
            .alias("abs_dev_e6"),
        )
        .orderBy("digit")
    )


@query(
    "q_feature_woe",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ), binned AS (
      SELECT y, ntile(10) OVER (ORDER BY price_cents, o_orderkey) AS bin
      FROM base
    ), per_bin AS (
      SELECT bin, count(*) AS n, sum(y) AS n_event,
             count(*) - sum(y) AS n_nonevent
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT sum(n_event) AS te, sum(n_nonevent) AS tn FROM per_bin
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(n AS BIGINT) AS n,
           CAST(n_event AS BIGINT) AS n_event,
           round(ln((CAST(n_event AS DOUBLE) * (SELECT tn FROM tot))
                    / (CAST(n_nonevent AS DOUBLE) * (SELECT te FROM tot))), 6)
             AS woe
    FROM per_bin ORDER BY bin
    """,
)
def q_feature_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence feature screening: order price deciled (ntile
    with orderkey tie-break — total order), WoE = ln(event-share /
    non-event-share) per bin against the 'F' (fulfilled) outcome — the
    credit-scoring / feature-selection primitive that reads a feature's
    monotonic relationship with a binary target before any model sees
    it. WoE's float work is ONE ln per output row over a ratio of four
    exact integers (the shares' denominators cancel algebraically — the
    expression is written in the cancelled form so both engines evaluate
    the identical float formula). Deciling is the TWO-PASS distributed
    rank (operators/ranking.py — VERDICT r5 #1: the ntile here used to
    funnel every orders row through ONE partition): $10k price buckets →
    broadcast prefix offsets → per-bucket rank → exact integer ntile
    arithmetic. Bit-identical to ntile(10), no unpartitioned window."""
    from etl4s_spark.operators.ranking import exact_ntile, global_index

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    binned = global_index(
        base,
        F.col("price_cents"),
        F.expr("price_cents div 1000000").cast("int"),
        ["o_orderkey"],
        total_name="n_total",
    ).select("y", exact_ntile(10).alias("bin"))
    per_bin = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_event"),
            (F.count(F.lit(1)) - F.sum("y")).alias("n_nonevent"),
        )
        .localCheckpoint(eager=True)  # 10 rows; aggregated again for totals
    )
    tot = per_bin.agg(
        F.sum("n_event").alias("te"), F.sum("n_nonevent").alias("tn")
    )
    # try_divide: a PURE bin (n_nonevent = 0) raises DIVIDE_BY_ZERO under
    # ANSI mode (a guard filter would not protect the expression —
    # FIXTURES §C.5); WoE of a pure bin is undefined → NULL. Never occurs
    # in the production orders data (no decile is single-status), so the
    # mirrored oracle is unaffected; the planted closed-form test
    # (tests/test_stat_references.py) exercises it.
    woe = F.round(
        F.log(
            F.try_divide(
                F.col("n_event").cast("double") * F.col("tn"),
                F.col("n_nonevent").cast("double") * F.col("te"),
            )
        ),
        6,
    )
    return (
        per_bin.join(F.broadcast(tot))
        .select(
            F.col("bin").cast("int"),
            F.col("n").cast("long"),
            F.col("n_event").cast("long"),
            woe.alias("woe"),
        )
        .orderBy("bin")
    )


@query(
    "q_regression_ols",
    oracle="""
    WITH f AS (
      SELECT CAST(round(l_quantity) AS BIGINT)            AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ), m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM f
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             AS slope_cents_per_unit,
           round((CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)) * sx) / n, 4)
             AS intercept_cents,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM m
    """,
)
def q_regression_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple OLS (price-vs-quantity) in ONE distributed pass via exact
    moment sums — slope, intercept, R² all derive from five bigint/
    decimal sums with float math only in the final row (q_corr_matrix's
    recipe; same reason: built-in regr_slope accumulates doubles in
    partition order and drifts in the last ulp across engines). This is
    how a 100 TB feature pipeline fits millions of tiny per-group
    models: the moments are map-side-combinable aggregate state."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )

    def dsum(col):
        # d38 sum lane: per-row products fit int64, the corpus-wide sum
        # and the n·Σ combination need the hugeint-equivalent headroom
        # (functions/exact.py — the 100x probe's overflow class)
        return F.sum(d38(col))

    m = f.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    # combination in d38, then to DOUBLE before any further product —
    # cov_n² in the decimal lane needs twice the digits and blew
    # Decimal(38,0) at 3.3e40 on the r8 100x probe; the square is a
    # float ratio input anyway, and an IEEE double product of the same
    # exactly-cast values is bit-identical across engines (the oracle
    # squares the same CAST AS DOUBLE), so the hash gate is unaffected
    cov_n = (d38("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_x = (d38("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_y = (d38("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov_n / var_x
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope_cents_per_unit"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n"), 4
        ).alias("intercept_cents"),
        F.round(cov_n * cov_n / (var_x * var_y), 6).alias("r2"),
    )


@query(
    "q_fuzzy_pairs",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk
      FROM part
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM p a JOIN p b
      ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    ORDER BY dist, key_a, key_b
    LIMIT 30
    """,
)
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-match join (typo-level duplicate detection on part
    names): BLOCK on the first token, compare only within blocks with
    edit distance ≤ 4 — the blocking+verify shape every ER system uses,
    because bare levenshtein joins are O(n²). Blocking keys make the
    join an equi-join (hash, co-locatable); the quadratic is bounded by
    block size — exactly q_er_blocking's candidate discipline applied to
    string similarity. Three cost disciplines on the verify step: a
    length-difference prefilter (|Δlen| ≤ k is necessary for dist ≤ k)
    prunes before any DP runs, the distance is computed ONCE per pair
    (aliased before the filter — referencing the expression in filter +
    project + sort would evaluate the DP three times), and Spark's
    BANDED levenshtein(l, r, threshold) runs the O(k·n) diagonal band,
    returning −1 past the threshold (exact inside it, so the value
    matches the oracle's full Wagner-Fischer). Output totally ordered by
    (dist, keys) → TakeOrdered."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    # the dim is broadcast, so probe-side partitioning is a free choice:
    # spread the probe rows so the DP work parallelizes even when the
    # input is one small file (one scan task would otherwise run EVERY
    # pair's levenshtein serially — measured 56 s → 2 s at sf0.1)
    a = p.repartition(32).alias("a")
    b = p.alias("b")
    # Two DP-cost disciplines added in r13 (guide §1.2 per-task work):
    # 1. The `dist >= 0` filter applied ABOVE the projection used to be
    #    pushed into the JOIN condition as its FIRST conjunct — the
    #    O(k·n) DP ran on every same-block ordered pair BEFORE the cheap
    #    partkey/length-band conjuncts pruned anything (two levenshtein
    #    sites, the join-side one unguarded — r13 before-plan line 58).
    #    The DP now sits in the ON clause as the LAST conjunct (authored
    #    conjunct order is preserved and short-circuits), so it runs
    #    only on length-band survivors; the projection re-evaluates it
    #    only for the few matching pairs that reach the output.
    # 2. Both names start with their block token (split_part's first
    #    field is by construction a prefix of the name, and the join
    #    requires a.blk == b.blk), and levenshtein is invariant under
    #    stripping a common prefix (the DP's first row/column), so the
    #    band runs on the ~20%-shorter suffixes — same exact distance.
    #    Exactly length(blk) chars are stripped — never the following
    #    space, which a single-token name would not have.
    dist_once = F.levenshtein(
        F.expr("substring(a.p_name, length(a.blk) + 1)"),
        F.expr("substring(b.p_name, length(b.blk) + 1)"),
        4,
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
                <= 4
            )
            & (dist_once >= 0),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist_once.alias("dist"),
        )
        .orderBy("dist", "key_a", "key_b")
        .limit(30)
    )


@query(
    "q_er_fuzzy_clusters",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk
      FROM part
    ), prs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM p a JOIN p b
        ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b AS s, id_a AS d FROM prs
    ), reach(id, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, r.r FROM edges e JOIN reach r ON e.d = r.id
    ), comp AS (
      SELECT id, min(r) AS component FROM reach GROUP BY id
    )
    SELECT CAST(component AS BIGINT)      AS cluster_id,
           CAST(count(*) AS BIGINT)       AS n_members,
           CAST(min(id) AS BIGINT)        AS canonical_key
    FROM comp
    GROUP BY component
    HAVING count(*) >= 2
    ORDER BY cluster_id
    """,
)
def q_er_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution: blocked fuzzy match (edit distance
    ≤ 2 within first-token blocks — q_fuzzy_pairs' candidate
    discipline) feeds CONNECTED COMPONENTS (operators/dedup.py
    connected_components — the routine the dedup clusters use), and
    each cluster elects its minimum key as the canonical entity — the
    full match→cluster→survivorship flow of an MDM pipeline in one
    declared query, with the oracle replaying it as a recursive CTE.

    The blocked match graph is DENSE (near-cliques per block: 3.1M edges
    over 20k parts at sf0.1). connected_components' round 0 is a
    min-neighbour contraction that collapses each near-clique to a star
    and observes convergence in the same round: at sf0.1 the clustering
    is that one round, two shuffles over the 3.1M edges."""
    from etl4s_spark.operators.dedup import connected_components

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk")
    )
    a = p.repartition(32).alias("a")
    b = p.alias("b")
    # Same two DP disciplines as q_fuzzy_pairs (r13): the banded DP is
    # the LAST conjunct of the ON clause (a bare post-join filter merges
    # into the join condition as its FIRST conjunct — the DP then ran
    # before partkey/length-band pruned), and it runs on the suffixes
    # after the provably-common block prefix (levenshtein is
    # prefix-strip invariant). No projection re-evaluation here — the
    # pair list only needs the keys, so the DP runs exactly once.
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey"))
        & (F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))) <= 2)
        & (
            F.levenshtein(
                F.expr("substring(a.p_name, length(a.blk) + 1)"),
                F.expr("substring(b.p_name, length(b.blk) + 1)"),
                2,
            )
            >= 0
        ),
    ).select(
        F.col("a.p_partkey").alias("id_a"), F.col("b.p_partkey").alias("id_b")
    )
    comp = connected_components(pairs)
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("id").cast("long").alias("canonical_key"),
        )
        .filter(F.col("n_members") >= 2)
        .select(F.col("cluster_id").cast("long"), "n_members", "canonical_key")
        .orderBy("cluster_id")
    )


@query(
    "q_grouped_regression",
    oracle="""
    WITH f AS (
      SELECT p.p_brand AS brand,
             CAST(round(l.l_quantity) AS BIGINT) AS x,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), m AS (
      SELECT brand, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM f GROUP BY brand
    )
    , d AS (
      SELECT brand, n,
             CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
             CAST(n * sxx - sx * sx AS DOUBLE) AS varx_n,
             CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS vary_n,
             CAST(sx AS DOUBLE) / n AS mx,
             CAST(sy AS DOUBLE) / n AS my
      FROM m
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n,
           round(CASE WHEN varx_n = 0 THEN 0
                      ELSE cov_n / varx_n END / 100, 6) AS slope_dollars,
           round((my - CASE WHEN varx_n = 0 THEN 0
                            ELSE cov_n / varx_n END * mx) / 100, 4)
             AS intercept_dollars,
           round(CASE WHEN varx_n = 0 OR vary_n = 0 THEN 0
                      ELSE cov_n * cov_n / (varx_n * vary_n) END, 6) AS r2
    FROM d ORDER BY brand
    """,
)
def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-BRAND OLS (price ~ quantity): the 'millions of tiny models'
    pattern q_regression_ols promises — every group's slope/intercept/
    R² derives from five exact moment sums that are map-side-combinable
    aggregate state, so fitting 25 models (or 25 million at 100 TB)
    costs exactly one shuffle on the group key and zero extra passes.
    Float math once per group on identical doubles (R² via the
    squared-covariance identity, no residual pass needed); the y²
    moment widens to 128-bit/decimal before summation."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    f = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    m = f.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).alias("syy"),
    )
    # moment combination in d38 (decimal 38,0 = DuckDB hugeint headroom):
    # n·Σxy reached 5.8e18 at 10x sf0.1 and OVERFLOWED int64 at 100x —
    # the SCALING_100X probe's first find (functions/exact.py)
    cov_n = (d38("n") * d38("sxy") - d38("sx") * d38("sy")).cast("double")
    varx_n = (d38("n") * d38("sxx") - d38("sx") * d38("sx")).cast("double")
    vary_n = (d38("n") * d38("syy") - d38("sy") * d38("sy")).cast("double")
    slope = F.when(varx_n == 0, F.lit(0.0)).otherwise(cov_n / varx_n)
    r2 = F.when((varx_n == 0) | (vary_n == 0), F.lit(0.0)).otherwise(
        cov_n * cov_n / (varx_n * vary_n)
    )
    return m.select(
        "brand",
        F.col("n").cast("long").alias("n"),
        F.round(slope / 100, 6).alias("slope_dollars"),
        F.round(
            (
                F.col("sy").cast("double") / F.col("n")
                - slope * (F.col("sx").cast("double") / F.col("n"))
            )
            / 100,
            4,
        ).alias("intercept_dollars"),
        F.round(r2, 6).alias("r2"),
    ).orderBy("brand")


@query(
    "q_cluster_update_step",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id < 4
    ), dists AS (
      SELECT e.vec_id, c.centroid_id, e.embedding,
             CAST(round(list_sum(list_transform(
                    list_zip(e.embedding, c.cvec),
                    t -> (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))
                         * (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))))
                  * 1000000) AS BIGINT) AS d_e6
      FROM embeddings e, cent c
      WHERE e.vec_id < 500
    ), assigned AS (
      SELECT vec_id, centroid_id, embedding,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d_e6, centroid_id) AS rn
      FROM dists
    ), el AS (
      SELECT centroid_id, i AS dim,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)
               AS v_e6
      FROM assigned, unnest(generate_series(0, 63)) AS t(i)
      WHERE rn = 1
    ), newc AS (
      SELECT centroid_id, dim, sum(v_e6) AS s, count(*) AS n
      FROM el GROUP BY centroid_id, dim
    )
    SELECT centroid_id,
           CAST(max(n) AS BIGINT) AS n_members,
           round(CAST(sum(CASE WHEN dim < 4
                               THEN CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT)
                               ELSE 0 END) AS DOUBLE) / 1000000, 6)
             AS head4_coord_sum,
           CAST(sum(abs(CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT))) AS BIGINT)
             AS l1_norm_e6
    FROM newc GROUP BY centroid_id ORDER BY centroid_id
    """,
)
def q_cluster_update_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd (k-means) ITERATION: the assignment step
    (q_cluster_assign's broadcast-centroids argmin) followed by the
    UPDATE step — new centroids as per-cluster per-dimension means.
    Elements quantize to integer micro-units before the mean sums
    (float-sum order cannot move a centroid — the q_embedding_
    centroid_dist rule), each new coordinate rounds once, and the
    result is summarized per cluster (member count, head-coordinate
    sum, L1 norm of the new centroid) so the contract stays k rows.
    At 100 TB this is THE k-means loop body: broadcast k·d floats out,
    one scan, one (k·d)-cell aggregate back — iterate by feeding the
    output centroids into the next assignment."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    cent = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("cvec"),
        )
    )
    d2 = sq_l2(F.col("embedding").cast("array<double>"), F.col("cvec"))
    dists = e.join(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        "embedding",
        F.round(d2 * 1000000).cast("long").alias("d_e6"),
    )
    w = Window.partitionBy("vec_id").orderBy("d_e6", "centroid_id")
    assigned = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("centroid_id", "embedding")
    )
    el = assigned.select(
        "centroid_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).toDF("centroid_id", "dim", "val").select(
        "centroid_id",
        "dim",
        F.round(F.col("val") * 1000000).cast("long").alias("v_e6"),
    )
    newc = el.groupBy("centroid_id", "dim").agg(
        F.sum("v_e6").alias("s"), F.count(F.lit(1)).alias("n")
    )
    coord = F.round(F.col("s").cast("double") / F.col("n")).cast("long")
    return (
        newc.groupBy("centroid_id")
        .agg(
            F.max("n").cast("long").alias("n_members"),
            F.round(
                F.sum(F.when(F.col("dim") < 4, coord).otherwise(0)).cast("double")
                / 1000000,
                6,
            ).alias("head4_coord_sum"),
            F.sum(F.abs(coord)).cast("long").alias("l1_norm_e6"),
        )
        .orderBy("centroid_id")
    )


@query(
    "q_target_encoding_loo",
    oracle="""
    WITH f AS (
      SELECT l_orderkey, l_linenumber,
             p.p_brand AS brand,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), g AS (
      SELECT brand, count(*) AS n, sum(y) AS s FROM f GROUP BY brand
    )
    SELECT f.l_orderkey, f.l_linenumber, f.brand,
           CAST(f.y AS INT) AS y,
           round(CAST(g.s - f.y AS DOUBLE) / (g.n - 1), 6) AS te_loo
    FROM f JOIN g USING (brand)
    WHERE f.l_orderkey < 100
    ORDER BY f.l_orderkey, f.l_linenumber
    """,
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of brand against the return label
    — the leakage-safe categorical encoder a feature pipeline ships to
    training: each row's encoding (S_g − y_i)/(n_g − 1) excludes its
    OWN label, so the feature never memorizes the row it describes.
    The group statistics are one map-side-combined aggregate joined
    back by broadcast (25 rows); the encoding itself is a scan-stage
    expression over exact integer counts with one division — at 100 TB
    the fact table is read once and nothing but the dim-sized stats
    table moves. Output is a bounded audit slice (orderkey < 100);
    the full encoded table is the same plan without the filter."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    f = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_orderkey",
        "l_linenumber",
        F.col("p_brand").alias("brand"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    g = f.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    return (
        f.join(F.broadcast(g), "brand")
        .filter(F.col("l_orderkey") < 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            "brand",
            F.col("y").cast("int").alias("y"),
            F.round(
                (F.col("s") - F.col("y")).cast("double") / (F.col("n") - 1), 6
            ).alias("te_loo"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )
