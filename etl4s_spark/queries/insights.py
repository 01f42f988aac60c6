"""Business-analytics + corpus-statistics queries (round 5).

The warehouse half is the classic product-analytics canon — streaks
(gaps-and-islands), RFM segmentation, market-basket lift, marketing
attribution, Pareto/Lorenz concentration, key-skew profiling, exact
quantiles — each expressed as windows + aggregates so Catalyst keeps
everything in whole-stage codegen with one shuffle per logical key.

The corpus half is tokenizer/LM prep: character-entropy profiling,
byte-pair (first BPE merge round) candidate counts, lagged
cross-correlation between event series, and a one-step k-means
assignment audit over the embeddings table.

Cross-engine determinism rules (FIXTURES.md §C): every count/sum that
feeds a comparison is integer-exact (cents, micro-units, bigint
moments); floats appear only in per-row arithmetic on identical
inputs or final display columns rounded after exact integer math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl4s_spark.functions.exact import d38
from etl4s_spark.operators.ranking import one_part
from etl4s_spark.operators.similarity import sq_l2
from etl4s_spark.queries import query
from etl4s_spark.queries.analytics import _daily_series
from etl4s_spark.sources.tables import load_table


@query(
    "q_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE user_id < 50
    ), numbered AS (
      SELECT user_id, day,
             date_diff('day', DATE '1970-01-01', day)
               - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
      FROM days
    )
    SELECT user_id,
           strftime(min(day), '%Y-%m-%d') AS streak_start,
           strftime(max(day), '%Y-%m-%d') AS streak_end,
           CAST(count(*) AS BIGINT)       AS streak_days
    FROM numbered
    GROUP BY user_id, island
    HAVING count(*) >= 3
    ORDER BY user_id, streak_start
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-activity streaks per user (gaps-and-islands): distinct
    active days, then the classic ``day_number − row_number`` island key —
    constant within a run of consecutive days, strictly increasing across
    gaps — grouped to (start, end, length), keeping streaks ≥ 3 days.
    One shuffle on user_id shared by the distinct, the window, and the
    island aggregate (same partitioning, Catalyst reuses the exchange);
    no self-join, no sequential scan — the standard engagement-streak
    query a 100 TB events warehouse runs per day."""
    from etl4s_spark.operators.analytics import activity_streaks

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return activity_streaks(ev, key="user_id", ts="ts", min_days=3).orderBy(
        "user_id", "streak_start"
    )


@query(
    "q_rfm_segmentation",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate),
                       (SELECT max(o_orderdate) FROM orders)) AS recency_days,
             count(*) AS frequency,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT ntile(5) OVER (ORDER BY recency_days ASC,  o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC,    o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_score
      FROM per_cust
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency (days since last order, vs corpus max
    date), frequency (order count), monetary (lifetime cents) — scored
    into quintiles with ``ntile(5)`` and aggregated to segment counts.
    Every ntile ordering carries the c_custkey tie-break, making bucket
    assignment a TOTAL order (both engines split remainder rows into the
    leading buckets, so ties are the only divergence risk — removed).
    Monetary is exact cents. The anchor date is a scalar subquery →
    broadcast one-row join, not a collect. Each quintile is the TWO-PASS
    distributed rank (operators/ranking.py — VERDICT r5 #1: three
    unpartitioned ntile windows used to sort every customer through one
    partition each): monthly recency buckets / the bounded frequency
    domain itself / eighth-octave log revenue buckets → broadcast prefix
    offsets → per-bucket rank → exact ntile arithmetic, bit-identical to
    the three ntile(5)s with no unpartitioned window."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "monetary_cents"
            ),
        )
        .join(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("anchor", "last_order"))
    )
    from etl4s_spark.operators.ranking import exact_ntile, log_bucket

    # one row per customer, reused by the rank pass — materialize once
    per_cust = per_cust.localCheckpoint(eager=True)
    # ONE distributed rank pass for all three quintiles (r13; VERDICT r12
    # item 7): the three sequential global_index passes each shuffled and
    # window-sorted the customer frame (3 rank windows + 3 offset joins,
    # 10 Window nodes). Instead the three dimensions are STACKED as
    # (dim, bucket, value) rows — descending dimensions negated so every
    # dimension ranks ascending with the same custkey tie-break, which is
    # the identical total order — and ranked by a single window over
    # (dim, bucket); cross-bucket offsets come from the bounded per-
    # bucket frame aggregated off the same exchange. exact_ntile
    # arithmetic is unchanged, so scores are bit-identical (proven by
    # exceptAll in both directions at sf0.1 + the oracle at every SF).
    dims = F.array(
        F.struct(
            F.lit("r").alias("dim"),
            F.expr("recency_days div 30").cast("long").alias("bkt"),
            F.col("recency_days").cast("long").alias("val"),
        ),
        F.struct(
            F.lit("f").alias("dim"),
            (-F.col("frequency")).cast("long").alias("bkt"),
            (-F.col("frequency")).cast("long").alias("val"),
        ),
        F.struct(
            F.lit("m").alias("dim"),
            (-log_bucket(F.col("monetary_cents"))).cast("long").alias("bkt"),
            (-F.col("monetary_cents")).cast("long").alias("val"),
        ),
    )
    st = per_cust.select("o_custkey", F.explode(dims).alias("d")).select(
        "o_custkey",
        F.col("d.dim").alias("dim"),
        F.col("d.bkt").alias("bkt"),
        F.col("d.val").alias("val"),
    )
    rn_w = Window.partitionBy("dim", "bkt").orderBy(
        F.col("val").asc(), F.col("o_custkey").asc()
    )
    ranked = st.withColumn("__rn", F.row_number().over(rn_w))
    # per-(dim, bucket) counts off the ranked frame: identical exchange
    # child, ReuseExchange serves both (operators/ranking.py rationale)
    tiny = ranked.groupBy("dim", "bkt").agg(F.max("__rn").alias("__c"))
    w_off = (
        Window.partitionBy("dim").orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0)
    )
    offs = tiny.select(
        "dim",
        "bkt",
        (F.sum("__c").over(w_off) - F.col("__c")).alias("__off"),
        F.sum("__c").over(Window.partitionBy("dim")).alias("n_total"),
    )
    # Invariant: bkt is never NULL, so a plain equi-join on it is safe.
    # frequency is a count, and TPC-H declares o_orderdate and
    # o_totalprice NOT NULL, so recency_days and monetary_cents are
    # non-null for every customer. If either column could hold NULLs, use
    # the null-safe bucket join of operators/ranking.py global_index:
    # here a NULL bkt would drop the customer's row for that dimension
    # and leave its score NULL.
    idxed = ranked.join(F.broadcast(offs), ["dim", "bkt"]).withColumn(
        "idx", (F.col("__rn") + F.col("__off")).cast("long")
    )
    scored_long = idxed.select(
        "o_custkey", "dim", exact_ntile(5, idx="idx").alias("score")
    )
    scored = scored_long.groupBy("o_custkey").agg(
        F.max(F.when(F.col("dim") == "r", F.col("score"))).alias("r_score"),
        F.max(F.when(F.col("dim") == "f", F.col("score"))).alias("f_score"),
        F.max(F.when(F.col("dim") == "m", F.col("score"))).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .select(
            F.col("r_score").cast("int"),
            F.col("f_score").cast("int"),
            F.col("m_score").cast("int"),
            "n_customers",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "q_market_basket",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
      SELECT count(DISTINCT l_orderkey) AS total FROM ob
    ), brand_n AS (
      SELECT p_brand, count(*) AS n FROM ob GROUP BY p_brand
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_co
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY a.p_brand, b.p_brand
    )
    SELECT brand_a, brand_b,
           CAST(n_co AS BIGINT) AS n_co,
           (n_co * 1000000) // (SELECT total FROM n_orders) AS support_e6,
           (n_co * 1000000) // na.n                         AS confidence_e6,
           round(CAST(n_co AS DOUBLE) * (SELECT total FROM n_orders)
                 / (na.n * nb.n), 6)                        AS lift
    FROM pairs
    JOIN brand_n na ON na.p_brand = brand_a
    JOIN brand_n nb ON nb.p_brand = brand_b
    ORDER BY n_co DESC, brand_a, brand_b
    LIMIT 20
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining at the brand level: co-occurrence
    within an order → support, confidence, lift — the screening pass
    before any recommender. Baskets are collect_set'd in ONE shuffle on
    the orderkey (dedup + basket build in the same aggregate), then the
    a < b pairs are generated MAP-SIDE from each sorted basket array
    (nested transform over slices — fan-out bounded by basket size, ~4
    brands/order, never the 25² brand square and never a second
    fact-table shuffle; the self-join formulation costs an extra
    exchange of the (order, brand) table for identical output).
    Support/confidence are integer micro-units (exact div); lift is one
    float op on exact integers, rounded. Top-20 by count with full
    tie-break → TakeOrdered, no global sort. Brand (25 values) not
    partkey keeps pair cardinality bounded at any scale — the partkey
    variant is the same plan with a min-support HAVING."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    # materialize the basket relation ONCE for its three consumers
    # (total / brand_n / pairs): the static plan otherwise carries three
    # copies of the scan+join+groupBy subtree and only RUNTIME exchange
    # reuse deduplicates them — the checkpoint makes the single fact
    # scan structural (guide §6 scan count; VERDICT r12 item 6), and the
    # checkpointed relation is the already-aggregated per-order basket
    # list, orders-of-magnitude smaller than the fact table
    baskets = baskets.localCheckpoint(eager=True)
    # total rides along as a broadcast one-row join (no driver count, no
    # cache to leak)
    total = baskets.agg(F.count(F.lit(1)).alias("total"))
    brand_n = (
        baskets.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_structs = F.expr(
        "flatten(transform(brands, (x, i) -> "
        "transform(slice(brands, i + 2, size(brands)), "
        "y -> struct(x AS brand_a, y AS brand_b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.brand_a").alias("brand_a"), F.col("pr.brand_b").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("n_co"))
    )
    na = brand_n.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a"))
    nb = brand_n.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .join(F.broadcast(total))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_co").cast("long").alias("n_co"),
            F.expr("(n_co * 1000000) div total").alias("support_e6"),
            F.expr("(n_co * 1000000) div n_a").alias("confidence_e6"),
            F.round(
                F.col("n_co").cast("double") * F.col("total") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("n_co").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@query(
    "q_attribution_touch",
    oracle="""
    WITH first_purchase AS (
      SELECT user_id, ts AS fp_ts, event_id AS fp_eid
      FROM (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ), touches AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS rn_first,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn_last
      FROM events e JOIN first_purchase f ON e.user_id = f.user_id
      WHERE e.ts < f.fp_ts OR (e.ts = f.fp_ts AND e.event_id < f.fp_eid)
    ), per_user AS (
      SELECT f.user_id,
             coalesce(ft.event_type, '(none)') AS first_touch,
             coalesce(lt.event_type, '(none)') AS last_touch
      FROM first_purchase f
      LEFT JOIN touches ft ON ft.user_id = f.user_id AND ft.rn_first = 1
      LEFT JOIN touches lt ON lt.user_id = f.user_id AND lt.rn_last = 1
    )
    SELECT first_touch, last_touch, CAST(count(*) AS BIGINT) AS n_users
    FROM per_user
    GROUP BY first_touch, last_touch
    ORDER BY first_touch, last_touch
    """,
)
def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: for every converting user (first
    'purchase'), the FIRST-touch and LAST-touch event types among events
    strictly before that purchase (lexicographic (ts, event_id) — total
    order, no timestamp-tie ambiguity), aggregated to a conversion
    matrix. Spark side uses ``min_by/max_by`` over the (ts, event_id)
    struct — struct comparison is lexicographic, so both touches come
    out of ONE aggregate over user_id instead of two ranking windows;
    users whose conversion is their first event attribute to '(none)'.
    Two shuffles total (first-purchase agg, touch agg) on the same key."""
    from etl4s_spark.operators.analytics import first_last_touch

    ev = load_table(spark, sf_dir, "events")
    per_user = first_last_touch(
        ev,
        key="user_id",
        ts="ts",
        order_col="event_id",
        label="event_type",
        conversion=F.col("event_type") == "purchase",
    )
    return (
        per_user.groupBy("first_touch", "last_touch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("first_touch", "last_touch")
    )


@query(
    "q_revenue_pareto",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT rev_cents,
             ntile(10) OVER (ORDER BY rev_cents DESC, o_custkey) AS decile
      FROM per_cust
    )
    SELECT CAST(decile AS INT)            AS decile,
           CAST(count(*) AS BIGINT)       AS n_customers,
           CAST(sum(rev_cents) AS BIGINT) AS revenue_cents,
           CAST((sum(rev_cents) * 1000000)
                // (SELECT sum(rev_cents) FROM per_cust) AS BIGINT)
             AS revenue_share_e6
    FROM ranked
    GROUP BY decile
    ORDER BY decile
    """,
)
def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto/Lorenz deciles): customers ranked by
    lifetime revenue, cut into deciles (ntile with custkey tie-break —
    total order), each decile's exact cent revenue and integer-division
    share — the 80/20 read on whether a handful of accounts carry the
    business. Cents are bigint-exact end to end; the global total is a
    scalar computed by the same aggregate (DuckDB's scalar subquery,
    Spark's one-row broadcast join). The single global sort inside ntile
    is the honest price of exact deciles; everything else is one shuffle
    on o_custkey."""
    from etl4s_spark.operators.analytics import lorenz_deciles

    o = load_table(spark, sf_dir, "orders")
    return (
        lorenz_deciles(
            o, key="o_custkey", amount=F.round(F.col("o_totalprice") * 100).cast("long")
        )
        .select(
            "decile",
            F.col("n_keys").alias("n_customers"),
            F.col("amount_total").alias("revenue_cents"),
            F.col("share_e6").alias("revenue_share_e6"),
        )
        .orderBy("decile")
    )


@query(
    "q_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY l_suppkey
    ), ranked AS (
      SELECT c, row_number() OVER (ORDER BY c, l_suppkey) AS i,
             row_number() OVER (ORDER BY c DESC, l_suppkey) AS top_i
      FROM per_key
    ), s AS (
      SELECT count(*) AS n_keys, sum(c) AS n_rows, max(c) AS max_cnt,
             min(c) AS min_cnt,
             sum(i * c) AS weighted,
             sum(c) FILTER (top_i <= 10) AS top10
      FROM ranked
    )
    SELECT CAST(n_keys AS BIGINT)  AS n_keys,
           CAST(n_rows AS BIGINT)  AS n_rows,
           CAST(max_cnt AS BIGINT) AS max_cnt,
           CAST(min_cnt AS BIGINT) AS min_cnt,
           CAST((top10 * 1000000) // n_rows AS BIGINT) AS top10_share_e6,
           CAST(((2 * weighted - (n_keys + 1) * n_rows) * 1000000)
                // (n_keys * n_rows) AS BIGINT)        AS gini_e6
    FROM s
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for l_suppkey — the diagnostic you run
    BEFORE a 100 TB shuffle join: key count, max/min per-key rows,
    heavy-hitter share (top-10 keys' fraction of all rows), and the Gini
    coefficient of the key distribution (0 = uniform, →1 = one hot key).
    Gini uses the exact rank formulation G = (2·Σi·cᵢ − (n+1)·Σc)/(n·Σc)
    over counts sorted ascending with key tie-break — all bigint until
    one integer division to micro-units. The per-key agg is map-side
    combined; the ranking sorts n_keys rows (tiny), not the fact table.
    A gini_e6 above ~300000 or top10 share above ~5% is the signal to
    slot-salt or AQE-skew-split that join."""
    from etl4s_spark.operators.analytics import key_skew_profile

    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_profile(li, key="l_suppkey", top_n=10)


@query(
    "q_agg_median_exact",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p
      FROM lineitem
    )
    SELECT l_returnflag,
           round(quantile_cont(p, 0.25) / 100, 2) AS p25,
           round(quantile_cont(p, 0.5)  / 100, 2) AS median,
           round(quantile_cont(p, 0.75) / 100, 2) AS p75,
           CAST(count(*) AS BIGINT) AS n
    FROM cents
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated quartiles (percentile_cont semantics) of price
    per return flag — the ground-truth sibling of q_agg_approx_percentile.
    Computed on exact cent integers so the interpolation arithmetic
    (a + (b−a)·f at f ∈ {.25,.5,.75}) is exact in binary floating point
    regardless of which algebraically-equivalent formula each engine
    uses — quarter-cent multiples are dyadic rationals well inside
    double precision. Computed as a TWO-PHASE counts histogram
    (operators/analytics.py exact_quartiles_cents) rather than the
    builtin ``percentile`` aggregate, which funnels every raw row into
    one reducer per group (3 flags owned the whole fact table — the
    10× probe's worst ratio); the histogram shape keeps the fact
    shuffle fully parallel and bounds per-group state by the cents
    DOMAIN, not row count. At 100 TB you run THIS for the audit and
    approx_percentile (t-digest, mergeable, one pass) for the
    dashboard — both are in the surface."""
    from etl4s_spark.operators.analytics import exact_quartiles_cents

    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
    )
    qs = exact_quartiles_cents(cents, "l_returnflag", "p")
    return qs.select(
        "l_returnflag",
        F.round(F.col("p25") / 100, 2).alias("p25"),
        F.round(F.col("median") / 100, 2).alias("median"),
        F.round(F.col("p75") / 100, 2).alias("p75"),
        "n",
    ).orderBy("l_returnflag")


@query(
    "q_text_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      FROM documents, unnest(generate_series(1, len(text))) AS t(i)
      WHERE doc_id < 200
    ), freq AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ), tot AS (
      SELECT doc_id, sum(c) AS n, count(*) AS n_distinct FROM freq GROUP BY doc_id
    )
    SELECT f.doc_id,
           CAST(t.n AS BIGINT)          AS n_chars,
           CAST(t.n_distinct AS BIGINT) AS n_distinct_chars,
           round(-sum((CAST(f.c AS DOUBLE) / t.n) * log2(CAST(f.c AS DOUBLE) / t.n)), 4)
             AS entropy_bits
    FROM freq f JOIN tot t ON f.doc_id = t.doc_id
    GROUP BY f.doc_id, t.n, t.n_distinct
    ORDER BY f.doc_id
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheapest
    gibberish/boilerplate detector in a pretraining filter stack:
    natural prose sits ~4.1–4.4 bits/char, base64 blobs and repeated
    headers fall far outside. Characters are exploded via
    ``transform(sequence(1, length), i → substring)`` (codegen'd, no
    UDF), frequencies are one (doc, char) aggregate, and the entropy
    terms −p·log₂p are per-row float ops on identical (c, n) integer
    inputs, summed per doc (≤ ~96 printable terms of magnitude ≤ 0.53 —
    far below 4-dp rounding sensitivity). Two shuffles, both on doc_id."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    chars = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
        ).alias("ch"),
    )
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"))
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars"),
            F.col("n_distinct").cast("long").alias("n_distinct_chars"),
            "entropy_bits",
        )
        .orderBy("doc_id")
    )


@query(
    "q_bpe_pair_counts",
    oracle="""
    WITH pairs AS (
      SELECT substr(text, CAST(i AS INT), 2) AS pair
      FROM documents, unnest(generate_series(1, len(text) - 1)) AS t(i)
      WHERE doc_id < 300 AND len(text) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 30
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first round of BPE tokenizer training: adjacent character-pair
    frequencies across the corpus — the top pair is the first merge rule.
    Pairs are generated executor-side with
    ``transform(sequence(1, length−1), i → substring(text, i, 2))``
    (no UDF, no driver text), counted with one map-side-combined shuffle
    on the pair (≤ alphabet² keys regardless of corpus size — this
    aggregate's state is BOUNDED at 100 TB, which is why distributed BPE
    training is feasible at all), then TakeOrdered top-30 with the pair
    itself as tie-break."""
    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & (F.length("text") >= 2)
    )
    pairs = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


@query(
    "q_ts_cross_corr",
    oracle="""
    WITH span AS (
      SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
    ), daily AS (
      SELECT g.day,
             coalesce(sum(CASE WHEN e.event_type = 'click' THEN 1 END), 0) AS x,
             coalesce(sum(CASE WHEN e.event_type = 'purchase' THEN 1 END), 0) AS y
      FROM grid g LEFT JOIN events e ON date_trunc('day', e.ts) = g.day
      GROUP BY g.day
    ), lagged AS (
      SELECT l.lag, a.x, b.y
      FROM (SELECT unnest(generate_series(-3, 3)) AS lag) l
      JOIN daily a ON true
      JOIN daily b ON b.day = a.day + to_days(CAST(l.lag AS INT))
    ), m AS (
      SELECT lag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM lagged GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag_days,
           CAST(n AS BIGINT) AS n_days,
           round((n * sxy - sx * sy) /
                 (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                  * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS xcorr
    FROM m ORDER BY lag_days
    """,
)
def q_ts_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily 'click' and 'purchase'
    series (lags −3…+3): does click volume LEAD purchases? Daily counts
    are zero-filled onto the calendar grid (sequence+explode, same
    pattern as q_ts_resample), each lag pairs x(t) with y(t+ℓ) via a
    date-shifted self-join of the TINY daily table (30 rows — the fact
    table is touched once), and every correlation comes from exact
    bigint moment sums with one final float formula rounded to 6 dp
    (q_corr_matrix's determinism recipe). At 100 TB the daily
    aggregation is the only big shuffle; the lag machinery runs on
    O(days) rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_series(
        ev,
        x=F.sum(F.when(F.col("event_type") == "click", 1)),
        y=F.sum(F.when(F.col("event_type") == "purchase", 1)),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a = daily.alias("a")
    b = daily.alias("b")
    lagged = (
        F.broadcast(lags)
        .join(a)
        .join(
            b,
            F.col("b.day")
            == F.col("a.day") + F.make_dt_interval(F.col("lag")),
        )
        .select("lag", F.col("a.x").alias("x"), F.col("b.y").alias("y"))
    )
    m = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        # daily sums are data-scale: products and corpus-wide sums run
        # in the d38 lane (functions/exact.py, SCALING_100X class)
        F.sum(d38("x")).alias("sx"),
        F.sum(d38("y")).alias("sy"),
        F.sum(d38("x") * d38("y")).alias("sxy"),
        F.sum(d38("x") * d38("x")).alias("sxx"),
        F.sum(d38("y") * d38("y")).alias("syy"),
    )
    corr = F.round(
        (d38("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            F.sqrt((d38("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
            * F.sqrt((d38("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
        ),
        6,
    )
    return m.select(
        F.col("lag").cast("int").alias("lag_days"),
        F.col("n").cast("long").alias("n_days"),
        corr.alias("xcorr"),
    ).orderBy("lag_days")


@query(
    "q_cluster_assign",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS cvec
      FROM embeddings WHERE vec_id < 4
    ), dists AS (
      SELECT e.vec_id, c.centroid_id,
             CAST(round(list_sum(list_transform(
                    list_zip(e.embedding, c.cvec),
                    t -> (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))
                         * (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))))
                  * 1000000) AS BIGINT) AS d_e6
      FROM embeddings e, cent c
      WHERE e.vec_id < 500
    ), assigned AS (
      SELECT vec_id, centroid_id, d_e6,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d_e6, centroid_id) AS rn
      FROM dists
    )
    SELECT centroid_id,
           CAST(count(*) AS BIGINT)  AS n_assigned,
           CAST(sum(d_e6) AS BIGINT) AS total_d2_e6,
           CAST(min(vec_id) AS BIGINT) AS min_member,
           CAST(max(vec_id) AS BIGINT) AS max_member
    FROM assigned WHERE rn = 1
    GROUP BY centroid_id ORDER BY centroid_id
    """,
)
def q_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) assignment step with a per-cluster audit:
    4 deterministic seed centroids (lowest vec_ids), every vector joins
    its nearest centroid by squared L2. The centroid set is broadcast
    (k rows — at 100 TB this is THE k-means plan: broadcast k·d floats,
    one scan, one k-row aggregate; the update step is the same groupBy
    producing new centroids). Distances fold the 64 dims in index order
    on both engines (sequential fold, identical op order → bit-identical
    doubles), then round to integer micro-units BEFORE the argmin, so
    the (d_e6, centroid_id) comparison — and therefore every assignment
    — is pure integer arithmetic. argmin via min_by on the struct, not a
    ranking window: no per-vector sort, map-side combinable."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = (
        e.filter(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("cvec"),
        )
    )
    vecs = e.filter(F.col("vec_id") < 500).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    d2 = sq_l2(F.col("vec"), F.col("cvec"))
    dists = vecs.join(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        F.round(d2 * 1000000).cast("long").alias("d_e6"),
    )
    assigned = dists.groupBy("vec_id").agg(
        F.min_by(
            F.struct("centroid_id", "d_e6"), F.struct("d_e6", "centroid_id")
        ).alias("best")
    )
    return (
        assigned.select("vec_id", "best.centroid_id", "best.d_e6")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("d_e6").cast("long").alias("total_d2_e6"),
            F.min("vec_id").cast("long").alias("min_member"),
            F.max("vec_id").cast("long").alias("max_member"),
        )
        .orderBy("centroid_id")
    )


@query(
    "q_period_over_period",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT strftime(cur.m, '%Y-%m')            AS month,
           CAST(cur.rev_cents AS BIGINT)       AS revenue_cents,
           round(CAST(cur.rev_cents AS DOUBLE) / pm.rev_cents, 6) AS mom_ratio,
           round(CAST(cur.rev_cents AS DOUBLE) / py.rev_cents, 6) AS yoy_ratio
    FROM monthly cur
    LEFT JOIN monthly pm ON pm.m = cur.m - INTERVAL 1 MONTH
    LEFT JOIN monthly py ON py.m = cur.m - INTERVAL 12 MONTH
    ORDER BY month
    """,
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: monthly revenue with month-over-month
    and year-over-year ratios via CALENDAR self-joins (pm = m − 1 month,
    py = m − 12 months) rather than lag(1)/lag(12) offsets — offset lags
    silently compare the wrong periods when a month is missing; the
    calendar join yields NULL, which is the honest answer. Revenue is
    exact cents; each ratio is one float division of exact integers,
    rounded. The monthly table is O(months) rows, so the two self-joins
    are broadcast-trivial at any fact-table scale."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("MONTH", "o_orderdate").alias("m")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents")
    )
    cur = monthly.alias("cur")
    pm = monthly.select(
        (F.col("m") + F.expr("INTERVAL 1 MONTH")).alias("m"),
        F.col("rev_cents").alias("pm_rev"),
    ).alias("pm")
    py = monthly.select(
        (F.col("m") + F.expr("INTERVAL 12 MONTH")).alias("m"),
        F.col("rev_cents").alias("py_rev"),
    ).alias("py")
    return (
        cur.join(F.broadcast(pm), "m", "left")
        .join(F.broadcast(py), "m", "left")
        .select(
            F.date_format("m", "yyyy-MM").alias("month"),
            F.col("rev_cents").cast("long").alias("revenue_cents"),
            F.round(F.col("rev_cents").cast("double") / F.col("pm_rev"), 6).alias(
                "mom_ratio"
            ),
            F.round(F.col("rev_cents").cast("double") / F.col("py_rev"), 6).alias(
                "yoy_ratio"
            ),
        )
        .orderBy("month")
    )


@query(
    "q_customer_ltv_cohort",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, year(min(o_orderdate)) AS cohort_year
      FROM orders GROUP BY o_custkey
    )
    SELECT f.cohort_year,
           CAST(year(o.o_orderdate) - f.cohort_year AS INT) AS age_years,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT)      AS n_active,
           CAST(count(*) AS BIGINT)                         AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY f.cohort_year, age_years
    ORDER BY cohort_year, age_years
    """,
)
def q_customer_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value cohort matrix: customers bucketed by
    first-order year, revenue tracked by years-since-acquisition — the
    (cohort × age) triangle every subscription/commerce business reads
    to see whether newer cohorts monetize faster. The cohort lookup is a
    per-customer MIN (one shuffle) joined back to the fact table on the
    same key — at 100 TB this join co-locates if orders are bucketed by
    custkey, and the cohort side is customers-sized, not orders-sized.
    Exact cents; cohort_year from Spark's year() == DuckDB's year()."""
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.year(F.min("o_orderdate")).alias("cohort_year")
    )
    return (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.year("o_orderdate") - F.col("cohort_year"))
            .cast("int")
            .alias("age_years"),
        )
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_active"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("cohort_year", "age_years")
    )


@query(
    "q_incremental_rollup_merge",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST((2 * CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                 + 100) // 200 AS BIGINT) / 10000.0 AS total_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value,
           CAST((2 * CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
                 + count(*) * 100) // (2 * count(*) * 100) AS BIGINT) / 10000.0
             AS avg_value
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation via PARTIAL-STATE MERGE — the pattern that
    turns a 100 TB daily rollup into an O(new data) job: each partition
    epoch (here: first half-month vs rest) aggregates independently to
    mergeable state (count, decimal sum, min, max), states union and
    re-aggregate (counts add, sums add, min/max fold), and derived
    metrics (avg) are computed ONLY from merged state. The oracle is the
    one-shot aggregation over everything — proving merge(partials) ==
    full recompute, the algebraic property that makes the incremental
    schedule safe. Decimal-carried sums make the merge order immaterial
    to the rounded output."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    state_a = partial(ev.filter(F.col("ts") < cut))
    state_b = partial(ev.filter(F.col("ts") >= cut))
    merged = (
        state_a.unionByName(state_b)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    # derived 4-dp values via exact integer half-up division of the
    # 6-dp-exact decimal sum (round(double, 4) diverges across engines
    # on 4-dp half boundaries — see q_rollup_hierarchy); raw-double
    # min/max round directly (random doubles don't land on boundaries)
    return merged.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        (
            F.expr("(2 * CAST(s * 1000000 AS BIGINT) + 100) div 200") / F.lit(10000.0)
        ).alias("total_value"),
        F.round("mn", 4).alias("min_value"),
        F.round("mx", 4).alias("max_value"),
        (
            F.expr("(2 * CAST(s * 1000000 AS BIGINT) + n * 100) div (2 * n * 100)")
            / F.lit(10000.0)
        ).alias("avg_value"),
    ).orderBy("event_type")


@query(
    "q_interevent_latency",
    oracle="""
    WITH gaps AS (
      SELECT event_type AS g,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type, user_id
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events
    ), clean AS (SELECT g, gap_us AS p FROM gaps WHERE gap_us IS NOT NULL)
    SELECT g AS event_type,
           CAST(count(*) AS BIGINT)                   AS n_gaps,
           round(quantile_cont(p, 0.25) / 1000000, 2) AS p25_s,
           round(quantile_cont(p, 0.5)  / 1000000, 2) AS median_s,
           round(quantile_cont(p, 0.75) / 1000000, 2) AS p75_s,
           round(max(p) / 1000000.0, 2)               AS max_s
    FROM clean GROUP BY g ORDER BY g
    """,
)
def q_interevent_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event latency distribution: per event type, the quartiles
    of the gap between a user's consecutive events — the
    engagement-cadence / SLA-latency query. Gaps are exact integer
    SECONDS (epoch subtraction — no float time arithmetic), quartiles
    run through the two-phase counts histogram
    (operators/analytics.exact_quartiles_cents: the per-group funnel
    never sees raw rows, only the bounded gap domain). One shuffle on
    (type, user) for the lag window, one on type for the histogram."""
    from pyspark.sql.window import Window as W

    from etl4s_spark.operators.analytics import exact_quartiles_cents

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        F.col("event_type").alias("g"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("p"),
    ).filter(F.col("p").isNotNull())
    qs = exact_quartiles_cents(gaps, "g", "p")
    mx = gaps.groupBy("g").agg(F.max("p").alias("mx"))
    return (
        qs.join(mx, "g")
        .select(
            F.col("g").alias("event_type"),
            F.col("n").cast("long").alias("n_gaps"),
            F.round(F.col("p25") / 1000000, 2).alias("p25_s"),
            F.round(F.col("median") / 1000000, 2).alias("median_s"),
            F.round(F.col("p75") / 1000000, 2).alias("p75_s"),
            F.round(F.col("mx") / 1000000.0, 2).alias("max_s"),
        )
        .orderBy("event_type")
    )


@query(
    "q_concurrency_sweepline",
    oracle="""
    WITH intervals AS (
      SELECT o_orderdate AS start_d,
             CAST(o_orderdate + ((o_orderkey % 30) + 1) * INTERVAL 1 DAY AS DATE)
               AS end_d
      FROM orders
    ), deltas AS (
      SELECT start_d AS d, 1 AS delta FROM intervals
      UNION ALL
      SELECT end_d AS d, -1 AS delta FROM intervals
    ), daily AS (
      SELECT d, sum(delta) AS net FROM deltas GROUP BY d
    ), running AS (
      SELECT d, sum(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS open_orders
      FROM daily
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(open_orders AS BIGINT) AS open_orders
    FROM running
    ORDER BY day
    LIMIT 400
    """,
)
def q_concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting by SWEEP LINE: how many orders are
    OPEN on each day (open = [orderdate, orderdate + synthetic
    processing days)). The naive formulation joins every day against
    every overlapping interval — O(days × intervals); the sweep line
    turns each interval into a +1/−1 boundary event, aggregates deltas
    per day (map-side combined), and takes a running sum over the DAY
    domain — interval count never appears in any shuffle's row count.
    The pattern behind concurrency dashboards, license-seat peaks, and
    hotel-occupancy queries. Exact integers throughout."""
    od = load_table(spark, sf_dir, "orders")
    start = od.select(F.col("o_orderdate").alias("d"), F.lit(1).alias("delta"))
    end = od.select(
        F.date_add(
            "o_orderdate", ((F.col("o_orderkey") % 30) + 1).cast("int")
        ).alias("d"),
        F.lit(-1).alias("delta"),
    )
    daily = start.union(end).groupBy("d").agg(F.sum("delta").alias("net"))
    from pyspark.sql.window import Window as W

    running = daily.select(
        "d",
        F.sum("net")
        .over(
            W.partitionBy(one_part("d"))
            .orderBy("d")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        .alias("open_orders"),
    )
    return (
        running.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("open_orders").cast("long").alias("open_orders"),
        )
        .orderBy("day")
        .limit(400)
    )


@query(
    "q_funnel_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'view')     AS first_view,
             min(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS first_buy
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT (first_buy - first_view) AS p
      FROM firsts
      WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
        AND first_buy >= first_view
    )
    SELECT CAST(count(*) AS BIGINT)                          AS n_converted,
           round(quantile_cont(p, 0.25) / 86400000000, 3)    AS p25_days,
           round(quantile_cont(p, 0.5)  / 86400000000, 3)    AS median_days,
           round(quantile_cont(p, 0.75) / 86400000000, 3)    AS p75_days
    FROM conv
    """,
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    'purchase' follows their first 'view', the quartiles of the delay —
    the funnel-velocity metric behind "median user converts in N days".
    One shuffle on user_id computes both firsts as conditional MIN
    aggregates (map-side combined — no window, no self-join); delays
    are exact integer microseconds and the quartiles run through the
    counts histogram (single group — its state is bounded by the delay
    domain, not user count)."""
    from etl4s_spark.operators.analytics import exact_quartiles_cents

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.unix_micros("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))).alias("fb"),
    )
    conv = firsts.filter(
        F.col("fv").isNotNull() & F.col("fb").isNotNull() & (F.col("fb") >= F.col("fv"))
    ).select(F.lit(1).alias("g"), (F.col("fb") - F.col("fv")).alias("p"))
    qs = exact_quartiles_cents(conv, "g", "p")
    day_us = 86400000000
    return qs.select(
        F.col("n").cast("long").alias("n_converted"),
        F.round(F.col("p25") / day_us, 3).alias("p25_days"),
        F.round(F.col("median") / day_us, 3).alias("median_days"),
        F.round(F.col("p75") / day_us, 3).alias("p75_days"),
    )


@query(
    "q_session_duration_quartiles",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    ), durs AS (
      SELECT epoch_us(max(ts)) - epoch_us(min(ts)) AS p,
             count(*) AS n_events
      FROM sess GROUP BY user_id, sess_id
    )
    SELECT CAST(count(*) AS BIGINT)                     AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(quantile_cont(p, 0.25) / 60000000, 3)  AS p25_min,
           round(quantile_cont(p, 0.5)  / 60000000, 3)  AS median_min,
           round(quantile_cont(p, 0.75) / 60000000, 3)  AS p75_min
    FROM durs
    """,
)
def q_session_duration_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration distribution with bounce count: sessions are
    30-minute-gap groups (the same gaps-and-islands construction the
    proven session queries use, compared at exact MICROSECOND precision
    — the q_session_paths lesson), duration = last−first event, and the
    quartiles again ride the counts histogram. Everything before the
    final 1-group histogram partitions on user_id: the lag window, the
    island cumsum, and the per-session agg share ONE shuffle."""
    from pyspark.sql.window import Window as W

    from etl4s_spark.operators.analytics import exact_quartiles_cents

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "ts",
        F.when(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1800 * 1000000)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
        F.col("event_id"),
    )
    sess = ordered.withColumn(
        "sess_id",
        F.sum("is_start").over(
            W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    durs = sess.groupBy("user_id", "sess_id").agg(
        (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("p"),
        F.count(F.lit(1)).alias("n_events"),
    )
    qs = exact_quartiles_cents(durs.select(F.lit(1).alias("g"), "p"), "g", "p")
    bounces = durs.agg(
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast("long").alias("nb")
    )
    min_us = 60000000
    return (
        qs.join(F.broadcast(bounces))
        .select(
            F.col("n").cast("long").alias("n_sessions"),
            F.col("nb").alias("n_bounces"),
            F.round(F.col("p25") / min_us, 3).alias("p25_min"),
            F.round(F.col("median") / min_us, 3).alias("median_min"),
            F.round(F.col("p75") / min_us, 3).alias("p75_min"),
        )
    )


@query(
    "q_window_change_capture",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events WHERE user_id < 50
    ), changes AS (
      SELECT user_id, event_type,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END AS is_change
      FROM ordered
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)        AS n_events,
           CAST(sum(is_change) AS BIGINT)  AS n_runs,
           round(sum(is_change) / CAST(count(*) AS DOUBLE), 4) AS compression
    FROM changes
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_window_change_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change capture / run-length compression of a state stream: keep
    an event only when its state DIFFERS from the previous one — the
    snapshot-stream-to-change-log conversion (SCD-light, status-history
    compaction). The per-user compression ratio (runs ÷ events) is the
    payoff metric: how much smaller the change log is than the raw
    feed. One lag window on the (user, time) order — the same single
    shuffle every sessionization here uses; complements
    q_event_transitions (which counts from→to PAIRS, not runs)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.select(
        "user_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("is_change"),
    )
    return (
        changes.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("is_change").cast("long").alias("n_runs"),
            F.round(
                F.sum("is_change") / F.count(F.lit(1)).cast("double"), 4
            ).alias("compression"),
        )
        .orderBy("user_id")
    )


@query(
    "q_window_rank_movers",
    oracle="""
    WITH monthly AS (
      SELECT o_custkey,
             CAST(date_trunc('quarter', o_orderdate) AS DATE) AS mon,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1, 2
    ), bounds AS (
      SELECT max(mon) AS m1 FROM monthly
    ), two AS (
      SELECT m.o_custkey, m.mon, m.rev,
             rank() OVER (PARTITION BY m.mon ORDER BY m.rev DESC, m.o_custkey) AS rnk
      FROM monthly m, bounds b
      WHERE m.mon = b.m1 OR m.mon = b.m1 - INTERVAL 3 MONTH
    ), piv AS (
      SELECT o_custkey,
             max(CASE WHEN mon = (SELECT m1 FROM bounds) THEN rnk END) AS rank_now,
             max(CASE WHEN mon <> (SELECT m1 FROM bounds) THEN rnk END) AS rank_prev
      FROM two GROUP BY o_custkey
    )
    SELECT CAST(o_custkey AS BIGINT) AS custkey,
           CAST(rank_prev AS BIGINT) AS rank_prev,
           CAST(rank_now AS BIGINT)  AS rank_now,
           CAST(rank_prev - rank_now AS BIGINT) AS places_gained
    FROM piv
    WHERE rank_now IS NOT NULL AND rank_prev IS NOT NULL
    ORDER BY places_gained DESC, custkey
    LIMIT 20
    """,
)
def q_window_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movers-and-shakers: customers whose REVENUE RANK climbed most
    between the last two months — the leaderboard-delta readout that
    absolute-value deltas (q_period_over_period) miss (a small account
    tripling matters more in rank space than a whale wobbling 2%).
    QUARTERLY periods, not monthly: at driver SFs no customer ordered in
    both of the last two calendar months, so the monthly variant
    hash-matched on an EMPTY result every round (the q_graph_kcore
    vacuity class) — quarters give a non-empty repeat-customer
    intersection at every SF. Ranks are total-ordered (rev desc, key);
    the two-period slice comes from a broadcast one-row max-period
    bound; one shuffle for the rollup, one rank window per period
    partition, TakeOrdered(20)."""
    od = load_table(spark, sf_dir, "orders")
    monthly = od.groupBy(
        "o_custkey", F.date_trunc("quarter", "o_orderdate").cast("date").alias("mon")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    bounds = monthly.agg(F.max("mon").alias("m1"))
    two = (
        monthly.join(F.broadcast(bounds))
        .filter(
            (F.col("mon") == F.col("m1"))
            | (F.col("mon") == F.add_months(F.col("m1"), -3))
        )
        .withColumn(
            "rnk",
            F.rank().over(
                Window.partitionBy("mon").orderBy(F.desc("rev"), "o_custkey")
            ),
        )
    )
    piv = two.groupBy("o_custkey").agg(
        F.max(F.when(F.col("mon") == F.col("m1"), F.col("rnk"))).alias("rank_now"),
        F.max(F.when(F.col("mon") != F.col("m1"), F.col("rnk"))).alias("rank_prev"),
    )
    return (
        piv.filter(F.col("rank_now").isNotNull() & F.col("rank_prev").isNotNull())
        .select(
            F.col("o_custkey").cast("long").alias("custkey"),
            F.col("rank_prev").cast("long"),
            F.col("rank_now").cast("long"),
            (F.col("rank_prev") - F.col("rank_now")).cast("long").alias("places_gained"),
        )
        .orderBy(F.desc("places_gained"), "custkey")
        .limit(20)
    )


@query(
    "q_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT p_partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS r
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p_partkey
    ), ranked AS (
      SELECT p_partkey, r,
             sum(r) OVER (ORDER BY r DESC, p_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum_r,
             sum(r) OVER ()                          AS tot
      FROM rev
    ), classed AS (
      SELECT CASE WHEN 10 * cum_r <= 8 * tot  THEN 'A'
                  WHEN 20 * cum_r <= 19 * tot THEN 'B'
                  ELSE 'C' END AS abc_class,
             r
      FROM ranked
    )
    SELECT abc_class,
           CAST(count(*) AS BIGINT)  AS n_parts,
           CAST(sum(r) AS BIGINT)    AS revenue_cents
    FROM classed
    GROUP BY abc_class
    ORDER BY abc_class
    """,
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — the textbook Pareto partition of
    the catalog: class A = the head covering the first 80% of revenue,
    B = the next 15%, C = the tail. Class edges are integer
    cross-multiplications on exact cent cumulative sums (10·cum ≤
    8·total), so membership cannot straddle engines. The cumulative sum
    is the TWO-PASS distributed cumsum (operators/ranking.py — VERDICT
    r5 #1: the cumulative window here used to sort every part through
    ONE partition; so did the sum-over-() total): eighth-octave log
    revenue buckets → broadcast prefix offsets → per-bucket running sum;
    the total is a one-row broadcast join."""
    from etl4s_spark.operators.ranking import global_cumsum, log_bucket

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("r"))
        .localCheckpoint(eager=True)  # one row/part; cumsum + total reuse it
    )
    tot = rev.agg(F.sum("r").alias("tot"))
    ranked = global_cumsum(
        rev,
        F.col("r"),
        log_bucket(F.col("r")),
        ["p_partkey"],
        sum_col="r",
        ascending=False,
        cum_name="cum_r",
    ).join(F.broadcast(tot))
    classed = ranked.select(
        F.when(10 * F.col("cum_r") <= 8 * F.col("tot"), "A")
        .when(20 * F.col("cum_r") <= 19 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "r",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("r").cast("long").alias("revenue_cents"),
        )
        .orderBy("abc_class")
    )


@query(
    "q_order_aging",
    oracle="""
    WITH ref AS (SELECT max(o_orderdate) AS refd FROM orders),
    open_orders AS (
      SELECT datediff('day', o_orderdate, refd) AS age,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders, ref
      WHERE o_orderstatus = 'O'
    ), b AS (
      SELECT CASE WHEN age <= 30 THEN 0 WHEN age <= 90 THEN 1
                  WHEN age <= 180 THEN 2 WHEN age <= 365 THEN 3
                  ELSE 4 END AS bucket,
             cents
      FROM open_orders
    ), agg AS (
      SELECT bucket, count(*) AS n, sum(cents) AS cents FROM b GROUP BY bucket
    ), tot AS (SELECT sum(cents) AS t FROM agg)
    SELECT CAST(bucket AS INT) AS bucket,
           CASE bucket WHEN 0 THEN '0-30' WHEN 1 THEN '31-90'
                       WHEN 2 THEN '91-180' WHEN 3 THEN '181-365'
                       ELSE '365+' END AS age_band,
           CAST(n AS BIGINT) AS n_orders,
           CAST(cents AS BIGINT) AS open_value_cents,
           round(CAST(cents AS DOUBLE) / CAST(t AS DOUBLE), 6) AS value_share
    FROM agg, tot ORDER BY bucket
    """,
)
def q_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report (AR-aging shape): outstanding 'O'-status
    orders bucketed by age against the warehouse watermark
    (max(o_orderdate) — a data-derived reference, so the query is
    reproducible on a frozen snapshot), with count, open value, and
    value share per band. One scan with the status filter pushed to
    parquet, the one-row watermark broadcast, a 5-bucket map-side
    aggregate, and exact cent arithmetic until the final share
    division. The classic finance-ops rollup — at 100 TB it is a
    metadata-cheap scan-and-count, and the bands are stable output
    whatever the scale."""
    o = load_table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("refd"))
    open_orders = (
        o.filter(F.col("o_orderstatus") == "O")
        .join(F.broadcast(ref))
        .select(
            F.datediff("refd", "o_orderdate").alias("age"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age") <= 30, 0)
        .when(F.col("age") <= 90, 1)
        .when(F.col("age") <= 180, 2)
        .when(F.col("age") <= 365, 3)
        .otherwise(4)
    )
    agg = (
        open_orders.select(bucket.alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    tot = agg.agg(F.sum("cents").alias("t"))
    band = (
        F.when(F.col("bucket") == 0, "0-30")
        .when(F.col("bucket") == 1, "31-90")
        .when(F.col("bucket") == 2, "91-180")
        .when(F.col("bucket") == 3, "181-365")
        .otherwise("365+")
    )
    return (
        agg.join(F.broadcast(tot))
        .select(
            F.col("bucket").cast("int"),
            band.alias("age_band"),
            F.col("n").cast("long").alias("n_orders"),
            F.col("cents").cast("long").alias("open_value_cents"),
            F.round(
                F.col("cents").cast("double") / F.col("t").cast("double"), 6
            ).alias("value_share"),
        )
        .orderBy("bucket")
    )


@query(
    "q_user_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), span AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM ud
    ), dau AS (
      SELECT day, count(*) AS dau FROM ud GROUP BY day
    ), contrib AS (
      SELECT user_id, day + to_days(CAST(o.off AS INT)) AS tday
      FROM ud, (SELECT unnest(generate_series(0, 6)) AS off) o
    ), wau AS (
      SELECT tday AS day, count(DISTINCT user_id) AS wau7
      FROM contrib GROUP BY tday
    )
    SELECT CAST(dau.day AS DATE) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau7 AS BIGINT) AS wau7,
           round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau7 AS DOUBLE), 6)
             AS stickiness
    FROM dau JOIN wau ON wau.day = dau.day, span
    WHERE dau.day >= span.d0 + to_days(6)
    ORDER BY day
    """,
)
def q_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily DAU / trailing-7-day-WAU stickiness — the engagement ratio
    product analytics tracks (the DAU/MAU idea, at the window this
    30-day corpus supports). Rolling COUNT DISTINCT has no window-frame
    form in either engine, so the trailing-7-day actives come from the
    contribution-explode: each (user, day) active pair contributes to
    the 7 target days it stays inside the window (a bounded ×7 fan-out
    of the user-DAY table — which one distinct-shuffle of the fact
    table produced first; the raw events are never multiplied). Days
    before the first full window are dropped. At 100 TB this is the
    standard formulation: fan-out scales with active-pairs × window,
    and both the dedup and the per-day distinct are map-side
    combinable."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.date_trunc("DAY", "ts").alias("day")).distinct()
    span = ud.agg(F.min("day").alias("d0"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    offsets = spark.range(0, 7).select(F.col("id").cast("int").alias("off"))
    contrib = ud.join(F.broadcast(offsets)).select(
        "user_id",
        (F.col("day") + F.make_dt_interval(F.col("off"))).alias("tday"),
    )
    wau = contrib.groupBy(F.col("tday").alias("day")).agg(
        F.count_distinct("user_id").alias("wau7")
    )
    return (
        dau.join(wau, "day")
        .join(F.broadcast(span))
        .filter(F.col("day") >= F.col("d0") + F.make_dt_interval(F.lit(6)))
        .select(
            F.col("day").cast("date").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau7").cast("long").alias("wau7"),
            F.round(
                F.col("dau").cast("double") / F.col("wau7").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "q_returns_wilson",
    oracle="""
    WITH br AS (
      SELECT p.p_brand AS brand,
             count(*) AS n,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ), s AS (
      SELECT brand, n, k,
             CAST(k AS DOUBLE) / n AS ph
      FROM br
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_lines,
           CAST(k AS BIGINT) AS n_returned,
           round(ph, 6) AS return_rate,
           round((ph + 3.8416 / (2 * n)
                  - 1.96 * sqrt(ph * (1 - ph) / n + 3.8416 / (4.0 * n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lower
    FROM s
    ORDER BY wilson_lower DESC, brand
    LIMIT 15
    """,
)
def q_returns_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand return-rate ranking by the Wilson-score LOWER bound (95%)
    — the ranking statistic that stops a 40-line brand with a lucky
    streak from outranking a 40k-line brand (plain rate ranking is the
    classic small-sample trap). Counts are exact bigints off one
    broadcast join (25-brand dim) + map-side-combined aggregate; the
    Wilson formula runs once per brand on identical doubles (z = 1.96,
    z² = 3.8416 as exact decimal literals on both engines), 6 dp, with
    a brand tie-break. The fact table is scanned once; output is
    dim-bounded."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    br = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("k"),
        )
    )
    ph = F.col("k").cast("double") / F.col("n")
    wilson = (
        ph
        + 3.8416 / (2 * F.col("n"))
        - 1.96
        * F.sqrt(ph * (1 - ph) / F.col("n") + 3.8416 / (4.0 * F.col("n") * F.col("n")))
    ) / (1 + 3.8416 / F.col("n"))
    return (
        br.select(
            "brand",
            F.col("n").cast("long").alias("n_lines"),
            F.col("k").cast("long").alias("n_returned"),
            F.round(ph, 6).alias("return_rate"),
            F.round(wilson, 6).alias("wilson_lower"),
        )
        .orderBy(F.col("wilson_lower").desc(), "brand")
        .limit(15)
    )


@query(
    "q_users_new_returning",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ), first_w AS (
      SELECT user_id, min(week) AS fw FROM uw GROUP BY user_id
    )
    SELECT CAST(uw.week AS DATE) AS week,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(sum(CASE WHEN uw.week = f.fw THEN 1 ELSE 0 END) AS BIGINT)
             AS new_users,
           CAST(sum(CASE WHEN uw.week > f.fw THEN 1 ELSE 0 END) AS BIGINT)
             AS returning_users,
           round(CAST(sum(CASE WHEN uw.week = f.fw THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS new_share
    FROM uw JOIN first_w f USING (user_id)
    GROUP BY uw.week
    ORDER BY week
    """,
)
def q_users_new_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new-vs-returning active users — the acquisition/retention
    split every growth dashboard opens with (q_cohort_retention tracks
    cohorts forward; this is the per-period composition view). One
    distinct shuffle to (user, week), a per-user min to find the first
    week, a self-join on user_id (both sides already collapsed to
    user-weeks, so the join is active-pairs-sized, not event-sized),
    then exact count arithmetic with one share division. Weeks sort as
    dates; ISO week truncation agrees between the engines under the
    UTC session timezone."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select("user_id", F.date_trunc("WEEK", "ts").alias("week")).distinct()
    first_w = uw.groupBy("user_id").agg(F.min("week").alias("fw"))
    return (
        uw.join(first_w, "user_id")
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum(F.when(F.col("week") == F.col("fw"), 1).otherwise(0)).alias(
                "new_users"
            ),
            F.sum(F.when(F.col("week") > F.col("fw"), 1).otherwise(0)).alias(
                "returning_users"
            ),
        )
        .select(
            F.col("week").cast("date").alias("week"),
            F.col("active_users").cast("long"),
            F.col("new_users").cast("long"),
            F.col("returning_users").cast("long"),
            F.round(
                F.col("new_users").cast("double")
                / F.col("active_users").cast("double"),
                6,
            ).alias("new_share"),
        )
        .orderBy("week")
    )


@query(
    "q_fifo_allocation",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_custkey < 200
    ), budget AS (
      SELECT o_custkey,
             sum(cents) * 4 // 5 AS budget_cents
      FROM o GROUP BY o_custkey
    ), cum AS (
      SELECT o.o_custkey, o.o_orderkey, o.cents, b.budget_cents,
             sum(o.cents) OVER (PARTITION BY o.o_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey
                                ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM o JOIN budget b USING (o_custkey)
    ), alloc AS (
      SELECT o_custkey, o_orderkey, cents,
             least(cents,
                   greatest(CAST(0 AS BIGINT),
                            budget_cents - (cum_cents - cents))) AS paid_cents
      FROM cum
    )
    SELECT CASE WHEN paid_cents = cents THEN 'full'
                WHEN paid_cents = 0 THEN 'unpaid'
                ELSE 'partial' END AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS billed_cents,
           CAST(sum(paid_cents) AS BIGINT) AS paid_cents
    FROM alloc
    GROUP BY 1 ORDER BY status
    """,
)
def q_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO payment allocation: each customer's budget (80% of their
    billed total, exact integer 4/5) is applied to their orders
    oldest-first; every order comes out full / partial / unpaid. The
    waterfall LOOKS like a sequential recurrence, but FIFO allocation
    has a closed form over the running total — paid_i = min(billed_i,
    max(0, budget − cum_{i−1})) — so it runs as ONE window pass
    (partitioned by customer, totally ordered by date+key), exact cents
    end to end: the receivables-reconciliation pattern that at 100 TB
    is a single shuffle on the customer key, with no recursion and no
    per-customer loop. Exactly one order per customer can be partial —
    the defining FIFO invariant, pinned in pytest."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    budget = o.groupBy("o_custkey").agg(
        F.expr("(sum(cents) * 4) div 5").alias("budget_cents")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = o.join(budget, "o_custkey").withColumn(
        "cum_cents", F.sum("cents").over(w)
    )
    paid = F.least(
        F.col("cents"),
        F.greatest(
            F.lit(0).cast("long"),
            F.col("budget_cents") - (F.col("cum_cents") - F.col("cents")),
        ),
    )
    alloc = cum.select("cents", paid.alias("paid_cents"))
    status = (
        F.when(F.col("paid_cents") == F.col("cents"), "full")
        .when(F.col("paid_cents") == 0, "unpaid")
        .otherwise("partial")
    )
    return (
        alloc.groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("billed_cents"),
            F.sum("paid_cents").cast("long").alias("paid_cents"),
        )
        .orderBy("status")
    )


@query(
    "q_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 1000) AS BIGINT)
                      ELSE -CAST(round(value * 1000) AS BIGINT) END) AS delta
      FROM events
      WHERE user_id < 100 AND event_type IN ('purchase', 'error')
      GROUP BY user_id, date_trunc('day', ts)
    ), eq AS (
      SELECT user_id, day,
             sum(delta) OVER (PARTITION BY user_id ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS equity
      FROM daily
    ), dd AS (
      SELECT user_id,
             max(equity) OVER (PARTITION BY user_id ORDER BY day
                               ROWS UNBOUNDED PRECEDING) - equity AS drawdown
      FROM eq
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(drawdown) AS BIGINT) AS max_drawdown_milli
    FROM dd
    GROUP BY user_id
    HAVING max(drawdown) > 0
    ORDER BY max_drawdown_milli DESC, user_id
    LIMIT 20
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's running net-value equity curve
    (purchases credit, errors debit) — the risk statistic that, unlike
    the clamped-balance recurrence (q_sql_recursive_drawdown), IS
    window-expressible: drawdown_t = running_max(equity) − equity_t,
    then one max per user. Two stacked prefix windows share a single
    shuffle+sort on (user, day); deltas are exact milli-units
    aggregated before the windows, and the top-20 worst curves come
    out via TakeOrdered with a user tie-break."""
    ev = load_table(spark, sf_dir, "events")
    delta = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 1000).cast("long"),
    ).otherwise(-F.round(F.col("value") * 1000).cast("long"))
    daily = (
        ev.filter(
            (F.col("user_id") < 100)
            & F.col("event_type").isin("purchase", "error")
        )
        .groupBy("user_id", F.date_trunc("DAY", "ts").alias("day"))
        .agg(F.sum(delta).alias("delta"))
    )
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    eq = daily.select(
        "user_id", "day", F.sum("delta").over(wcum).alias("equity")
    )
    dd = eq.select(
        "user_id", (F.max("equity").over(wcum) - F.col("equity")).alias("drawdown")
    )
    return (
        dd.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.max("drawdown").cast("long").alias("max_drawdown_milli"),
        )
        .filter(F.col("max_drawdown_milli") > 0)
        .orderBy(F.col("max_drawdown_milli").desc(), "user_id")
        .limit(20)
    )


@query(
    "q_ab_cuped",
    oracle="""
    WITH span AS (
      SELECT date_trunc('day', min(ts)) AS d0 FROM events
    ), u AS (
      SELECT user_id,
             CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             sum(CASE WHEN event_type = 'purchase'
                      AND ts < d0 + to_days(15)
                      THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END) AS pre,
             sum(CASE WHEN event_type = 'purchase'
                      AND ts >= d0 + to_days(15)
                      THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END) AS post
      FROM events, span
      GROUP BY user_id
    ), g AS (
      SELECT count(*) AS n, sum(pre) AS sx, sum(post) AS sy,
             sum(pre * post) AS sxy, sum(pre * pre) AS sxx
      FROM u
    ), th AS (
      SELECT CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS theta,
             CAST(sx AS DOUBLE) / n AS mean_pre_all
      FROM g
    )
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(u.pre) AS DOUBLE) / count(*) / 1000, 6) AS mean_pre,
           round(CAST(sum(u.post) AS DOUBLE) / count(*) / 1000, 6) AS mean_post,
           round((CAST(sum(u.post) AS DOUBLE) / count(*)
                  - th.theta * (CAST(sum(u.pre) AS DOUBLE) / count(*)
                                - th.mean_pre_all)) / 1000, 6) AS mean_post_cuped
    FROM u, th
    GROUP BY arm, th.theta, th.mean_pre_all
    ORDER BY arm
    """,
)
def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (Deng et al.,
    WSDM'13): users hash-split 50/50 (the content-addressed md5 recipe
    — assignment is reproducible on both engines), pre-period purchase
    value is the covariate, and each arm's post-period mean is adjusted
    by θ·(pre_arm − pre_all) with θ = cov(pre,post)/var(pre) from EXACT
    integer moment sums over milli-units. The whole experiment readout
    is two shuffles (per-user rollup, per-arm rollup) plus a broadcast
    1-row θ — the shape that reads a 100 TB event log once. Float math
    happens only in the final per-arm expressions, identical on both
    engines, 6 dp."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(F.date_trunc("DAY", F.min("ts")).alias("d0"))
    arm = F.when(
        F.substring(
            F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 1
        )
        < "8",
        "A",
    ).otherwise("B")
    milli = F.round(F.col("value") * 1000).cast("long")
    cutoff = F.col("d0") + F.make_dt_interval(F.lit(15))
    u = (
        ev.join(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.first(arm).alias("arm"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") < cutoff),
                    milli,
                ).otherwise(0)
            ).alias("pre"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= cutoff),
                    milli,
                ).otherwise(0)
            ).alias("post"),
        )
    )
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        # per-user sums are data-scale: d38 lane (functions/exact.py)
        F.sum(d38("pre")).alias("sx"),
        F.sum(d38("post")).alias("sy"),
        F.sum(d38("pre") * d38("post")).alias("sxy"),
        F.sum(d38("pre") * d38("pre")).alias("sxx"),
    ).select(
        (
            (d38("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (d38("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("theta"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_pre_all"),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("pre").alias("spre"),
        F.sum("post").alias("spost"),
    )
    mean_pre = F.col("spre").cast("double") / F.col("n_users")
    mean_post = F.col("spost").cast("double") / F.col("n_users")
    return (
        arms.join(F.broadcast(g))
        .select(
            "arm",
            F.col("n_users").cast("long"),
            F.round(mean_pre / 1000, 6).alias("mean_pre"),
            F.round(mean_post / 1000, 6).alias("mean_post"),
            F.round(
                (mean_post - F.col("theta") * (mean_pre - F.col("mean_pre_all")))
                / 1000,
                6,
            ).alias("mean_post_cuped"),
        )
        .orderBy("arm")
    )


@query(
    "q_forecast_backtest",
    oracle="""
    WITH span AS (
      SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
    ), daily AS (
      SELECT g.day, coalesce(count(e.event_id), 0) AS x
      FROM grid g LEFT JOIN events e ON date_trunc('day', e.ts) = g.day
      GROUP BY g.day
    ), lagged AS (
      SELECT x,
             lag(x, 1) OVER (ORDER BY day) AS naive,
             lag(x, 7) OVER (ORDER BY day) AS snaive
      FROM daily
    ), errs AS (
      SELECT model, x, f
      FROM (
        SELECT 'naive' AS model, x, naive AS f FROM lagged
        UNION ALL
        SELECT 'seasonal_naive', x, snaive FROM lagged
      ) WHERE f IS NOT NULL
    )
    SELECT model,
           CAST(count(*) AS BIGINT) AS n_evals,
           round(CAST(sum(abs(x - f)) AS DOUBLE) / count(*), 6) AS mae,
           round(CAST(sum(CAST(round(2000000000.0 * abs(x - f) / (x + f))
                               AS BIGINT)) AS DOUBLE)
                 / count(*) / 1000000000, 6) AS smape
    FROM errs GROUP BY model ORDER BY model
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead forecast backtest on daily event volume: the
    naive (yesterday) and seasonal-naive (same weekday last week)
    baselines every forecasting effort must beat, scored by MAE and
    sMAPE. Absolute errors are exact integers (counts), so MAE is one
    division; each sMAPE term 2|x−f|/(x+f) is quantized to integer
    nano-units BEFORE averaging (the float-sum order rule). Both
    forecasts come from lag windows over the O(days) zero-filled grid
    — the fact table is aggregated once; at 100 TB backtesting longer
    horizons just adds lag columns to the same window sort."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_series(ev, x=F.count("event_id"))
    w = Window.partitionBy(one_part("day")).orderBy("day")
    lagged = daily.select(
        "x",
        F.lag("x", 1).over(w).alias("naive"),
        F.lag("x", 7).over(w).alias("snaive"),
    )
    errs = (
        lagged.select("x", F.lit("naive").alias("model"), F.col("naive").alias("f"))
        .unionAll(
            lagged.select(
                "x", F.lit("seasonal_naive").alias("model"), F.col("snaive").alias("f")
            )
        )
        .filter(F.col("f").isNotNull())
    )
    smape_term = F.round(
        2000000000.0 * F.abs(F.col("x") - F.col("f")) / (F.col("x") + F.col("f"))
    ).cast("long")
    return (
        errs.groupBy("model")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evals"),
            F.round(
                F.sum(F.abs(F.col("x") - F.col("f"))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mae"),
            F.round(
                F.sum(smape_term).cast("double") / F.count(F.lit(1)) / 1000000000,
                6,
            ).alias("smape"),
        )
        .orderBy("model")
    )


def _part_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The common part basket of 1995 (base) and 2000 (current): one row
    per part shipped in both years, with each year's cent sum (c0, c1)
    and quantity sum (q0, q1) — one scan with the year filter pushed
    down, one shuffle on (part, period)."""
    li = load_table(spark, sf_dir, "lineitem")
    per = (
        li.filter(F.year("l_shipdate").isin(1995, 2000))
        .groupBy(
            "l_partkey",
            F.when(F.year("l_shipdate") == 1995, 0).otherwise(1).alias("period"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("c"),
            F.sum(F.round("l_quantity").cast("long")).alias("q"),
        )
    )
    p0 = per.filter(F.col("period") == 0).select(
        "l_partkey", F.col("c").alias("c0"), F.col("q").alias("q0")
    )
    p1 = per.filter(F.col("period") == 1).select(
        "l_partkey", F.col("c").alias("c1"), F.col("q").alias("q1")
    )
    return p0.join(p1, "l_partkey")


@query(
    "q_price_index",
    oracle="""
    WITH per AS (
      SELECT l_partkey,
             CASE WHEN year(l_shipdate) = 1995 THEN 0 ELSE 1 END AS period,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS c,
             sum(CAST(round(l_quantity) AS BIGINT)) AS q
      FROM lineitem
      WHERE year(l_shipdate) IN (1995, 2000)
      GROUP BY 1, 2
    ), basket AS (
      SELECT p0.l_partkey, p0.c AS c0, p0.q AS q0, p1.c AS c1, p1.q AS q1
      FROM per p0 JOIN per p1 ON p1.l_partkey = p0.l_partkey
      WHERE p0.period = 0 AND p1.period = 1
    ), terms AS (
      SELECT c0, c1,
             CAST(round(c1 * q0 * 1000.0 / q1) AS BIGINT) AS l_num_e3,
             CAST(round(c0 * q1 * 1000.0 / q0) AS BIGINT) AS p_den_e3
      FROM basket
    ), s AS (
      SELECT count(*) AS n, sum(c0) AS sc0, sum(c1) AS sc1,
             sum(l_num_e3) AS sl, sum(p_den_e3) AS sp
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n_basket_parts,
           round(CAST(sl AS DOUBLE) / (CAST(sc0 AS DOUBLE) * 1000), 6)
             AS laspeyres,
           round(CAST(sc1 AS DOUBLE) * 1000 / CAST(sp AS DOUBLE), 6)
             AS paasche,
           round(sqrt((CAST(sl AS DOUBLE) / (CAST(sc0 AS DOUBLE) * 1000))
                      * (CAST(sc1 AS DOUBLE) * 1000 / CAST(sp AS DOUBLE))), 6)
             AS fisher
    FROM s
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices between two shipment
    years (1995 base → 2000 current) over the common part basket — the
    inflation-tracking rollup a commerce warehouse publishes monthly.
    Unit values are rationals (Σcents/Σqty per part-period), so each
    index term c₁·q₀/q₁ is quantized per part to integer milli-cents
    (identical per-row doubles → identical integers) and the index is a
    ratio of exact bigint sums — no float accumulation anywhere.
    Laspeyres denominator and Paasche numerator need no quantization at
    all (they are plain cent sums). One scan with the year filter
    pushed down, one shuffle on (part, period), and the basket join
    runs on the part-level aggregate."""
    basket = _part_basket(spark, sf_dir)
    terms = basket.select(
        "c0",
        "c1",
        F.round(F.col("c1") * F.col("q0") * 1000.0 / F.col("q1"))
        .cast("long")
        .alias("l_num_e3"),
        F.round(F.col("c0") * F.col("q1") * 1000.0 / F.col("q0"))
        .cast("long")
        .alias("p_den_e3"),
    )
    s = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c0").alias("sc0"),
        F.sum("c1").alias("sc1"),
        F.sum("l_num_e3").alias("sl"),
        F.sum("p_den_e3").alias("sp"),
    )
    lasp = F.col("sl").cast("double") / (F.col("sc0").cast("double") * 1000)
    paas = F.col("sc1").cast("double") * 1000 / F.col("sp").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_basket_parts"),
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


@query(
    "q_concentration_hhi",
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), s AS (
      SELECT segment, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
      FROM rev GROUP BY segment
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n_customers,
           round(CAST(sxx AS DOUBLE)
                 / (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS hhi,
           round((CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / CAST(sxx AS DOUBLE), 4) AS n_effective
    FROM s ORDER BY segment
    """,
)
def q_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of customer revenue per
    segment, with the effective-customer count 1/HHI — the antitrust-
    style counterpart of q_gini_concentration (HHI weights the whales
    quadratically; n_effective reads as 'this segment behaves like N
    equal customers'). HHI = Σx²/(Σx)² needs NO share computation:
    both sums are exact (x² ≈ 10¹⁶ per customer would overflow a
    bigint accumulator at scale, so the Spark side sums in
    decimal(38,0) — DuckDB's sum is already 128-bit), and the single
    division happens on identical doubles. One shuffle to the customer
    level, one to the 5-segment rollup."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"))
    )
    s = rev.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(24,0)").alias("sx"),
        F.sum(
            (F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        ).alias("sxx"),
    )
    return s.select(
        "segment",
        F.col("n").cast("long").alias("n_customers"),
        F.round(
            F.col("sxx").cast("double")
            / (F.col("sx").cast("double") * F.col("sx").cast("double")),
            6,
        ).alias("hhi"),
        F.round(
            (F.col("sx").cast("double") * F.col("sx").cast("double"))
            / F.col("sxx").cast("double"),
            4,
        ).alias("n_effective"),
    ).orderBy("segment")


@query(
    "q_psi_stability",
    oracle="""
    WITH f AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN year(o_orderdate) < 1998 THEN 0 ELSE 1 END AS period
      FROM orders
    ), bounds AS (
      SELECT min(cents) AS lo, max(cents) AS hi FROM f
    ), b AS (
      SELECT period,
             least(9, CAST(((cents - lo) * 10) // (hi - lo + 1) AS BIGINT))
               AS bucket
      FROM f, bounds
    ), cells AS (
      SELECT bucket,
             1 + coalesce(sum(CASE WHEN period = 0 THEN 1 END), 0) AS nb,
             1 + coalesce(sum(CASE WHEN period = 1 THEN 1 END), 0) AS nc
      FROM b GROUP BY bucket
    ), tot AS (
      SELECT sum(nb) AS tb, sum(nc) AS tc FROM cells
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(nb - 1 AS BIGINT) AS n_base,
           CAST(nc - 1 AS BIGINT) AS n_curr,
           round(CAST(round((CAST(nb AS DOUBLE) / tb - CAST(nc AS DOUBLE) / tc)
                            * ln(CAST(nb * tc AS DOUBLE) / CAST(nc * tb AS DOUBLE))
                            * 1000000000) AS BIGINT) / 1000000000.0, 6)
             AS psi_term
    FROM cells, tot
    ORDER BY bucket
    """,
)
def q_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-value distribution,
    pre-1998 vs 1998+ — the model-monitoring drift metric (PSI > 0.2 ⇒
    the scoring population moved; q_corpus_drift is its text-unigram
    sibling). Ten equal-width buckets over the exact cent domain
    (integer edge arithmetic — no value can land on a different side of
    a boundary), add-one smoothing so empty cells stay finite, and each
    (p−q)·ln(p/q) term evaluates on exact-count ratios and quantizes to
    nano-units — the output is per-bucket so the drift's LOCATION is
    visible, and the total PSI is the exact sum of the terms. One scan,
    one 10-cell aggregate."""
    o = load_table(spark, sf_dir, "orders")
    f = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.year("o_orderdate") < 1998, 0).otherwise(1).alias("period"),
    )
    bounds = f.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    b = f.join(F.broadcast(bounds)).select(
        "period",
        F.least(
            F.lit(9), F.expr("((cents - lo) * 10) div (hi - lo + 1)")
        ).alias("bucket"),
    )
    cells = b.groupBy("bucket").agg(
        (1 + F.coalesce(F.sum(F.when(F.col("period") == 0, 1)), F.lit(0))).alias(
            "nb"
        ),
        (1 + F.coalesce(F.sum(F.when(F.col("period") == 1, 1)), F.lit(0))).alias(
            "nc"
        ),
    )
    tot = cells.agg(F.sum("nb").alias("tb"), F.sum("nc").alias("tc"))
    term = (
        (
            F.col("nb").cast("double") / F.col("tb")
            - F.col("nc").cast("double") / F.col("tc")
        )
        * F.log(
            (F.col("nb") * F.col("tc")).cast("double")
            / (F.col("nc") * F.col("tb")).cast("double")
        )
        * 1000000000
    )
    return (
        cells.join(F.broadcast(tot))
        .select(
            F.col("bucket").cast("int"),
            (F.col("nb") - 1).cast("long").alias("n_base"),
            (F.col("nc") - 1).cast("long").alias("n_curr"),
            F.round(F.round(term).cast("long") / 1000000000.0, 6).alias("psi_term"),
        )
        .orderBy("bucket")
    )


@query(
    "q_sample_bootstrap_se",
    oracle="""
    WITH reps AS (SELECT unnest(generate_series(0, 19)) AS r),
    w AS (
      SELECT reps.r,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             CASE
               WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
               WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
               WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
               ELSE 6 END AS wt
      FROM orders o CROSS JOIN reps,
      LATERAL (SELECT ('0x' || substr(md5('boot:' || CAST(reps.r AS VARCHAR)
                       || ':' || CAST(o.o_orderkey AS VARCHAR)), 1, 8))::BIGINT
               AS u)
    ), rep_means AS (
      SELECT r,
             CAST(round(CAST(sum(wt * cents) AS DOUBLE) * 1000000
                        / sum(wt)) AS BIGINT) AS m6
      FROM w GROUP BY r
    ), s AS (
      SELECT count(*) AS rn, sum(CAST(m6 AS HUGEINT)) AS sm,
             sum(CAST(m6 AS HUGEINT) * m6) AS smm
      FROM rep_means
    ), pt AS (
      SELECT count(*) AS n,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sc
      FROM orders
    )
    SELECT CAST(pt.n AS BIGINT) AS n_orders,
           CAST(s.rn AS BIGINT) AS n_replicates,
           round(CAST(pt.sc AS DOUBLE) / pt.n / 100, 4) AS mean_price,
           round(sqrt(CAST(s.rn * s.smm - s.sm * s.sm AS DOUBLE)
                      / (CAST(s.rn AS DOUBLE) * (s.rn - 1)))
                 / 1000000 / 100, 4) AS boot_se_price
    FROM s, pt
    """,
)
def q_sample_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap standard error of mean order value — the
    one-pass, RNG-free bootstrap a distributed engine actually runs
    (Chamandy et al., Google 2012): each (replicate, row) draws a
    Poisson(1) weight by inverting the CDF on a content-addressed
    md5 uniform (integer thresholds ⌊F(k)·2³²⌋ written as identical
    literals on both engines — no RNG, no resampling shuffle, fully
    reproducible across engines and retries). 20 replicates ride ONE
    scan via a broadcast replicate dimension; each replicate mean is
    quantized to micro-cents, and the SE comes from exact integer
    variance arithmetic over the 20 means (decimal sums — m6² ≈ 10²⁶).
    At 100 TB this is THE error-bar recipe: the fan-out is ×R on the
    map side with map-side combine, never a second pass over the
    fact table."""
    from etl4s_spark.operators.parallelism import widen

    o = load_table(spark, sf_dir, "orders")
    reps = spark.range(0, 20).select(F.col("id").cast("int").alias("r"))
    u_expr = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("boot:"),
                    F.col("r").cast("string"),
                    F.lit(":"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    wt = (
        F.when(F.col("__u") < 1580030168, 0)
        .when(F.col("__u") < 3160060337, 1)
        .when(F.col("__u") < 3950075421, 2)
        .when(F.col("__u") < 4213413783, 3)
        .when(F.col("__u") < 4279248373, 4)
        .when(F.col("__u") < 4292415291, 5)
        .otherwise(6)
    )
    # widen BEFORE the ×20 replicate fan-out: one small file arrives as
    # one scan split, and the broadcast fan-out + 20·n md5 draws + the
    # partial aggregation all fuse into that single task (guide §2 —
    # single-split collapse; no-op at scale where the scan is wide).
    # __u is materialized as a column so the md5 chain is evaluated ONCE
    # per (row, replicate), not once per CASE branch.
    w = (
        widen(o.select("o_orderkey", "o_totalprice"), "o_orderkey")
        .join(F.broadcast(reps))
        .withColumn("__u", u_expr)
        .select(
            "r",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            wt.alias("wt"),
        )
    )
    rep_means = w.groupBy("r").agg(
        F.round(
            F.sum(F.col("wt") * F.col("cents")).cast("double")
            * 1000000
            / F.sum("wt")
        )
        .cast("long")
        .alias("m6")
    )
    s = rep_means.agg(
        F.count(F.lit(1)).alias("rn"),
        F.sum("m6").cast("decimal(24,0)").alias("sm"),
        F.sum(
            F.col("m6").cast("decimal(19,0)") * F.col("m6").cast("decimal(19,0)")
        ).alias("smm"),
    )
    pt = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sc"),
    )
    return (
        s.join(F.broadcast(pt))
        .select(
            F.col("n").cast("long").alias("n_orders"),
            F.col("rn").cast("long").alias("n_replicates"),
            F.round(F.col("sc").cast("double") / F.col("n") / 100, 4).alias(
                "mean_price"
            ),
            F.round(
                F.sqrt(
                    (
                        F.col("rn") * F.col("smm") - F.col("sm") * F.col("sm")
                    ).cast("double")
                    / (F.col("rn").cast("double") * (F.col("rn") - 1))
                )
                / 1000000
                / 100,
                4,
            ).alias("boot_se_price"),
        )
    )


@query(
    "q_jackknife_groups",
    oracle="""
    WITH g AS (
      SELECT o_orderkey % 20 AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), per AS (
      SELECT grp, count(*) AS ng, sum(cents) AS sg FROM g GROUP BY grp
    ), tot AS (
      SELECT sum(ng) AS n, sum(sg) AS s, count(*) AS ngroups FROM per
    ), loo AS (
      SELECT CAST(round(CAST(tot.s - per.sg AS DOUBLE) * 1000000
                        / (tot.n - per.ng)) AS BIGINT) AS e6
      FROM per, tot
    ), v AS (
      SELECT count(*) AS gn, sum(CAST(e6 AS HUGEINT)) AS se,
             sum(CAST(e6 AS HUGEINT) * e6) AS see
      FROM loo
    )
    SELECT CAST(tot.n AS BIGINT) AS n_orders,
           CAST(tot.ngroups AS BIGINT) AS n_groups,
           round(CAST(tot.s AS DOUBLE) / tot.n / 100, 4) AS mean_price,
           round(sqrt(CAST((v.gn - 1) * (v.gn * v.see - v.se * v.se)
                           AS DOUBLE)) / v.gn
                 / 1000000 / 100, 4) AS jk_se_price
    FROM v, tot
    """,
)
def q_jackknife_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of mean order value —
    the other one-pass error-bar recipe (the bootstrap's deterministic
    sibling; the streaming-systems default when replicate weights are
    too expensive): rows hash into 20 buckets, each leave-one-bucket-
    out estimate is derived from the per-bucket sums ALONE (the fact
    table never re-scans), and SE² = (G−1)/G·Σ(θ_g − θ̄)². Estimates
    quantize to micro-cents so the variance is exact integer
    arithmetic (HUGEINT/decimal — squares ≈10²⁶); one shuffle to 20
    cells, everything after is constant-size."""
    o = load_table(spark, sf_dir, "orders")
    g = o.select(
        (F.col("o_orderkey") % 20).alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = g.groupBy("grp").agg(
        F.count(F.lit(1)).alias("ng"), F.sum("cents").alias("sg")
    )
    tot = per.agg(
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.count(F.lit(1)).alias("ngroups"),
    )
    loo = per.join(F.broadcast(tot)).select(
        F.round(
            (F.col("s") - F.col("sg")).cast("double")
            * 1000000
            / (F.col("n") - F.col("ng"))
        )
        .cast("long")
        .alias("e6")
    )
    v = loo.agg(
        F.count(F.lit(1)).alias("gn"),
        F.sum(F.col("e6").cast("decimal(24,0)")).alias("se"),
        F.sum(
            F.col("e6").cast("decimal(19,0)") * F.col("e6").cast("decimal(19,0)")
        ).alias("see"),
    )
    jk = (
        F.sqrt(
            (
                (F.col("gn") - 1)
                * (F.col("gn") * F.col("see") - F.col("se") * F.col("se"))
            ).cast("double")
        )
        / F.col("gn")
        / 1000000
        / 100
    )
    return (
        v.join(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n_orders"),
            F.col("ngroups").cast("long").alias("n_groups"),
            F.round(F.col("s").cast("double") / F.col("n") / 100, 4).alias(
                "mean_price"
            ),
            F.round(jk, 4).alias("jk_se_price"),
        )
    )


@query(
    "q_stat_mann_kendall",
    oracle="""
    WITH span AS (
      SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
    ), daily AS (
      SELECT g.day, coalesce(count(e.event_id), 0) AS x
      FROM grid g LEFT JOIN events e ON date_trunc('day', e.ts) = g.day
      GROUP BY g.day
    ), s_stat AS (
      SELECT sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
                      ELSE 0 END) AS s
      FROM daily a JOIN daily b ON b.day > a.day
    ), ties AS (
      SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
      FROM (SELECT count(*) AS t FROM daily GROUP BY x) WHERE t > 1
    ), n_t AS (SELECT count(*) AS n FROM daily)
    , zed AS (
      SELECT n_t.n, s_stat.s,
             n_t.n * (n_t.n - 1) * (2 * n_t.n + 5) - ties.tie_term AS v18,
             CASE WHEN n_t.n * (n_t.n - 1) * (2 * n_t.n + 5) - ties.tie_term = 0
                  THEN 0.0
                  ELSE (CASE WHEN s_stat.s > 0 THEN (s_stat.s - 1)
                             WHEN s_stat.s < 0 THEN (s_stat.s + 1) ELSE 0 END)
                       / sqrt(CAST(n_t.n * (n_t.n - 1) * (2 * n_t.n + 5)
                                   - ties.tie_term AS DOUBLE) / 18) END AS z
      FROM s_stat, ties, n_t
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_stat,
           CAST(v18 AS BIGINT) AS var_s_x18,
           round(z, 6) AS z,
           CASE WHEN z > 1.96 THEN 'increasing'
                WHEN z < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS verdict
    FROM zed
    """,
)
def q_stat_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test on daily event volume — the
    nonparametric IS-there-a-trend significance check that pairs with
    q_ts_theil_sen's HOW-steep slope (the two are the standard
    trend-analysis duo). S = Σ sign(x_j − x_i) over ordered day pairs
    (the quadratic stage is days², bounded by the calendar, off the
    same daily aggregate every ts query shares), the tie-corrected
    variance is exact integer arithmetic (×18 kept integral;
    continuity-corrected z does the single float division), and the
    1.96 verdict is computed from the identical z on both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_series(ev, x=F.count("event_id"))
    a, b = daily.alias("a"), daily.alias("b")
    s_stat = a.join(b, F.col("b.day") > F.col("a.day")).agg(
        F.sum(
            F.when(F.col("b.x") > F.col("a.x"), 1)
            .when(F.col("b.x") < F.col("a.x"), -1)
            .otherwise(0)
        ).alias("s")
    )
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    n_t = daily.agg(F.count(F.lit(1)).alias("n"))
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    )
    s_adj = (
        F.when(F.col("s") > 0, F.col("s") - 1)
        .when(F.col("s") < 0, F.col("s") + 1)
        .otherwise(0)
    )
    z = F.when(var18 == 0, F.lit(0.0)).otherwise(
        s_adj / F.sqrt(var18.cast("double") / 18)
    )
    verdict = (
        F.when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("no_trend")
    )
    return (
        s_stat.join(F.broadcast(ties))
        .join(F.broadcast(n_t))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("s").cast("long").alias("s_stat"),
            var18.cast("long").alias("var_s_x18"),
            F.round(z, 6).alias("z"),
            verdict.alias("verdict"),
        )
    )


@query(
    "q_bayes_shrunk_rates",
    oracle="""
    WITH br AS (
      SELECT p.p_brand AS brand, count(*) AS n,
             sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ), rq AS (
      SELECT brand, n, k,
             CAST(round(CAST(k AS DOUBLE) * 1000000000 / n) AS BIGINT) AS r9
      FROM br
    ), mom AS (
      SELECT count(*) AS g, sum(r9) AS sr,
             sum(CAST(r9 AS HUGEINT) * r9) AS srr
      FROM rq
    ), prior AS (
      SELECT CAST(sr AS DOUBLE) / g / 1000000000 AS mu,
             CAST(g * srr - sr * sr AS DOUBLE)
               / (CAST(g AS DOUBLE) * g) / 1e18 AS varr
      FROM mom
    ), ab AS (
      SELECT mu, varr,
             mu * (mu * (1 - mu) / varr - 1) AS alpha,
             (1 - mu) * (mu * (1 - mu) / varr - 1) AS beta
      FROM prior
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_lines,
           CAST(k AS BIGINT) AS n_returned,
           round(CAST(k AS DOUBLE) / n, 6) AS raw_rate,
           round((k + ab.alpha) / (n + ab.alpha + ab.beta), 6) AS shrunk_rate
    FROM rq, ab
    ORDER BY shrunk_rate DESC, brand
    LIMIT 15
    """,
)
def q_bayes_shrunk_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (Beta-Binomial, method-of-moments) shrinkage of
    brand return rates — the third way to rank small samples
    (q_returns_wilson bounds them, this SHRINKS them toward the global
    prior; a 2-line brand lands at the prior mean, a 40k-line brand
    keeps its own rate). The prior (α, β) is fitted from the
    cross-brand rate moments: per-brand rates quantize to nano-units
    so the moment sums are exact integers, and the two prior scalars
    broadcast; everything else is the same one-scan dim-bounded
    aggregate as the Wilson query. Float math: the method-of-moments
    formulas evaluated once on identical doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    br = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("k"),
        )
    )
    rq = br.select(
        "brand",
        "n",
        "k",
        F.round(F.col("k").cast("double") * 1000000000 / F.col("n"))
        .cast("long")
        .alias("r9"),
    )
    mom = rq.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("r9").cast("decimal(24,0)").alias("sr"),
        F.sum(
            F.col("r9").cast("decimal(19,0)") * F.col("r9").cast("decimal(19,0)")
        ).alias("srr"),
    )
    mu = F.col("sr").cast("double") / F.col("g") / 1000000000
    varr = (
        (F.col("g") * F.col("srr") - F.col("sr") * F.col("sr")).cast("double")
        / (F.col("g").cast("double") * F.col("g"))
        / 1e18
    )
    kappa = mu * (1 - mu) / varr - 1
    ab = mom.select(
        (mu * kappa).alias("alpha"), ((1 - mu) * kappa).alias("beta")
    )
    return (
        rq.join(F.broadcast(ab))
        .select(
            "brand",
            F.col("n").cast("long").alias("n_lines"),
            F.col("k").cast("long").alias("n_returned"),
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias("raw_rate"),
            F.round(
                (F.col("k") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunk_rate"),
        )
        .orderBy(F.col("shrunk_rate").desc(), "brand")
        .limit(15)
    )


@query(
    "q_stat_durbin_watson",
    oracle="""
    WITH span AS (
      SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span
    ), daily AS (
      SELECT g.day, coalesce(count(e.event_id), 0) AS y
      FROM grid g LEFT JOIN events e ON date_trunc('day', e.ts) = g.day
      GROUP BY g.day
    ), idx AS (
      SELECT row_number() OVER (ORDER BY day) - 1 AS t, y FROM daily
    ), m AS (
      SELECT count(*) AS n, sum(t) AS st, sum(y) AS sy,
             sum(t * y) AS sty, sum(t * t) AS stt
      FROM idx
    ), resid AS (
      SELECT t,
             CAST(m.n AS HUGEINT) * (m.n * m.stt - m.st * m.st) * y
               - CAST(m.n AS HUGEINT)
                 * ((m.stt * m.sy - m.st * m.sty)
                    + (m.n * m.sty - m.st * m.sy) * t) AS e_scaled
      FROM idx, m
    ), dw AS (
      SELECT sum(CAST((e2.e_scaled - e1.e_scaled) AS HUGEINT)
                 * (e2.e_scaled - e1.e_scaled)) AS num
      FROM resid e1 JOIN resid e2 ON e2.t = e1.t + 1
    ), den AS (
      SELECT sum(CAST(e_scaled AS HUGEINT) * e_scaled) AS d FROM resid
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM resid) AS n_days,
           round(CAST(dw.num AS DOUBLE) / CAST(den.d AS DOUBLE), 6) AS dw
    FROM dw, den
    """,
)
def q_stat_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson autocorrelation diagnostic on the residuals of the
    daily-volume OLS trend — the regression-health check that pairs
    with q_regression_ols (DW ≈ 2 means independent residuals; → 0
    positively autocorrelated, the usual outcome for weekly-seasonal
    traffic). Exactness trick: residuals are scaled by the integer
    n·(nΣt²−(Σt)²) so e_scaled = n·den·y − n·(Σt²Σy−ΣtΣty) −
    n·(nΣty−ΣtΣy)·t is EXACT integer arithmetic (the DW ratio is
    scale-invariant, so the scaling cancels); both Σ(Δe)² and Σe² are
    exact 128-bit/decimal sums and ONE float division ends it. Plan
    (VERDICT r5 item 5: the cache()d formulation still re-derived the
    subtree into 23 exchanges): the day-indexed series is MATERIALIZED
    once (localCheckpoint — ~one row per day, bounded by the calendar),
    then Σ(Δe)², Σe², and n come out of ONE aggregate over a lag window
    on the bounded day domain — no consecutive-t self-join, no repeated
    subplans, no cache left behind in executor storage."""
    ev = load_table(spark, sf_dir, "events")
    daily = _daily_series(ev, y=F.count("event_id"))
    idx = daily.select(
        (F.row_number().over(Window.partitionBy(one_part("day")).orderBy("day")) - 1).alias("t"), "y"
    ).localCheckpoint(eager=True)  # one row per day; reused by moments + residuals
    m = idx.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    den_i = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    a_num = F.col("stt") * F.col("sy") - F.col("st") * F.col("sty")
    b_num = F.col("n") * F.col("sty") - F.col("st") * F.col("sy")
    resid = idx.join(F.broadcast(m)).select(
        "t",
        (
            F.col("n").cast("decimal(20,0)")
            * den_i.cast("decimal(20,0)")
            * F.col("y").cast("decimal(20,0)")
            - F.col("n").cast("decimal(20,0)")
            * (
                a_num.cast("decimal(20,0)")
                + b_num.cast("decimal(20,0)") * F.col("t").cast("decimal(20,0)")
            )
        ).cast("decimal(38,0)").alias("e_scaled"),
    )
    lagged = resid.select(
        "e_scaled", F.lag("e_scaled").over(Window.partitionBy(one_part("t")).orderBy("t")).alias("prev")
    )
    return lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum(
                (F.col("e_scaled") - F.col("prev"))
                * (F.col("e_scaled") - F.col("prev"))
            ).cast("double")
            / F.sum(F.col("e_scaled") * F.col("e_scaled")).cast("double"),
            6,
        ).alias("dw"),
    )


@query(
    "q_growth_accounting",
    oracle="""
    WITH cm AS (
      SELECT o_custkey AS cust,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
      FROM orders GROUP BY 1, 2
    ), firstm AS (
      SELECT cust, min(m) AS fm FROM cm GROUP BY cust
    ), maxm AS (SELECT max(m) AS mm FROM cm),
    shifted AS (
      SELECT cust, CAST(m + INTERVAL 1 MONTH AS DATE) AS m, rev AS prev_rev
      FROM cm
    ), j AS (
      SELECT coalesce(c.cust, s.cust) AS cust,
             coalesce(c.m, s.m) AS m,
             coalesce(c.rev, 0) AS cur_rev,
             coalesce(s.prev_rev, 0) AS prev_rev
      FROM cm c FULL OUTER JOIN shifted s
        ON s.cust = c.cust AND s.m = c.m
    ), cls AS (
      SELECT j.m,
             j.prev_rev,
             j.cur_rev,
             CASE WHEN j.prev_rev = 0 AND f.fm = j.m  THEN j.cur_rev ELSE 0 END AS newr,
             CASE WHEN j.prev_rev = 0 AND f.fm < j.m  THEN j.cur_rev ELSE 0 END AS resur,
             CASE WHEN j.prev_rev > 0 AND j.cur_rev > j.prev_rev
                  THEN j.cur_rev - j.prev_rev ELSE 0 END AS expan,
             CASE WHEN j.prev_rev > 0 AND j.cur_rev > 0 AND j.cur_rev < j.prev_rev
                  THEN j.cur_rev - j.prev_rev ELSE 0 END AS contr,
             CASE WHEN j.cur_rev = 0 THEN -j.prev_rev ELSE 0 END AS churn
      FROM j JOIN firstm f ON f.cust = j.cust, maxm
      WHERE j.m <= maxm.mm
    )
    SELECT m AS month,
           CAST(sum(prev_rev) AS BIGINT) AS starting_cents,
           CAST(sum(newr) AS BIGINT)     AS new_cents,
           CAST(sum(resur) AS BIGINT)    AS resurrected_cents,
           CAST(sum(expan) AS BIGINT)    AS expansion_cents,
           CAST(sum(contr) AS BIGINT)    AS contraction_cents,
           CAST(sum(churn) AS BIGINT)    AS churned_cents,
           CAST(sum(cur_rev) AS BIGINT)  AS ending_cents
    FROM cls GROUP BY m ORDER BY month
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue growth accounting (the SaaS quick-ratio
    decomposition): each month's revenue change splits into new /
    resurrected / expansion / contraction / churned by full-outer-
    joining the customer-month revenue grid against itself shifted one
    month — ending ≡ starting + new + resurrected + expansion +
    contraction + churned, an exact-cents identity pinned in pytest
    (q_users_new_returning counts heads; this decomposes the money).
    Two shuffles total (customer-month rollup, month rollup); the
    self-join runs on the customer-month aggregate, never the fact
    table, and first-month attribution (new vs resurrected) rides the
    same per-customer min."""
    o = load_table(spark, sf_dir, "orders")
    cm = o.groupBy(
        F.col("o_custkey").alias("cust"),
        F.trunc("o_orderdate", "month").alias("m"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev"))
    firstm = cm.groupBy("cust").agg(F.min("m").alias("fm"))
    maxm = cm.agg(F.max("m").alias("mm"))
    shifted = cm.select(
        "cust", F.add_months("m", 1).alias("m"), F.col("rev").alias("prev_rev")
    )
    c, s = cm.alias("c"), shifted.alias("s")
    j = c.join(
        s, (F.col("s.cust") == F.col("c.cust")) & (F.col("s.m") == F.col("c.m")),
        "full_outer",
    ).select(
        F.coalesce(F.col("c.cust"), F.col("s.cust")).alias("cust"),
        F.coalesce(F.col("c.m"), F.col("s.m")).alias("m"),
        F.coalesce(F.col("c.rev"), F.lit(0)).alias("cur_rev"),
        F.coalesce(F.col("s.prev_rev"), F.lit(0)).alias("prev_rev"),
    )
    cls = (
        j.join(firstm, "cust")
        .join(F.broadcast(maxm))
        .filter(F.col("m") <= F.col("mm"))
        .select(
            "m",
            "prev_rev",
            "cur_rev",
            F.when(
                (F.col("prev_rev") == 0) & (F.col("fm") == F.col("m")),
                F.col("cur_rev"),
            )
            .otherwise(0)
            .alias("newr"),
            F.when(
                (F.col("prev_rev") == 0) & (F.col("fm") < F.col("m")),
                F.col("cur_rev"),
            )
            .otherwise(0)
            .alias("resur"),
            F.when(
                (F.col("prev_rev") > 0) & (F.col("cur_rev") > F.col("prev_rev")),
                F.col("cur_rev") - F.col("prev_rev"),
            )
            .otherwise(0)
            .alias("expan"),
            F.when(
                (F.col("prev_rev") > 0)
                & (F.col("cur_rev") > 0)
                & (F.col("cur_rev") < F.col("prev_rev")),
                F.col("cur_rev") - F.col("prev_rev"),
            )
            .otherwise(0)
            .alias("contr"),
            F.when(F.col("cur_rev") == 0, -F.col("prev_rev"))
            .otherwise(0)
            .alias("churn"),
        )
    )
    return (
        cls.groupBy(F.col("m").alias("month"))
        .agg(
            F.sum("prev_rev").cast("long").alias("starting_cents"),
            F.sum("newr").cast("long").alias("new_cents"),
            F.sum("resur").cast("long").alias("resurrected_cents"),
            F.sum("expan").cast("long").alias("expansion_cents"),
            F.sum("contr").cast("long").alias("contraction_cents"),
            F.sum("churn").cast("long").alias("churned_cents"),
            F.sum("cur_rev").cast("long").alias("ending_cents"),
        )
        .orderBy("month")
    )


@query(
    "q_delta_method_ratio",
    oracle="""
    WITH u AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x,
             count(*) AS y
      FROM orders GROUP BY o_custkey
    ), tot AS (
      SELECT sum(x) AS nx, sum(y) AS dy, count(*) AS nu FROM u
    ), dres AS (
      SELECT CAST(u.x AS HUGEINT) * tot.dy - CAST(tot.nx AS HUGEINT) * u.y AS d
      FROM u, tot
    ), s AS (
      SELECT sum(d * d) AS sdd FROM dres
    )
    SELECT CAST(tot.nu AS BIGINT) AS n_customers,
           CAST(tot.dy AS BIGINT) AS n_orders,
           round(CAST(tot.nx AS DOUBLE) / tot.dy / 100, 4) AS rev_per_order,
           round(sqrt(CAST(s.sdd AS DOUBLE))
                 / (CAST(tot.dy AS DOUBLE) * tot.dy) / 100, 6) AS se_delta
    FROM s, tot
    """,
)
def q_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method (linearization) standard error of a RATIO metric —
    revenue-per-order with customers as the independent unit, the
    cluster-robust SE every experimentation platform uses for ratio
    KPIs (naive per-order variance is wrong when orders cluster within
    customers; completes the inference kit next to the bootstrap and
    jackknife). Exactness: with r = N/D, each linearization residual
    x_u·D − N·y_u is EXACT integer arithmetic (128-bit — products
    reach 10¹⁴ before squaring), so Σd² is exact and SE =
    √(Σd²)/D² is one float expression. One shuffle to the customer
    level, one 1-row total, one broadcast-back."""
    o = load_table(spark, sf_dir, "orders")
    u = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    tot = u.agg(
        F.sum("x").alias("nx"), F.sum("y").alias("dy"), F.count(F.lit(1)).alias("nu")
    )
    dres = u.join(F.broadcast(tot)).select(
        (
            F.col("x").cast("decimal(24,0)") * F.col("dy").cast("decimal(12,0)")
            - F.col("nx").cast("decimal(24,0)") * F.col("y").cast("decimal(12,0)")
        ).alias("d")
    )
    s = dres.agg(
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)")).alias("sdd")
    )
    return (
        s.join(F.broadcast(tot))
        .select(
            F.col("nu").cast("long").alias("n_customers"),
            F.col("dy").cast("long").alias("n_orders"),
            F.round(
                F.col("nx").cast("double") / F.col("dy") / 100, 4
            ).alias("rev_per_order"),
            F.round(
                F.sqrt(F.col("sdd").cast("double"))
                / (F.col("dy").cast("double") * F.col("dy"))
                / 100,
                6,
            ).alias("se_delta"),
        )
    )


@query(
    "q_ship_latency",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority AS priority,
             datediff('day', o.o_orderdate, l.l_shipdate) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), hist AS (
      SELECT priority, days, count(*) AS c FROM lat GROUP BY priority, days
    ), cum AS (
      SELECT priority, days, c,
             sum(c) OVER (PARTITION BY priority ORDER BY days
                          ROWS UNBOUNDED PRECEDING) AS cw,
             sum(c) OVER (PARTITION BY priority) AS tw
      FROM hist
    )
    SELECT priority,
           CAST(any_value(tw) AS BIGINT) AS n_lines,
           CAST(min(days) FILTER (WHERE 4 * cw >= tw) AS INT)     AS p25_days,
           CAST(min(days) FILTER (WHERE 2 * cw >= tw) AS INT)     AS p50_days,
           CAST(min(days) FILTER (WHERE 4 * cw >= 3 * tw) AS INT) AS p75_days,
           CAST(min(days) FILTER (WHERE 100 * cw >= 95 * tw) AS INT) AS p95_days
    FROM cum
    GROUP BY priority
    ORDER BY priority
    """,
)
def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles per order priority — the
    fulfillment-SLA scorecard (does URGENT actually ship faster?).
    Latency is an exact integer day count, so all four percentiles are
    lower-discrete selections via integer cross-multiplication over ONE
    cumulative counts-histogram pass (the q_agg_weighted_median shape:
    the window runs over the bounded latency DOMAIN, never raw rows —
    at 100 TB the per-priority state is ~hundreds of day-buckets).
    One join shuffle keyed on orderkey, one histogram shuffle, four
    FILTERed mins sharing the pass."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").alias("days"),
    )
    hist = lat.groupBy("priority", "days").agg(F.count(F.lit(1)).alias("c"))
    wo = (
        Window.partitionBy("priority")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.partitionBy("priority")
    cum = hist.select(
        "priority",
        "days",
        F.sum("c").over(wo).alias("cw"),
        F.sum("c").over(wp).alias("tw"),
    )

    def pctl(num: int, den: int):
        return F.min(
            F.when(den * F.col("cw") >= num * F.col("tw"), F.col("days"))
        ).cast("int")

    return (
        cum.groupBy("priority")
        .agg(
            F.first("tw").cast("long").alias("n_lines"),
            pctl(1, 4).alias("p25_days"),
            pctl(1, 2).alias("p50_days"),
            pctl(3, 4).alias("p75_days"),
            pctl(95, 100).alias("p95_days"),
        )
        .orderBy("priority")
    )


@query(
    "q_cumulative_uniques",
    oracle="""
    WITH fs AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS first_day
      FROM events GROUP BY user_id
    ), daily_new AS (
      SELECT first_day AS day, count(*) AS new_users FROM fs GROUP BY first_day
    ), dau AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    )
    SELECT d.day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(n.new_users, 0))
                OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_uniques
    FROM dau d LEFT JOIN daily_new n ON n.day = d.day
    ORDER BY d.day
    """,
)
def q_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — the 'total audience to date'
    curve. The naive formulation re-counts DISTINCT over a growing
    prefix (O(days) passes, quadratic in the window — exactly what a
    100 TB log cannot afford); the exact one-pass identity is
    cumulative_uniques(d) = Σ first-seen counts ≤ d: one per-user MIN,
    one tiny histogram, one prefix window over O(days) rows. DAU rides
    alongside from the same scan family (this is also the exact
    formulation HLL sketches approximate when memory, not passes, is
    the constraint — q_agg_hll_union holds that contract)."""
    ev = load_table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.date_trunc("DAY", F.min("ts")).cast("date").alias("first_day")
    )
    daily_new = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    dau = ev.groupBy(F.date_trunc("DAY", "ts").cast("date").alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    w = Window.partitionBy(one_part("day")).orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(daily_new, "day", "left")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
        )
        .withColumn(
            "cumulative_uniques", F.sum("new_users").over(w).cast("long")
        )
        .orderBy("day")
    )


@query(
    "q_power_mde",
    oracle="""
    WITH u AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 1000) AS BIGINT) ELSE 0 END) AS x
      FROM events GROUP BY user_id
    ), m AS (
      SELECT count(*) AS n, sum(x) AS sx,
             sum(CAST(x AS HUGEINT) * x) AS sxx
      FROM u
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(CAST(sx AS DOUBLE) / n / 1000, 4) AS mean_value,
           round(sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1))) / 1000, 4) AS sd_value,
           round((1.96 + 0.8416)
                 * sqrt(2 * (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                             / (CAST(n AS DOUBLE) * (n - 1)))
                        / (CAST(n AS DOUBLE) / 2)) / 1000, 4) AS mde_abs,
           round((1.96 + 0.8416)
                 * sqrt(2 * (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                             / (CAST(n AS DOUBLE) * (n - 1)))
                        / (CAST(n AS DOUBLE) / 2))
                 / (CAST(sx AS DOUBLE) / n), 6) AS mde_rel
    FROM m
    """,
)
def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for a 50/50 experiment on per-user
    purchase value at α=0.05 (two-sided), power 0.8 — the pre-launch
    power check that pairs with q_ab_cuped's post-launch readout:
    MDE = (z_{α/2}+z_{power})·√(2σ²/(n/2)) with the z constants as
    exact decimal literals (1.96, 0.8416 — erf itself is banned,
    FIXTURES C.3: libm erf is not cross-engine stable, but the two
    canonical quantiles are just numbers). The sample variance comes
    from exact integer milli-unit moments (128-bit squares); one scan,
    one 1-row reduce, float math once."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 1000).cast("long"),
            ).otherwise(0)
        ).alias("x")
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("sxx"),
    )
    var = (d38("n") * F.col("sxx") - d38("sx") * d38("sx")).cast(
        "double"
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    mde = (1.96 + 0.8416) * F.sqrt(2 * var / (F.col("n").cast("double") / 2))
    return m.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(F.col("sx").cast("double") / F.col("n") / 1000, 4).alias(
            "mean_value"
        ),
        F.round(F.sqrt(var) / 1000, 4).alias("sd_value"),
        F.round(mde / 1000, 4).alias("mde_abs"),
        F.round(mde / (F.col("sx").cast("double") / F.col("n")), 6).alias(
            "mde_rel"
        ),
    )


@query(
    "q_funnel_windowed",
    oracle="""
    WITH a AS (
      SELECT user_id, min(ts) AS ta FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), b AS (
      SELECT e.user_id, min(e.ts) AS tb
      FROM events e JOIN a ON a.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > a.ta
        AND e.ts <= a.ta + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e
      JOIN a ON a.user_id = e.user_id
      JOIN b ON b.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > b.tb
        AND e.ts <= a.ta + INTERVAL 24 HOUR
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS reached_view,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS reached_click,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS reached_purchase,
           round((SELECT CAST(count(*) AS DOUBLE) FROM b)
                 / (SELECT count(*) FROM a), 6) AS p_click_given_view,
           round((SELECT CAST(count(*) AS DOUBLE) FROM c)
                 / nullif((SELECT count(*) FROM b), 0), 6)
             AS p_purchase_given_click
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICTLY-ORDERED funnel with a 24-hour window (ClickHouse's
    windowFunnel semantics): view → first click AFTER the first view →
    first purchase AFTER that click, all inside 24h of the anchor view.
    q_funnel_conversion counts lifetime stage membership; this is the
    time-bounded ordered variant campaign analysis actually needs
    (a purchase BEFORE the click does not count). Each stage is one
    conditional MIN over a user-keyed join against the previous
    stage's anchor — three shuffles on the same user key (Catalyst
    reuses the partitioning), no window functions, no per-user
    event-list materialization; output is a constant 1-row scorecard."""
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ta"))
    )
    b = (
        ev.filter(F.col("event_type") == "click")
        .join(a, "user_id")
        .filter(
            (F.col("ts") > F.col("ta"))
            & (F.col("ts") <= F.col("ta") + F.expr("interval 24 hours"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tb"), F.first("ta").alias("ta"))
    )
    c = (
        ev.filter(F.col("event_type") == "purchase")
        .join(b.select("user_id", "tb", "ta"), "user_id")
        .filter(
            (F.col("ts") > F.col("tb"))
            & (F.col("ts") <= F.col("ta") + F.expr("interval 24 hours"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    na = a.agg(F.count(F.lit(1)).alias("reached_view"))
    nb = b.agg(F.count(F.lit(1)).alias("reached_click"))
    nc = c.agg(F.count(F.lit(1)).alias("reached_purchase"))
    return (
        na.join(F.broadcast(nb))
        .join(F.broadcast(nc))
        .select(
            F.col("reached_view").cast("long"),
            F.col("reached_click").cast("long"),
            F.col("reached_purchase").cast("long"),
            F.round(
                F.col("reached_click").cast("double")
                / F.nullif(F.col("reached_view"), F.lit(0)).cast("double"),
                6,
            ).alias("p_click_given_view"),
            F.round(
                F.col("reached_purchase").cast("double")
                / F.nullif(F.col("reached_click"), F.lit(0)).cast("double"),
                6,
            ).alias("p_purchase_given_click"),
        )
    )


@query(
    "q_engagement_l28",
    oracle="""
    WITH last_day AS (
      SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS d1 FROM events
    ), ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events, last_day
      WHERE CAST(date_trunc('day', ts) AS DATE) > d1 - 28
    ), per_user AS (
      SELECT user_id, count(*) AS active_days FROM ud GROUP BY user_id
    ), tot AS (SELECT count(*) AS t FROM per_user)
    SELECT CAST(active_days AS INT) AS active_days,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(count(*) AS DOUBLE) / tot.t, 6) AS user_share
    FROM per_user, tot
    GROUP BY active_days, tot.t
    ORDER BY active_days
    """,
)
def q_engagement_l28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L28 engagement histogram — users bucketed by how many of the
    trailing 28 days they were active (the Facebook-style engagement
    fingerprint: a right-heavy L28 is a daily-habit product, a spike
    at 1 is drive-by traffic; q_user_stickiness's DAU/WAU ratio is its
    daily summary). One distinct-shuffle to user-days inside the
    window (the date filter prunes at the scan), a per-user count, a
    ≤28-row histogram with exact shares. The anchor is the data's own
    last day, so the result is reproducible on a frozen snapshot."""
    ev = load_table(spark, sf_dir, "events")
    last_day = ev.agg(
        F.date_trunc("DAY", F.max("ts")).cast("date").alias("d1")
    )
    ud = (
        ev.join(F.broadcast(last_day))
        .filter(
            F.date_trunc("DAY", "ts").cast("date") > F.date_sub(F.col("d1"), 28)
        )
        .select("user_id", F.date_trunc("DAY", "ts").cast("date").alias("day"))
        .distinct()
    )
    per_user = ud.groupBy("user_id").agg(F.count(F.lit(1)).alias("active_days"))
    tot = per_user.agg(F.count(F.lit(1)).alias("t"))
    return (
        per_user.groupBy("active_days")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .join(F.broadcast(tot))
        .select(
            F.col("active_days").cast("int"),
            F.col("n_users").cast("long"),
            F.round(
                F.col("n_users").cast("double") / F.col("t").cast("double"), 6
            ).alias("user_share"),
        )
        .orderBy("active_days")
    )


@query(
    "q_price_volume_mix",
    oracle="""
    WITH per AS (
      SELECT l_partkey,
             CASE WHEN year(l_shipdate) = 1995 THEN 0 ELSE 1 END AS period,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS c,
             sum(CAST(round(l_quantity) AS BIGINT)) AS q
      FROM lineitem
      WHERE year(l_shipdate) IN (1995, 2000)
      GROUP BY 1, 2
    ), basket AS (
      SELECT p0.c AS c0, p0.q AS q0, p1.c AS c1, p1.q AS q1
      FROM per p0 JOIN per p1 ON p1.l_partkey = p0.l_partkey
      WHERE p0.period = 0 AND p1.period = 1
    ), eff AS (
      SELECT sum(c1 - c0) AS total_delta,
             -- price effect: q0 * (p1 - p0) = q0*c1/q1 - c0, per part,
             -- quantized to milli-cents
             sum(CAST(round(CAST(q0 AS DOUBLE) * c1 * 1000 / q1
                            - c0 * 1000.0) AS BIGINT)) AS price_e3,
             -- volume effect: p0 * (q1 - q0) = c0*q1/q0 - c0
             sum(CAST(round(CAST(c0 AS DOUBLE) * q1 * 1000 / q0
                            - c0 * 1000.0) AS BIGINT)) AS volume_e3,
             sum(c0) AS base_rev
      FROM basket
    )
    SELECT CAST(base_rev AS BIGINT) AS base_rev_cents,
           CAST(total_delta AS BIGINT) AS delta_rev_cents,
           CAST(price_e3 // 1000 AS BIGINT) AS price_effect_cents,
           CAST(volume_e3 // 1000 AS BIGINT) AS volume_effect_cents,
           CAST(total_delta - price_e3 // 1000 - volume_e3 // 1000 AS BIGINT)
             AS cross_effect_cents
    FROM eff
    """,
)
def q_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume-mix revenue bridge (1995 → 2000 over the common
    part basket): ΔR decomposes into a price effect q₀·Δp, a volume
    effect p₀·Δq, and the residual cross term — the CFO's 'why did
    revenue move' waterfall, with q_price_index as its index-number
    sibling off the same two-period part aggregate. Unit values are
    rationals, so both effects quantize per part to milli-cents
    (identical doubles → identical integers) and the cross term is
    defined as the EXACT remainder total − price − volume, making the
    bridge sum to ΔR by construction (pinned in pytest). One scan,
    one (part, period) shuffle, basket join on the part aggregate."""
    basket = _part_basket(spark, sf_dir)
    price_e3 = F.round(
        F.col("q0").cast("double") * F.col("c1") * 1000 / F.col("q1")
        - F.col("c0") * 1000.0
    ).cast("long")
    volume_e3 = F.round(
        F.col("c0").cast("double") * F.col("q1") * 1000 / F.col("q0")
        - F.col("c0") * 1000.0
    ).cast("long")
    eff = basket.agg(
        F.sum(F.col("c1") - F.col("c0")).alias("total_delta"),
        F.sum(price_e3).alias("price_e3"),
        F.sum(volume_e3).alias("volume_e3"),
        F.sum("c0").alias("base_rev"),
    )
    pe = F.expr("price_e3 div 1000")
    ve = F.expr("volume_e3 div 1000")
    return eff.select(
        F.col("base_rev").cast("long").alias("base_rev_cents"),
        F.col("total_delta").cast("long").alias("delta_rev_cents"),
        pe.cast("long").alias("price_effect_cents"),
        ve.cast("long").alias("volume_effect_cents"),
        (F.col("total_delta") - pe - ve).cast("long").alias("cross_effect_cents"),
    )


@query(
    "q_lorenz_curve",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM rev
    ), tot AS (
      SELECT count(*) AS n, sum(x) AS sx FROM rev
    ), dec AS (
      SELECT least(9, ((i - 1) * 10) // n) AS decile, x
      FROM ranked, tot
    ), agg AS (
      SELECT decile, count(*) AS n_cust, sum(x) AS rev FROM dec GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_cust AS BIGINT) AS n_customers,
           CAST(rev AS BIGINT) AS rev_cents,
           round(CAST(sum(rev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                      AS DOUBLE) / tot.sx, 6) AS cum_rev_share
    FROM agg, tot
    ORDER BY decile
    """,
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve in customer deciles (poorest→richest, cumulative
    revenue share per decile) — the CURVE whose area q_gini_
    concentration summarizes and whose top-end q_revenue_pareto reads
    (perfect equality ⇒ cum share = (d+1)/10; the sag below that line
    IS the inequality). The customer rank is the TWO-PASS distributed
    rank (operators/ranking.py — VERDICT r5 #1: the row_number here used
    to sort every customer through ONE partition): eighth-octave log
    revenue buckets → broadcast prefix offsets → per-bucket rank; decile
    edges come from integer cross-multiplication on the rank (no
    percentile arithmetic); even the 10-row decile cumsum uses the
    bucketed cumsum so NO unpartitioned window remains in the plan."""
    from etl4s_spark.operators.ranking import global_cumsum, global_index, log_bucket

    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"))
        .localCheckpoint(eager=True)  # one row/customer; rank + totals reuse it
    )
    ranked = global_index(
        rev, F.col("x"), log_bucket(F.col("x")), ["o_custkey"], idx_name="i"
    )
    tot = rev.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
    dec = ranked.join(F.broadcast(tot)).select(
        F.least(F.lit(9), F.expr("((i - 1) * 10) div n")).alias("decile"),
        "x",
        "sx",
    )
    agg = dec.groupBy("decile", "sx").agg(
        F.count(F.lit(1)).alias("n_cust"), F.sum("x").alias("rev")
    )
    cum = global_cumsum(
        agg,
        F.col("decile"),
        F.col("decile").cast("int"),
        [],
        sum_col="rev",
        cum_name="cum_rev",
    )
    return cum.select(
        F.col("decile").cast("int"),
        F.col("n_cust").cast("long").alias("n_customers"),
        F.col("rev").cast("long").alias("rev_cents"),
        F.round(
            F.col("cum_rev").cast("double") / F.col("sx").cast("double"), 6
        ).alias("cum_rev_share"),
    ).orderBy("decile")


@query(
    "q_attribution_time_decay",
    oracle="""
    WITH conv AS (
      SELECT user_id, min(ts) AS conv_ts
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), touches AS (
      SELECT e.user_id, e.event_type,
             CAST(round(exp((CAST(epoch_us(e.ts) AS DOUBLE)
                             - epoch_us(c.conv_ts)) / 3600000000.0
                            / 12.0 * ln(0.5) * -1)
                        * 1000000000) AS BIGINT) AS w9
      FROM events e JOIN conv c ON c.user_id = e.user_id
      WHERE e.ts < c.conv_ts
    ), per_user AS (
      SELECT user_id, sum(w9) AS tw FROM touches GROUP BY user_id
    ), credited AS (
      SELECT t.event_type,
             CAST(t.w9 AS DOUBLE) / p.tw AS share
      FROM touches t JOIN per_user p ON p.user_id = t.user_id
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(sum(CAST(round(share * 1000000000) AS BIGINT))
                 / 1000000000.0, 6) AS credit
    FROM credited
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution (12-hour half-life) — the third standard
    multi-touch model beside first/last (q_attribution_touch) and
    U-shaped (q_attribution_position): each pre-conversion touch
    weighs 0.5^(Δt/12h), written as exp(Δt·ln0.5/12h) since pow() is
    banned (FIXTURES §C) while exp/ln on identical doubles are the
    established deterministic class. Each raw weight quantizes to
    nano-units BEFORE the per-user normalizing sum (exact bigint), the
    per-touch share divides two exact numbers, and the channel rollup
    re-quantizes shares before ITS sum — no float accumulation
    anywhere. Two user-keyed shuffles sharing a partitioning, then a
    channel rollup; every converting user's credits sum to 1."""
    ev = load_table(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    dt_hours = (
        F.unix_micros("ts").cast("double") - F.unix_micros("conv_ts")
    ) / 3600000000.0
    w9 = F.round(
        F.exp(dt_hours / 12.0 * F.log(F.lit(0.5)) * -1) * 1000000000
    ).cast("long")
    touches = (
        ev.join(conv, "user_id")
        .filter(F.col("ts") < F.col("conv_ts"))
        .select("user_id", "event_type", w9.alias("w9"))
    )
    per_user = touches.groupBy("user_id").agg(F.sum("w9").alias("tw"))
    credited = touches.join(per_user, "user_id").select(
        "event_type",
        (F.col("w9").cast("double") / F.col("tw")).alias("share"),
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.round(
                F.sum(F.round(F.col("share") * 1000000000).cast("long"))
                / 1000000000.0,
                6,
            ).alias("credit"),
        )
        .orderBy("event_type")
    )
