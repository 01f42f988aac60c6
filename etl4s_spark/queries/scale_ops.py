"""Scale-pattern queries, round 5 (second wave): the operators that only
matter once data stops fitting one machine — recursive traversal without
a recursive CTE, frequency sketches as data, bitmap-exact distinct,
non-decomposable rolling distinct, sub-chunk substring dedup, and
pretraining domain mixing.

Each entry pairs a Spark-first plan with a DuckDB oracle that reproduces
it bit-for-bit (the Count-Min hashes are pure integer universal hashing,
the mixture weights avoid libm pow, the BFS enumerates levels both
sides). Reference parity note: the reference pipeline DSL
(/root/reference/etl4s, docs/faq.md:11-15) ships none of these — they
are the host-engine capability set its users reach for, re-expressed
Spark-native per SURVEY.md §2.B's north-star contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl4s_spark.operators.ranking import one_part
from etl4s_spark.queries import query
from etl4s_spark.queries.analytics import _PAIRS_SQL, _neardup_pairs
from etl4s_spark.sources.tables import load_table

_CMS_VALUES = (
    "(VALUES (0, 1103515245, 12345), (1, 214013, 2531011), "
    "(2, 69069, 362437), (3, 1664525, 1013904223)) AS p(j, a, b)"
)


@query(
    "q_graph_shortest_hops",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_PAIRS_SQL}),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    seeds AS (
      SELECT id FROM (
        SELECT id_a AS id FROM pairs UNION SELECT id_b AS id FROM pairs
      ) ORDER BY id LIMIT 4
    ),
    walk AS (
      SELECT id, 0 AS hops FROM seeds
      UNION
      SELECT sym.dst AS id, w.hops + 1 AS hops
      FROM walk w JOIN sym ON sym.src = w.id
      WHERE w.hops < 4
    )
    SELECT id, CAST(min(hops) AS BIGINT) AS hops
    FROM walk GROUP BY id ORDER BY id
    """,
)
def q_graph_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest hop distance (≤ 4) from seed docs over the
    near-dup pair graph — "how close is every document to a known-bad
    seed" (contamination blast radius). Spark SQL has no WITH RECURSIVE;
    the operator is frontier-expansion BFS (operators/graph.py:bfs_hops)
    whose per-level cost is one frontier⨝edges shuffle + one anti-join,
    proven here against DuckDB's actual recursive CTE. Levels, not
    walks: each node enters the result at its minimal depth exactly
    once, so no path explosion and no min-over-paths re-aggregation.
    Seeds = the 4 smallest node ids PRESENT in the edge list, so the
    traversal is non-vacuous at every SF."""
    from etl4s_spark.operators.graph import bfs_hops, symmetrize

    pairs = _neardup_pairs(spark, sf_dir)
    seeds = (
        symmetrize(pairs)
        .select(F.col("src").alias("vec_id"))
        .distinct()
        .orderBy("vec_id")
        .limit(4)
    )
    return bfs_hops(pairs, seeds, max_hops=4).orderBy("id")


@query(
    "q_dedup_substring",
    oracle="""
    WITH pos AS (
      SELECT doc_id AS id, CAST(i AS INT) AS start, text
      FROM documents, unnest(generate_series(1, len(text) - 39)) AS t(i)
      WHERE len(text) >= 40
    ), wins AS (
      SELECT id, start, md5(substr(text, start, 40)) AS h
      FROM pos
      WHERE (start = 1 OR substr(text, start - 1, 1) = ' ')
        AND substr(md5(substr(text, start, 8)), 1, 1) < '8'
    ), dup AS (
      SELECT h FROM wins GROUP BY h HAVING count(DISTINCT id) >= 2
    ), hits AS (
      SELECT DISTINCT id, start, start + 39 AS e
      FROM wins JOIN dup USING (h)
    ), flagged AS (
      SELECT id, start, e,
             CASE WHEN coalesce(max(e) OVER (
                         PARTITION BY id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       -1) + 1 < start
                  THEN 1 ELSE 0 END AS ni
      FROM hits
    ), isl AS (
      SELECT id, start, e,
             sum(ni) OVER (PARTITION BY id ORDER BY start) AS island
      FROM flagged
    )
    SELECT id AS doc_id,
           CAST(min(start) AS BIGINT)              AS span_start,
           CAST(max(e) AS BIGINT)                  AS span_end,
           CAST(max(e) - min(start) + 1 AS BIGINT) AS span_len,
           CAST(count(*) AS BIGINT)                AS n_windows
    FROM isl GROUP BY id, island ORDER BY doc_id, span_start
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring spans (40-char windows at
    content-defined anchor positions, full corpus — linear in corpus
    bytes): the offset-insensitive tier below chunk dedup. Anchors are word-start
    positions thinned by a hash of the local 8-gram (winnowing/CDC
    trick, Schleimer et al. SIGMOD 2003 — the md5 runs on ~1/6 of
    positions, keeping the scan hash-light), so two docs sharing a passage sample
    the SAME in-passage windows wherever the passage sits — the property
    fixed-stride sampling lacks — making this the DataFrame rendition of
    suffix-array substring dedup (Lee et al., ACL 2022). Boilerplate and
    syndicated passages surface at ANY alignment, which q_dedup_spans'
    aligned chunks miss; docs sharing a passage meet in a hash GROUP,
    never a pairwise join, and per-doc hits merge to maximal spans via
    one gaps-islands window."""
    from etl4s_spark.operators.dedup import substring_dup_spans

    d = load_table(spark, sf_dir, "documents")
    return (
        substring_dup_spans(d, "doc_id", "text", window=40, anchor_k=8, anchor_sel="8")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start")
    )


@query(
    "q_mixture_weights",
    oracle="""
    WITH domains AS (
      SELECT source AS domain,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), tot AS (SELECT sum(n_tokens) AS t, count(*) AS d FROM domains)
    SELECT domain, n_docs, n_tokens,
           round(n_tokens / CAST(t AS DOUBLE), 6)                         AS actual_share,
           round(1.0 / d, 6)                                              AS target_share,
           round(t / CAST(d * n_tokens AS DOUBLE), 6)                     AS weight,
           round(least(1.0, t / CAST(d * n_tokens AS DOUBLE)), 6)         AS sample_frac,
           CAST(round(n_tokens * least(1.0, t / CAST(d * n_tokens AS DOUBLE))) AS BIGINT)
             AS planned_tokens
    FROM domains CROSS JOIN tot ORDER BY domain
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting to a uniform token target — the
    data-mixing stage between curation and sampling: per-source token
    mass in, per-source sampling weight out (weight > 1 = upsample,
    < 1 = downsample, capped fraction for single-epoch runs). Integer-
    derived arithmetic with exactly one float division per value — no
    pow(), so the oracle matches bit-for-bit. One corpus scan, one
    map-side-combined agg; totals broadcast back over the tiny domain
    frame."""
    from etl4s_spark.operators.sampling import domain_mixture_weights
    from etl4s_spark.operators.text import word_count

    d = load_table(spark, sf_dir, "documents")
    return (
        domain_mixture_weights(d, "source", word_count(F.col("text")))
        .orderBy("domain")
    )


@query(
    "q_window_rolling_distinct",
    oracle="""
    WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS users_7d,
           CAST(count(*) AS BIGINT) AS events_7d
    FROM days d JOIN events e
      ON date_trunc('day', e.ts) BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day ORDER BY day
    """,
)
def q_window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day DISTINCT users per day — the canonical
    non-decomposable window metric (distinct doesn't sum across days the
    way counts do). Plan: the fact table collapses ONCE to per-day user
    sets (the only corpus-width shuffle, map-side combined), then the
    day-grain frame (tiny) runs a 7-day range window whose set-union is
    flatten + array_distinct. At 100 TB the same shape holds with the
    per-day sets swapped for bitmap buckets (q_agg_bitmap_distinct) or
    HLL sketches (q_agg_hll_union) — merge stays associative; the
    day-grain window never touches the fact table either way."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("DAY", "ts").alias("day")).agg(
        F.collect_set("user_id").alias("users"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.partitionBy(one_part("day")).orderBy(F.col("day").cast("long")).rangeBetween(-6 * 86400, 0)
    return (
        daily.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.size(F.array_distinct(F.flatten(F.collect_list("users").over(w))))
            .cast("long")
            .alias("users_7d"),
            F.sum("n").over(w).cast("long").alias("events_7d"),
        )
        .orderBy("day")
    )


@query(
    "q_sketch_cms",
    oracle=f"""
    WITH h AS (
      SELECT l_partkey AS key, j,
             ((a * l_partkey + b) % 2147483647) % 512 AS bucket
      FROM lineitem CROSS JOIN {_CMS_VALUES}
    ), counters AS (
      SELECT j, bucket, count(*) AS c FROM h GROUP BY j, bucket
    ), probes AS (
      SELECT DISTINCT key, j, bucket FROM h
    ), est AS (
      SELECT key AS l_partkey, CAST(min(c) AS BIGINT) AS est
      FROM probes JOIN counters USING (j, bucket) GROUP BY key
    ), tru AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS true_count
      FROM lineitem GROUP BY l_partkey
    )
    SELECT e.l_partkey, est, true_count, est - true_count AS overcount
    FROM est e JOIN tru USING (l_partkey)
    ORDER BY est DESC, l_partkey LIMIT 10
    """,
)
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (depth 4 × width 512) over order-line part
    keys, probed for its top estimates against true frequencies — the
    FREQUENCY member of the mergeable-sketch family next to the engine's
    HLL (cardinality) and Bloom (membership) entries. Pure integer
    universal hashing ((a·k + b) mod P mod w, P = 2³¹−1), so the oracle
    reproduces every counter exactly: the proven contract is
    est ≥ true with deterministic collision placement. The sketch is
    ~2k rows built in one map-side-combined shuffle and BROADCAST back
    for point queries — at 100 TB it is the per-shard heavy-hitter
    pre-pass that never moves the fact table.

    Single-scan formulation: the fact table collapses ONCE to per-key
    true counts (cached — O(distinct keys)); the sketch is then built
    from WEIGHTED increments over that table (identical counters, since
    CMS over a multiset = count-weighted inserts of its support), and
    the same frame supplies the probe keys and the truth column —
    three logical roles, one parquet scan."""
    from etl4s_spark.operators.sketches import cms_counters, cms_estimates

    li = load_table(spark, sf_dir, "lineitem")
    true = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
        .localCheckpoint(eager=True)
    )
    counters = cms_counters(true, "l_partkey", depth=4, width=512, weight_col="true_count")
    est = cms_estimates(
        true.select("l_partkey"), counters, "l_partkey", depth=4, width=512
    )
    return (
        est.join(true, "l_partkey")
        .select(
            "l_partkey",
            "est",
            "true_count",
            (F.col("est") - F.col("true_count")).alias("overcount"),
        )
        .orderBy(F.desc("est"), "l_partkey")
        .limit(10)
    )


@query(
    "q_agg_bitmap_distinct",
    oracle="""
    WITH words AS (
      SELECT event_type, user_id // 62 AS bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INT)) AS word
      FROM events GROUP BY event_type, user_id // 62
    ), bm AS (
      SELECT event_type,
             CAST(sum(bit_count(word)) AS BIGINT) AS n_users_bitmap,
             CAST(count(*) AS BIGINT)             AS n_buckets
      FROM words GROUP BY event_type
    ), ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact
      FROM events GROUP BY event_type
    )
    SELECT b.event_type, n_users_bitmap, n_buckets, n_users_exact
    FROM bm b JOIN ex USING (event_type) ORDER BY b.event_type
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via 62-bit bitmap words
    (bucket = id div 62, OR-merge per bucket, popcount-sum per group) —
    checked in-row against count_distinct. Why it exists:
    count_distinct shuffles every raw id to one reducer per group;
    the bitmap shape is map-side combined down to ≤ one word per bucket
    per task AND stays mergeable across shards/streams (OR is
    associative — the property behind every incremental rollup), which
    is how exact distinct survives 100 TB. The RoaringBitmap pattern in
    plain bit_or/bit_count codegen — no UDF, no sketch error."""
    from etl4s_spark.operators.sketches import bitmap_distinct

    ev = load_table(spark, sf_dir, "events")
    bm = bitmap_distinct(ev, ["event_type"], "user_id", width=62)
    ex = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_users_exact")
    )
    return (
        bm.join(ex, "event_type")
        .select(
            "event_type",
            F.col("n_distinct").alias("n_users_bitmap"),
            "n_buckets",
            "n_users_exact",
        )
        .orderBy("event_type")
    )

@query(
    "q_agg_bitmap_native",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase,
           CAST((SELECT count(*) FROM c JOIN p USING (user_id)) AS BIGINT) AS n_both,
           CAST((SELECT count(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)) AS BIGINT)
             AS n_either
    """,
)
def q_agg_bitmap_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT audience set algebra via Spark's NATIVE bitmap aggregates
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg,
    then bitmap_and_agg / bitmap_or_agg / bitmap_count): clickers ∩
    purchasers and clickers ∪ purchasers WITHOUT a raw-id self-join —
    the audience-overlap question count_distinct cannot answer from
    per-group aggregates. Each group collapses map-side to one binary
    bitmap per 32k-id bucket (the engine-native sibling of
    q_agg_bitmap_distinct's cross-engine-reproducible long words); AND
    is taken only over buckets where BOTH segments are present, OR over
    all rows, and popcounts sum per segment. At 100 TB the per-type
    bucket bitmaps persist as audience segments and every overlap query
    is bitmap algebra over kilobytes, not a fact-table join; the oracle
    recomputes all four counts exactly from raw ids."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    buckets = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .localCheckpoint(eager=True)
    )
    per_type = buckets.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n")
    )
    singles = per_type.groupBy().pivot("event_type", ["click", "purchase"]).sum("n")
    inter = (
        buckets.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("nt"),
            F.bitmap_and_agg("bm").alias("band"),
            F.bitmap_or_agg("bm").alias("bor"),
        )
        .agg(
            F.sum(
                F.when(F.col("nt") == 2, F.bitmap_count("band")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_both"),
            F.sum(F.bitmap_count("bor")).cast("long").alias("n_either"),
        )
    )
    return singles.crossJoin(inter).select(
        F.col("click").cast("long").alias("n_click"),
        F.col("purchase").cast("long").alias("n_purchase"),
        "n_both",
        "n_either",
    )


@query(
    "q_agg_theta_intersection",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST((SELECT count(*) FROM c JOIN p USING (user_id)) AS BIGINT) AS exact_both,
           CAST((SELECT count(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)) AS BIGINT)
             AS exact_either,
           TRUE AS union_within_5pct,
           TRUE AS intersection_within_10pct
    """,
)
def q_agg_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Apache DataSketches, Spark 4.x theta_sketch_agg /
    theta_union / theta_intersection) — the mergeable-sketch family
    member HLL cannot replace: theta supports set INTERSECTION and
    difference on sketches, so audience overlap is estimable from
    persisted per-segment sketches without raw ids. Bounded-error
    oracle in the q_agg_hll_union pattern: exact counts plus flags
    asserting the union estimate lands within 5% and the intersection
    within 10% (intersection error compounds — the documented
    trade-off vs q_agg_bitmap_native's exact bitmaps, which cost
    O(id-range) instead of O(k))."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    sketches = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    # groupBy a constant instead of a global agg: on an EMPTY corpus the
    # global form still evaluates theta_union/intersection_agg over zero
    # sketches and throws inside the aggregate; zero groups means the
    # sketch aggs never run and the query returns 0 rows, schema intact
    est = (
        sketches.groupBy(F.lit(1).alias("__g"))
        .agg(
            F.theta_sketch_estimate(F.theta_union_agg("sk")).alias("__union"),
            F.theta_sketch_estimate(F.theta_intersection_agg("sk")).alias("__inter"),
        )
        .drop("__g")
    )
    c = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    p = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    exact = (
        c.join(p, "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_both"))
        .crossJoin(
            c.union(p)
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("exact_either"))
        )
    )
    return exact.crossJoin(est).select(
        "exact_both",
        "exact_either",
        (
            F.abs(F.col("__union") - F.col("exact_either"))
            <= 0.05 * F.col("exact_either")
        ).alias("union_within_5pct"),
        (
            F.abs(F.col("__inter") - F.col("exact_both"))
            <= 0.10 * F.col("exact_both")
        ).alias("intersection_within_10pct"),
    )
