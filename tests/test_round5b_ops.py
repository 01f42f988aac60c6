"""Unit tests for the round-5 continuation operators: grid radius join,
A-ES weighted sampling, MAD outliers, CUSUM changepoint, equi-depth
buckets, readability — each checked against an independent Python
re-computation on crafted inputs (not the parquet corpus), so the
DataFrame algebra is validated separately from the oracle parity the
driver already gates."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_grid_radius_join_exact_pairs(spark):
    """Bucketed join must find EXACTLY the brute-force pair set —
    including pairs that straddle a cell boundary (the neighbor-explode
    correctness case) — and never a pair beyond the radius."""
    from etl4s_spark.operators.geo import grid_radius_join

    pts_a = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        [(0.5, 0.5), (9.9, 9.9), (10.1, 10.1), (25.0, 25.0), (0.1, 19.9)]
    )]
    pts_b = [(j, float(x), float(y)) for j, (x, y) in enumerate(
        [(0.0, 0.0), (10.0, 10.0), (30.0, 30.0), (0.0, 20.0)]
    )]
    a = spark.createDataFrame(pts_a, ["aid", "x", "y"])
    b = spark.createDataFrame(pts_b, ["bid", "bx", "by"])
    r = 10.0
    got = {
        (row.aid, row.bid)
        for row in grid_radius_join(a, b, "x", "y", "bx", "by", r).collect()
    }
    want = {
        (i, j)
        for i, x, y in pts_a
        for j, bx, by in pts_b
        if (x - bx) ** 2 + (y - by) ** 2 <= r * r
    }
    assert got == want
    # sanity: the boundary-straddling pair (9.9,9.9)-(10.0,10.0) is in
    assert (1, 1) in got and (2, 1) in got


def test_grid_radius_join_negative_coords(spark):
    """floor-based cells must stay correct for negative coordinates
    (int-truncation toward zero would mis-bucket them)."""
    from etl4s_spark.operators.geo import grid_radius_join

    a = spark.createDataFrame([(0, -0.5, -0.5)], ["aid", "x", "y"])
    b = spark.createDataFrame([(0, 0.5, 0.5)], ["bid", "bx", "by"])
    got = grid_radius_join(a, b, "x", "y", "bx", "by", 2.0).collect()
    assert len(got) == 1 and abs(got[0].dist_sq - 2.0) < 1e-12


def test_weighted_sample_matches_python_replica(spark):
    """The sampled ids must equal an independent Python A-ES replica
    (same md5-derived u, same ln(u)/w keys)."""
    import hashlib

    from etl4s_spark.operators.sampling import weighted_sample_without_replacement

    rows = [(i, 1 + (i * 37) % 100) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "w"])
    got = [
        r.id
        for r in weighted_sample_without_replacement(df, "id", "w", k=20).collect()
    ]

    def score(i, w):
        h = int(hashlib.md5(f"w:42:{i}".encode()).hexdigest()[:8], 16)
        return math.log((h + 0.5) / 4294967296.0) / w

    want = [i for i, w in sorted(rows, key=lambda t: (-score(*t), t[0]))[:20]]
    assert got == want


def test_weighted_sample_prefers_heavy_rows(spark):
    """Statistical sanity: with weights 1000 vs 1, the heavy stratum
    must dominate the sample."""
    from etl4s_spark.operators.sampling import weighted_sample_without_replacement

    rows = [(i, 1000 if i < 50 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "w"])
    got = weighted_sample_without_replacement(df, "id", "w", k=40).collect()
    heavy = sum(1 for r in got if r.id < 50)
    assert heavy >= 30  # E[heavy] ≈ 38 of 40; <30 would mean broken keys


def test_weighted_sample_filters_invalid_weights(spark):
    """Rows with NaN, negative, zero, or NULL weights must be EXCLUDED,
    not silently forced into the sample (a NaN key sorts first under
    descending order — the failure mode this guards). The sample must
    equal the A-ES replica computed over the valid-weight rows only."""
    import hashlib

    from etl4s_spark.operators.sampling import weighted_sample_without_replacement

    valid = [(i, float(1 + (i * 37) % 100)) for i in range(60)]
    poison = [
        (1000, float("nan")),
        (1001, -5.0),
        (1002, 0.0),
        (1003, None),
    ]
    df = spark.createDataFrame(valid + poison, "id long, w double")
    got = [
        r.id for r in weighted_sample_without_replacement(df, "id", "w", k=10).collect()
    ]
    assert not any(i >= 1000 for i in got)

    def score(i, w):
        h = int(hashlib.md5(f"w:42:{i}".encode()).hexdigest()[:8], 16)
        return math.log((h + 0.5) / 4294967296.0) / w

    want = [i for i, w in sorted(valid, key=lambda t: (-score(*t), t[0]))[:10]]
    assert got == want


def test_grid_radius_join_rejects_ambiguous_schemas(spark):
    """The operator must refuse overlapping column names (post-join
    F.col references would silently bind ambiguously) and inputs that
    already carry the reserved 'cell'/'dist_sq' columns."""
    import pytest

    from etl4s_spark.operators.geo import grid_radius_join

    a = spark.createDataFrame([(0.0, 0.0)], ["x", "y"])
    b_overlap = spark.createDataFrame([(0.0, 0.0)], ["x", "by"])
    with pytest.raises(ValueError, match="disjoint"):
        grid_radius_join(a, b_overlap, "x", "y", "x", "by", 1.0)
    b_reserved = spark.createDataFrame([(0.0, 0.0, 1)], ["bx", "by", "cell"])
    with pytest.raises(ValueError, match="reserves"):
        grid_radius_join(a, b_reserved, "x", "y", "bx", "by", 1.0)


def test_mad_query_flags_planted_outliers(spark, tmp_path):
    """q_anomaly_mad on a crafted table: 98 values at 10.00 ± 0.02 and
    two at 500 — MAD must be tiny and exactly the two plants flagged
    (a mean/σ z-score would swallow them into the inflated σ)."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    vals = [10.0 + (i % 5 - 2) * 0.01 for i in range(98)] + [500.0, 500.0]
    rows = [
        (i, datetime.datetime(2024, 1, 1 + i % 28), i, "a", v, "{}")
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_anomaly_mad"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    row = out[0]
    assert row.n == 100 and row.n_outliers == 2
    assert abs(row.median_val - 10.0) < 0.02


def test_cusum_finds_planted_shift(spark, tmp_path):
    """q_ts_changepoint on a step series (20 days at 10, then 20 days
    at 110) must peak at the last pre-shift day."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = []
    for d in range(40):
        val = 10.0 if d < 20 else 110.0
        rows.append(
            (d, datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d), 1, "a", val, "{}")
        )
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_ts_changepoint"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0].change_day == "2024-01-20"  # day 20 = last low-regime day
    assert out[0].n_days == 40


def test_equidepth_buckets_balance(spark, sf_dir):
    """Bucket populations within each group differ by at most 1 row
    (the ntile invariant) and boundaries are monotone."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["q_histogram_equidepth"](spark, sf_dir).collect()
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault((r.l_returnflag, r.l_linestatus), []).append(r)
    for grp, rs in by_grp.items():
        ns = [r.n for r in rs]
        assert max(ns) - min(ns) <= 1, grp
        for a, b in zip(rs, rs[1:]):
            assert a.hi <= b.lo or abs(a.hi - b.lo) < 1e-9


def test_readability_orders_simple_before_dense(spark, tmp_path):
    """Short-sentence prose must score higher Flesch than run-on dense
    text — the signal the curation filter actually uses."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    simple = "The cat sat. The dog ran. It was fun. We went home."
    dense = (
        "Notwithstanding considerable methodological heterogeneity the "
        "meta-analytical aggregation demonstrates statistically significant "
        "associations between multidimensional socioeconomic determinants "
        "and longitudinal epidemiological outcomes"
    )
    rows = [(0, simple, "en", "a", len(simple)), (1, dense, "en", "a", len(dense))]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r.flesch for r in QUERIES["q_text_readability"](spark, str(tmp_path)).collect()}
    assert out[0] > 70 and out[1] < 20


def test_embedding_standardize_moments(spark, sf_dir):
    """Standardized output per dimension must have ~0 mean over the
    audit slice only if the slice were the population — instead check
    the exact contract: z recomputed from the full-corpus integer
    moments matches."""
    import duckdb

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    out = QUERIES["q_embedding_standardize"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    ref = con.execute(
        """
        WITH el AS (
          SELECT vec_id, i AS dim,
                 CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT) AS q
          FROM embeddings, unnest(generate_series(0, 63)) AS t(i)
        ), st AS (
          SELECT dim, count(*) AS n, sum(q) AS s, sum(q*q) AS ss FROM el GROUP BY dim
        )
        SELECT e.vec_id, e.dim,
               round((e.q - CAST(st.s AS DOUBLE)/st.n)
                     / sqrt((CAST(st.ss AS DOUBLE) - CAST(st.s AS DOUBLE)*CAST(st.s AS DOUBLE)/st.n)
                            / (st.n - 1)), 4) AS z
        FROM el e JOIN st ON e.dim = st.dim WHERE e.vec_id < 30
        ORDER BY e.vec_id, e.dim
        """
    ).fetchall()
    got = [(r.vec_id, r.dim, r.z) for r in out]
    assert got == [(a, b, z) for a, b, z in ref]


def test_skyline_matches_bruteforce(spark):
    """Histogram+window skyline equals the O(N²) dominance definition
    on a crafted point set with boundary ties and duplicates."""
    from etl4s_spark.queries import QUERIES, load_all  # noqa: F401

    pts = [
        (0, 100, 10), (1, 100, 10),   # duplicate frontier point (both kept)
        (2, 100, 5),                  # same price, smaller -> dominated
        (3, 200, 20), (4, 150, 10),   # 4 dominated by 0 on price? no: 150>100, sz equal -> dominated
        (5, 300, 20),                 # dominated by 3
        (6, 50, 1),                   # cheapest -> frontier
    ]
    # brute force
    def dominated(a):
        return any(
            (b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2]))
            for b in pts
        )

    want = sorted(p[0] for p in pts if not dominated(p))

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame(pts, ["id", "price_c", "sz"])
    hist = df.groupBy("price_c").agg(F.max("sz").alias("max_sz"))
    wlt = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    wle = Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, 0)
    sky = (
        hist.select(
            "price_c", "max_sz",
            F.max("max_sz").over(wlt).alias("m_lt"),
            F.max("max_sz").over(wle).alias("m_le"),
        )
        .filter(
            (F.col("m_lt").isNull() | (F.col("m_lt") < F.col("max_sz")))
            & (F.col("m_le") <= F.col("max_sz"))
        )
        .select("price_c", F.col("max_sz").alias("sz"))
    )
    got = sorted(r.id for r in df.join(sky, ["price_c", "sz"]).collect())
    assert got == want


def test_weighted_median_definition(spark, tmp_path):
    """Lower weighted median on a table where the unweighted median
    differs: values 1(w=1), 2(w=1), 3(w=10) -> weighted median 3."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.createDataFrame([(1, 1), (2, 1), (3, 10)], ["p", "w"])
    wo = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    cum = df.select("p", F.sum("w").over(wo).alias("cw"), F.sum("w").over(Window.partitionBy()).alias("tw"))
    got = cum.agg(F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("p")))).collect()[0][0]
    assert got == 3


def test_xml_roundtrip_preserves_rows(spark, sf_dir):
    """XML write->read cycle preserves every nation row."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    out = QUERIES["q_sink_xml_roundtrip"](spark, sf_dir).collect()
    assert sum(r.n for r in out) == 25


def test_corpus_drift_zero_for_identical_halves(spark, tmp_path):
    """KL must be exactly 0.0 when even and odd docs are identical."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = [(i, "alpha beta gamma delta", "en", "a", 22) for i in range(10)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = QUERIES["q_corpus_drift"](spark, str(tmp_path)).collect()[0]
    assert out.kl_ab == 0.0 and out.kl_ba == 0.0
    assert out.vocab == 4


def test_corpus_drift_positive_for_disjoint_halves(spark, tmp_path):
    """Disjoint vocabularies must give symmetric positive KL."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = [
        (i, "alpha beta" if i % 2 == 0 else "gamma delta", "en", "a", 10)
        for i in range(10)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = QUERIES["q_corpus_drift"](spark, str(tmp_path)).collect()[0]
    assert out.kl_ab > 0.1 and abs(out.kl_ab - out.kl_ba) < 1e-6  # symmetric setup


def test_source_overlap_counts_shared_shingles(spark, tmp_path):
    """Two sources sharing one 5-gram window overlap by exactly the
    number of distinct shared shingles; a disjoint third source never
    appears."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    shared = "one two three four five"
    rows = [
        (0, shared + " six", "en", "src_a", 20),
        (1, "zero " + shared, "en", "src_b", 20),
        (2, "p q r s t u v w", "en", "src_c", 15),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {(r.source_a, r.source_b): r.shared_shingles
           for r in QUERIES["q_source_overlap"](spark, str(tmp_path)).collect()}
    assert out == {("src_a", "src_b"): 1}


def test_seqlen_histogram_bucket_edges(spark, sf_dir):
    """Bucket b covers [2^(b-1), 2^b - 1] and doc counts total the
    corpus."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["q_seqlen_histogram"](spark, sf_dir).collect()
    for r in rows:
        assert r.lo_tokens == 2 ** (r.bucket - 1)
        assert r.hi_tokens == 2 ** r.bucket - 1
    assert sum(r.n_docs for r in rows) > 0


def test_split_balance_shares_sum_to_one(spark, sf_dir):
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["q_split_balance"](spark, sf_dir).collect()
    by_split: dict = {}
    for r in rows:
        by_split.setdefault(r.split, []).append(r)
    assert set(by_split) == {"train", "val", "test"}
    for split, rs in by_split.items():
        assert abs(sum(r.share for r in rs) - 1.0) < 0.01, split


def test_join_fanout_estimate_is_exact(spark, sf_dir):
    """est_join_rows equals the actual inner-join cardinality."""
    from etl4s_spark.queries import QUERIES, load_all
    from etl4s_spark.sources.tables import load_table

    load_all()
    out = QUERIES["q_audit_join_fanout"](spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    actual = li.join(od, li.l_orderkey == od.o_orderkey).count()
    assert out.est_join_rows == actual


def test_kcore_matches_python_peeling(spark):
    """k_core on a crafted graph = independent Python peeling: a
    4-clique (3-core) with a pendant path (peels away)."""
    from etl4s_spark.operators.graph import k_core

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    path = [(3, 10), (10, 11), (11, 12)]
    edges = clique + path
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.id: r.core_degree for r in k_core(df, k=3).collect()}

    # python replica
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < 3]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    want = {n: len(nb) for n, nb in adj.items()}
    assert got == want
    assert set(got) == {0, 1, 2, 3}


def test_kcore_empty_when_graph_too_sparse(spark):
    from etl4s_spark.operators.graph import k_core

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["id_a", "id_b"])
    assert k_core(df, k=3).count() == 0


CHAIN_LEN = 8  # planted peel depth — every scale needs exactly this many rounds


def _planted_cascade_edges(spark, n_edges: int):
    """Planted 3-core graph whose peel CASCADES for CHAIN_LEN rounds at
    every scale (VERDICT r10 item 4: a pseudo-random multigraph's 3-core
    collapses in ONE round, so it never exercises multi-round peeling).
    Built from spark.range only:
    - CORE: n_core nodes in a circulant graph, node c adjacent to
      c±1, c±2 (mod n_core) — distinct-degree 4 ≥ 3, survives any peel.
    - CHAINS: m triangle-chains of length L=CHAIN_LEN hanging off the
      core: chain node (j,l) adjacent to (j,l+1) and (j,l+2); the two
      tail nodes attach into the core (t_{L-1} to two core nodes,
      t_{L-2} to one). The free end t_0 has degree 2 → peels round 1 →
      t_1 drops to 2 → peels round 2 → … exactly L rounds, then one
      fixpoint-confirm round.
    The 3-core is EXACTLY the n_core circulant nodes. Returns
    (edges, n_core)."""
    L = CHAIN_LEN
    n_core = max(n_edges // 4, 16)
    m = max(n_edges // (4 * L), 1)
    c = spark.range(n_core)
    core_e = c.select(
        F.col("id").alias("id_a"), ((F.col("id") + 1) % n_core).alias("id_b")
    ).unionByName(
        c.select(
            F.col("id").alias("id_a"), ((F.col("id") + 2) % n_core).alias("id_b")
        )
    )
    ch = spark.range(m * L).select(
        (F.col("id") / L).cast("long").alias("j"),
        (F.col("id") % L).alias("l"),
        (F.col("id") + n_core).alias("node"),
    )
    e_next = ch.filter(F.col("l") < L - 1).select(
        F.col("node").alias("id_a"), (F.col("node") + 1).alias("id_b")
    )
    e_skip = ch.filter(F.col("l") < L - 2).select(
        F.col("node").alias("id_a"), (F.col("node") + 2).alias("id_b")
    )
    anchor = (F.col("j") * 2654435761) % n_core
    tail_a = ch.filter(F.col("l") == L - 1).select(
        F.col("node").alias("id_a"), anchor.alias("id_b")
    )
    tail_b = ch.filter(F.col("l") == L - 1).select(
        F.col("node").alias("id_a"), ((anchor + 1) % n_core).alias("id_b")
    )
    tail_c = ch.filter(F.col("l") == L - 2).select(
        F.col("node").alias("id_a"), ((anchor + 2) % n_core).alias("id_b")
    )
    return (
        core_e.unionByName(e_next)
        .unionByName(e_skip)
        .unionByName(tail_a)
        .unionByName(tail_b)
        .unionByName(tail_c)
        .repartition(32)
    ), n_core


def test_kcore_planted_cascade_generator(spark):
    """The GRAPH_SCALING planted lane's construction contract (VERDICT
    r10 item 4), pinned at small scale: the triangle-chain graph's
    3-core peel needs EXACTLY CHAIN_LEN cascade rounds (+1 fixpoint
    confirm — round_sizes carries the measured counts) and the
    surviving 3-core is exactly the circulant core. If either drifts,
    the recorded decade ratios measured the wrong thing. The peel runs
    no count action: each round is its two eager checkpoints, with the
    survivor count observed on the first."""
    from etl4s_spark.operators.graph import k_core

    edges, n_core = _planted_cascade_edges(spark, 2_000)
    rounds: list[int] = []
    sc = spark.sparkContext
    sc.setJobGroup("kcore_cascade", "k_core job budget")
    try:
        rows = k_core(edges, k=3, round_sizes=rounds).collect()
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("kcore_cascade"))
    assert len(rows) == n_core
    assert {r.id for r in rows} == set(range(n_core))
    assert all(r.core_degree >= 3 for r in rows)
    # CHAIN_LEN strictly-shrinking peel rounds, then one confirm round
    assert len(rounds) == CHAIN_LEN + 1, rounds
    assert rounds[-1] == rounds[-2] == n_core
    assert all(
        a > b for a, b in zip(rounds[: CHAIN_LEN - 1], rounds[1:CHAIN_LEN])
    ), rounds
    # 41 jobs: 3 for the input edges, 4 per round (two checkpoints of one
    # shuffle + result each), 2 for the collect. One count() more per
    # round would reach the ceiling; with a count per round it took 62.
    assert n_jobs < 5 + 5 * len(rounds), (n_jobs, rounds)


def test_kcore_query_sentinel_nonvacuous(spark, sf_dir):
    """q_graph_kcore's planted 4-clique sentinel (VERDICT r5 #2: the r5
    driver row was spark_rows=0, proving nothing) guarantees a non-empty
    result at every SF: its 4 nodes must appear with core_degree exactly
    3, and the organic portion (ids < 10^9) must equal k_core of the
    organic pair graph alone — the sentinel cannot perturb real nodes
    because its ids are disjoint from every vec_id. The whole result must
    also equal an independent pure-Python peel of the same edges plus the
    sentinel clique, so the query is not checked only against the
    operator it calls."""
    from etl4s_spark.operators.graph import k_core
    from etl4s_spark.queries import QUERIES, load_all
    from etl4s_spark.queries.analytics import _neardup_pairs

    load_all()
    got = {r.id: r.core_degree for r in QUERIES["q_graph_kcore"](spark, sf_dir).collect()}
    base = 1_000_000_000
    assert {got.get(base + i) for i in range(4)} == {3}
    organic_got = {n: d for n, d in got.items() if n < base}
    pairs = _neardup_pairs(spark, sf_dir)
    organic_want = {r.id: r.core_degree for r in k_core(pairs, k=3).collect()}
    assert organic_got == organic_want

    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    edges += [(base + i, base + j) for i in range(4) for j in range(i + 1, 4)]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while drop := {n for n in alive if len(adj[n] & alive) < 3}:
        alive -= drop
    assert got == {n: len(adj[n] & alive) for n in alive}


def test_kanonymity_counts_small_classes(spark, tmp_path):
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    # 6 rows in one class, 2 rows in another -> 1 violating class, 2 at risk
    rows = [(i, f"c{i}", 1, 500.0, "SEG_A") for i in range(6)] + [
        (10, "c10", 2, 500.0, "SEG_B"),
        (11, "c11", 2, 500.0, "SEG_B"),
    ]
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    out = QUERIES["q_audit_kanonymity"](spark, str(tmp_path)).collect()[0]
    assert out.n_classes == 2
    assert out.n_violating_classes == 1
    assert out.n_rows_at_risk == 2
    assert out.min_class_size == 2


def test_geo_nearest_matches_bruteforce(spark, sf_dir):
    """min(struct) nearest assignment equals a brute-force argmin with
    the same tie rule."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    out = {r.c_custkey: (r.nearest_suppkey, r.dist_km)
           for r in QUERIES["q_join_geo_nearest"](spark, sf_dir).collect()}
    import hashlib
    import math

    def coord(prefix, k):
        h = int(hashlib.md5(f"{prefix}{k}".encode()).hexdigest()[:8], 16)
        return h / 4294967296.0 * 1000.0

    import duckdb
    con = duckdb.connect()
    custs = [r[0] for r in con.execute(
        f"SELECT c_custkey FROM '{sf_dir}/customer.parquet'").fetchall()]
    supps = [r[0] for r in con.execute(
        f"SELECT s_suppkey FROM '{sf_dir}/supplier.parquet'").fetchall()]
    spts = [(s, coord("sx:", s), coord("sy:", s)) for s in supps]
    for c in custs:
        cx, cy = coord("cx:", c), coord("cy:", c)
        best = min(((cx - sx) ** 2 + (cy - sy) ** 2, s) for s, sx, sy in spts)
        assert out[c][0] == best[1], c
        assert abs(out[c][1] - round(math.sqrt(best[0]), 3)) < 1e-9, c


def test_busdays_closed_form(spark, tmp_path):
    """5-business-day deadline from each weekday equals a Python
    calendar walk; weekend starts roll to Monday first."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    # one order on each day of a week (Mon 2024-01-01 .. Sun 2024-01-07)
    rows = [
        (i, i, f"P{i}", 100.0, datetime.date(2024, 1, 1 + i))
        for i in range(7)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderpriority string, o_totalprice double, o_orderdate date"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    out = {r.o_orderkey: r for r in QUERIES["q_scalar_busdays"](spark, str(tmp_path)).collect()}

    def add_busdays(d, n):
        while d.weekday() >= 5:  # roll weekend starts to Monday
            d += datetime.timedelta(days=1)
        added = 0
        while added < n:
            d += datetime.timedelta(days=1)
            if d.weekday() < 5:
                added += 1
        return d

    for i in range(7):
        want = add_busdays(datetime.date(2024, 1, 1 + i), 5).isoformat()
        assert out[i].ship_by == want, (i, out[i].ship_by, want)
        # 30 calendar days always contain 20..22 weekdays
        assert 20 <= out[i].busdays_next30 <= 22


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(deadline=None, max_examples=200)
@given(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.floats(min_value=1e-3, max_value=1e4, allow_nan=False),
)
def test_grid_neighbor_lemma(x1, y1, x2, y2, r):
    """The correctness core of grid_radius_join, as pure math: any pair
    accepted by the FLOAT predicate dx²+dy² ≤ r² lands in grid cells
    (side r·(1+1e-9), the operator's inflated cell) differing by at
    most 1 per axis — so the 9-cell neighbor explode never misses a
    qualifying pair. With cell side exactly r this is FALSE: hypothesis
    found (x=1.0, x'=-2e-309, r=1), where dist² rounds onto r² but the
    cells differ by 2 — the bug the 1e-9 slack closes."""
    import math

    s = r * (1.0 + 1e-9)
    if (x1 - x2) ** 2 + (y1 - y2) ** 2 <= r * r:
        assert abs(math.floor(x1 / s) - math.floor(x2 / s)) <= 1
        assert abs(math.floor(y1 / s) - math.floor(y2 / s)) <= 1


def test_grid_radius_join_random_cloud(spark):
    """Fixed-seed random cloud: bucketed join == brute force on 300×60
    points (boundary straddles arise naturally at this density)."""
    import random

    from etl4s_spark.operators.geo import grid_radius_join

    rng = random.Random(42)
    pa = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(300)]
    pb = [(j, rng.uniform(0, 100), rng.uniform(0, 100)) for j in range(60)]
    r = 7.5
    a = spark.createDataFrame(pa, ["aid", "x", "y"])
    b = spark.createDataFrame(pb, ["bid", "bx", "by"])
    got = {
        (row.aid, row.bid)
        for row in grid_radius_join(a, b, "x", "y", "bx", "by", r).collect()
    }
    want = {
        (i, j)
        for i, x, y in pa
        for j, bx, by in pb
        if (x - bx) ** 2 + (y - by) ** 2 <= r * r
    }
    assert got == want and len(want) > 100


def test_weighted_median_random_vs_replica(spark):
    """Fixed-seed random weighted sets: the cumulative-histogram lower
    weighted median equals a sort-and-walk Python replica."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rng = random.Random(7)
    rows = [(rng.randint(0, 50), rng.randint(1, 9)) for _ in range(500)]
    df = spark.createDataFrame(rows, ["p", "w"])
    cw = df.groupBy("p").agg(F.sum("w").alias("w"))
    wo = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    cum = cw.select(
        "p",
        F.sum("w").over(wo).alias("cw"),
        F.sum("w").over(Window.partitionBy()).alias("tw"),
    )
    got = cum.agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("p")))
    ).collect()[0][0]

    total = sum(w for _, w in rows)
    acc = 0
    want = None
    for p, w in sorted(rows):
        acc += w
        if 2 * acc >= total:
            want = p
            break
    assert got == want


def test_sweepline_matches_interval_scan(spark, sf_dir):
    """Open-order count per day equals a brute-force interval-overlap
    count on a sampled set of days."""
    import datetime

    import duckdb

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    out = {r.day: r.open_orders for r in QUERIES["q_concurrency_sweepline"](spark, sf_dir).collect()}
    con = duckdb.connect()
    ivs = con.execute(
        f"""SELECT o_orderdate, ((o_orderkey % 30) + 1) AS dur
            FROM '{sf_dir}/orders.parquet'"""
    ).fetchall()
    days = sorted(out)[5:400:40]
    for day in days:
        d = datetime.date.fromisoformat(day)
        want = sum(
            1
            for od, dur in ivs
            if (od.date() if hasattr(od, "date") else od) <= d
            < (od.date() if hasattr(od, "date") else od) + datetime.timedelta(days=int(dur))
        )
        assert out[day] == want, day


def test_balanced_sample_equalizes_classes(spark, sf_dir):
    """Every label keeps exactly the minority-class count."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["q_sample_balanced"](spark, sf_dir).collect()
    counts = {r.label: r.n_kept for r in rows}
    assert len(set(counts.values())) == 1  # all equal to the floor


def test_interevent_latency_on_crafted_gaps(spark, tmp_path):
    """Gaps 10s,20s,30s per user -> exact quartiles 15/20/25 s."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    t0 = datetime.datetime(2024, 1, 1)
    offsets = [0, 10, 30, 60]  # gaps 10, 20, 30
    rows = [
        (i, t0 + datetime.timedelta(seconds=s), 1, "a", 1.0, "{}")
        for i, s in enumerate(offsets)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_interevent_latency"](spark, str(tmp_path)).collect()[0]
    assert out.n_gaps == 3
    assert (out.p25_s, out.median_s, out.p75_s, out.max_s) == (15.0, 20.0, 25.0, 30.0)


def test_time_to_convert_crafted(spark, tmp_path):
    """Two converting users (1-day and 3-day delays) and one
    view-only user -> n=2, median 2 days."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + datetime.timedelta(days=1), 1, "purchase", 1.0, "{}"),
        (2, t0, 2, "view", 1.0, "{}"),
        (3, t0 + datetime.timedelta(days=3), 2, "purchase", 1.0, "{}"),
        (4, t0, 3, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_funnel_time_to_convert"](spark, str(tmp_path)).collect()[0]
    assert out.n_converted == 2
    assert out.median_days == 2.0
    assert (out.p25_days, out.p75_days) == (1.5, 2.5)


def test_session_durations_crafted(spark, tmp_path):
    """One user, two sessions (40-min gap splits): a 10-min 2-event
    session and a single-event bounce."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    t0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + datetime.timedelta(minutes=10), 1, "click", 1.0, "{}"),
        (2, t0 + datetime.timedelta(minutes=60), 1, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_session_duration_quartiles"](spark, str(tmp_path)).collect()[0]
    assert out.n_sessions == 2 and out.n_bounces == 1
    assert out.median_min == 5.0  # durations 10 and 0 -> median 5


def test_dpp_plan_has_dynamic_pruning(spark, sf_dir):
    """The fact scan must carry a dynamicpruning expression (runtime
    partition pruning via the dim join), not read all partitions."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    df = QUERIES["q_join_dynamic_partition_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    out = {r.event_type: r.n for r in df.collect()}
    assert set(out) == {"purchase", "signup"}


def test_mannwhitney_against_scipy_free_replica(spark, tmp_path):
    """U and tie-corrected z on a crafted two-group table match an
    independent Python computation (textbook formulas, no scipy)."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    g1 = [3, 5, 5, 8]      # purchases (cents: 300,500,500,800)
    g2 = [1, 5, 9, 9, 12]  # clicks
    rows = []
    eid = 0
    for v in g1:
        rows.append((eid, datetime.datetime(2024, 1, 1), eid, "purchase", float(v), "{}")); eid += 1
    for v in g2:
        rows.append((eid, datetime.datetime(2024, 1, 1), eid, "click", float(v), "{}")); eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_stat_mannwhitney"](spark, str(tmp_path)).collect()[0]

    allv = sorted((v, "a") for v in g1) + sorted((v, "b") for v in g2)
    allv = sorted(allv)
    # average ranks with ties
    ranks = {}
    i = 0
    vals = [v for v, _ in allv]
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        r = (i + 1 + j) / 2  # average of positions i+1..j
        ranks.setdefault(vals[i], r)
        i = j
    r1 = sum(ranks[v] for v in g1)
    n1, n2 = len(g1), len(g2)
    u1 = r1 - n1 * (n1 + 1) / 2
    assert out.n1 == n1 and out.n2 == n2
    assert abs(out.u1 - u1) < 1e-9

    from collections import Counter

    n = n1 + n2
    tie = sum(c**3 - c for c in Counter(vals).values())
    var = (n1 * n2 / 12) * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2) / var**0.5
    assert abs(out.z - round(z, 4)) < 1e-9


def test_welch_t_against_replica(spark, tmp_path):
    import datetime
    import statistics

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    g1 = [10.0, 12.0, 11.0, 13.0]
    g2 = [8.0, 9.0, 7.5, 8.5, 9.5]
    rows = []
    eid = 0
    for v in g1:
        rows.append((eid, datetime.datetime(2024, 1, 1), eid, "purchase", v, "{}")); eid += 1
    for v in g2:
        rows.append((eid, datetime.datetime(2024, 1, 1), eid, "click", v, "{}")); eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_stat_welch_t"](spark, str(tmp_path)).collect()[0]
    m1, m2 = statistics.mean(g1), statistics.mean(g2)
    v1, v2 = statistics.variance(g1), statistics.variance(g2)
    t = (m1 - m2) / (v1 / len(g1) + v2 / len(g2)) ** 0.5
    assert abs(out.mean_diff - round(m1 - m2, 4)) < 1e-9
    assert abs(out.t_stat - round(t, 4)) < 1e-6


def test_ks_statistic_replica(spark, tmp_path):
    """Integer-exact KS D on crafted groups matches a Python ECDF walk."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    g1 = [1.0, 2.0, 3.0, 4.0]
    g2 = [3.0, 4.0, 5.0, 6.0, 7.0]
    rows, eid = [], 0
    for v in g1:
        rows.append((eid, datetime.datetime(2024, 1, 1), eid, "purchase", v, "{}")); eid += 1
    for v in g2:
        rows.append((eid, datetime.datetime(2024, 1, 1), eid, "click", v, "{}")); eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_stat_ks"](spark, str(tmp_path)).collect()[0]
    n1, n2 = len(g1), len(g2)
    d = max(
        abs(sum(1 for x in g1 if x <= v) * n2 - sum(1 for x in g2 if x <= v) * n1)
        for v in sorted(set(g1 + g2))
    )
    assert (out.n1, out.n2, out.d_num) == (n1, n2, d)
    assert abs(out.d_stat - round(d / (n1 * n2), 6)) < 1e-12


def test_chisq_independent_table_is_near_zero(spark, tmp_path):
    """A perfectly independent contingency table gives chi_sq == 0."""
    import datetime

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows, eid = [], 0
    # 2 types x 4 cohorts, identical counts -> exact independence
    for t in ("view", "click"):
        for cohort in range(4):
            for _ in range(10):
                rows.append(
                    (eid, datetime.datetime(2024, 1, 1), cohort, t, 1.0, "{}")
                )
                eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = QUERIES["q_stat_chisq"](spark, str(tmp_path)).collect()[0]
    assert out.n_cells == 8
    assert out.chi_sq == 0.0


def test_bm25_ranks_relevant_doc_first(spark, tmp_path):
    """A doc saturated with query terms must outrank a doc with one
    mention, which outranks a doc with none (absent from top list)."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = [
        (0, "data model system data model data", "en", "a", 30),
        (1, "the quick brown fox mentions data once", "en", "a", 30),
        (2, "nothing relevant here at all friend", "en", "a", 30),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = [r.doc_id for r in QUERIES["q_text_bm25"](spark, str(tmp_path)).collect()]
    assert out == [0, 1]  # doc 2 scores nothing and is absent


def test_minhash_checkable_catches_neardup(spark, tmp_path):
    """A doc and its one-word-edited copy must share most bands; an
    unrelated doc must propose no pair with them."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    base = " ".join(f"word{i}" for i in range(60))
    edited = base.replace("word30", "editedword")
    other = " ".join(f"zzz{i}" for i in range(60))
    rows = [(0, base, "en", "a", len(base)),
            (1, edited, "en", "a", len(edited)),
            (2, other, "en", "a", len(other))]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {(r.id_a, r.id_b): r.n_shared_bands
           for r in QUERIES["q_dedup_minhash_checkable"](spark, str(tmp_path)).collect()}
    assert (0, 1) in out and out[(0, 1)] >= 8  # most of 16 bands agree
    assert all(k == (0, 1) for k in out)


def test_embedding_lsh_checkable_proposal_is_sound(spark, sf_dir):
    """Every output pair must genuinely clear the cosine threshold
    (soundness), and identical vectors must always be proposed (identical
    sign bits -> identical band keys -> guaranteed candidate)."""
    import duckdb

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    out = QUERIES["q_dedup_embedding_lsh_checkable"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    for r in out:
        cos = con.execute(
            """SELECT list_dot_product(a.embedding, b.embedding)
                      / (sqrt(list_dot_product(a.embedding, a.embedding))
                         * sqrt(list_dot_product(b.embedding, b.embedding)))
               FROM embeddings a, embeddings b
               WHERE a.vec_id = ? AND b.vec_id = ?""",
            [r.id_a, r.id_b],
        ).fetchone()[0]
        assert cos >= 0.4 - 1e-9


def test_simhash_checkable_near_dup_distance(spark, tmp_path):
    """A near-identical doc must land within a few Hamming bits of the
    anchor; an unrelated doc must be far."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    base = " ".join(f"token{i}" for i in range(80))
    near = base.replace("token40", "changed")
    far = " ".join(f"other{i}" for i in range(80))
    rows = [(0, base, "en", "a", 1), (1, near, "en", "a", 1), (2, far, "en", "a", 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r.hamming_to_doc0
           for r in QUERIES["q_dedup_simhash_checkable"](spark, str(tmp_path)).collect()}
    assert out[0] == 0
    assert out[1] <= 12          # one word of 80 flips few vote sums
    assert out[2] >= 18          # unrelated vocab -> ~30 expected


def test_epoch_shuffle_is_bijection(spark, sf_dir):
    """Positions within an epoch must be a permutation (no collisions)
    and epochs must differ."""
    import duckdb

    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    ids = [r[0] for r in con.execute(f"SELECT doc_id FROM '{sf_dir}/documents.parquet'").fetchall()]
    for epoch in (0, 1):
        pos = {(15485863 * (i + 1000003 * epoch)) % n for i in ids}
        assert len(pos) == len(ids)  # bijection (a coprime to n)
    out = QUERIES["q_shuffle_epoch"](spark, sf_dir).collect()
    e0 = [r.doc_id for r in out if r.epoch == 0]
    e1 = [r.doc_id for r in out if r.epoch == 1]
    assert len(e0) == len(e1) == 10 and e0 != e1


def test_repeat_upsample_copy_counts(spark, sf_dir):
    """Every doc gets floor(w) guaranteed copies; the fractional extra
    lands between floor and ceil in aggregate."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = {r.source: r for r in QUERIES["q_sample_repeat_upsample"](spark, sf_dir).collect()}
    import duckdb

    con = duckdb.connect()
    counts = dict(con.execute(
        f"SELECT source, count(*) FROM '{sf_dir}/documents.parquet' GROUP BY source"
    ).fetchall())
    for src, r in rows.items():
        w = 2.5 if src == "wiki" else (1.0 if src == "github" else 0.4)
        n = counts[src]
        import math

        lo, hi = math.floor(w) * n, math.ceil(w) * n
        assert lo <= r.n_copies <= hi, (src, r.n_copies, lo, hi)


def test_ann_checkable_exact_match_ranks_first(spark, sf_dir):
    """If a query's own nearest corpus vector has very high cosine, the
    funnel must surface it at rank 1 (identical band keys guarantee
    proposal for near-identical vectors)."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    out = QUERIES["q_sim_ann_lsh_checkable"](spark, sf_dir).collect()
    assert len(out) > 0
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        ranks = [r.rank for r in sorted(rs, key=lambda r: r.rank)]
        assert ranks == list(range(1, len(ranks) + 1))
        cosines = [r.cos for r in sorted(rs, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)


def test_dsir_prefers_target_like_docs(spark, tmp_path):
    """Pool docs written in the target domain's vocabulary must outscore
    pool docs with alien vocabulary."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    tgt_text = "physics energy quantum field theory particle wave"
    alien = "recipe butter sugar flour oven bake whisk"
    rows = []
    # target corpus: src0 docs with physics vocabulary
    for i in range(10):
        rows.append((i, tgt_text, "en", "src0", 1))
    # pool: one physics-like doc, one cooking doc
    rows.append((100, tgt_text + " momentum", "en", "src9", 1))
    rows.append((101, alien, "en", "src9", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = [r.doc_id for r in QUERIES["q_sample_dsir"](spark, str(tmp_path)).collect()]
    assert out.index(100) < out.index(101)


def test_rake_extracts_multiword_keyphrase(spark, tmp_path):
    """A repeated stopword-free collocation must surface as a top
    phrase; phrases never contain stopwords."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    text = (
        "deep learning models train on the large corpus and "
        "deep learning models generalize with the large corpus"
    )
    rows = [(i, text, "en", "a", len(text)) for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = QUERIES["q_text_rake"](spark, str(tmp_path)).collect()
    phrases = [r.phrase for r in out]
    assert any("deep learning models" in p for p in phrases)
    stops = {"the", "and", "of", "is", "in", "to", "a", "with", "for", "on"}
    for p in phrases:
        assert not (set(p.split()) & stops), p


def test_knn_confusion_totals_and_diagonal(spark, sf_dir):
    """Matrix totals = number of queries; a planted identical-vector
    case must classify correctly."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["q_eval_knn_confusion"](spark, sf_dir).collect()
    assert sum(r.n for r in rows) == 50


def test_ndcg_perfect_retrieval_is_one(spark, tmp_path):
    """If every query's same-label docs dominate the ranking (identical
    vectors), mean NDCG@10 must be 1.0."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    # 20 queries and 30 corpus docs; each query's label group shares an
    # identical one-hot-ish vector, so same-label docs rank first
    def vec(lbl):
        v = [0.0] * 64
        v[lbl] = 1.0
        return v

    rows = [(i, vec(i % 4), i % 4) for i in range(50)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = QUERIES["q_eval_ndcg"](spark, str(tmp_path)).collect()[0]
    assert out.n_queries == 20
    assert out.mean_ndcg10 == 1.0


def test_auc_matches_pairwise_definition(spark, tmp_path):
    """Rank-sum AUC equals the pairwise P(score_pos > score_neg) +
    0.5 P(tie) definition on a crafted table with ties."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    pos = [10, 20, 20, 30]
    neg = [5, 20, 15]
    rows = []
    did = 0
    for s in pos:
        rows.append((did, "x", "en", "a", s)); did += 1
    for s in neg:
        rows.append((did, "x", "de", "a", s)); did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = QUERIES["q_eval_auc"](spark, str(tmp_path)).collect()[0]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert out.n_positive == 4 and out.n_negative == 3
    assert abs(out.auc - round(want, 6)) < 1e-9
