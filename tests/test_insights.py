"""Round-5 insights surface: scale-shape plan contracts plus edge-case
semantics the DuckDB oracles can't isolate (ties, empty-touch users,
single-member clusters)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from tests.test_plans import plan_str


def test_insights_plan_contracts(spark, sf_dir):
    """Scale contracts: the k-means centroid set and the basket's part
    dim must BROADCAST (never shuffle the fact side on a k-row join);
    both top-k queries must compile to TakeOrderedAndProject (no global
    sort of the aggregate output); the attribution argmin/argmax is an
    aggregation, not a ranking window."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()

    cluster = plan_str(QUERIES["q_cluster_assign"](spark, sf_dir))
    assert "Broadcast" in cluster, cluster
    assert "SortMergeJoin" not in cluster, cluster
    assert "Window" not in cluster  # min_by aggregate, not row_number

    basket = plan_str(QUERIES["q_market_basket"](spark, sf_dir))
    assert "BroadcastHashJoin" in basket, basket
    assert "TakeOrderedAndProject" in basket, basket

    bpe = plan_str(QUERIES["q_bpe_pair_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in bpe, bpe
    assert "partial_count" in bpe  # map-side combine before the pair shuffle

    touch = plan_str(QUERIES["q_attribution_touch"](spark, sf_dir))
    assert "min_by" in touch and "max_by" in touch, touch
    assert "Window" not in touch

    xcorr = plan_str(QUERIES["q_ts_cross_corr"](spark, sf_dir))
    assert "Broadcast" in xcorr  # lag table + daily table are tiny


def test_skew_profile_ranks_keys_not_rows(spark, sf_dir):
    """The Gini ranking must run over the per-key aggregate (hundreds of
    rows), never the fact table: the per-key frame is checkpointed at
    construction, so the RETURNED plan contains ZERO parquet scans of
    lineitem (the one fact scan happened in the checkpoint job) and the
    rank Window reads the materialized frame."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    plan = plan_str(QUERIES["q_skew_profile"](spark, sf_dir))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 0, tree
    assert "Window" in tree and "HashAggregate" in tree


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (eid, datetime.datetime(2024, 1, d, h, 0, 0), uid, et, 1.0, "{}")
            for eid, d, h, uid, et in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_attribution_touch_edge_semantics(spark, tmp_path):
    """A user whose conversion is their first event attributes to
    '(none)'; same-timestamp ties break on event_id (the event with the
    smaller id at the purchase instant counts as BEFORE it); a
    single-touch user gets that touch as both first and last."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    ev = _events(
        spark,
        [
            # user 1: view → click → purchase
            (1, 1, 1, 1, "view"),
            (2, 2, 1, 1, "click"),
            (3, 3, 1, 1, "purchase"),
            # user 2: purchase is the very first event
            (10, 1, 1, 2, "purchase"),
            (11, 2, 1, 2, "view"),
            # user 3: click at the SAME ts as purchase, smaller event_id
            (20, 5, 9, 3, "click"),
            (21, 5, 9, 3, "purchase"),
            # user 4: one touch only
            (30, 1, 1, 4, "signup"),
            (31, 2, 1, 4, "purchase"),
            # user 5: never converts — excluded entirely
            (40, 1, 1, 5, "view"),
        ],
    )
    d = str(tmp_path / "sf")
    ev.write.parquet(d + "/events.parquet")
    out = {
        (r.first_touch, r.last_touch): r.n_users
        for r in QUERIES["q_attribution_touch"](spark, d).collect()
    }
    assert out == {
        ("view", "click"): 1,
        ("(none)", "(none)"): 1,
        ("click", "click"): 1,
        ("signup", "signup"): 1,
    }


def test_gaps_islands_splits_on_gap(spark, tmp_path):
    """Days 1,2,3 then 5,6,7,8 → two islands; the 1-day gap splits, the
    3-day streak passes the >=3 filter, a lone day 20 does not."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    rows = [(i, d, 1, 1, "view") for i, d in enumerate([1, 2, 3, 5, 6, 7, 8, 20])]
    # duplicate events on the same day must not extend a streak
    rows.append((99, 2, 14, 1, "click"))
    d = str(tmp_path / "sf")
    _events(spark, rows).write.parquet(d + "/events.parquet")
    out = [
        (r.streak_start, r.streak_end, r.streak_days)
        for r in QUERIES["q_gaps_islands"](spark, d).collect()
    ]
    assert out == [
        ("2024-01-01", "2024-01-03", 3),
        ("2024-01-05", "2024-01-08", 4),
    ]


def test_cluster_assign_argmin_tiebreak(spark, tmp_path):
    """Equidistant vector assigns to the LOWEST centroid id — the
    (d_e6, centroid_id) struct ordering, not arrival order."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    dim = 64
    base = [0.0] * dim

    def vec(x):
        v = list(base)
        v[0] = x
        return v

    rows = [
        (0, vec(0.0), 0),   # centroid 0 at x=0
        (1, vec(2.0), 0),   # centroid 1 at x=2
        (2, vec(10.0), 0),  # centroid 2
        (3, vec(20.0), 0),  # centroid 3
        (4, vec(1.0), 0),   # exactly between centroids 0 and 1 → id 0
        (5, vec(2.1), 0),   # nearest centroid 1
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.parquet(d + "/embeddings.parquet")
    out = {
        r.centroid_id: (r.n_assigned, r.min_member, r.max_member)
        for r in QUERIES["q_cluster_assign"](spark, d).collect()
    }
    assert out[0] == (2, 0, 4)  # itself + the tie
    assert out[1] == (2, 1, 5)
    assert out[2] == (1, 2, 2)
    assert out[3] == (1, 3, 3)


def test_asof_nearest_semantics(spark):
    """nearest picks the closer side, ties go backward, one-sided rows
    fall back to whichever direction exists, and tolerance nulls both."""
    import datetime as dt

    from etl4s_spark.operators.joins import asof_join

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, t(10)), (2, t(0)), (3, t(100)), (4, t(50))],
        "id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t(7), 1.0), (1, t(13), 2.0),   # 3s both sides → tie → backward
         (2, t(5), 3.0),                     # only forward exists
         (3, t(60), 4.0),                    # only backward exists
         (4, t(48), 5.0), (4, t(51), 6.0)],  # forward closer (1s vs 2s)
        "id long, ts timestamp, value double",
    )
    out = {
        r.id: r.matched_value
        for r in asof_join(
            left, right, keys=["id"], left_ts="ts", right_ts="ts",
            right_values=["value"], direction="nearest",
        ).collect()
    }
    assert out == {1: 1.0, 2: 3.0, 3: 4.0, 4: 6.0}

    from pyspark.sql import functions as F

    tol = {
        r.id: r.matched_value
        for r in asof_join(
            left, right, keys=["id"], left_ts="ts", right_ts="ts",
            right_values=["value"], direction="nearest",
            tolerance=F.expr("INTERVAL 4 SECONDS"),
        ).collect()
    }
    assert tol == {1: 1.0, 2: None, 3: None, 4: 6.0}


def test_asof_nearest_single_shuffle(spark, sf_dir):
    """Both directional fills must share ONE hash exchange — nearest may
    not cost a second shuffle over backward."""
    from pyspark.sql import functions as F

    from etl4s_spark.operators.joins import asof_join
    from etl4s_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    l = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    r = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    plan = plan_str(
        asof_join(l, r, keys=["user_id"], left_ts="ts", right_ts="ts",
                  right_values=["value"], direction="nearest")
    )
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree


def test_asof_nearest_matches_pandas_merge_asof(spark, sf_dir):
    """Cross-validate direction='nearest' against pandas merge_asof on
    the real events slice — an independent reference implementation
    (the oracle composes DuckDB ASOFs; pandas implements nearest
    natively, ties to backward)."""
    import pandas as pd

    from etl4s_spark.operators.joins import asof_join
    from etl4s_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    left = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    got = {
        r.event_id: (r.matched_ts, r.matched_value)
        for r in asof_join(
            left, right, keys=["user_id"], left_ts="ts", right_ts="ts",
            right_values=["value"], direction="nearest",
        ).collect()
    }

    lp = left.toPandas().sort_values("ts").reset_index(drop=True)
    rp = right.toPandas().sort_values("ts").reset_index(drop=True)
    merged = pd.merge_asof(
        lp, rp, on="ts", by="user_id", direction="nearest",
        suffixes=("", "_r"),
    )
    for row in merged.itertuples():
        want = None if pd.isna(row.value) else row.value
        assert got[row.event_id][1] == want, (row.event_id, got[row.event_id], want)


def test_asof_all_directions_match_pandas_random(spark):
    """Seeded-random fuzz: all three as-of directions against pandas
    merge_asof on small generated frames (ties, duplicates, one-sided
    keys, empty overlaps) — 5 seeds × 3 directions."""
    import random

    import pandas as pd

    from etl4s_spark.operators.joins import asof_join

    for seed in range(5):
        rng = random.Random(seed)
        base = pd.Timestamp("2024-01-01")
        lrows = [
            (i, k, (base + pd.Timedelta(seconds=rng.randrange(0, 50))).to_pydatetime())
            for i, k in enumerate(rng.choices([1, 2, 3], k=8))
        ]
        rrows = [
            (k, (base + pd.Timedelta(seconds=rng.randrange(0, 50))).to_pydatetime(), float(j))
            for j, k in enumerate(rng.choices([1, 2, 4], k=8))
        ]
        left = spark.createDataFrame(lrows, "id long, k long, ts timestamp")
        right = spark.createDataFrame(rrows, "k long, ts timestamp, value double")
        lp = left.toPandas().sort_values("ts", kind="stable").reset_index(drop=True)
        rp = (
            right.toPandas()
            # pandas breaks right-side ts ties by position; the operator
            # picks the greatest payload tuple — presort so they agree
            .sort_values(["ts", "value"], kind="stable")
            .reset_index(drop=True)
        )
        for direction in ("backward", "forward", "nearest"):
            got = {
                r.id: r.matched_value
                for r in asof_join(
                    left, right, keys=["k"], left_ts="ts", right_ts="ts",
                    right_values=["value"], direction=direction,
                ).collect()
            }
            want_df = pd.merge_asof(
                lp, rp, on="ts", by="k", direction=direction, suffixes=("", "_r")
            )
            for row in want_df.itertuples():
                want = None if pd.isna(row.value) else row.value
                assert got[row.id] == want, (seed, direction, row.id, got[row.id], want)


def test_rfm_segmentation_keeps_every_customer_scored(spark, sf_dir):
    """q_rfm_segmentation's bucket join is a plain equi-join on bkt, safe
    only while recency_days and monetary_cents are never NULL (the
    invariant stated at that join). A customer whose bucket row the join
    dropped would leave the segment counts short or carry a NULL score."""
    from etl4s_spark.queries import QUERIES, load_all
    from etl4s_spark.sources.tables import load_table

    load_all()
    rows = QUERIES["q_rfm_segmentation"](spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    assert n_cust > 0
    assert sum(r.n_customers for r in rows) == n_cust
    assert not [r for r in rows if None in (r.r_score, r.f_score, r.m_score)]

