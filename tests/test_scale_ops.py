"""Operator-level tests for the round-5 second-wave builders (BFS hops,
Count-Min sketch, bitmap distinct, substring-span dedup, mixture
weights) on crafted inputs with hand-computable answers — the query
oracles cover them on the big tables; these pin the algebra."""

from __future__ import annotations

import random
import uuid

from pyspark.sql import functions as F


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


# ---------------------------------------------------------------- bfs


def test_bfs_hops_chain_and_isolated_seed(spark):
    from etl4s_spark.operators.graph import bfs_hops

    # chain 1-2-3-4-5, plus disconnected edge 8-9; seeds {1, 7}
    # (7 touches no edge at all — still reported at hops 0)
    edges = _pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)])
    seeds = spark.createDataFrame([(1,), (7,)], "id long")
    sc = spark.sparkContext
    tag = f"bfs_chain_{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        dist = bfs_hops(edges, seeds, max_hops=6)
    finally:
        sc.removeJobTag(tag)
    got = {r.id: r.hops for r in dist.collect()}
    assert got == {1: 0, 7: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # the eager checkpoints are the only actions: edges, seeds, then the
    # level and the grown dist per level, and the drained fifth level
    # (41 jobs with AQE's per-stage jobs); a count() per level adds 10
    assert len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag)) <= 41


def test_bfs_hops_respects_hop_budget_and_min_distance(spark):
    from etl4s_spark.operators.graph import bfs_hops

    # two routes to node 4: 1-2-3-4 (3 hops) and 1-4 (1 hop) -> min wins;
    # node 6 is 5 hops out and must be cut by max_hops=4
    edges = _pairs(spark, [(1, 2), (2, 3), (3, 4), (1, 4), (4, 5), (5, 10), (10, 11), (11, 6)])
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.hops for r in bfs_hops(edges, seeds, max_hops=4).collect()}
    assert got[4] == 1
    assert got[5] == 2
    assert 6 not in got  # 1-4-5-10-11-6 = 5 hops > budget
    assert max(got.values()) <= 4


# ------------------------------------------------------------- sketches


def test_cms_estimate_upper_bounds_truth_and_counters_conserve_mass(spark):
    from etl4s_spark.operators.sketches import cms_counters, cms_estimates

    rng = random.Random(7)
    keys = [rng.randrange(100) for _ in range(2000)] + [42] * 500
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    counters = cms_counters(df, "k", depth=4, width=64)
    # every depth row holds exactly N increments
    per_row = {r.j: r.total for r in counters.groupBy("j").agg(F.sum("c").alias("total")).collect()}
    assert per_row == {j: len(keys) for j in range(4)}
    truth = {r.k: r.n for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    est = cms_estimates(df.select("k").distinct(), counters, "k", depth=4, width=64)
    got = {r.k: r.est for r in est.collect()}
    assert set(got) == set(truth)
    for k, t in truth.items():
        assert got[k] >= t  # CMS never underestimates
    # the planted heavy hitter dominates the estimates too
    assert max(got, key=lambda k: (got[k], -k)) == 42


def test_bitmap_distinct_matches_count_distinct_across_boundaries(spark):
    from etl4s_spark.operators.sketches import bitmap_distinct

    rng = random.Random(11)
    # ids straddling word boundaries (0, 61, 62, 123, 124) + random mass
    rows = [("a", i) for i in (0, 61, 62, 123, 124)] + [
        (rng.choice("ab"), rng.randrange(500)) for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "g string, id long")
    got = {
        r.g: (r.n_distinct, r.n_buckets)
        for r in bitmap_distinct(df, ["g"], "id", width=62).collect()
    }
    want = {
        r.g: r.n
        for r in df.groupBy("g").agg(F.count_distinct("id").alias("n")).collect()
    }
    for g, n in want.items():
        assert got[g][0] == n
        assert got[g][1] <= (500 // 62) + 1


def test_bitmap_distinct_rejects_unsafe_width(spark):
    import pytest

    from etl4s_spark.operators.sketches import bitmap_distinct

    df = spark.createDataFrame([("a", 1)], "g string, id long")
    with pytest.raises(ValueError):
        bitmap_distinct(df, ["g"], "id", width=63)  # 1<<62 is the sign bit + 1


# ------------------------------------------------------------ substring


def test_substring_dup_spans_finds_shared_passage_at_misaligned_offsets(spark):
    from etl4s_spark.operators.dedup import substring_dup_spans

    # the docs place the shared passage at offsets 6 and 24 — different
    # phases mod any stride, the exact case fixed-stride sampling MISSES
    # (stride-10 windows at ≡1 mod 10 sample in-passage offsets ≡5 vs ≡7
    # mod 10: disjoint). Content-defined anchors sample the same
    # in-passage positions in both docs by construction.
    shared = (
        "the quick brown fox jumps over the lazy dog again and again and again"
        " while the band plays on and the caravan rolls through the night"
    )
    docs = [
        (1, "AAAA " + shared + " unique tail one " + "x" * 40),
        (2, "B" * 23 + shared + " totally different ending " + "y" * 40),
        (3, "no overlap here at all " + "z" * 60),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = substring_dup_spans(df, "doc_id", "text", window=40).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.id, []).append(r)
    # both sharers detect the passage; the unique doc reports nothing
    assert set(by_doc) == {1, 2}
    for doc_id, text in ((1, docs[0][1]), (2, docs[1][1])):
        lo = text.index(shared) + 1
        hi = lo + len(shared) - 1
        for span in by_doc[doc_id]:
            # every reported span lies inside the truly-shared region:
            # both tails start with ' ', so windows may legitimately
            # extend 1 char past the nominal passage end
            assert lo <= span.span_start <= span.span_end <= hi + 1
            assert span.span_len == span.span_end - span.span_start + 1
    # anchors are content-defined -> both docs report the same in-passage
    # spans, just shifted by their offset difference (24 - 6 = 18)
    rel = lambda doc_id: sorted(
        (s.span_start - docs[doc_id - 1][1].index(shared), s.span_len)
        for s in by_doc[doc_id]
    )
    assert rel(1) == rel(2)


def test_substring_dup_spans_merges_contiguous_hits_into_islands(spark):
    from etl4s_spark.operators.dedup import substring_dup_spans

    # two docs identical for their first 200 chars (realistic prose so
    # anchors exist), then diverging tails: hit windows must merge into
    # ONE span per doc, not one row per anchor
    common = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
        " tempor incididunt ut labore et dolore magna aliqua ut enim ad minim"
        " veniam quis nostrud exercitation ullamco laboris nisi ut aliquip"
    )
    df = spark.createDataFrame(
        [(1, common + " alpha " + "p" * 40), (2, common + " omega " + "q" * 40)],
        "doc_id long, text string",
    )
    spans = substring_dup_spans(df, "doc_id", "text", window=40).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.id, []).append(r)
    assert set(by_doc) == {1, 2}
    for doc_id in (1, 2):
        (span,) = by_doc[doc_id]  # one merged island, not per-anchor rows
        assert span.n_windows > 3
        assert span.span_end <= len(common) + 39
        assert span.span_len >= len(common) // 2


# -------------------------------------------------------------- mixture


def test_domain_mixture_weights_uniform_target(spark):
    from etl4s_spark.operators.sampling import domain_mixture_weights

    rows = (
        [("web", 100)] * 8  # 800 tokens
        + [("books", 100)] * 1  # 100
        + [("code", 100)] * 1  # 100
    )
    df = spark.createDataFrame(rows, "source string, n long")
    out = {
        r.domain: r
        for r in domain_mixture_weights(df, "source", F.col("n")).collect()
    }
    # T=1000, D=3 -> target 333.33 tokens/domain
    assert out["web"].weight < 1 < out["books"].weight
    assert out["books"].weight == out["code"].weight
    # downsampled domain plans ~T/D tokens; upsampled ones cap at frac=1
    assert out["web"].planned_tokens == 333
    assert out["books"].planned_tokens == 100
    assert out["books"].sample_frac == 1.0
    assert abs(sum(r.actual_share for r in out.values()) - 1.0) < 1e-9


def test_bitmap_merge_fn_is_idempotent_and_order_insensitive(spark):
    """The streaming state algebra behind q_stream_bitmap_distinct_replay:
    OR-merged word state equals the one-shot aggregate, survives
    DUPLICATE batch delivery unchanged (idempotence — the at-least-once
    safety property), and is insensitive to batch order."""
    from etl4s_spark.operators.sketches import bitmap_counts, bitmap_words
    from etl4s_spark.queries.streaming_batch import _bitmap_merge_fn

    rows = [("click", i % 97) for i in range(400)] + [
        ("buy", (i * 7) % 150) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    b1, b2 = df.filter("user_id % 2 = 0"), df.filter("user_id % 2 = 1")

    def counts(words):
        return {
            r.event_type: (r.n_distinct, r.n_buckets)
            for r in bitmap_counts(words, ["event_type"]).collect()
        }

    oneshot = counts(bitmap_words(df, ["event_type"], "user_id", 62))
    merged = counts(_bitmap_merge_fn(_bitmap_merge_fn(None, b1), b2))
    reordered = counts(_bitmap_merge_fn(_bitmap_merge_fn(None, b2), b1))
    duplicated = counts(
        _bitmap_merge_fn(_bitmap_merge_fn(_bitmap_merge_fn(None, b1), b2), b2)
    )
    assert merged == oneshot
    assert reordered == oneshot
    assert duplicated == oneshot  # re-delivered batch cannot drift the count


def test_substring_dup_spans_invariants_on_real_corpus(spark, sf_dir):
    """Structural invariants on the real documents table: spans are
    well-formed, at least window-wide, disjoint per doc with gaps > 1
    (adjacent/overlapping hits must have merged), and every span's
    window count fits its extent."""
    from etl4s_spark.operators.dedup import substring_dup_spans

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spans = substring_dup_spans(d, "doc_id", "text", window=40).collect()
    assert spans, "corpus has known duplicates; detector found none"
    by_doc = {}
    for r in spans:
        assert r.span_len == r.span_end - r.span_start + 1
        assert r.span_len >= 40
        assert r.n_windows >= 1
        # n_windows anchors all lie inside the span
        assert r.n_windows <= r.span_len
        by_doc.setdefault(r.id, []).append((r.span_start, r.span_end))
    for doc_id, ss in by_doc.items():
        ss.sort()
        for (s1, e1), (s2, e2) in zip(ss, ss[1:]):
            assert s2 > e1 + 1, f"doc {doc_id}: unmerged adjacent spans"


# ------------------------------------------- transformWithState algebra


class _StubValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _StubMapState:
    def __init__(self):
        self._m = {}

    def containsKey(self, k):
        return k in self._m

    def getValue(self, k):
        return self._m[k]

    def updateValue(self, k, v):
        self._m[k] = v

    def iterator(self):
        return iter(self._m.items())


class _StubHandle:
    def getValueState(self, name, schema, ttlDurationMs=None):
        return _StubValueState()

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return _StubMapState()


def test_tws_profile_processor_converges_to_batch_aggregate():
    """The transformWithStateInPandas processor's STATE ALGEBRA (the
    custom logic; the protocol itself is environment-gated — protobuf
    absent, see SURVEY engine-API-only list): feeding micro-batches
    through ValueState+MapState must converge to the one-shot batch
    aggregate regardless of how rows are split into batches, and the
    modal event type must tie-break lexicographically."""
    import pandas as pd

    from etl4s_spark.streaming.core import TwsProfileProcessor

    rows = (
        [("click", 10)] * 5
        + [("view", 7)] * 5  # tie with click on count -> 'click' wins lexically
        + [("error", 1)] * 3
    )
    pdf = pd.DataFrame(rows, columns=["event_type", "value_micros"])

    def run(batch_sizes):
        p = TwsProfileProcessor("user_id", "event_type", "value_micros")
        p.init(_StubHandle())
        out, start = None, 0
        for bs in batch_sizes:
            chunk = pdf.iloc[start : start + bs]
            start += bs
            (out,) = list(p.handleInputRows((42,), iter([chunk])))
        return out.iloc[0]

    for split in ([13], [1] * 13, [4, 4, 5], [12, 1]):
        r = run(split)
        assert r["n_events"] == 13
        assert r["total_micros"] == 5 * 10 + 5 * 7 + 3 * 1
        assert r["n_types"] == 3
        assert r["top_type"] == "click"  # 5-5 tie -> lexicographic min


def test_tws_wiring_raises_clearly_without_protobuf(spark):
    import pytest

    from etl4s_spark.streaming.core import tws_profile_agg

    df = spark.createDataFrame(
        [(1, "a", 1.0)], "user_id long, event_type string, value_micros double"
    )
    try:
        import google.protobuf  # noqa: F401

        pytest.skip("protobuf present: wiring would genuinely run")
    except ImportError:
        pass
    with pytest.raises(RuntimeError, match="protobuf"):
        tws_profile_agg(df, "user_id", "event_type", "value_micros")


# ------------------------------------------------------------------ bpe


def _ref_bpe_apply(word, merges):
    toks = list(word)
    for x, y in merges:
        out = []
        for t in toks:
            if out and out[-1] == x and t == y:
                out[-1] = x + y
            else:
                out.append(t)
        toks = out
    return toks


def _ref_bpe_learn(word_freqs, n_merges):
    merges = []
    toks = {w: list(w) for w in word_freqs}
    for _ in range(n_merges):
        counts = {}
        for w, f in word_freqs.items():
            t = toks[w]
            for a, b in zip(t, t[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (x, y) = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merges.append((x, y))
        for w in toks:
            toks[w] = _ref_bpe_apply_one(toks[w], x, y)
    return merges


def _ref_bpe_apply_one(t, x, y):
    out = []
    for tok in t:
        if out and out[-1] == x and tok == y:
            out[-1] = x + y
        else:
            out.append(tok)
    return out


def test_bpe_learn_matches_reference_trainer(spark):
    """The distributed BPE trainer (one Spark job per merge round,
    frequency-weighted pair counts over the distinct-word frame) must
    pick EXACTLY the merges a reference in-memory trainer picks,
    including the deterministic (count DESC, x, y) tie-break."""
    from etl4s_spark.operators.text import bpe_learn

    corpus = [
        "the theme thereof",
        "then the thin theme",
        "and another thing",
        "banana bandana and",
    ]
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = bpe_learn(df, "text", n_merges=5)

    freqs = {}
    for line in corpus:
        for w in line.split():
            freqs[w] = freqs.get(w, 0) + 1
    want = _ref_bpe_learn(freqs, 5)
    assert got == want


def test_bpe_learn_batched_rounds_match_sequential_reference(spark):
    """VERDICT r6 item 4: the trainer accepts up to batch_size merges
    per collect round (prefix rule — mutually disjoint, strictly above
    the interference bound), so the driver loop is O(ceil(n/m)) jobs.
    The batch must replay sequential BPE EXACTLY, merge for merge, for
    every batch size — including on corpora built to stress the rule:
    overlapping pairs (ababab: merging (a,b) destroys (b,a)
    occurrences), heavy count ties, and chained merges whose best pair
    involves a previous round's new symbol."""
    from etl4s_spark.operators.text import bpe_learn

    corpora = {
        "prose": [
            "the theme thereof then the thin theme",
            "and another thing entirely there",
            "banana bandana and an anthem",
            "thesis theory the thirty three",
        ],
        "overlap": ["ababab ababab abab", "babab ababa bab", "aaaa bbbb abab"],
        "ties": ["ab cd ab cd", "ef gh ef gh", "ij kl ij kl", "ab cd ef gh ij kl"],
        "chain": ["aaaaaaaa aaaa aa", "aaab aab ab", "baaa baa ba"],
    }
    for tag, corpus in corpora.items():
        freqs: dict[str, int] = {}
        for line in corpus:
            for w in line.split():
                freqs[w] = freqs.get(w, 0) + 1
        want = _ref_bpe_learn(freqs, 12)
        df = spark.createDataFrame([(t,) for t in corpus], "text string")
        for bs in (1, 3, 8, 16):
            got = bpe_learn(df, "text", n_merges=12, batch_size=bs)
            assert got == want, f"{tag}: batch_size={bs}\n got {got}\nwant {want}"


def test_bpe_apply_matches_reference_on_vocab(spark):
    from etl4s_spark.operators.text import BPE_MERGES_DEMO, bpe_apply

    vocab = ["the", "then", "and", "thin", "error", "onion", "rethink", "a",
             "thereandback", "inin", "ananas"]
    df = spark.createDataFrame([(w,) for w in vocab], "w string")
    got = {r.w: (list(r.tokens), r.n_tokens) for r in bpe_apply(df, "w").collect()}
    for w in vocab:
        ref = _ref_bpe_apply(w, BPE_MERGES_DEMO)
        assert got[w] == (ref, len(ref)), w
