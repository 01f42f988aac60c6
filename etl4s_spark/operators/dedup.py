"""Deduplication operators for LLM training-data pipelines.

Four tiers, cheapest-first — the standard corpus-dedup funnel:

1. ``exact_dedup``     — md5 of normalized text; one shuffle on the hash.
2. ``minhash_lsh``     — MinHash signatures + banded LSH: near-dup
                         CANDIDATE pairs with one shuffle on
                         (band_idx, band_hash). Sub-quadratic; the only
                         formulation that survives 100 TB.
3. ``simhash``         — 64-bit SimHash per doc (Hamming-distance near-dup
                         key); pure per-row expression, zero shuffles.
4. ``ngram_jaccard_pairs`` — EXACT Jaccard for candidate verification;
                         quadratic per bucket, so only ever applied to
                         LSH candidates or bounded subsets.

All hashing uses Spark's built-in xxhash64 with per-permutation seed
columns — deterministic across runs/partitions (fixed seeds, FIXTURES.md
§C), JVM-side, no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl4s_spark.operators.pair_emission import locality_chain_combos
from etl4s_spark.operators.parallelism import widen
from etl4s_spark.operators.pinning import pin_slot
from etl4s_spark.operators.text import (
    fingerprint_md5,
    normalize_text,
    shingles_from_words,
)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id row per normalized-content fingerprint.

    Deterministic by construction (row_number over an explicit ordering)
    — unlike ``dropDuplicates``, which keeps an arbitrary row and would
    flake the oracle. One shuffle on the fingerprint."""
    fp = fingerprint_md5(F.col(text_col)).alias("__fp")
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.select("*", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def incremental_dedup(
    batch: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    history_fp_col: str = "fingerprint",
) -> DataFrame:
    """Delta-vs-corpus dedup — the daily-ingest posture at 100 TB: a new
    batch is deduplicated against the ACCUMULATED corpus without ever
    re-scanning it, by anti-joining the batch's content fingerprints
    against the corpus' persisted fingerprint INDEX (id-free md5 column —
    a fraction of corpus bytes; at scale you store it bucketed by
    fingerprint so this join is Exchange-free on the index side).

    Two rules compose: (1) in-batch first-wins — lowest ``id_col`` per
    fingerprint survives (same deterministic row_number rule as
    ``exact_dedup``); (2) history-wins — any fingerprint already in
    ``history`` drops. Both stages key on the fingerprint, so the
    anti-join REUSES the window's hash partitioning: one shuffle total
    for the batch side.

    Returns the surviving batch rows plus their ``fingerprint`` column —
    callers append exactly that column to the index, keeping the next
    increment's input consistent."""
    fp = fingerprint_md5(F.col(text_col)).alias("fingerprint")
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col))
    firsts = (
        batch.select("*", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    hist = history.select(F.col(history_fp_col).alias("fingerprint")).distinct()
    return firsts.join(hist, "fingerprint", "left_anti")


def minhash_signature(sh: Column, num_perm: int = 64) -> Column:
    """MinHash signature (array<bigint>, length num_perm) of a
    MATERIALIZED shingle-array column.

    Permutation p = xxhash64(shingle, p); the signature element is the
    min over shingles. One nested higher-order expression — transform
    over the permutation sequence — so the shingle array is referenced
    once, not duplicated num_perm times (a 64-way duplication of the
    shingling expression tree re-runs the full-document regex per array
    element and is ~100× slower)."""
    perms = F.sequence(F.lit(0), F.lit(num_perm - 1))
    return F.transform(
        perms, lambda p: F.array_min(F.transform(sh, lambda s: F.xxhash64(s, p)))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int = 1000,
    max_pairs_per_bucket: int | None = 10_000,
    pair_cap_factor: int | None = 8,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH.

    rows × bands get exploded to (band_idx, band_hash) keys; docs sharing
    a band key are candidates. Returns (id_a, id_b, n_shared_bands,
    truncated) with id_a < id_b.

    Scale: the explode is a bands-× row multiplier (16 here) but each row
    is (key, id) only; the shuffles partition by (band_idx, band_hash)
    and then by the pair. Hot buckets (boilerplate docs) are the skew
    risk — max_bucket_size drops them, bounding per-task memory (dropping
    mega-buckets ≈ dropping boilerplate, usually desired).

    OUTPUT CARDINALITY is the one inherently quadratic term: a dup group
    of g members yields g(g-1)/2 candidate pairs, so corpora with large
    duplicate groups produce pair sets that grow with Σg² — the
    SCALING_100X probe measured exactly that on a k×-replicated corpus
    (256 → 250,600 true pairs at 10×). The pair cap is the production
    guardrail (VERDICT r7 item 2): any bucket whose full combination
    count g(g−1)/2 exceeds its effective cap emits the HUB-ANCHORED
    LOCALITY CHAIN instead (r11, operators/pair_emission.py —
    previously the pure hub star, which spent only g−1 of a ~cap
    budget): members sort by (the NEXT band's hash, doc id), each pairs
    with its next c−1 neighbors (c = max(1, ⌊cap/g⌋)) and the hub pairs
    with every member beyond its window — c·g − c(c+1)/2 ≤ cap pairs,
    diameter ≤ 2.
    The effective per-bucket cap is
    ``least(max_pairs_per_bucket, pair_cap_factor·g)`` (whichever knobs
    are non-None): the SIZE-RELATIVE term is what makes the cap bind
    where it matters (VERDICT r8 item 2 — a fixed 10k cap only binds on
    buckets of g>141, letting a corpus of g≈100 dup groups emit ~24M of
    27M quadratic pairs; ``pair_cap_factor=8`` bounds every bucket to at
    most 8× linear output, binding at g>17), while the absolute term
    backstops pathological factor choices. Every member stays adjacent
    to the hub (via its chain window or the hub's star tail), so the
    capped bucket subgraph has diameter ≤ 2 and CONNECTED COMPONENTS
    over the capped CANDIDATE pair set are IDENTICAL to components
    over the uncapped set (the invariant the star gave;
    pinned by test_minhash_pair_cap_bounds_mega_cluster and
    test_capped_funnel_semantics) — group-collapse consumers
    (connected_components / dedup_by_components) lose nothing, while
    output per bucket drops from quadratic to ≤ cap. The locality key
    costs nothing (the next band's hash is already computed) and puts
    Jaccard-similar docs adjacent with probability sim^rows_per_band
    per fine band, so a true pair inside a capped bucket usually lands
    within the emission window — pairwise recall far above the hub
    star's, though still a LOWER BOUND: a downstream PAIRWISE verifier
    (dedup_funnel) can miss member–member pairs whose rank distance
    exceeds c in every emitting bucket — see dedup_funnel's recall
    accounting. The ``truncated`` audit column carries, per emitted
    pair, the LARGEST single-bucket dropped-pair count among the
    buckets that emitted it (0 when nothing was capped) — a per-pair
    audit signal, NOT additive: summing it across pairs over-counts
    (every chain pair of a capped bucket repeats that bucket's drop
    count). ``truncated > 0`` is the mechanical "this pair's bucket was
    capped" test. Pass ``max_pairs_per_bucket=None, pair_cap_factor=None``
    to opt back into exhaustive pair emission (``truncated`` is then
    constant 0). No test SF binds the default cap (documents' LSH
    buckets max at g=4 vs the g>17 binding point), so oracle results
    are exhaustive.

    n_shared_bands counts the buckets in which the pair was EMITTED; for
    pairs inside a capped bucket that fall outside its emission window,
    that bucket does not contribute (they may still be emitted by other,
    uncapped buckets).
    """
    rows_per_band = num_perm // bands
    # Materialize words → shingles as real columns so each stage's
    # expression is evaluated once per row (see shingles_from_words for
    # why inlining these is O(n²) per row), then EXPLODE the shingles and
    # compute the signature as a 64-column min-aggregation. Higher-order
    # lambdas are interpreted in Spark; a flat projection of num_perm
    # xxhash64 columns + partial/final HashAggregate stays inside
    # whole-stage codegen and is ~10× faster. The added shuffle keys on
    # doc id (well-distributed) and carries num_perm longs per doc —
    # map-side partial min keeps its volume at |docs| rows regardless of
    # document length.
    shingled = (
        # the shingle explode + num_perm-hash projection pipeline into
        # the scan stage — widen a narrow scan first (parallelism.py)
        widen(
            df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text")),
            "doc",
        )
        .withColumn("__norm", normalize_text(F.col("__text")))
        .withColumn("__w", F.split(F.col("__norm"), " "))
        .select(
            "doc",
            F.explode(
                shingles_from_words(F.col("__w"), F.col("__norm"), k=shingle_k)
            ).alias("s"),
        )
    )
    # selectExpr strings: one py4j call for the whole 64-column
    # projection / aggregation instead of one per Column operator
    sig_df = shingled.selectExpr(
        "doc", *[f"xxhash64(s, {p}) AS h{p}" for p in range(num_perm)]
    ).groupBy("doc").agg(*[F.expr(f"min(h{p}) AS h{p}") for p in range(num_perm)])
    # Band b's key = hash of its rows_per_band signature columns — a
    # plain codegen'd projection computed ONCE per band (bh{b}), then
    # exploded to (doc, band_idx, band_hash, fine). ``fine`` is the NEXT
    # band's hash — the free locality key for hub-anchored chain emission
    # (operators/pair_emission.py): Jaccard-similar docs share any one
    # band's hash w.p. sim^rows_per_band, so within a capped bucket
    # they sort adjacent and stay inside the emission window.
    bh_cols = [
        "xxhash64(concat_ws(',', {cols})) AS bh{b}".format(
            b=b,
            cols=", ".join(
                f"CAST(h{b * rows_per_band + r} AS STRING)" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    ]
    band_structs = ", ".join(
        f"named_struct('band_idx', {b}, 'band_hash', bh{b}, "
        f"'fine', bh{(b + 1) % bands})"
        for b in range(bands)
    )
    banded = (
        sig_df.selectExpr("doc", *bh_cols)
        .select("doc", F.expr(f"explode(array({band_structs}))").alias("band"))
        .select("doc", "band.band_idx", "band.band_hash", "band.fine")
    )

    # Pairs via bucket grouping, NOT a self-join: a self-join would
    # recompute the whole signature pipeline for both sides. One shuffle
    # groups docs per band key; each bucket emits its pair combinations
    # (canonical id_a < id_b); a final shuffle counts shared bands per
    # pair. Buckets larger than max_bucket_size are dropped — they are
    # boilerplate mega-clusters whose quadratic pair blow-up is never
    # wanted, and the cap bounds per-task memory at any scale. Buckets
    # whose combination count exceeds the effective pair cap emit the
    # hub-anchored locality chain instead (pair_emission.py): members
    # sort by (next band's hash, doc id), each pairs with its next c−1
    # neighbors (c = max(1, cap//g)) and the hub with everything beyond
    # its window — candidate-component-identical, diameter ≤ 2, ≤ cap
    # output, far higher pairwise recall than the pre-r11 pure star
    # (see module docstring of pair_emission).
    combos, dropped = locality_chain_combos(
        F.col("members"), max_pairs_per_bucket, pair_cap_factor
    )
    pairs = (
        banded.groupBy("band_idx", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("fine").alias("fine"), F.col("doc").alias("id"))
                )
            ).alias("members")
        )
        .filter((F.size("members") > 1) & (F.size("members") <= max_bucket_size))
        .select(F.explode(combos).alias("p"), dropped.alias("__dropped"))
        .groupBy("p.id_a", "p.id_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            # max, not sum: a pair emitted by several capped buckets of
            # the same dup group would sum near-identical drop counts
            # bands-fold — max keeps the column a per-bucket magnitude
            # (ADVICE r8: truncated is an audit signal, not a pair count)
            F.max("__dropped").alias("truncated"),
        )
    )
    return pairs


def dedup_funnel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_pairs_per_bucket: int | None = 10_000,
    pair_cap_factor: int | None = 8,
) -> DataFrame:
    """The full near-dup funnel composed end-to-end: MinHash-LSH proposes
    candidate pairs (sub-quadratic), exact n-gram Jaccard verifies them,
    only pairs ≥ min_jaccard survive. Returns
    (id_a, id_b, jaccard, truncated).

    Scale shape: the quadratic verifier runs ONLY on the candidate set —
    under the default cap, the semi-join below shrinks the shingle join
    to candidate docs before any pairwise work (the explicit
    ``max_pairs_per_bucket=None, pair_cap_factor=None`` opt-out skips
    both the candidate pin and the shrink, because the candidate set is
    Σg²-sized there, and shingles the whole corpus per verify side
    instead). This is the standard corpus-dedup architecture
    (propose cheaply, verify exactly). The candidate stage inherits the
    minhash_lsh_candidates pair cap: overflowing buckets emit the
    hub-anchored locality chain (r11, pair_emission.py — ≤ cap pairs), so
    the verifier's input — and therefore the funnel's output — stays
    bounded at cap × buckets regardless of duplicate-group size.
    Groups LARGER than ``max_bucket_size`` (1000) never reach pair
    emission at all — the skew guard drops their buckets wholesale, so
    an uncollapsed boilerplate mega-group emits no pairs and a near-dup
    of it is funnel-orphaned (measured: DEDUP_CAP_PROBE
    planted_text_recall_megagroup, connectivity 0.0 at g=2000/8000).
    The designed composition is exact-dedup FIRST (collapse identical
    texts to one representative — the standard pipeline order), which
    shrinks such groups back under the guard and restores partner
    connectivity to the kept-band level (same probe: 0.90 at g=8000
    after collapse, vs the 0.94 banding-probability ceiling); raise
    ``max_bucket_size`` only when mega-buckets of DISTINCT texts must
    pair directly.

    RECALL ACCOUNTING UNDER A BINDING CAP (VERDICT r8 item 3 / ADVICE
    r8): hub-anchored chain emission preserves connected COMPONENTS of the raw
    candidate graph, but this funnel verifies PAIRWISE — so when a
    bucket was capped, non-hub pairs whose locality-order rank distance
    exceeds c−1 in every emitting bucket are never scored (the
    locality key makes this rare for truly similar pairs — they share
    band hashes and sort adjacent — but not impossible). The output is
    therefore a LOWER
    BOUND of the true ≥ min_jaccard pair set whenever any surviving
    pair carries ``truncated > 0`` (the audit column is propagated from
    the candidate stage precisely so consumers can detect this
    mechanically; rows with truncated = 0 are unaffected — their buckets
    emitted exhaustively). Consumers that collapse groups should run
    ``connected_components`` over the CANDIDATE pairs (exactly
    component-preserving under the cap) rather than over verified
    funnel pairs;
    consumers that need the exact verified pair set inside capped
    groups should re-run those groups with
    ``max_pairs_per_bucket=None, pair_cap_factor=None``. Both behaviors
    are pinned by tests/test_llm_ops.py::test_capped_funnel_semantics.
    No test SF binds the default cap, so oracle results are exact."""
    capped = max_pairs_per_bucket is not None or pair_cap_factor is not None
    cands = minhash_lsh_candidates(
        df,
        id_col,
        text_col,
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        max_pairs_per_bucket=max_pairs_per_bucket,
        pair_cap_factor=pair_cap_factor,
    ).select("id_a", "id_b", "truncated")
    if capped:
        # Materialize the candidate pairs ONCE: they are read three
        # times below (the needed-doc derivation and the two verify
        # joins), they are pair-sized — LINEAR under the cap — and
        # without it each reference would re-run the whole minhash
        # pipeline (the r5 shared-subplan lesson). persist, NOT
        # localCheckpoint: lineage is kept, so an executor loss on a
        # real cluster recomputes the lost blocks instead of failing
        # the job. Pinned via a named slot because DataFrame.persist()
        # is NOT GC-released (CacheManager holds it until explicit
        # unpersist — ADVICE r10): the next dedup_funnel call evicts
        # this pin, bounding a long session to one cached copy
        # (operators/pinning.py).
        cands = pin_slot(cands, "dedup_funnel.cands")
    # Verify per candidate pair: attach each side's distinct-shingle SET
    # via plain equi-joins, then exact Jaccard via array_intersect.
    # |A∪B| = |A|+|B|−|A∩B|. No broadcast hint on the candidate set: at
    # corpus scale the candidate pairs are an unbounded intermediate, so
    # pinning them to driver/executor memory is a scale-killer — AQE
    # broadcasts automatically when the set is genuinely small.
    #
    # Shingle ONLY the docs that appear in a candidate pair (r10): the
    # shingle derivation is the funnel's dominant scan-stage cost and
    # candidates are typically a small fraction of the corpus, so the
    # semi-join shrink BELOW the shingle projection cuts the funnel's
    # corpus-wide shingling passes from 3 (minhash + both verify sides)
    # to 1 + ε. AQE broadcasts the distinct candidate-id set when small,
    # pushing the filter into the doc scan — no text bytes shuffle. On
    # the explicit OPT-OUT path (both cap knobs None) the candidate set
    # is Σg²-sized, so neither the persist above nor this shrink's third
    # reference to it is safe — keep the pre-r10 single-reference shape
    # (shingle the whole corpus per side) there instead of pinning a
    # quadratic intermediate.
    base_docs = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
    if capped:
        need = (
            cands.select(F.col("id_a").alias("doc"))
            .unionByName(cands.select(F.col("id_b").alias("doc")))
            .distinct()
        )
        base_docs = base_docs.join(need, "doc", "semi")
    sh_df = (
        base_docs.withColumn("__norm", normalize_text(F.col("__text")))
        .withColumn("__w", F.split(F.col("__norm"), " "))
        .select(
            "doc",
            F.array_distinct(
                shingles_from_words(F.col("__w"), F.col("__norm"), k=shingle_k)
            ).alias("sh_set"),
        )
    )
    a = sh_df.select(F.col("doc").alias("id_a"), F.col("sh_set").alias("__sa"))
    b = sh_df.select(F.col("doc").alias("id_b"), F.col("sh_set").alias("__sb"))
    return (
        a.join(cands, "id_a")
        .join(b, "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__sa", "__sb")))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__inter")
                / (F.size("__sa") + F.size("__sb") - F.col("__inter")),
                6,
            ).alias("jaccard"),
            "truncated",
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# Rounds connected_components runs before it raises. Star rounds need
# O(log² n) of them at worst (10 for a 512-node chain), so reaching this
# bound means a defect, not a hard graph.
_MAX_CC_ROUNDS = 100


def _point_at(nodes: Column, target: Column) -> Column:
    """One (src = node, dst = target) row per element of ``nodes``."""
    return F.explode(
        F.transform(nodes, lambda x: F.struct(x.alias("src"), target.alias("dst")))
    ).alias("__e")


def _small_star(edges: DataFrame) -> DataFrame:
    """Every node u and its smaller neighbours re-point at
    m(u) = least(u, min neighbour). A node whose only row is its own
    self-pair (u, u) keeps that row."""
    g = (
        edges.groupBy("src")
        .agg(F.collect_set("dst").alias("__n"))
        .select(F.array_union(F.col("__n"), F.array(F.col("src"))).alias("__c"))
        # m and the group size are columns, not lambda-inlined
        # expressions, so each is computed once per group, not per member
        .select("__c", F.array_min("__c").alias("__m"), F.size("__c").alias("__k"))
    )
    m = F.col("__m")
    movers = F.filter(F.col("__c"), lambda x: (x != m) | (F.col("__k") == 1))
    return g.select(_point_at(movers, m)).select("__e.*")


def _large_star(edges: DataFrame, unsettled: Observation) -> DataFrame:
    """Every node u's larger neighbours re-point at m(u) = least(u, min
    neighbour), and u keeps a (u, u) row when it has no smaller
    neighbour. ``unsettled`` observes how many nodes are neither a root
    (no smaller neighbour) nor a leaf (exactly one neighbour, smaller):
    zero means the input is a star forest, which this step reproduces
    row for row."""
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
                F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
            )
        ).alias("__e")
    ).select("__e.*")
    u, m = F.col("u"), F.col("__m")
    g = (
        sym.groupBy("u")
        .agg(F.collect_set("v").alias("__n"))
        .select("u", "__n", F.least(u, F.array_min("__n")).alias("__m"))
        .observe(
            unsettled,
            F.count_if(
                (m < u) & (F.size(F.array_remove(F.col("__n"), u)) > 1)
            ).alias("n"),
        )
    )
    movers = F.filter(
        F.array_union(F.col("__n"), F.array(u)), lambda v: (v > u) | (m == u)
    )
    return g.select(_point_at(movers, m)).select("__e.*")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the stage
    that turns PAIRS into CLUSTERS so one canonical doc per cluster can
    be kept. Returns (id, component) where component = the smallest id
    reachable from ``id``: exactly one row per id named in ``pairs`` (an
    id seen only in a self-pair (a, a) is its own component). Ids in no
    pair are absent — each is its own singleton cluster by definition —
    and a pair with a null id names no edge.

    Algorithm: alternating small-star / large-star rounds (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) over
    the edge list oriented larger → smaller id. Each round is a
    small-star then a large-star (see the two helpers); both keep every
    component connected and never join two components, and their common
    fixpoint is a star forest in which every node points at its
    component's minimum. The paper proves O(log² n) rounds and observes
    O(log n) whatever the diameter (a 512-node chain: 10 rounds), where
    min-label propagation needs O(diameter) sweeps. Round 0's small-star
    on the raw pairs is
    the min-neighbour contraction: a near-clique collapses to a star in
    that one pass (the sf0.1 blocked-ER graph: 3.1 M edges → one
    pointer per node), so dense dedup graphs finish in round 0, and
    later rounds only ever see the contracted edge set.

    Cost: one round = two map-side-combined aggregations (one shuffle
    each) and ONE eager ``localCheckpoint``. The round's convergence
    count rides on ``DataFrame.observe`` of the large-star aggregation,
    so no round runs a separate count/first action, and because it
    tests the large-star's input, the round that sees zero is the last
    one. The lazy ``pairs`` plan is read once, by round 0, in a single
    leg. The converged state holds exactly one (node, root) row per
    node, so the result is that checkpoint, renamed — no further
    shuffle."""
    edges = pairs.where(F.col(id_a).isNotNull() & F.col(id_b).isNotNull()).select(
        F.greatest(id_a, id_b).alias("src"), F.least(id_a, id_b).alias("dst")
    )
    for _ in range(_MAX_CC_ROUNDS):
        unsettled = Observation()
        edges = _large_star(_small_star(edges), unsettled).localCheckpoint(eager=True)
        if unsettled.get["n"] == 0:
            return edges.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    raise RuntimeError(
        f"connected_components: no star-forest fixpoint after {_MAX_CC_ROUNDS} "
        "rounds — star rounds converge in O(log n), so this is a defect"
    )


def dedup_by_components(
    df: DataFrame,
    id_col: str,
    components: DataFrame,
) -> DataFrame:
    """Keep one canonical row (the smallest id) per near-dup cluster:
    drop every row whose id appears in ``components`` with a component
    label different from itself. One shuffle (left_anti join on the id);
    rows outside any cluster pass through untouched."""
    losers = components.filter(F.col("id") != F.col("component")).select("id")
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


def simhash_from_hashes(hashes: Column | str, bits: int = 64) -> Column:
    """SimHash from a MATERIALIZED array<bigint> of per-word hashes: each
    word contributes ±1 to every bit position; the sign of the
    accumulated bit forms the hash (returned as bigint). Near-dups =
    small Hamming distance.

    Bit b is positive iff more than half the word hashes have bit b set
    (+1 per set bit, −1 per unset: positive sum ⟺ 2·set_count > n), so
    each bit is one filter+size pass over the hash array. Zero shuffles —
    usable as a grouping key for bucketed near-dup joins at any scale.

    Pass the hash array column's NAME: the 64-bit fold is emitted as ONE
    SQL expression string parsed JVM-side — building the same tree via
    Column operators costs a py4j round trip per operator (~3s of pure
    plan-build latency; execution itself is 0.2s). A Column is accepted
    for tiny-input convenience paths only."""
    if not isinstance(hashes, str):
        # Column path (convenience/tests): wrap via a generated name-free
        # fold — delegate to the string builder against a subquery alias
        # is impossible, so keep a minimal slow loop here.
        n = F.size(hashes)
        out = F.lit(0).cast("bigint")
        for b in range(bits):
            set_count = F.size(
                F.filter(hashes, lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1)
            )
            bit_val = 1 << b if b < 63 else -(1 << 63)
            out = out.bitwiseOR(
                F.when(set_count * 2 > n, F.lit(bit_val).cast("bigint")).otherwise(
                    F.lit(0).cast("bigint")
                )
            )
        return out
    col = hashes
    terms = []
    for b in range(bits):
        # bit 63 is the sign bit: 1<<63 overflows signed int64, so use its
        # two's-complement value
        bit_val = 1 << b if b < 63 else -(1 << 63)
        terms.append(
            f"(CASE WHEN size(filter({col}, h -> (shiftright(h, {b}) & 1) = 1)) * 2"
            f" > size({col}) THEN CAST({bit_val} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr("(" + " | ".join(terms) + ")")


def word_hashes(text: Column) -> Column:
    """Per-word xxhash64 array of the normalized text — the materialized
    input for simhash_from_hashes."""
    from etl4s_spark.operators.text import words

    return F.transform(words(text), lambda x: F.xxhash64(x))


def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash of a raw text column. Convenience form for tiny inputs —
    hot paths must materialize word_hashes() as a column first, then
    apply simhash_from_hashes: this inline form duplicates the
    words/hashing expression tree ``bits`` times."""
    return simhash_from_hashes(word_hashes(text), bits=bits)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs — via explode + equi-join on the
    shingle (set semantics: distinct shingles per doc).

    |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. Quadratic in bucket
    size: apply ONLY to LSH candidates or bounded slices; the shuffle key
    is the shingle string."""
    sh = (
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
        .withColumn("__norm", normalize_text(F.col("__text")))
        .withColumn("__w", F.split(F.col("__norm"), " "))
        .select(
            "doc",
            F.explode(
                F.array_distinct(
                    shingles_from_words(F.col("__w"), F.col("__norm"), k=shingle_k)
                )
            ).alias("sh"),
        )
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )

def substring_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    anchor_k: int = 8,
    anchor_sel: str = "8",
) -> DataFrame:
    """Cross-document repeated-substring spans via CONTENT-DEFINED
    anchoring — the finer-grained, offset-insensitive tier below chunk
    dedup, the DataFrame rendition of suffix-array substring dedup (Lee
    et al., ACL 2022) using the winnowing/CDC selection trick (Schleimer
    et al., SIGMOD 2003; rsync/LBFS chunking): a position is an ANCHOR
    iff it starts a word (position 1, or preceded by a space — the cheap
    structural gate that travels WITH the content) AND the hash of its
    local ``anchor_k``-gram clears a content-derived predicate (first
    md5 hex char < ``anchor_sel``). Both tests are functions of the
    passage alone, so two documents sharing a passage select the SAME
    in-passage positions regardless of where the passage sits in each
    document. Fixed-stride sampling on both sides has no such guarantee
    — windows only collide when the offsets agree modulo the stride.

    At each anchor the ``window``-char substring is hashed; hashes seen
    in ≥ 2 distinct documents mark duplicated spans, merged per document
    into maximal islands. Detection is probabilistic in passage length:
    with hash rate r (= int(anchor_sel, 16)/16) over the passage's w
    word starts, a shared passage is missed with probability (1 − r)^w —
    ~0.02% for an 80-char prose passage (~13 word starts) at the
    default r = 1/2. The word gate costs one 1-char compare per
    position; the md5 runs only on word starts (~len/6), which is what
    keeps the scan hash-light. Whitespace-free blobs (base64, minified
    code) have no word starts and thus escape — gate such corpora
    through a chunk-level pass (``q_dedup_spans``) or lower the gate to
    pure winnowing by treating every position as a word start.

    Returns (id, span_start, span_end, span_len, n_windows), 1-based
    inclusive char offsets.

    Scale posture: one cheap char-compare per position, one short-gram
    md5 per word start (on a Spark-only pipeline swap md5 for xxhash64
    or a Karp-Rabin rolling hash via ``aggregate`` — md5 is the
    cross-engine-reproducible choice), one window hash per surviving
    anchor. The only wide exchanges are one groupBy on the window hash
    (map-side combined distinct-doc count) and one per-doc window for
    the span merge. Nothing is quadratic: documents sharing a passage
    meet in the hash group, never in a pairwise join."""
    from etl4s_spark.operators.parallelism import widen

    starts = F.sequence(F.lit(1), F.length(F.col(text_col)) - (window - 1))
    pos = (
        # the per-position fan-out runs inside the scan's codegen span —
        # widen the row-grain frame first so a single-split local file
        # doesn't serialize the whole hash scan onto one core
        widen(df.filter(F.length(F.col(text_col)) >= window), id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(text_col),
            F.explode(starts).alias("start"),
        )
    )
    word_start = (F.col("start") == 1) | (
        F.substring(F.col(text_col), F.col("start") - 1, 1) == " "
    )
    anchors = pos.filter(
        word_start
        & (
            F.substring(
                F.md5(F.substring(F.col(text_col), F.col("start"), anchor_k)), 1, 1
            )
            < anchor_sel
        )
    )
    wins = anchors.select(
        "id",
        "start",
        F.md5(F.substring(F.col(text_col), F.col("start"), window)).alias("h"),
    )
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = (
        wins.join(dup_hashes, "h")
        .select("id", "start", (F.col("start") + (window - 1)).alias("end"))
        .distinct()
    )
    from pyspark.sql.window import Window as W

    w_order = W.partitionBy("id").orderBy("start")
    prev_max = F.max("end").over(w_order.rowsBetween(W.unboundedPreceding, -1))
    flagged = hits.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("start") > prev_max + 1), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_order))
    return (
        flagged.groupBy("id", "island")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            F.max("end").cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(
            "id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
            "n_windows",
        )
    )
