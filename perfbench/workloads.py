"""The benchmark's three workloads, their warm-pass counts and the seeded
query order.

Each workload is a fixed set of registered query names, each with a
DuckDB oracle for the output check, drawn from the query family the
workload stands for. The sets are small so that one run (a fresh JVM,
one cold pass, several warm passes and the output check) takes 20-30 s
on an idle 4-vCPU machine at the benchmark's scale, the repository's
sf0.01 tables, and stays under 90 s when co-tenant load slows that
machine 3-4x. The whole families take 25-40 s per warm pass there.
"""

from __future__ import annotations

import random

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Read-only relational plans, one to a few jobs each: Catalyst and
    # execution do the work, the Python build is trivial. One query from
    # each of the tpch, aggregates, joins (an as-of join, through
    # operators.joins), windows, setops, filters, sorts and scans modules.
    "olap": (
        "q_tpch_q3",
        "q_agg_groupby",
        "q_join_asof",
        "q_window_rank",
        "q_set_union",
        "q_filter_compound",
        "q_sort_multi",
        "q_scan_parquet",
    ),
    # Iterative dedup and graph work: tens of jobs per query, with eager
    # checkpoints and convergence counts inside the build. Exercises
    # operators.dedup/similarity (LSH clustering), operators.graph and a
    # Layer-A Node pipeline (q_pipeline_training_data).
    "dedup_graph": (
        "q_dedup_cluster_canonical",
        "q_graph_triangles",
        "q_pipeline_training_data",
    ),
    # The write side: stream replays (offset/commit log, state store,
    # memory sinks) and batch sinks that write files and a bucketed table
    # before reading them back.
    "ingest_write": (
        "q_stream_dedup_replay",
        "q_stream_sink_replay",
        "q_sink_csv_roundtrip",
        "q_sink_partitioned_prune",
        "q_sink_bucketed_join",
    ),
}

# Median warm-pass seconds of each workload, measured on 4 task slots.
# A run makes round(--seconds / PASS_S) warm passes, at least
# MIN_WARM_PASSES, so runs with the same --seconds make the same passes.
PASS_S: dict[str, float] = {"olap": 1.45, "dedup_graph": 3.45, "ingest_write": 2.1}
MIN_WARM_PASSES = 3


def warm_passes(workload: str, seconds: float) -> int:
    return max(MIN_WARM_PASSES, round(seconds / PASS_S[workload]))


def query_order(workload: str, seed: int, pass_index: int) -> list[str]:
    """The queries of one pass. The cold pass (index 0) keeps the
    declared order, so the query that pays the session's first-time costs
    (Python worker start, first codegen) is the same in every run; warm
    passes are shuffled by (seed, pass)."""
    names = list(WORKLOADS[workload])
    if pass_index > 0:
        random.Random(f"{seed}:{pass_index}").shuffle(names)
    return names
