"""Physical-plan inventory across the declared query surface.

For every registered query, build (never execute) the DataFrame and
count the plan features that decide 100 TB behavior:

- exchanges (shuffles) — the dominant cost at scale;
- broadcast exchanges — bounded dims shipped instead of shuffled;
- parquet scans — input touches (re-scans of the same table show up);
- sorts / windows — per-partition vs global ordering work;
- Python boundaries (BatchEvalPython / ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas) — rows leaving the JVM;
- TakeOrderedAndProject — top-k done without a global sort;
- CartesianProduct / BroadcastNestedLoopJoin — quadratic joins (only
  acceptable when one side is a constant-sized matrix).

Usage:
    python tools/plan_audit.py [--sf /root/testdata/sf0.001] [-o PLAN_AUDIT.json]
    python tools/plan_audit.py --sf /root/testdata/sf0.1 -o plans/r13/before q_a q_b

The second form writes each named query's ``explain("formatted")`` text
to ``<dir>/<query>.txt`` for before/after plan diffs, and prints the
totals.

Queries that EXECUTE during construction (streaming replays, sink
round-trips, maintenance rewrites, eagerly-materialized iterative
algorithms) are skipped — their returned plan is a sink read or a
checkpoint scan, not the work; the bench covers them. Queries that run
a scalar-parameter job during construction (a bloom bit-count, PQ
codebook training) are NOT skipped: the job computes a plan constant
and the returned plan is the full lazy pipeline.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import run_query  # noqa: E402

# construction has side effects (writes/streams/tables) — not static plans
SKIP_PREFIXES = (
    "q_stream_",
    "q_sink_",
    "q_maintenance_",
    "q_scan_schema_evolution",
    "q_csv_quarantine",
    "q_upsert_merge",
    "q_sort_zorder",
    # iterative: eagerly materialized via localCheckpoint, so the
    # returned plan is a checkpoint scan, not the per-iteration shuffles
    "q_graph_pagerank",
    "q_graph_shortest_hops",
)

FEATURES = {
    # tree-format node labels: "+- Exchange (5)", "+- BroadcastExchange (7)"
    "exchanges": r"(?<!Broadcast)Exchange \(",
    "broadcasts": r"BroadcastExchange",
    "scans": r"Scan parquet",
    "sorts": r"\bSort \(",
    "windows": r"\bWindow \(",
    "window_group_limits": r"WindowGroupLimit",
    "top_k": r"TakeOrderedAndProject",
    "python_eval": r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow",
    "nested_loop": r"BroadcastNestedLoopJoin|CartesianProduct",
    "sort_merge_joins": r"SortMergeJoin",
    "hash_joins": r"BroadcastHashJoin|ShuffledHashJoin",
    # cache()/localCheckpoint reuse points: the printed plan repeats the
    # full child subtree under every InMemoryTableScan, so raw feature
    # counts OVERSTATE executed work for cached plans — subtrees below a
    # reuse point run once at materialization. Read `cached_reuses > 0`
    # as "counts above are a textual upper bound, not executed ops".
    "cached_reuses": r"InMemoryTableScan|TableCacheQueryStage",
}


# Subtree nodes that bound the row count flowing into a window: an
# aggregate output is one row per group over a bounded key domain, a
# limit/top-k is explicitly bounded, and a local/one-row relation is a
# plan constant. An unpartitioned WindowExec whose input passes through
# none of these funnels DATA-SCALE rows into one task — the r5
# scale-killer class; the gate exists so it cannot return silently.
_BOUNDED_RE = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|GlobalLimit|LocalLimit"
    r"|TakeOrderedAndProject|CollectLimit|LocalTableScan|OneRowRelation"
)
_WINDOW_LINE_RE = re.compile(r"(?:^|[\s:+\-])(Window(?:GroupLimit)? \[)")


def _node_indent(line: str) -> int:
    """Depth of a node in the simple tree string = column where the node
    name starts (after the ``   +- `` / ``:  +- `` scaffolding)."""
    m = re.match(r"^[\s:+\-]*", line)
    return m.end()


def count_unbounded_partitionless_windows(simple_plan: str) -> int:
    """Count WindowExec nodes with an EMPTY partition spec whose input
    subtree contains no aggregate/limit/local-relation bound.

    Window prints as ``Window [exprs], [partitionSpec], [orderSpec]`` in
    the simple tree, and EMPTY specs are omitted rather than printed as
    ``[]`` — so a 2-group line is ambiguous: partitioned-unordered
    (``[exprs], [part]``) or unpartitioned-ordered (``[exprs], [order]``).
    All ``[`` on the line belong to the top-level groups
    (windowspecdefinition uses parens), so group count = ``], [`` count
    + 1, and the tiebreak is that an order spec always carries
    ``ASC``/``DESC`` sort directions while a partition spec is bare
    expressions: 3 groups = partitioned; 2 groups = partitioned iff the
    last group has no sort direction; 1 group = unpartitioned.
    WindowGroupLimit is not gated (it is the bounded top-k rewrite)."""
    lines = simple_plan.splitlines()
    flagged = 0
    for i, line in enumerate(lines):
        m = _WINDOW_LINE_RE.search(line)
        if not m or m.group(1).startswith("WindowGroupLimit"):
            continue
        n_seps = line.count("], [")
        if n_seps >= 2:
            continue  # three groups: has partition keys
        if n_seps == 1:
            last_group = line.rsplit("], [", 1)[1]
            if " ASC" not in last_group and " DESC" not in last_group:
                continue  # [exprs], [partitionSpec] — partitioned, unordered
        indent = _node_indent(line)
        subtree: list[str] = []
        for nxt in lines[i + 1 :]:
            if not nxt.strip():
                break
            if _node_indent(nxt) <= indent:
                break
            subtree.append(nxt)
        if not _BOUNDED_RE.search("\n".join(subtree)):
            flagged += 1
    return flagged


def audit_plan(formatted: str, simple: str) -> dict:
    """Feature counts of one query's formatted plan, plus the window gate
    on its simple tree string."""
    tree = formatted.split("\n\n")[0]
    row = {
        k: len(re.findall(pat, tree, flags=re.MULTILINE))
        for k, pat in FEATURES.items()
    }
    row["unbounded_partitionless_windows"] = count_unbounded_partitionless_windows(simple)
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "-o",
        "--out",
        default=None,
        help="a .json path gets the audit; any other path is a directory "
        "that gets each audited query's formatted plan as <query>.txt",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from etl4s_spark.queries import QUERIES, load_all
    from etl4s_spark.session import get_spark

    load_all()
    spark = get_spark("plan_audit")
    rows: dict[str, dict] = {}
    plans: dict[str, str] = {}
    for name in args.names or sorted(QUERIES):
        if any(name.startswith(p) for p in SKIP_PREFIXES):
            rows[name] = {"skipped": "constructs side effects (streams/sinks)"}
            continue
        rec = run_query(spark, name, args.sf, "plan")
        if rec["error"]:  # the audit must not die mid-sweep
            rows[name] = {"error": rec["error"][:200]}
            continue
        plans[name], simple = rec["result"]
        rows[name] = audit_plan(plans[name], simple)

    audited = {k: v for k, v in rows.items() if "skipped" not in v and "error" not in v}
    totals = {
        "n_queries": len(rows),
        "n_audited": len(audited),
        "n_python_boundary": sum(1 for v in audited.values() if v["python_eval"]),
        "n_nested_loop": sum(1 for v in audited.values() if v["nested_loop"]),
        "n_zero_shuffle": sum(1 for v in audited.values() if v["exchanges"] == 0),
        "max_exchanges": max((v["exchanges"] for v in audited.values()), default=0),
        # the r5 scale-killer gate: MUST be zero (tests/test_plans.py pins it)
        "unbounded_partitionless_windows": sum(
            v["unbounded_partitionless_windows"] for v in audited.values()
        ),
        "mean_exchanges": round(
            sum(v["exchanges"] for v in audited.values()) / max(1, len(audited)), 2
        ),
    }
    text = json.dumps({"sf": args.sf, "totals": totals, "queries": rows}, indent=1, sort_keys=True)
    if not args.out:
        print(text)
        return
    if args.out.endswith(".json"):
        with open(args.out, "w") as f:
            f.write(text + "\n")
    else:
        os.makedirs(args.out, exist_ok=True)
        for name, plan in plans.items():
            with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
                f.write(plan)
    print(json.dumps(totals))


if __name__ == "__main__":
    main()
