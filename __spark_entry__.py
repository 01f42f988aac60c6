"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``etl4s_spark`` (see SURVEY.md §2.B for the
declared surface; each query module documents its Spark plan and scale
behavior). The order of ``queries()`` and ``oracle_sql()`` is grading
policy, not library behavior, so it is applied here from the driver's
artifacts in the repo root (see ``_driver_order``).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# Queries whose most recent driver proof predates a repair that changed
# their behavior — forced to the front of the order so the driver's
# ~50-query window re-proves them in the next round, then removed once
# green rows land. Round 7: the round-6 set (q_join_anti,
# q_window_rank_movers, q_tpch_q11, q_dedup_containment — all de-vacuified
# in r6) landed green hash-match rows in CORRECTNESS_r06.json, so the set
# is empty again. Re-add any query whose semantics change after its last
# driver proof.
# Round 10: q_dedup_embedding_lsh's operator default changed (pair cap
# ON — output verified identical at all three test SFs, but the shipped
# semantics changed, so its r-old rows-only proof predates the change).
_REPROVE_FIRST: frozenset = frozenset({"q_dedup_embedding_lsh"})


def _driver_last_proven() -> dict[str, int]:
    """Map query name -> the LATEST round in which the driver proved it
    (green oracle match, or a recorded rows-only check for no-oracle
    queries). Names absent from the map have never been proven.

    The driver checks only the first ~50 registered queries per round, in
    registration order. Sorting by (last-proven round asc) puts never-proven
    queries first (coverage) and then least-recently-proven ones (regression
    detection — VERDICT r2 item 4), so the window cycles through the whole
    surface across rounds instead of starving old queries.
    """
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            # A rows-only row with spark_rows == 0 is VACUOUS (VERDICT r5
            # "What's wrong" #2: q_graph_kcore's only record proved nothing)
            # — it does not count as proven, so the query re-enters the
            # front of the driver window.
            proven = row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and bool(row.get("spark_rows"))
            )
            if proven:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _registration_age() -> dict[str, int]:
    """Map query name -> the round in which it was FIRST registered
    (derived once from per-round bench/correctness artifacts and frozen in
    registry_age.json). Names absent from the file (i.e. queries added
    after the freeze) default to 999 so they queue BEHIND existing
    verification debt — VERDICT r5 item 1: never-proven queries are
    driver-checked oldest-registration-first, so new additions cannot
    queue-jump old unproven ones."""
    try:
        with open(os.path.join(_REPO, "registry_age.json")) as f:
            return {k: int(v) for k, v in json.load(f).items()}
    except (OSError, ValueError):
        return {}


def _driver_order() -> list[str]:
    """Every registered query name in the order the driver sees. A stable
    sort of the registration order: repaired-this-round first (their past
    proof predates the repair, so the driver must re-prove them NOW —
    VERDICT r3 item 2), then never-proven (0) ordered
    OLDEST-REGISTRATION-FIRST (VERDICT r5 item 1: a module-order
    tie-break let round-5 queries in alphabetically-earlier modules
    queue-jump the 8 round-4 leftovers for two consecutive rounds), then
    oldest-proven rounds — r1-proven queries re-enter the driver window
    before r2-proven ones."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    last_proven = _driver_last_proven()
    age = _registration_age()
    return sorted(
        QUERIES,
        key=lambda n: (n not in _REPROVE_FIRST, last_proven.get(n, 0), age.get(n, 999)),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    from etl4s_spark.queries import QUERIES, load_all

    load_all()
    return QUERIES["q_agg_groupby"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from etl4s_spark.queries import QUERIES

    return {n: QUERIES[n] for n in _driver_order()}


def oracle_sql() -> dict[str, str]:
    from etl4s_spark.queries import ORACLES

    return {n: ORACLES[n] for n in _driver_order() if n in ORACLES}
