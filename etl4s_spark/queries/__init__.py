"""Declared query surface (SURVEY.md §2.B) — the oracle-checked contract.

Each query is registered with ``@query(name, oracle=...)``:

- the callable takes ``(spark, sf_dir)`` and returns a DataFrame;
- ``oracle`` is the equivalent ANSI SQL DuckDB runs on the same parquet
  (pre-registered views); omitted for non-SQL-expressible ops → the driver
  records a rows-only check.

Authoring rules (FIXTURES.md §C, BASELINE.md):
- alias every computed/aggregate column IDENTICALLY on both sides — the
  driver's compare sorts columns by name before hashing;
- round floating-point aggregates with ``round(x, 4)`` on both sides;
- no reliance on row order; window orderings are made total via key
  tie-breaks;
- timestamp outputs are cast to DATE or string where possible to dodge
  tz/precision divergence.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module (side effect: registration). The order
    the driver sees is applied in ``__spark_entry__.py``."""
    from etl4s_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        filters,
        insights,
        joins,
        llm,
        metrics,
        quality,
        scalars,
        scale_ops,
        scans,
        setops,
        sorts,
        sources_api,
        spatial,
        sql_entry,
        streaming_batch,
        tpch,
        warehouse,
        webtext,
        windows,
    )
