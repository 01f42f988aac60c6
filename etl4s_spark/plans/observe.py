"""Plan inspection + Spark-native observability (SURVEY.md §2.A22-A31
mapping: ensure → Observation metrics, Trace → QueryExecutionListener).

Two pieces:

- ``explain_str`` — programmatic access to the formatted physical plan
  (what the plan tests assert on).
- ``observe_counts`` / ``ensure_df`` — data-quality gates computed INSIDE
  the query via ``df.observe``: violation counts ride along with the
  action as accumulator-style metrics, so a gate costs ZERO extra jobs
  (vs the naive filter+count re-scan). This is the at-scale realization
  of the reference's ``ensure`` (src-3/Etl4s.scala:1859-1900) — all
  checks evaluated in ONE pass, like its ``ensurePar`` aspires to.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from etl4s_spark.core.validation import ValidationException


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (modes: simple, extended, codegen,
    cost, formatted)."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@dataclass
class ObservedMetrics:
    observation: Observation
    df: DataFrame

    def get(self) -> dict[str, Any]:
        """Blocks until the first action on df completes."""
        return dict(self.observation.get)


def observe_counts(df: DataFrame, name: str = "checks", **predicates: Column) -> ObservedMetrics:
    """Attach violation counts (and row count) to the query: each named
    predicate contributes ``sum(case when pred then 1 else 0)`` computed
    during the normal action — no extra scan."""
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("__rows")]
    for pname, pred in predicates.items():
        metrics.append(F.sum(F.when(pred, 1).otherwise(0)).alias(pname))
    return ObservedMetrics(obs, df.observe(obs, *metrics))


def ensure_df(
    df: DataFrame,
    warn_only: bool = False,
    on_violation=None,
    **violation_predicates: Column,
) -> DataFrame:
    """Data-quality gate: returns a DataFrame that, once acted upon,
    raises ValidationException (or logs, if warn_only) listing EVERY
    violated predicate — the reference's collect-all-errors contract.

    Implementation: one observe() + a thin action wrapper is impossible
    (we can't hook arbitrary downstream actions), so the gate runs ONE
    aggregate job over the (cached-if-reused) input computing all checks
    simultaneously, then returns the original df. At scale that single
    pass replaces one job per check.
    """
    agg_cols = [
        F.sum(F.when(pred, 1).otherwise(0)).alias(name)
        for name, pred in violation_predicates.items()
    ]
    row = df.agg(*agg_cols).collect()[0]
    failures = [
        f"{name}: {row[name]} rows violate" for name in violation_predicates if row[name] > 0
    ]
    if failures:
        if warn_only:
            from etl4s_spark.core.trace import Trace

            for m in failures:
                Trace.log(f"WARN {m}")
            if on_violation:
                on_violation(failures)
        else:
            raise ValidationException(failures)
    return df
