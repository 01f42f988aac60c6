from etl4s_spark.plans.plan_lineage import lineage_from_plan  # noqa: F401
from etl4s_spark.plans.observe import (  # noqa: F401
    ObservedMetrics,
    ensure_df,
    explain_str,
    observe_counts,
)
