"""Deterministic column-expression helpers shared by the query library."""

from eurostat_energy_etl_pipeline_spark.functions.numeric import (
    exact_avg,
    exact_sum,
    portable_round,
    portable_round_sql,
    rolling_mean_min_periods,
    rolling_std_min_periods,
)
from eurostat_energy_etl_pipeline_spark.functions.domain import (
    growth_pct,
    indicator_display_name,
    insight_text,
    trend_label,
)
from eurostat_energy_etl_pipeline_spark.functions.parallelism import (
    keyed_compute_width,
    widen_if_narrow,
)
from eurostat_energy_etl_pipeline_spark.functions.presentation import (
    ordered_output,
    presentation_sort,
)

__all__ = [
    "exact_avg",
    "exact_sum",
    "portable_round",
    "portable_round_sql",
    "ordered_output",
    "presentation_sort",
    "rolling_mean_min_periods",
    "rolling_std_min_periods",
    "widen_if_narrow",
    "keyed_compute_width",
    "growth_pct",
    "indicator_display_name",
    "insight_text",
    "trend_label",
]
