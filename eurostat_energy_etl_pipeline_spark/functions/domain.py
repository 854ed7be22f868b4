"""Domain expressions from the reference's insight pipeline, as pure Column
expressions (no UDFs — everything stays in whole-stage codegen)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# /root/reference/llm_app/build_knowledge_base.py:35-48 (_indicator_name)
INDICATOR_NAMES = {
    "GEP": "Gross electricity production",
    "FC_E": "Final energy consumption",
    "FC_IND_E": "Industrial energy consumption",
    "FC_TRA_E": "Transport energy consumption",
    "FC_OTH_CP_E": "Commercial/public services energy consumption",
    "FC_OTH_HH_E": "Household energy consumption",
}

TREND_THRESHOLD = 0.01  # /root/reference/llm_app/build_knowledge_base.py:59-68


def trend_label(slope: Column, threshold: float = TREND_THRESHOLD) -> Column:
    """3-way CASE classification (reference P12)."""
    return (
        F.when(slope > threshold, F.lit("rising"))
        .when(slope < -threshold, F.lit("declining"))
        .otherwise(F.lit("stable"))
    )


def growth_pct(start_value: Column, end_value: Column) -> Column:
    """Percent growth with the division-by-zero -> NULL guard
    (/root/reference/llm_app/build_knowledge_base.py:143-145)."""
    return F.when(
        start_value != 0, (end_value - start_value) / start_value * 100.0
    ).otherwise(F.lit(None).cast("double"))


def indicator_display_name(code: Column) -> Column:
    """Code -> display name with passthrough default (reference P15/J3).
    Expressed as a literal map lookup + coalesce — constant-folded by
    Catalyst, no join needed for a 6-entry dimension."""
    mapping = F.create_map(
        *[F.lit(x) for kv in INDICATOR_NAMES.items() for x in kv]
    )
    return F.coalesce(mapping[code], code)


def insight_text(
    geo: Column,
    indicator_name: Column,
    trend: Column,
    slope: Column,
    start_year: Column,
    end_year: Column,
) -> Column:
    """Template sentence over aggregates
    (/root/reference/llm_app/build_knowledge_base.py:151-160)."""
    return F.format_string(
        "%s %s is %s (slope %.2f/yr over %d-%d).",
        geo,
        indicator_name,
        trend,
        slope,
        start_year,
        end_year,
    )
