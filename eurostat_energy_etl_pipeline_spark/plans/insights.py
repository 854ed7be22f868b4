"""Insights pipeline (Q17/Q18 + full insights table).

This is the engine's flagship: the reference builds its per-(geo, indicator)
trend table with a driver-side pandas groupby loop
(/root/reference/llm_app/build_knowledge_base.py:74-178); here it is ONE
shuffle — groupBy(geo, indicator) with min/max/min_by/max_by — that scales to
any number of series. Yearly values are first aggregated (exact decimal mean)
so min_by/max_by pick from a unique year per group, which makes the result
deterministic for oracle hashing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import (
    cached_view,
    obs_series,
    obs_series_view,
    with_cte,
)
from eurostat_energy_etl_pipeline_spark.functions import (
    exact_avg,
    portable_round,
    portable_round_sql,
    growth_pct,
    presentation_sort,
    indicator_display_name,
    insight_text,
    trend_label,
)
from eurostat_energy_etl_pipeline_spark.plans import query

# Unique (geo, indicator, yr) yearly series: the reference's M1 series
# extraction (/root/reference/ml/forecast_utils.py:13-27) = groupby-mean.
_SERIES_SQL = """
series AS (
  SELECT geo, indicator, yr,
         CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS val
  FROM obs_series GROUP BY geo, indicator, yr
)"""

_AGG_SQL = """
agg AS (
  SELECT geo, indicator,
         min(yr) AS start_year, max(yr) AS end_year,
         min_by(val, yr) AS start_value, max_by(val, yr) AS end_value,
         (max_by(val, yr) - min_by(val, yr))
           / greatest(max(yr) - min(yr), 1) AS slope,
         count(*) AS n
  FROM series GROUP BY geo, indicator
)"""


def yearly_series(tables):
    """obs_series aggregated to one exact mean value per (geo, indicator, yr)."""
    return (
        obs_series(tables)
        .groupBy("geo", "indicator", "yr")
        .agg(exact_avg("val").alias("val"))
    )


def yearly_series_view(spark, sf_dir):
    """Cached yearly series — the intermediate shared by Q17/Q17b/Q18, the
    full insights table, and the forecast pipeline; one shuffle total per
    session instead of one per query."""
    return cached_view(
        "yearly_series",
        spark,
        sf_dir,
        lambda: obs_series_view(spark, sf_dir)
        .groupBy("geo", "indicator", "yr")
        .agg(exact_avg("val").alias("val")),
    )


def _insights_agg_from(series):
    return (
        series.groupBy("geo", "indicator")
        .agg(
            F.min("yr").alias("start_year"),
            F.max("yr").alias("end_year"),
            F.min_by("val", "yr").alias("start_value"),
            F.max_by("val", "yr").alias("end_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn(
            "slope",
            (F.col("end_value") - F.col("start_value"))
            / F.greatest(F.col("end_year") - F.col("start_year"), F.lit(1)),
        )
    )


def insights_agg_view(spark, sf_dir):
    """insights_agg over the cached yearly series (the bench/dashboard path)."""
    return _insights_agg_from(yearly_series_view(spark, sf_dir))


def insights_agg(tables):
    """Per-series first/last aggregates in a single hash aggregate (A8/A9).

    ``min_by``/``max_by`` replace the reference's sort-within-group + take
    first/last row — one shuffle, map-side partial aggregation, no windows.
    """
    return _insights_agg_from(yearly_series(tables))


@query(
    "q17_insights_trend",
    oracle=with_cte(
        f"""
    , {_SERIES_SQL.lstrip()}, {_AGG_SQL.lstrip()}
    SELECT geo, indicator, start_year, end_year,
           {portable_round_sql('slope', 6)} AS slope_per_year,
           CASE WHEN slope > 0.01 THEN 'rising'
                WHEN slope < -0.01 THEN 'declining'
                ELSE 'stable' END AS trend
    FROM agg WHERE n >= 2 ORDER BY geo, indicator
    """
    ),
)
def q17(spark, sf_dir):
    """A8/A9/P12/P13: first/last per group -> slope -> trend label, HAVING n>=2
    (/root/reference/llm_app/build_knowledge_base.py:126-177)."""
    return (
        insights_agg_view(spark, sf_dir)
        .where(F.col("n") >= 2)
        .select(
            "geo",
            "indicator",
            "start_year",
            "end_year",
            portable_round("slope", 6).alias("slope_per_year"),
            trend_label(F.col("slope")).alias("trend"),
        )
        .transform(presentation_sort, "geo", "indicator")
    )


@query(
    "q18_fastest_rising",
    oracle=with_cte(
        f"""
    , {_SERIES_SQL.lstrip()}, {_AGG_SQL.lstrip()}
    SELECT geo, indicator FROM agg WHERE n >= 2
    ORDER BY slope DESC, geo, indicator LIMIT 1
    """
    ),
)
def q18(spark, sf_dir):
    """A12: argmax by slope — the chatbot's fastest-rising answer
    (/root/reference/llm_app/chatbot.py:27-28). TakeOrderedAndProject, k=1."""
    return (
        insights_agg_view(spark, sf_dir)
        .where(F.col("n") >= 2)
        .orderBy(F.desc("slope"), "geo", "indicator")
        .select("geo", "indicator")
        .limit(1)
    )


@query(
    "q17b_insights_full",
    oracle=with_cte(
        f"""
    , {_SERIES_SQL.lstrip()}, {_AGG_SQL.lstrip()}
    SELECT geo, indicator,
           CASE indicator
             WHEN 'GEP' THEN 'Gross electricity production'
             WHEN 'FC_E' THEN 'Final energy consumption'
             WHEN 'FC_IND_E' THEN 'Industrial energy consumption'
             WHEN 'FC_TRA_E' THEN 'Transport energy consumption'
             WHEN 'FC_OTH_CP_E' THEN 'Commercial/public services energy consumption'
             WHEN 'FC_OTH_HH_E' THEN 'Household energy consumption'
             ELSE indicator END AS indicator_name,
           start_year, end_year,
           {portable_round_sql('start_value', 4)} AS start_value,
           {portable_round_sql('end_value', 4)} AS end_value,
           greatest(end_year - start_year, 1) AS n_years,
           {portable_round_sql('slope', 6)} AS slope_per_year,
           CASE WHEN start_value <> 0
                THEN {portable_round_sql('(end_value - start_value) / start_value * 100.0', 6)}
                ELSE NULL END AS growth_pct,
           CASE WHEN slope > 0.01 THEN 'rising'
                WHEN slope < -0.01 THEN 'declining'
                ELSE 'stable' END AS trend_label
    FROM agg WHERE n >= 2 ORDER BY geo, indicator
    """
    ),
)
def q17b(spark, sf_dir):
    """Full insights table (FIXTURES.md §2.3) minus the free-text sentence
    (checked by invariant tests — float-to-string formatting is not a sane
    cross-engine hash target). Covers P11 (div-by-zero guard), P13, P15."""
    return (
        insights_agg_view(spark, sf_dir)
        .where(F.col("n") >= 2)
        .select(
            "geo",
            "indicator",
            indicator_display_name(F.col("indicator")).alias("indicator_name"),
            "start_year",
            "end_year",
            portable_round("start_value", 4).alias("start_value"),
            portable_round("end_value", 4).alias("end_value"),
            F.greatest(
                F.col("end_year") - F.col("start_year"), F.lit(1)
            ).alias("n_years"),
            portable_round("slope", 6).alias("slope_per_year"),
            portable_round(
                growth_pct(F.col("start_value"), F.col("end_value")), 6
            ).alias("growth_pct"),
            trend_label(F.col("slope")).alias("trend_label"),
        )
        .transform(presentation_sort, "geo", "indicator")
    )


def insights_table(spark, sf_dir):
    """The complete insights DataFrame including ``insight_text`` (T1/P14) —
    what the RAG layer indexes. Same plan as q17b plus the formatted
    sentence."""
    agg = insights_agg_view(spark, sf_dir).where(F.col("n") >= 2)
    name = indicator_display_name(F.col("indicator"))
    return agg.select(
        "geo",
        "indicator",
        name.alias("indicator_name"),
        "start_year",
        "end_year",
        "start_value",
        "end_value",
        F.greatest(F.col("end_year") - F.col("start_year"), F.lit(1)).alias("n_years"),
        F.col("slope").alias("slope_per_year"),
        growth_pct(F.col("start_value"), F.col("end_value")).alias("growth_pct"),
        trend_label(F.col("slope")).alias("trend_label"),
        insight_text(
            F.col("geo"),
            name,
            trend_label(F.col("slope")),
            F.col("slope"),
            F.col("start_year"),
            F.col("end_year"),
        ).alias("insight_text"),
    )


def insights_view(spark, sf_dir):
    """Cached insights table, a session view: the chatbot's intent answers
    and its semantic corpus (index build and text lookup) all read it, so
    its aggregate and string formatting run once per session."""
    return cached_view("insights", spark, sf_dir, lambda: insights_table(spark, sf_dir))


@query(
    "q74_forecast_features",
    oracle=with_cte(
        f"""
    , {_SERIES_SQL.lstrip()}
    SELECT geo, indicator, yr, y, lag1, lag2, lag3, roll_mean_3, roll_std_3
    FROM (
      SELECT geo, indicator, yr,
             {portable_round_sql('val', 4)} AS y,
             {portable_round_sql('lag(val, 1) OVER w', 4)} AS lag1,
             {portable_round_sql('lag(val, 2) OVER w', 4)} AS lag2,
             {portable_round_sql('lag(val, 3) OVER w', 4)} AS lag3,
             CASE WHEN count(val) OVER w3 >= 3
                  THEN {portable_round_sql('avg(val) OVER w3', 4)} END AS roll_mean_3,
             CASE WHEN count(val) OVER w3 >= 3
                  THEN {portable_round_sql('stddev_samp(val) OVER w3', 4)} END AS roll_std_3
      FROM series
      WINDOW w AS (PARTITION BY geo, indicator ORDER BY yr),
             w3 AS (PARTITION BY geo, indicator ORDER BY yr
                    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
    ) t
    WHERE lag1 IS NOT NULL AND lag2 IS NOT NULL AND lag3 IS NOT NULL
      AND roll_mean_3 IS NOT NULL AND roll_std_3 IS NOT NULL
    ORDER BY geo, indicator, yr
    """
    ),
)
def q74(spark, sf_dir):
    """M2 as a driver-verified query: the supervised feature matrix the
    forecasting grouped map consumes — lag1..3 plus trailing rolling
    mean/std over the PREVIOUS 3 points (pandas `shift(1).rolling(3,
    min_periods=3)` semantics: the frame is rows t-3..t-1 with an explicit
    count guard, and `stddev_samp` matches pandas ddof=1), rows with
    incomplete features dropped (W4). Until now M2 was pinned only by
    in-repo parity tests (`ml/forecast._features` runs the same recipe in
    pandas inside `applyInPandas`); this query hash-checks the exact
    window algebra against an independent SQL derivation, so the
    deterministic prefix of the forecast pipeline is driver-certified even
    though the model fit itself (q35) stays rows-only by design."""
    from pyspark.sql.window import Window

    series = yearly_series_view(spark, sf_dir)
    w = Window.partitionBy("geo", "indicator").orderBy("yr")
    w3 = w.rowsBetween(-3, -1)
    cnt = F.count("val").over(w3)
    out = series.select(
        "geo",
        "indicator",
        "yr",
        portable_round("val", 4).alias("y"),
        portable_round(F.lag("val", 1).over(w), 4).alias("lag1"),
        portable_round(F.lag("val", 2).over(w), 4).alias("lag2"),
        portable_round(F.lag("val", 3).over(w), 4).alias("lag3"),
        F.when(cnt >= 3, portable_round(F.avg("val").over(w3), 4)).alias(
            "roll_mean_3"
        ),
        F.when(cnt >= 3, portable_round(F.stddev_samp("val").over(w3), 4)).alias(
            "roll_std_3"
        ),
    )
    return presentation_sort(
        out.na.drop(
            subset=["lag1", "lag2", "lag3", "roll_mean_3", "roll_std_3"]
        ),
        "geo", "indicator", "yr",
    )


@query(
    "q77_anomaly_zscore",
    oracle=with_cte(
        f"""
    , {_SERIES_SQL.lstrip()},
    z AS (
      SELECT geo, indicator, yr, val,
             avg(val) OVER (PARTITION BY geo, indicator) AS mu,
             stddev_samp(val) OVER (PARTITION BY geo, indicator) AS sd,
             count(*) OVER (PARTITION BY geo, indicator) AS n
      FROM series
    )
    SELECT geo, indicator, CAST(yr AS INT) AS yr,
           {portable_round_sql('val', 2)} AS val,
           round((val - mu) / sd, 4) AS zscore
    FROM z
    WHERE n >= 5 AND sd > 0 AND abs(val - mu) > 2 * sd
    ORDER BY geo, indicator, yr
    """
    ),
)
def q77(spark, sf_dir):
    """Series anomaly scan: flag yearly observations more than 2 sample
    standard deviations from their (geo, indicator) series mean — the
    outlier screen a data-quality pass runs before the insights/forecast
    stages trust a series (extends the reference's insight stats,
    /root/reference/llm_app/build_knowledge_base.py:30-46, from trend to
    dispersion). Reuses the session-cached yearly series (one shuffle per
    session shared with Q17/Q18/forecast); mean/stddev attach as windows
    over the same (geo, indicator) key — Catalyst plans a single exchange
    for both. The n>=5 floor mirrors the forecast pipeline's
    insufficient-data guard; sd>0 excludes constant series (z undefined)."""
    from pyspark.sql.window import Window

    series = yearly_series_view(spark, sf_dir)
    w = Window.partitionBy("geo", "indicator")
    z = series.select(
        "geo",
        "indicator",
        "yr",
        "val",
        F.avg("val").over(w).alias("mu"),
        F.stddev_samp("val").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return (
        z.where(
            (F.col("n") >= 5)
            & (F.col("sd") > 0)
            & (F.abs(F.col("val") - F.col("mu")) > 2 * F.col("sd"))
        )
        .select(
            "geo",
            "indicator",
            F.col("yr").cast("int").alias("yr"),
            portable_round("val", 2).alias("val"),
            F.round((F.col("val") - F.col("mu")) / F.col("sd"), 4).alias("zscore"),
        )
        .transform(presentation_sort, "geo", "indicator", "yr")
    )
