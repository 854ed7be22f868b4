"""Invariant tests for the forecasting grouped map (SURVEY.md §5.2.3,
FIXTURES.md §2.4): schema exact, years strictly increasing, horizon rows,
insufficient-data guard. Exact numerics are a non-goal across model
libraries."""

import pandas as pd
import pytest
from pyspark.sql import Row

from eurostat_energy_etl_pipeline_spark.ml.forecast import (
    FORECAST_SCHEMA,
    HORIZON,
    MIN_POINTS,
    _forecast_group,
    forecast_all,
)


def _series_df(spark, geo="DE", n=12, slope=2.0):
    rows = [
        Row(geo=geo, indicator="GEP", yr=2000 + i, val=100.0 + slope * i)
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def result(spark):
    df = _series_df(spark).groupBy("geo", "indicator").applyInPandas(
        _forecast_group, FORECAST_SCHEMA
    )
    return df.toPandas().sort_values(["type", "year"]).reset_index(drop=True)


def test_schema(result):
    assert list(result.columns) == ["geo", "indicator", "year", "value", "type", "model"]


def test_horizon_rows(result):
    assert (result["type"] == "forecast").sum() == HORIZON
    assert (result["type"] == "historical").sum() == 12


def test_years_strictly_increasing(result):
    years = result.sort_values(["type", "year"]).groupby("type")["year"].apply(list)
    for ys in years:
        assert ys == sorted(ys) and len(set(ys)) == len(ys)
    hist_max = result[result["type"] == "historical"]["year"].max()
    fc_years = sorted(result[result["type"] == "forecast"]["year"])
    assert fc_years == list(range(hist_max + 1, hist_max + 1 + HORIZON))


def test_type_and_model_domains(result):
    assert set(result["type"]) == {"historical", "forecast"}
    assert set(result["model"]) <= {
        "XGBoost",
        "LeastSquaresAR",
        "ExponentialSmoothing",
        "HoltLinear",
    }


def test_backend_slots_track_installed_libraries(result):
    """Extras check: when the environment ships the reference's real model
    libraries, the auto-activating slots (ml/forecast.py:39-51) must be the
    ones that actually ran — the invariants above then cover real xgboost /
    statsmodels numerics, not just the deterministic fallbacks. In the
    fallback environment the candidate names must be the documented
    stand-ins (the model column self-describes either way)."""
    import importlib.util

    from eurostat_energy_etl_pipeline_spark.ml import forecast as fc

    have_xgb = importlib.util.find_spec("xgboost") is not None
    have_sm = importlib.util.find_spec("statsmodels") is not None
    assert fc.HAVE_XGB == have_xgb
    assert fc.HAVE_STATSMODELS == have_sm
    models = set(result["model"])
    allowed_ar = {"XGBoost"} if have_xgb else {"LeastSquaresAR"}
    allowed_es = {"ExponentialSmoothing"} if have_sm else {"HoltLinear"}
    assert models <= allowed_ar | allowed_es


def test_linear_series_forecast_continues_trend(result):
    """On a perfectly linear series every sane model extrapolates upward."""
    hist_last = result[result["type"] == "historical"]["value"].iloc[-1]
    fc = result[result["type"] == "forecast"]["value"]
    assert (fc > hist_last - 5.0).all()


def test_insufficient_data_guard(spark):
    short = _series_df(spark, n=MIN_POINTS - 1)
    out = short.groupBy("geo", "indicator").applyInPandas(
        _forecast_group, FORECAST_SCHEMA
    )
    assert out.count() == 0


def test_deterministic_rerun(spark):
    df1 = _series_df(spark, n=10, slope=-1.5)
    out = lambda: (
        df1.groupBy("geo", "indicator")
        .applyInPandas(_forecast_group, FORECAST_SCHEMA)
        .toPandas()
        .sort_values(["type", "year"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(out(), out())


def test_full_pipeline_runs(spark, sf_dir):
    df = forecast_all(spark, sf_dir)
    pdf = df.toPandas()
    assert len(pdf) > 0
    per_group = pdf[pdf["type"] == "forecast"].groupby(["geo", "indicator"]).size()
    assert (per_group == HORIZON).all()


def test_q74_feature_matrix_matches_pandas_features(spark):
    """The driver-verified q74 window algebra must equal the pandas
    `_features` recipe the grouped map consumes — same lags, same
    shift(1).rolling(3, min_periods=3) stats, same dropna — so the
    SQL-certified matrix IS the model input, not a lookalike."""
    import numpy as np

    import __spark_entry__ as m
    from eurostat_energy_etl_pipeline_spark.ml.forecast import _features
    from eurostat_energy_etl_pipeline_spark.plans.insights import (
        yearly_series_view,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = (
        m.queries()["q74_forecast_features"](spark, sf_dir)
        .toPandas()
        .sort_values(["geo", "indicator", "yr"])
        .reset_index(drop=True)
    )
    series = yearly_series_view(spark, sf_dir).toPandas()
    frames = []
    for (geo, ind), g in series.groupby(["geo", "indicator"]):
        g = g.sort_values("yr")
        f = _features(g["val"].to_numpy(), g["yr"].to_numpy())
        f.insert(0, "indicator", ind)
        f.insert(0, "geo", geo)
        frames.append(f)
    import pandas as pd

    expect = (
        pd.concat(frames, ignore_index=True)
        .rename(columns={"year": "yr"})
        .sort_values(["geo", "indicator", "yr"])
        .reset_index(drop=True)
    )
    assert len(got) == len(expect)
    for spark_col, pd_col in [
        ("y", "y"),
        ("lag1", "lag1"),
        ("lag2", "lag2"),
        ("lag3", "lag3"),
        ("roll_mean_3", "roll_mean_3"),
        ("roll_std_3", "roll_std_3"),
    ]:
        np.testing.assert_allclose(
            got[spark_col].to_numpy(),
            np.round(expect[pd_col].astype(float).to_numpy(), 4),
            atol=1e-9,
            err_msg=spark_col,
        )


# --- gated real-library slot tests (VERDICT r3 item 4) ----------------------
#
# xgboost / statsmodels are NOT installed in the build container, so the
# real M3/M6 paths (ml/forecast.py:40,47; reference hyperparams from
# /root/reference/ml/forecast_utils.py:67-75,117-148) normally run only as
# fallbacks. These tests execute the real slots whenever the libraries ARE
# importable — a user installing xgboost gets the reference's exact model
# exercised, not silently-untested code. In this container they skip with
# an explicit reason (also recorded in COVERAGE.md).

_SERIES = [100.0, 104.0, 103.0, 110.0, 115.0, 113.0, 121.0, 126.0, 124.0, 133.0]


def test_xgboost_slot_real_fit():
    xgboost = pytest.importorskip(
        "xgboost", reason="xgboost not in this container: LeastSquaresAR fallback live"
    )
    from eurostat_energy_etl_pipeline_spark.ml import forecast as fc

    assert fc.HAVE_XGB and fc._ARModel.name == "XGBoost"
    years = np.arange(2000, 2000 + len(_SERIES))
    feats = fc._features(np.array(_SERIES), years)
    X, y = feats[fc._FEATURE_COLS].to_numpy(), feats["y"].to_numpy()
    m = fc._ARModel().fit(X, y)
    # reference hyperparams must be on the fitted estimator
    params = m.m.get_params()
    assert params["n_estimators"] == 300
    assert params["max_depth"] == 3
    assert params["learning_rate"] == 0.05
    assert params["random_state"] == 42
    pred = m.predict(X)
    assert np.isfinite(pred).all() and len(pred) == len(y)
    # determinism under the fixed seed
    pred2 = fc._ARModel().fit(X, y).predict(X)
    assert np.allclose(pred, pred2)


def test_statsmodels_slot_real_fit():
    pytest.importorskip(
        "statsmodels",
        reason="statsmodels not in this container: HoltLinear fallback live",
    )
    from eurostat_energy_etl_pipeline_spark.ml import forecast as fc

    assert fc.HAVE_STATSMODELS and fc._SmoothingModel.name == "ExponentialSmoothing"
    m = fc._SmoothingModel().fit(np.array(_SERIES))
    fut = m.forecast(5)
    assert np.isfinite(fut).all() and len(fut) == 5
    # additive-trend smoothing extrapolates the upward trend
    assert fut[-1] > _SERIES[0]


def test_model_selection_over_real_rmse():
    """M7 with at least one real library: _forecast_group must pick the
    min-RMSE candidate among the ACTIVE backends and label rows with the
    real model name."""
    import importlib.util

    if not (
        importlib.util.find_spec("xgboost")
        or importlib.util.find_spec("statsmodels")
    ):
        pytest.skip(
            "neither xgboost nor statsmodels installed: fallbacks covered elsewhere"
        )
    from eurostat_energy_etl_pipeline_spark.ml import forecast as fc

    pdf = pd.DataFrame(
        {
            "geo": "AA",
            "indicator": "GEP",
            "yr": np.arange(2000, 2000 + len(_SERIES)),
            "val": _SERIES,
        }
    )
    out = fc._forecast_group(pdf)
    assert (out["type"] == "forecast").sum() == fc.HORIZON
    real_names = set()
    if fc.HAVE_XGB:
        real_names.add("XGBoost")
    if fc.HAVE_STATSMODELS:
        real_names.add("ExponentialSmoothing")
    fallback = {"LeastSquaresAR", "HoltLinear"} - (
        {"LeastSquaresAR"} if fc.HAVE_XGB else set()
    ) - ({"HoltLinear"} if fc.HAVE_STATSMODELS else set())
    assert set(out["model"]) <= real_names | fallback


# --- the session forecast table ----------------------------------------------

_KEY = ["geo", "indicator", "type", "year"]


def _sorted(pdf):
    return pdf.sort_values(_KEY).reset_index(drop=True)


def test_forecast_table_is_built_once_per_session(spark, sf_dir):
    assert forecast_all(spark, sf_dir) is forecast_all(spark, sf_dir)


def test_forecast_table_matches_the_model_fit_query(spark, sf_dir):
    """The cached `forecast_all` rows are q35's grouped-map rows."""
    from eurostat_energy_etl_pipeline_spark.ml.forecast import forecast_query

    table = _sorted(forecast_all(spark, sf_dir).toPandas())
    fit = _sorted(forecast_query(spark, sf_dir).toPandas())
    assert len(table) > 0
    pd.testing.assert_frame_equal(table, fit, check_exact=True)


def test_model_fit_query_does_not_read_the_forecast_table(spark, sf_dir):
    """Spark substitutes a cached plan into every semantically equal
    fragment of a later query; q35 must still fit the models (one
    explicit repartition under the grouped map) once the table is cached
    and materialized."""
    import contextlib
    import io

    from eurostat_energy_etl_pipeline_spark.ml.forecast import forecast_query

    forecast_all(spark, sf_dir).count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        forecast_query(spark, sf_dir).explain("formatted")
    plan = buf.getvalue()
    assert plan.count("REPARTITION_BY_NUM") == 1
    assert "FlatMapGroupsInPandas" in plan.split("REPARTITION_BY_NUM")[0]


# the guard's empty frames only change pandas' future concat dtype rules;
# the comparison casts to Spark's dtypes
@pytest.mark.filterwarnings("ignore:The behavior of DataFrame concatenation")
def test_forecast_kernel_matches_pandas_groupby_apply(spark, sf_dir):
    """`_forecast_group` applied by pandas alone, one group at a time,
    gives the rows Spark's `applyInPandas` gives for the same series."""
    from eurostat_energy_etl_pipeline_spark.plans.insights import (
        yearly_series_view,
    )

    series = yearly_series_view(spark, sf_dir).toPandas()
    expect = series.groupby(["geo", "indicator"], group_keys=False)[
        ["geo", "indicator", "yr", "val"]
    ].apply(_forecast_group)
    got = forecast_all(spark, sf_dir).toPandas()
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        _sorted(got),
        _sorted(expect.astype(got.dtypes.to_dict())),
        check_exact=True,
    )
