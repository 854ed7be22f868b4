"""Local mirror of the driver's DuckDB-oracle differential check:
run the Spark query and the oracle SQL on the same parquet tables,
canonicalize (sort columns by name, round floats, sort rows), compare."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from eurostat_energy_etl_pipeline_spark.catalog import TABLES

ROUND = 6


def run_counting_jobs(spark, fn):
    """``(fn(), n)``: the result and the number of Spark jobs ``fn`` ran,
    counted with a job group and the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64").round(ROUND)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def compare(spark_df, oracle_pdf: pd.DataFrame) -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass)."""
    problems = []
    s = canonicalize(spark_df.toPandas())
    o = canonicalize(oracle_pdf)
    if list(s.columns) != list(o.columns):
        return [f"columns differ: spark={list(s.columns)} oracle={list(o.columns)}"]
    if len(s) != len(o):
        problems.append(f"row counts differ: spark={len(s)} oracle={len(o)}")
        return problems
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            eq = pd.Series(
                np.isclose(
                    sv.astype(float), ov.astype(float), rtol=0, atol=10**-ROUND, equal_nan=True
                ),
                index=sv.index,
            )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
        if not eq.all():
            bad = (~eq).idxmax()
            problems.append(
                f"column {c}: {int((~eq).sum())} mismatches, first at row {bad}: "
                f"spark={sv[bad]!r} oracle={ov[bad]!r}"
            )
    return problems
