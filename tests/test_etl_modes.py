"""ETL load-mode matrix (FIXTURES.md §3.2) + cleaning fixture (§3.3) +
load_timestamp single-evaluation parity (SURVEY.md §4.2 footgun)."""

from datetime import datetime

import pytest
from pyspark.sql import Row

from eurostat_energy_etl_pipeline_spark.etl.job import (
    clean,
    read_warehouse,
    run_etl,
    stamp,
)

COLS = [
    "dataset_code",
    "country_code",
    "country_name",
    "indicator_code",
    "indicator_label",
    "unit_code",
    "unit_label",
    "time",
    "value",
]


def _batch(spark, n=5):
    rows = [
        Row(
            dataset_code="nrg_cb_e",
            country_code=f"C{i}",
            country_name=f"Country {i}",
            indicator_code="GEP",
            indicator_label="label",
            unit_code="GWH",
            unit_label="Gigawatt-hour",
            time=datetime(2020 + i, 1, 1).date(),
            value=float(i),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_mode_matrix(spark, tmp_path):
    wh = str(tmp_path / "obs")
    batch = _batch(spark)
    for mode, expect in [
        ("full-refresh", 5),
        ("append", 10),
        ("truncate", 5),
        ("full-refresh", 5),
    ]:
        run_etl(spark, [batch], wh, mode)
        assert read_warehouse(spark, wh).count() == expect, mode


def test_invalid_mode_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="mode"):
        run_etl(spark, [_batch(spark)], str(tmp_path / "x"), "replace")


def test_merge_upserts_and_preserves_untouched_partitions(spark, tmp_path):
    """merge = key-based upsert with dynamic partition overwrite: matched
    keys take the batch's value, new keys are inserted, and rows in
    partitions the batch never touches keep their original load_timestamp
    (they are not rewritten)."""
    from pyspark.sql import functions as F

    wh = str(tmp_path / "obs")
    t0, t1 = datetime(2024, 1, 1), datetime(2025, 6, 1)
    run_etl(spark, [_batch(spark)], wh, "full-refresh", load_ts=t0)

    base = _batch(spark).where("country_code = 'C1'").collect()[0].asDict()
    delta = spark.createDataFrame(
        [
            Row(**{**base, "value": 100.0}),  # update: same key, new value
            Row(
                **{
                    **base,
                    "country_code": "C9",
                    "country_name": "Country 9",
                    "time": datetime(2029, 1, 1).date(),
                    "value": 9.0,
                }
            ),  # insert: new key in a new year partition
        ]
    )
    before = _persistent_rdd_ids(spark)
    run_etl(spark, [delta], wh, "merge", load_ts=t1)
    # the merge's staging checkpoint is released when the write is done
    assert _persistent_rdd_ids(spark) - before == set()

    out = read_warehouse(spark, wh)
    assert out.count() == 6  # 5 original - 1 replaced + 2 batch rows... = 6
    got = {r["country_code"]: r for r in out.collect()}
    assert got["C1"]["value"] == 100.0
    assert got["C1"]["load_timestamp"] == t1
    assert got["C9"]["value"] == 9.0
    # untouched partitions (years 2020, 2022-2024) were not rewritten
    for c in ("C0", "C2", "C3", "C4"):
        assert got[c]["load_timestamp"] == t0, c
    # merge into an empty warehouse degenerates to a plain load
    wh2 = str(tmp_path / "obs2")
    run_etl(spark, [_batch(spark)], wh2, "merge", load_ts=t0)
    assert read_warehouse(spark, wh2).count() == 5


def test_load_runs_the_batch_once(spark, tmp_path):
    """A load executes its batch's plan once: the write, a merge's
    partition and key lookups and the returned row count all read one
    staged copy. A Python UDF on `value` counts the executions."""
    from pyspark.sql import functions as F

    runs = spark.sparkContext.accumulator(0)

    def bump(v):
        runs.add(1)
        return v

    batch = _batch(spark, n=50).withColumn("value", F.udf(bump, "double")("value"))

    def bumps(action):
        start = runs.value
        result = action()
        return runs.value - start, result

    once, _ = bumps(lambda: stamp(clean(batch)).collect())
    assert once > 0
    wh = str(tmp_path / "obs")
    for mode in ("append", "merge"):  # the merge finds the appended rows
        n, loaded = bumps(lambda: run_etl(spark, [batch], wh, mode))
        assert n == once, mode
        assert loaded == 50, mode
    assert read_warehouse(spark, wh).count() == 50


def test_merge_stages_only_the_surviving_rows(spark, tmp_path, monkeypatch):
    """Inside a merge only the affected partitions' surviving rows are
    staged; the batch, already staged by `run_etl`, is not staged twice."""
    from contextlib import contextmanager

    from eurostat_energy_etl_pipeline_spark.etl import job

    wh = str(tmp_path / "obs")
    run_etl(spark, [_batch(spark)], wh, "full-refresh")
    base = _batch(spark).where("country_code = 'C1'").collect()[0].asDict()
    # a new key in C1's year partition: C1 survives, nothing is replaced
    delta = spark.createDataFrame(
        [Row(**{**base, "country_code": "C9", "country_name": "Country 9", "value": 9.0})]
    )

    staged_rows = []
    real = job.staged

    @contextmanager
    def recording(df):
        with real(df) as out:
            staged_rows.append(sorted((r["country_code"], r["value"]) for r in out.collect()))
            yield out

    monkeypatch.setattr(job, "staged", recording)
    assert run_etl(spark, [delta], wh, "merge") == 1
    # run_etl's batch, then the merge's survivors alone
    assert staged_rows == [[("C9", 9.0)], [("C1", 1.0)]]
    got = {r["country_code"]: r["value"] for r in read_warehouse(spark, wh).collect()}
    assert got == {"C0": 0.0, "C1": 1.0, "C2": 2.0, "C3": 3.0, "C4": 4.0, "C9": 9.0}


def test_merge_null_unit_key_is_null_safe(spark, tmp_path):
    """A NULL unit_code survives cleaning (FIXTURES §3.3); merging the same
    NULL-unit key must UPDATE that row, not duplicate it."""
    wh = str(tmp_path / "obs")
    schema = _batch(spark).schema
    base = _batch(spark, n=2).collect()[0].asDict()
    nullunit = Row(**{**base, "unit_code": None})
    run_etl(spark, [spark.createDataFrame([nullunit], schema)], wh, "full-refresh")
    run_etl(
        spark,
        [spark.createDataFrame([Row(**{**nullunit.asDict(), "value": 42.0})], schema)],
        wh,
        "merge",
    )
    rows = read_warehouse(spark, wh).collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 42.0


def test_cleaning_fixture(spark):
    """FIXTURES §3.3: 2 exact dups -> 1; NULL value and NULL country_code
    dropped; NULL unit_code alone survives."""
    base = dict(
        dataset_code="d",
        country_code="DE",
        country_name="Germany",
        indicator_code="GEP",
        indicator_label="l",
        unit_code="GWH",
        unit_label="u",
        time=datetime(2020, 1, 1).date(),
        value=1.0,
    )
    rows = [
        Row(**base),
        Row(**base),  # exact duplicate
        Row(**{**base, "country_code": "FR", "value": None}),  # NULL value
        Row(**{**base, "country_code": None, "value": 2.0}),  # NULL country
        Row(**{**base, "country_code": "IT", "unit_code": None}),  # kept
        Row(**{**base, "country_code": "ES", "value": 3.0}),
        Row(**{**base, "country_code": "PT", "value": 4.0}),
    ]
    df = spark.createDataFrame(rows, schema=COLS)
    assert clean(df).count() == 4


def test_load_timestamp_single_literal(spark):
    """P5 parity: one literal per batch, not per-row clock reads."""
    out = stamp(_batch(spark)).select("load_timestamp").distinct()
    assert out.count() == 1


def test_partition_layout(spark, tmp_path):
    """Warehouse is partitioned by dataset_code + year (partition pruning
    serves the dashboard's (dataset, year) predicates)."""
    wh = str(tmp_path / "obs")
    run_etl(spark, [_batch(spark)], wh, "full-refresh")
    import os

    top = set(os.listdir(wh)) - {"_SUCCESS"}
    assert any(d.startswith("dataset_code=") for d in top)
    sub = os.listdir(f"{wh}/dataset_code=nrg_cb_e")
    assert any(d.startswith("year=") for d in sub)


def test_wait_for_retries_then_succeeds():
    from eurostat_energy_etl_pipeline_spark.etl.job import wait_for

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("not ready")
        return True

    slept = []
    assert wait_for(flaky, retries=5, delay=0.01, sleep=slept.append)
    assert calls["n"] == 3
    assert len(slept) == 2  # no sleep after success


def test_wait_for_gives_up():
    from eurostat_energy_etl_pipeline_spark.etl.job import wait_for

    slept = []
    assert not wait_for(lambda: False, retries=3, delay=0.01, sleep=slept.append)
    assert len(slept) == 2  # no sleep after the final attempt
