"""Compaction invariants: many-small-file partitions rewrite to their
byte-sized target, rows survive bit-identically, untouched partitions
keep their files, and the job is idempotent."""

from datetime import datetime

import pytest
from pyspark.sql import Row

from eurostat_energy_etl_pipeline_spark.etl.job import run_etl
from eurostat_energy_etl_pipeline_spark.etl.maintenance import (
    compact_warehouse,
    warehouse_file_stats,
)


def _batch(spark, year: int, n: int, tag: str):
    rows = [
        Row(
            dataset_code="nrg_cb_e",
            country_code=f"C{i % 3}",
            country_name=f"C{i % 3}",
            indicator_code="GEP",
            indicator_label="label",
            unit_code="GWH",
            unit_label="Gigawatt-hour",
            time=datetime(year, 1, 1),
            value=float(i) + (0.5 if tag == "b" else 0.0),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture()
def warehouse(spark, tmp_path):
    wd = str(tmp_path / "wh")
    # 6 append loads into year=2020 -> many small files in one partition;
    # one load into year=2021 stays as the untouched control partition.
    run_etl(spark, [_batch(spark, 2020, 10, "a")], wd, "full-refresh")
    for i in range(5):
        run_etl(spark, [_batch(spark, 2020, 10, f"x{i}")], wd, "append")
    run_etl(spark, [_batch(spark, 2021, 10, "b")], wd, "append")
    return wd


def test_stats_see_partitions_and_files(spark, warehouse):
    stats = {(s.dataset_code, s.year): s for s in warehouse_file_stats(spark, warehouse)}
    assert set(stats) == {("nrg_cb_e", 2020), ("nrg_cb_e", 2021)}
    assert stats[("nrg_cb_e", 2020)].n_files >= 6
    assert all(s.total_bytes > 0 for s in stats.values())


def test_compact_preserves_rows_and_hits_target(spark, warehouse):
    before = spark.read.parquet(warehouse)
    rows_before = sorted(
        map(tuple, before.drop("load_timestamp", "id").collect())
    )
    ctl_files = {
        s.year: s.n_files for s in warehouse_file_stats(spark, warehouse)
    }
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    cached_before = set(persistent().keySet().toArray())
    report = compact_warehouse(spark, warehouse)
    # the compaction's staging checkpoint is released when the write is done
    assert set(persistent().keySet().toArray()) - cached_before == set()
    assert report["partitions_compacted"] >= 1
    assert report["files_after"] < report["files_before"]
    stats = {s.year: s for s in warehouse_file_stats(spark, warehouse)}
    # Tiny partitions compact to exactly one file.
    assert stats[2020].n_files == 1
    # Control partition untouched (it already met its target).
    assert stats[2021].n_files == ctl_files[2021]
    after = spark.read.parquet(warehouse)
    rows_after = sorted(map(tuple, after.drop("load_timestamp", "id").collect()))
    assert rows_after == rows_before


def test_compact_idempotent(spark, warehouse):
    compact_warehouse(spark, warehouse)
    second = compact_warehouse(spark, warehouse)
    assert second == {
        "partitions_compacted": 0,
        "files_before": 0,
        "files_after": 0,
    }


def test_missing_warehouse_is_noop(spark, tmp_path):
    report = compact_warehouse(spark, str(tmp_path / "absent"))
    assert report["partitions_compacted"] == 0
