"""Guards for the plan-shape helpers:

- `widen_if_narrow` must widen a single-partition scan to the session's
  parallelism and leave already-wide inputs untouched (the 100 TB case
  must not gain a shuffle).
- The catalog owns table width: `TableCatalog.wide` probes each table once
  per session, and no plan module probes partitions itself.
- `presentation_sort` must produce exactly one output partition in the
  requested total order without scheduling a range-sample job.
- `_normalize_table` must canonicalize every documented timestamp column
  from any physical encoding the fixtures have shipped with.
"""

import re
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark import catalog, plans
from eurostat_energy_etl_pipeline_spark.catalog import TableCatalog, _normalize_table
from eurostat_energy_etl_pipeline_spark.functions import (
    presentation_sort,
    widen_if_narrow,
)


def test_widen_if_narrow_widens_single_partition_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert df.rdd.getNumPartitions() == 1  # the serial-compute landmine
    wide = widen_if_narrow(df)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert wide.count() == df.count()


def test_widen_if_narrow_is_noop_on_wide_input(spark):
    wider = spark.sparkContext.defaultParallelism + 1
    df = spark.range(0, 1000, numPartitions=wider)
    assert widen_if_narrow(df) is df


def test_catalog_decides_table_width_once(spark, sf_dir, monkeypatch):
    """Three documents plans built in one session probe `documents` once
    and share one widened handle (q117 alone probed it twice when every
    plan guarded its own scan)."""
    probed = []

    def probe(df):
        probed.append(df)
        return widen_if_narrow(df)

    monkeypatch.setattr(catalog, "widen_if_narrow", probe)
    t = TableCatalog(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    monkeypatch.setitem(catalog._TABLE_CACHE, key, t)
    plans.load_all()
    names = ("q110_dedup_apply", "q115_pipeline", "q141_substring_dedup")
    for name in names:
        plans.drop_plan(name)  # a plan cached by an earlier test skips its build
    for name in names:
        plans.QUERIES[name](spark, sf_dir)

    assert len(probed) == 1 and probed[0] is t["documents"]
    assert t.wide("documents") is t.wide("documents")
    # single-file fixture: one scan partition, widened to the session's
    assert t.wide("documents").rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )


def test_plans_leave_table_width_to_the_catalog():
    """Regrowth guard: plan modules read widened tables through
    `TableCatalog.wide`; only operators guard their own inputs."""
    guard = re.compile(r"widen_if_narrow|\.rdd\.getNumPartitions")
    pkg = Path(catalog.__file__).parent
    found = sorted(
        f.relative_to(pkg).as_posix()
        for f in (pkg / "plans").rglob("*.py")
        if guard.search(f.read_text())
    )
    assert found == []


def test_presentation_sort_single_partition_total_order(spark):
    df = spark.range(0, 500, numPartitions=8).select(
        (F.col("id") % 13).alias("k"), F.col("id").alias("v")
    )
    out = presentation_sort(df.groupBy("k").agg(F.sum("v").alias("s")), "k")
    assert out.rdd.getNumPartitions() == 1
    ks = [r.k for r in out.collect()]
    assert ks == sorted(ks)


def test_presentation_sort_desc_expressions(spark):
    df = spark.createDataFrame(
        [("a", 3), ("b", 1), ("c", 3)], ["k", "n"]
    )
    got = [r.k for r in presentation_sort(df, F.desc("n"), "k").collect()]
    assert got == ["a", "c", "b"]


def test_normalize_table_handles_ntz_and_nanos_long(spark, tmp_path):
    # timestamp_ntz encoding (what the driver ships since round 2)
    tbl = pa.table(
        {
            "o_orderdate": pa.array(
                [pd.Timestamp("2001-02-03 04:05:06")], pa.timestamp("us")
            )
        }
    )
    path = str(tmp_path / "orders.parquet")
    pq.write_table(tbl, path)
    raw = spark.read.parquet(path)
    assert dict(raw.dtypes)["o_orderdate"] == "timestamp_ntz"
    norm = _normalize_table("orders", raw)
    assert dict(norm.dtypes)["o_orderdate"] == "timestamp"
    assert str(norm.collect()[0].o_orderdate) == "2001-02-03 04:05:06"

    # long-nanos encoding (round-1 TIMESTAMP(NANOS) under nanosAsLong)
    nanos = spark.createDataFrame(
        [(981173106_000_000_000,)], "ts long"
    )
    norm2 = _normalize_table("events", nanos)
    assert dict(norm2.dtypes)["ts"] == "timestamp"
    assert str(norm2.collect()[0].ts) == "2001-02-03 04:05:06"


def test_catalog_delivers_canonical_timestamps(spark, sf_dir):
    cat = TableCatalog(spark, sf_dir)
    assert dict(cat["events"].dtypes)["ts"] == "timestamp"
    assert dict(cat["orders"].dtypes)["o_orderdate"] == "timestamp"
    assert dict(cat["lineitem"].dtypes)["l_shipdate"] == "timestamp"


def test_autotune_walks_directory_tables_and_keeps_defaults_on_empty(
    spark, tmp_path
):
    """r7 advice: directory-style parquet tables (Spark's own output
    layout) must contribute their bytes to autotune's input sizing, and a
    dir with no parquet at all must leave the session defaults untouched
    instead of clamping to the 4-partition/AQE-off floor."""
    from eurostat_energy_etl_pipeline_spark.session import autotune_for_input

    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_aqe = spark.conf.get("spark.sql.adaptive.enabled")

    # Empty dir: no conf change at all.
    empty = tmp_path / "empty"
    empty.mkdir()
    assert autotune_for_input(spark, str(empty)) == {}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert spark.conf.get("spark.sql.adaptive.enabled") == before_aqe

    # Directory-style table: nested part files are counted (the returned
    # conf is the small-input floor here, but total>0 means it ENGAGED).
    wh = tmp_path / "wh" / "observations"
    wh.mkdir(parents=True)
    tbl = pa.table({"x": list(range(100))})
    pq.write_table(tbl, wh / "part-00000.parquet")
    conf = autotune_for_input(spark, str(tmp_path / "wh"))
    assert conf["spark.sql.shuffle.partitions"] == "4"
    assert conf["spark.sql.adaptive.enabled"] == "false"

    # Restore the session defaults for later tests.
    spark.conf.set("spark.sql.shuffle.partitions", before_parts)
    spark.conf.set("spark.sql.adaptive.enabled", before_aqe)


def test_ordered_output_both_regimes_identical_rows(spark):
    """r14/r15: `ordered_output` must produce the SAME rows in the SAME
    total order on both of its physical paths — the interactive-regime
    single-partition sort (AQE off, autotune's small-input branch) and
    the warehouse-regime parallel orderBy (AQE on) — and the interactive
    path must not plan a range exchange (whose boundary sampling
    re-executes the child). The regime flag IS autotune's AQE flag
    (ADVICE r14), so this test no longer depends on the runner's core
    count."""
    from eurostat_energy_etl_pipeline_spark.functions import ordered_output

    df = spark.range(0, 1000).select(
        (F.col("id") % 37).alias("k"), (F.col("id") * 7 % 101).alias("v")
    )
    before = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # interactive regime: AQE off (what autotune sets below 64 parts)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        small = ordered_output(df, "k", F.desc("v"))
        plan_small = small._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan_small.lower()
        assert small.rdd.getNumPartitions() == 1
        rows_small = [tuple(r) for r in small.collect()]

        # warehouse regime: AQE on -> parallel orderBy
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        big = ordered_output(df, "k", F.desc("v"))
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" in plan_big.lower()
        rows_big = [tuple(r) for r in big.collect()]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)

    assert rows_small == rows_big
    assert rows_small == sorted(rows_small, key=lambda t: (t[0], -t[1]))
