"""Scan-width guard for compute-bound stages.

Spark sizes file-scan partitions by BYTES (`spark.sql.files.maxPartitionBytes`),
which is right when cost scales with I/O but wrong for operators whose cost
per row dwarfs their bytes: shingling, MinHash/SimHash signatures, n-gram
language ID, per-series model fits. A small parquet file (or one with a
single row group — row groups are parquet's split unit) arrives as ONE scan
partition, and the whole corpus's compute then runs on one core while the
rest of the executor idles.

`widen_if_narrow` inserts a round-robin repartition ONLY when the input has
fewer partitions than the session's parallelism. The probe reads the
physical plan's partitioning (no job runs); the exchange it may add costs
one pass over the input — trivial next to the per-row compute it unlocks.
At warehouse scale the input is already hundreds of partitions wide and the
guard is a no-op, so this never adds a shuffle to the 100 TB plan.

The catalog owns table width: plans read a widened table through
`TableCatalog.wide(name)`, which applies this guard once per table and
session. Operators, whose inputs can be any DataFrame, guard their own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition `df` to the session's defaultParallelism iff it
    currently has fewer partitions.

    Contract: call this on SCAN-SIDE inputs only (a bare table read plus
    narrow projections/filters). Plans get that by construction through
    `TableCatalog.wide`, which widens only catalog tables; an operator
    guarding its own input must pass one. There the
    `df.rdd.getNumPartitions()` probe is pure planning (file listing /
    split arithmetic, no job). On a plan that already contains a shuffle,
    converting to an RDD under AQE can force materialization of upstream
    query stages, and the probed partition count may differ from the
    AQE-coalesced final partitioning — so this is NOT a general-purpose
    width guard for arbitrary mid-plan DataFrames."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df  # un-probe-able plan (e.g. streaming): leave it alone
    if current < target:
        return df.repartition(target)
    return df


def keyed_compute_width(df: DataFrame) -> int:
    """Partition count for CPU-BOUND keyed stages — grouped-map Python
    kernels (`applyInPandas` / cogroup) and pair-expansion aggregates —
    whose cost per row dwarfs their bytes.

    The session's static shuffle width is sized to the INPUT BYTES
    (``session.autotune_for_input``: bytes / 64 MB), which is right for
    I/O-bound reduce stages but starves compute-bound ones: at
    interactive scale the width lands at the 4-partition floor, so a
    grouped kernel runs 4 Python workers while the other cores idle.
    Pre-partitioning the kernel's input with
    ``repartition(keyed_compute_width(df), *keys)`` satisfies the
    operator's ClusteredDistribution requirement, so the plan gets ONE
    exchange either way — only its width changes. ``max(cores, static
    width)`` keeps warehouse plans unchanged (there the static width
    already exceeds the local core count) — this never shrinks a
    large-scale exchange, exactly like the forecast operator's
    repartition-by-group-key (ml/forecast.forecast_all)."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        width = cores
    return max(width, cores)

