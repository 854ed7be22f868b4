"""Warehouse maintenance: small-file statistics and partition compaction.

The reference's warehouse is a Postgres table, so it never meets the
small-file problem; a parquet warehouse fed by incremental `append` /
`merge` loads (etl/job.py) does — every batch writes at least one file
per touched (dataset_code, year) partition, and after months of daily
loads a partition holds hundreds of KB-sized files whose open/footer
cost dominates scan time. Compaction is the standard fix (Delta
OPTIMIZE, Iceberg rewrite_data_files); this is the same job expressed
over plain parquet.

Scale design:
- File inventory comes from the Hadoop FileSystem API (works unchanged
  on local paths, HDFS, or s3a://) — metadata-only, no data read.
- Only partitions that NEED compaction (more files than
  ceil(bytes/target)) are rewritten; the rewrite reads just those
  partitions (partition-pruned scan) and uses the same
  dynamic-partition-overwrite + checkpoint staging (`plans.staged`) as
  the merge path, so untouched partitions are never listed, read, or
  replaced.
- Output file count per partition is sized to the partition's bytes:
  rows are repartitioned on (partition cols + a per-partition bucket
  salt) so a 100 GB partition compacts to many target-size files in
  parallel while a 10 MB one becomes exactly one — no single-task
  bottleneck on big partitions, no over-splitting of small ones.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.plans import staged

PARTITION_COLS = ("dataset_code", "year")


@dataclass(frozen=True)
class PartitionStats:
    dataset_code: str
    year: int
    n_files: int
    total_bytes: int


def warehouse_file_stats(
    spark: SparkSession, warehouse_dir: str
) -> list[PartitionStats]:
    """Per-(dataset_code, year) parquet file inventory via the Hadoop
    FileSystem API — metadata-only, portable across local/HDFS/object
    stores. Returns driver-side stats: the partition count is bounded
    (datasets x years), never data-sized."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(warehouse_dir)
    fs = root.getFileSystem(conf)
    out: list[PartitionStats] = []
    if not fs.exists(root):
        return out
    for ds_status in fs.listStatus(root):
        if not ds_status.isDirectory():
            continue
        ds_name = ds_status.getPath().getName()
        if not ds_name.startswith("dataset_code="):
            continue
        for yr_status in fs.listStatus(ds_status.getPath()):
            if not yr_status.isDirectory():
                continue
            yr_name = yr_status.getPath().getName()
            if not yr_name.startswith("year="):
                continue
            n, total = 0, 0
            for f in fs.listStatus(yr_status.getPath()):
                if f.isFile() and f.getPath().getName().endswith(".parquet"):
                    n += 1
                    total += f.getLen()
            out.append(
                PartitionStats(
                    dataset_code=ds_name.split("=", 1)[1],
                    year=int(yr_name.split("=", 1)[1]),
                    n_files=n,
                    total_bytes=total,
                )
            )
    return out


def compact_warehouse(
    spark: SparkSession,
    warehouse_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite every partition whose file count exceeds its byte-sized
    target (ceil(total_bytes / target_file_bytes), min 1) down to AT MOST
    that many files, sized approximately to target (the shuffle uses an
    explicit AQE-exempt partition count, but hash collisions between
    bucket keys can still merge two planned files into one slightly
    larger one). Row-preserving by construction: the rewrite is a
    partition-pruned scan -> repartition -> dynamic-overwrite of the same
    partitions, no row-level transformation.

    Returns {"partitions_compacted", "files_before", "files_after"}."""
    stats = warehouse_file_stats(spark, warehouse_dir)
    plan = [
        (s, max(1, math.ceil(s.total_bytes / target_file_bytes)))
        for s in stats
    ]
    todo = [(s, tgt) for s, tgt in plan if s.n_files > tgt]
    if not todo:
        return {"partitions_compacted": 0, "files_before": 0, "files_after": 0}

    # Broadcast-sized control tables: affected partitions + per-partition
    # output file counts. Partition counts are datasets x years — tiny.
    import pandas as pd

    targets = spark.createDataFrame(
        pd.DataFrame(
            [(s.dataset_code, s.year, tgt) for s, tgt in todo],
            columns=["dataset_code", "year", "_n_out"],
        ),
        "dataset_code string, year int, _n_out int",
    )
    existing = spark.read.parquet(warehouse_dir)
    affected = existing.join(
        F.broadcast(targets), list(PARTITION_COLS), "inner"
    )
    # Per-partition bucket salt: rows of one (dataset, year) spread over
    # exactly _n_out shuffle keys -> _n_out output files, written in
    # parallel. Salting on the row hash (not a data column) keeps buckets
    # balanced regardless of value skew.
    salted = affected.withColumn(
        "_bucket",
        F.pmod(
            F.xxhash64(*[c for c in existing.columns if c not in PARTITION_COLS]),
            F.col("_n_out"),
        ).cast("int"),
    )
    # Explicit partition count = total planned output files: a
    # user-specified numPartitions is exempt from AQE partition coalescing,
    # which would otherwise merge several (partition, bucket) keys into one
    # task and emit fewer, larger-than-target files. Hash collisions can
    # still co-locate two buckets in one task, so the contract is "close
    # to", not "exactly", the target count (see docstring).
    n_out_total = sum(tgt for _, tgt in todo)
    # staged: sever lineage, since we overwrite our input
    with staged(
        salted.repartition(n_out_total, *PARTITION_COLS, "_bucket").drop(
            "_n_out", "_bucket"
        )
    ) as rows:
        (
            rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PARTITION_COLS)
            .parquet(warehouse_dir)
        )
    after = {
        (s.dataset_code, s.year): s.n_files
        for s in warehouse_file_stats(spark, warehouse_dir)
    }
    return {
        "partitions_compacted": len(todo),
        "files_before": sum(s.n_files for s, _ in todo),
        "files_after": sum(after[(s.dataset_code, s.year)] for s, _ in todo),
    }
