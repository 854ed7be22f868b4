"""ETL load job: clean -> stamp -> write with the reference's three modes.

Reference lifecycle (/root/reference/etl/main.py:126-207): drop_duplicates ->
dropna(subset) -> to_datetime -> concat datasets -> load_timestamp -> DDL per
mode -> bulk append. Spark mapping (K1-K3): parquet warehouse written with
`mode("overwrite"/"append")`; `full-refresh` and `truncate` both resolve to an
overwrite (the DDL drop/create vs TRUNCATE distinction is a JDBC concern —
for JDBC sinks use `.option("truncate", True)`).

Scale layout: partitioned by dataset_code (2 values) + year — partition
pruning serves every dashboard query's (dataset, year) predicates; files
within a partition are clustered by country via a repartition on the write
path so min/max stats prune country filters too.
"""

from __future__ import annotations

import argparse
from contextlib import nullcontext
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.plans import staged

MODES = ("append", "truncate", "full-refresh", "merge")

# Natural key of one observation cell; unit_code is null-safe matched because
# a NULL unit survives cleaning (FIXTURES.md §3.3).
MERGE_KEY = ("dataset_code", "country_code", "indicator_code", "unit_code", "time")

# dropna subset per /root/reference/etl/main.py:141-144, verbatim — note
# unit columns and dataset_code are deliberately NOT in the subset
# (FIXTURES.md §3.3); indicator_label IS (a row whose label failed to
# resolve is dropped, even though the decode path coalesces labels to
# codes so this can only matter for non-jsonstat batches).
DROPNA_SUBSET = (
    "country_code",
    "country_name",
    "indicator_code",
    "indicator_label",
    "time",
    "value",
)


def clean(df: DataFrame) -> DataFrame:
    """A5 dedupe + P10 dropna (/root/reference/etl/main.py:132-143)."""
    return df.dropDuplicates().na.drop(subset=list(DROPNA_SUBSET))


def stamp(df: DataFrame, load_ts: datetime | None = None) -> DataFrame:
    """P5: single-literal ingestion timestamp — evaluated once per batch
    (parity with etl/main.py:164, NOT per-row current_timestamp())."""
    ts = load_ts or datetime.now(timezone.utc).replace(tzinfo=None)
    return df.withColumn("load_timestamp", F.lit(ts).cast("timestamp")).withColumn(
        "id", F.monotonically_increasing_id()
    )


def write_warehouse_jdbc(
    df: DataFrame,
    url: str,
    mode: str,
    table: str = "observations",
    options: dict[str, str] | None = None,
) -> None:
    """K1-K3 against the reference's actual warehouse target: a JDBC
    database (/root/reference/etl/main.py:167-207 loads Postgres with
    per-mode DDL). Mode mapping onto Spark's JDBC writer:

    - ``full-refresh`` -> ``mode("overwrite")``: Spark drops and recreates
      the table — the reference's DROP TABLE + CREATE TABLE branch.
    - ``truncate``     -> ``mode("overwrite").option("truncate", true)``:
      Spark issues TRUNCATE TABLE and keeps the DDL — the reference's
      TRUNCATE branch.
    - ``append``       -> ``mode("append")``: creates the table if absent,
      then bulk-inserts — the reference's CREATE IF NOT EXISTS + to_sql.

    ``merge`` has no single-statement Spark-writer mapping (the reference
    cannot express it either): it stages the batch in a side table and
    runs an engine-side ANSI MERGE keyed on MERGE_KEY — see
    `merge_warehouse_jdbc`.

    At scale the bulk insert parallelizes per partition (one connection
    per executor task); size `df` partitions to the database's ingest
    concurrency with `numPartitions` in ``options``.
    """
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
    if mode == "merge":
        merge_warehouse_jdbc(df, url, table=table, options=options)
        return
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .mode("append" if mode == "append" else "overwrite")
    )
    if mode == "truncate":
        writer = writer.option("truncate", "true")
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.save()


def _jdbc_statement(spark: SparkSession, url: str, driver: str | None):
    """Driver-side JDBC connection via the JVM already running under the
    session — metadata probes and DDL/MERGE statements only, never data
    (rows always move through Spark's parallel JDBC writer)."""
    jvm = spark.sparkContext._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    return jvm.java.sql.DriverManager.getConnection(url)


def merge_warehouse_jdbc(
    df: DataFrame,
    url: str,
    table: str = "observations",
    staging_table: str | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """Key-based upsert into a JDBC warehouse — the incremental load the
    reference's drop/append lifecycle cannot express, done the way a real
    warehouse does it:

    1. bulk-write the batch into a STAGING table (Spark's parallel JDBC
       writer, overwrite — per-executor connections, no driver data path);
    2. one engine-side ANSI ``MERGE INTO target USING staging`` keyed on
       MERGE_KEY (null-safe on every key, mirroring the parquet path's
       eqNullSafe): matched rows take the batch's values, new keys insert;
    3. drop the staging table.

    The MERGE itself is a single set-based statement the database executes
    with its own join machinery — O(|staging| lookups against the target's
    key index), not O(table). Requires the batch to be key-unique (ANSI
    MERGE errors on duplicate source matches — a correctness feature: a
    batch carrying two values for one cell has no well-defined upsert).
    First load (target absent) degenerates to a plain append, which
    creates the table. Works on any MERGE-capable target (Postgres 15+,
    Derby 10.11+ — the test harness); identifiers are double-quoted to
    survive reserved-word columns like ``time``."""
    spark = df.sparkSession
    opts = dict(options or {})
    staging = staging_table or f"{table}_staging"
    conn = _jdbc_statement(spark, url, opts.get("driver"))
    try:
        meta = conn.getMetaData()
        rs = meta.getTables(None, None, table.upper(), None)
        target_exists = rs.next()
        rs.close()
        if not target_exists:
            write_warehouse_jdbc(df, url, "append", table=table, options=options)
            return
        writer = (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", staging)
            .mode("overwrite")
        )
        for k, v in opts.items():
            writer = writer.option(k, v)
        writer.save()
        q = lambda c: f'"{c}"'  # noqa: E731 — Spark's JDBC DDL quotes columns
        keys = [k for k in MERGE_KEY if k in df.columns]
        # String keys compare as VARCHAR: Spark's JDBC DDL maps StringType
        # to CLOB on some dialects (Derby), and CLOBs are not comparable in
        # a MERGE ON clause; the cast is a no-op where strings are already
        # VARCHAR/text (Postgres).
        str_keys = {
            f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
        }

        def key_ref(alias: str, k: str) -> str:
            ref = f"{alias}.{q(k)}"
            return f"CAST({ref} AS VARCHAR(512))" if k in str_keys else ref

        on = " AND ".join(
            f"({key_ref('t', k)} = {key_ref('s', k)} "
            f"OR (t.{q(k)} IS NULL AND s.{q(k)} IS NULL))"
            for k in keys
        )
        non_keys = [c for c in df.columns if c not in keys]
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(
                f"MERGE INTO {table} t USING {staging} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET "
                + ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
                + " WHEN NOT MATCHED THEN INSERT ("
                + ", ".join(q(c) for c in df.columns)
                + ") VALUES ("
                + ", ".join(f"s.{q(c)}" for c in df.columns)
                + ")"
            )
            stmt.executeUpdate(f"DROP TABLE {staging}")
        finally:
            stmt.close()
    finally:
        conn.close()


def write_warehouse(df: DataFrame, warehouse_dir: str, mode: str) -> None:
    """K1-K3 + incremental merge against the parquet warehouse.

    `merge` is the upsert the reference can't express (its loads are all
    drop/append): batch rows replace existing rows with the same MERGE_KEY,
    and ONLY the (dataset_code, year) partitions present in the batch are
    rewritten (`partitionOverwriteMode=dynamic`) — at 100 TB a daily batch
    touches a handful of year partitions, so the rewrite cost is bounded by
    the batch's partition footprint, not the table size. The read is not:
    the `left_semi` broadcast join on (dataset_code, year) prunes no files
    (the scan gets no partition filter and no dynamic partition pruning),
    so the survivors' scan reads every warehouse partition and grows with
    the table; only the rows it keeps are the footprint's. Production tables
    would use a transactional format (Delta/Iceberg MERGE = new files +
    metadata swap); this is the same plan shape over plain parquet, with the
    affected-partition survivors staged (`plans.staged`, released after the
    write) so the read and the overwrite of the same path don't collide.

    A merge reads `df` three times (partition footprint, batch keys, the
    write's union with the survivors), an append once; `run_etl` passes its
    batch already staged, so none of these reads re-runs the batch's plan
    and only the survivors are staged again. Both lookups (partition
    footprint and keys) broadcast the batch's columns as they are, not
    de-duplicated: a semi- or anti-join only asks whether a match exists,
    so a value the batch carries twice keeps or drops the same rows as
    once. A `distinct` there changes no row but costs a shuffle, and that
    shuffle on the batch side lets Spark's runtime bloom filter scan the
    whole warehouse's partition columns to prefilter the batch: 4 of a
    merge's jobs."""
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
    out = df.withColumn("year", F.year("time"))
    write_mode = "append" if mode == "append" else "overwrite"
    writer_opts = {}
    kept = nullcontext()
    if mode == "merge":
        spark = df.sparkSession
        try:
            existing = spark.read.parquet(warehouse_dir)
        except Exception:
            existing = None  # first load: merge degenerates to full-refresh
        if existing is not None:
            writer_opts["partitionOverwriteMode"] = "dynamic"
            # Keep the rows in the batch's (dataset_code, year) footprint,
            # then drop those whose natural key the batch replaces. Both join
            # sides the batch contributes are broadcast-sized (it's one API
            # response).
            parts = out.select("dataset_code", "year")
            affected = existing.join(
                F.broadcast(parts), ["dataset_code", "year"], "left_semi"
            )
            keys = out.select(*MERGE_KEY)
            cond = reduce(
                lambda a, b: a & b,
                [affected[k].eqNullSafe(keys[k]) for k in MERGE_KEY],
            )
            kept = staged(affected.join(F.broadcast(keys), cond, "left_anti"))
    with kept as survivors:
        rows = out if survivors is None else survivors.unionByName(out)
        (
            rows
            # cluster within partitions by country for min/max stat pruning
            .repartition("dataset_code", "year")
            .sortWithinPartitions("country_code")
            .write.mode(write_mode)
            .options(**writer_opts)
            .partitionBy("dataset_code", "year")
            .parquet(warehouse_dir)
        )


def read_warehouse(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    return spark.read.parquet(warehouse_dir)


def run_etl(
    spark: SparkSession,
    batches: list[DataFrame],
    warehouse_dir: str,
    mode: str = "full-refresh",
    load_ts: datetime | None = None,
) -> int:
    """Full load: union batches (U1) -> clean -> stamp -> write. Returns the
    loaded row count (the reference's 'Loaded N rows' telemetry).

    The cleaned, stamped batch is staged once (`plans.staged`, released on
    return): the write, a merge's partition and key lookups and the row
    count all read that one checkpoint instead of re-running the decode,
    dedupe and stamp plan per action."""
    full = reduce(DataFrame.unionByName, batches)
    with staged(stamp(clean(full), load_ts)) as out:
        write_warehouse(out, warehouse_dir, mode)
        return out.count()


def wait_for(check, retries: int = 20, delay: float = 5.0, sleep=None) -> bool:
    """K6 readiness loop (/root/reference/etl/main.py:31-49): poll `check`
    up to `retries` times with `delay` seconds between attempts. Retained
    for JDBC warehouse targets, where the database may lag the job."""
    import time as _time

    sleep = sleep or _time.sleep
    for attempt in range(retries):
        try:
            if check():
                return True
        except Exception:
            pass
        if attempt < retries - 1:
            sleep(delay)
    return False


def main() -> None:  # pragma: no cover - CLI wrapper
    """CLI mirroring the reference's argparse surface (etl/main.py:26-28)."""
    from eurostat_energy_etl_pipeline_spark.session import get_spark
    from eurostat_energy_etl_pipeline_spark.sources.jsonstat import (
        decode_jsonstat,
        fetch_jsonstat,
    )

    p = argparse.ArgumentParser()
    p.add_argument("--mode", choices=MODES, default="full-refresh")
    p.add_argument("--warehouse", default="/tmp/warehouse/observations")
    p.add_argument(
        "--dataset",
        action="append",
        default=None,
        help="dataset_code=url pairs (repeatable), e.g. "
        "nrg_cb_e=https://ec.europa.eu/eurostat/api/.../nrg_cb_e?...",
    )
    p.add_argument(
        "--from-dir",
        default=None,
        help="directory of saved JSON-stat responses; decoded in parallel "
        "via spark.read.format('jsonstat') (one partition per document)",
    )
    args = p.parse_args()
    spark = get_spark("etl-job")
    datasets = []
    if args.from_dir:
        from eurostat_energy_etl_pipeline_spark.sources.jsonstat_datasource import (
            register_jsonstat_source,
        )

        register_jsonstat_source(spark)
        datasets.append(spark.read.format("jsonstat").load(args.from_dir))
    for spec in args.dataset or []:
        code, url = spec.split("=", 1)
        datasets.append(decode_jsonstat(spark, fetch_jsonstat(url), code))
    if not datasets:
        raise SystemExit("no --dataset (code=url) or --from-dir provided")
    n = run_etl(spark, datasets, args.warehouse, args.mode)
    print(f"Loaded {n} rows")


if __name__ == "__main__":  # pragma: no cover
    main()
