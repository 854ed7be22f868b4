"""Table loader + derived reference-shaped views.

The driver materializes a TPC-H-ish star schema as one parquet file per table
(TESTDATA.md). `load_tables` returns lazy DataFrames (parquet scans with full
Catalyst pushdown); `observations`/`obs_series` are the reference's warehouse
fact table and insight-pipeline input, derived deterministically per
FIXTURES.md §2 so the Spark engine and the DuckDB oracle read identical rows.

Reference parity: the `observations` schema is the table created by the
reference ETL (/root/reference/etl/main.py:170-184); `obs_series` is the
projection fed to the insights builder
(/root/reference/llm_app/build_knowledge_base.py:88-98).
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import shutil
import tempfile
import threading
from collections.abc import Mapping
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Deterministic synthetic mapping o_orderkey -> indicator code (FIXTURES.md §2.1).
INDICATOR_CODES = ("GEP", "FC_E", "FC_IND_E", "FC_TRA_E", "FC_OTH_CP_E", "FC_OTH_HH_E")


# Confs that must hold on ANY session that reads the fixtures. The driver's
# harness supplies its own plain SparkSession (not session.get_spark's), so
# everything correctness- or performance-critical must also be set at runtime
# here, on the incoming session. All of these are runtime-settable SQL confs.
_RUNTIME_CONF: dict[str, str] = {
    # events.ts is TIMESTAMP(NANOS); without this the parquet reader throws
    # PARQUET_TYPE_ILLEGAL on the scan (the round-1 all-ERR root cause).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB timestamps are UTC-naive; oracle hash parity must not depend on
    # the host timezone.
    "spark.sql.session.timeZone": "UTC",
    # AQE sub-features (active whenever AQE itself is on): runtime
    # shuffle-partition coalescing + skew-join splitting. The master
    # `spark.sql.adaptive.enabled` switch is deliberately NOT forced here
    # (r7): it defaults to true on any Spark ≥3.2 session, and forcing it
    # at every load_tables call silently overrode session.autotune_for_input's
    # measured choice to run SMALL inputs with static plans (every earlier
    # "AQE off" A/B was a placebo because of this line — see BENCHNOTES r7).
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the pandas_udf / mapInPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let AQE re-plan the output partitioning of cached plans. Off (the
    # default), every stage reading a persisted view inherits the cache's
    # pre-coalesce 32-partition layout, so small-SF window chains over the
    # cached observations/series views run 100+ near-empty tasks; measured
    # at sf0.1 this conf alone cuts the insights chain ~4x (1.03s -> 0.27s,
    # 136 -> 12 tasks) with identical results (layout-only change).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Harden a possibly-foreign session with the runtime confs every query
    in this engine assumes. Idempotent and cheap (conf reads only after the
    first call); never raises — a conf an older/newer Spark refuses to set
    runtime-side is skipped rather than failing the query."""
    for k, v in _RUNTIME_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass
    try:
        # At the global default (200) the scheduler floor dominates small
        # scale factors; size to the session's parallelism and let AQE
        # coalesce downward. A user-tuned value is left alone.
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(int(cores), 8)))
    except Exception:
        pass


class TableCatalog(Mapping):
    """Lazy per-table parquet handles. Each table's footer is read on first
    access (and memoized), so one unreadable file can only fail the queries
    that actually touch it — an orders-only query never resolves `events`.

    `events.ts` is stored as TIMESTAMP(NANOS), which Spark's parquet reader
    rejects; with `spark.sql.legacy.parquet.nanosAsLong` it arrives as long
    nanos and is converted to a microsecond timestamp with exact integer
    arithmetic (`div` — double division would lose sub-microsecond bits)."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self._spark = spark
        self._sf_dir = sf_dir
        self._resolved: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        df = self._resolved.get(name)
        if df is None:
            if name not in TABLES:
                raise KeyError(name)
            try:
                df = self._spark.read.parquet(f"{self._sf_dir}/{name}.parquet")
                df = _normalize_table(name, df)
            except KeyError:
                raise
            except Exception as exc:  # name the table, keep the cause
                raise RuntimeError(
                    f"catalog: failed to resolve table {name!r} from "
                    f"{self._sf_dir}/{name}.parquet: {exc}"
                ) from exc
            self._resolved[name] = df
        return df

    def __iter__(self) -> Iterator[str]:
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)


# Documented timestamp columns per FIXTURES.md §1. The driver has already
# regenerated the fixtures with a different physical timestamp encoding
# between rounds (TIMESTAMP(NANOS) -> TIMESTAMP(MICROS, ntz)), so every
# timestamp column is normalized defensively, not just the one that broke.
_TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _normalize_table(name: str, df: DataFrame) -> DataFrame:
    """Normalize fixture-schema surprises to the documented dtypes
    (FIXTURES.md), so downstream plans never see a raw landmine type.

    Handles every physical encoding a timestamp fixture has shipped with:
    - long nanos (TIMESTAMP(NANOS) under nanosAsLong) -> exact integer
      `div 1000` to microseconds;
    - timestamp_ntz (TIMESTAMP MICROS/MILLIS, isAdjustedToUTC=false) ->
      cast to session-TZ timestamp (identity wall-clock; the session TZ is
      pinned to UTC by ensure_session_confs, matching DuckDB's naive read);
    - timestamp (already the documented type) -> untouched.
    """
    dtypes = dict(df.dtypes)
    for col in _TIMESTAMP_COLS.get(name, ()):
        t = dtypes.get(col)
        if t == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        elif t == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Session-lifetime memos (SURVEY §2.9 T4): the reference caches its
# warehouse scan per process (st.cache_data) and its TF-IDF index per
# process (lru_cache). The engine analog is a value built once per
# (SparkContext, sf_dir) -- table handles, persisted derived views, text
# indexes, and at-rest artifacts written to a temp dir. The testdata dirs
# are immutable, so no entry goes stale while its session lives.
# `session_memo` is the one mechanism behind every such memo.
_MEMOS: dict[int, tuple[dict, bool]] = {}  # id(memo) -> (memo, holds dirs)
_MEMO_LOCK = threading.Lock()
_KEY_LOCKS: dict[tuple[int, str, str], threading.Lock] = {}


def session_memo(
    memo: dict, spark: SparkSession, sf_dir: str, build, artifact=None
):
    """Build-once value of ``memo`` for this session and ``sf_dir``.

    ``build()`` returns the value. With ``artifact`` set, the value is a
    temp dir ``spark_graft_<artifact>_<hash>`` that ``build(path)`` writes
    (with any ``<path>_*`` sidecars).
    Concurrent callers of one key build it once and all get the same
    value. A miss first evicts every memo's entries from other (stopped)
    SparkContexts and removes their artifact dirs; process exit removes
    the rest."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = memo.get(key)
    if hit is not None:
        return hit
    with _MEMO_LOCK:
        _MEMOS[id(memo)] = (memo, artifact is not None)
        _evict_except(key[0])
        lock = _KEY_LOCKS.setdefault((id(memo), *key), threading.Lock())
    with lock:
        hit = memo.get(key)
        if hit is None:
            if artifact is None:
                hit = build()
            else:
                tag = hashlib.md5(f"{key[0]}:{sf_dir}".encode()).hexdigest()[:12]
                hit = f"{tempfile.gettempdir()}/spark_graft_{artifact}_{tag}"
                build(hit)
            memo[key] = hit
    return hit


def _evict_except(app: str | None) -> None:
    """Drop every memo entry not keyed by ``app`` (all of them for None),
    removing artifact dirs."""
    for memo, holds_dirs in list(_MEMOS.values()):
        for k in list(memo):
            if k[0] != app:
                v = memo.pop(k, None)
                if holds_dirs and v is not None:
                    # an index writes sidecars next to its dir ({v}_ids)
                    for d in (v, *glob.glob(f"{v}_*")):
                        shutil.rmtree(d, ignore_errors=True)
    for k in list(_KEY_LOCKS):
        if k[1] != app:
            del _KEY_LOCKS[k]


atexit.register(_evict_except, None)

# Table handles: resolving a parquet footer + schema analysis is catalog
# overhead that a real metastore pays once, so we pay it once per session.
_TABLE_CACHE: dict[tuple[str, str], TableCatalog] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """Lazy parquet handles for every driver table, memoized per session.
    Column pruning and filter pushdown happen per-query via Catalyst;
    nothing is materialized here. Also hardens the incoming session with
    the runtime confs the fixtures require (see ensure_session_confs) —
    the caller may hand us a plain SparkSession."""
    ensure_session_confs(spark)
    return session_memo(
        _TABLE_CACHE, spark, sf_dir, lambda: TableCatalog(spark, sf_dir)
    )


# Derived views: a persisted (MEMORY_AND_DISK) DataFrame per view name. At
# warehouse scale the same hook points at a materialized table instead;
# the plans on top are unchanged.
_VIEW_CACHE: dict[str, dict[tuple[str, str], DataFrame]] = {}


def cached_view(name, spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Memoize + `.cache()` a derived DataFrame per (session, sf_dir)."""
    memo = _VIEW_CACHE.setdefault(name, {})
    return session_memo(memo, spark, sf_dir, lambda: build().cache())


def observations_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached `observations` fact view — the engine-side analog of the
    reference's whole-table dashboard cache (streamlit_app.py:42-57)."""
    return cached_view(
        "observations", spark, sf_dir, lambda: observations(load_tables(spark, sf_dir))
    )


def obs_series_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-column insights input projected off the cached observations view
    (scan of the cached columnar batches, no extra cache entry)."""
    return (
        observations_view(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select(
            F.col("country_code").alias("geo"),
            F.col("indicator_code").alias("indicator"),
            F.year("time").cast("int").alias("yr"),
            F.col("value").alias("val"),
        )
    )


def observations(tables: dict[str, DataFrame]) -> DataFrame:
    """The reference warehouse fact table (FIXTURES.md §2.1), derived from
    orders ⋈ customer ⋈ nation.

    nation is dimension-sized -> broadcast; customer⋈orders is a key-key
    equi-join Catalyst plans as broadcast or sort-merge depending on size —
    exactly what we want at 100 TB (no driver-side work at all).
    """
    orders, customer, nation = tables["orders"], tables["customer"], tables["nation"]
    indicator = F.element_at(
        F.array(*[F.lit(c) for c in INDICATOR_CODES]),
        (F.col("o_orderkey") % 6 + 1).cast("int"),
    )
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.col("o_orderkey").alias("id"),
            F.when(F.col("o_orderkey") % 2 == 0, F.lit("nrg_cb_e"))
            .otherwise(F.lit("ten00124"))
            .alias("dataset_code"),
            F.col("n_name").alias("country_code"),
            F.col("n_name").alias("country_name"),
            indicator.alias("indicator_code"),
            F.lit("label").alias("indicator_label"),
            F.lit("GWH").alias("unit_code"),
            F.lit("Gigawatt-hour").alias("unit_label"),
            F.date_trunc("year", F.col("o_orderdate")).cast("date").alias("time"),
            F.col("o_totalprice").alias("value"),
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("load_timestamp"),
        )
    )


# DuckDB-side equivalent of observations() for oracle CTEs (FIXTURES.md §2.1).
OBSERVATIONS_SQL = """
SELECT
  o_orderkey AS id,
  CASE WHEN o_orderkey % 2 = 0 THEN 'nrg_cb_e' ELSE 'ten00124' END AS dataset_code,
  n_name AS country_code,
  n_name AS country_name,
  CASE o_orderkey % 6 WHEN 0 THEN 'GEP' WHEN 1 THEN 'FC_E' WHEN 2 THEN 'FC_IND_E'
       WHEN 3 THEN 'FC_TRA_E' WHEN 4 THEN 'FC_OTH_CP_E' ELSE 'FC_OTH_HH_E' END AS indicator_code,
  'label' AS indicator_label,
  'GWH' AS unit_code,
  'Gigawatt-hour' AS unit_label,
  CAST(date_trunc('year', o_orderdate) AS DATE) AS time,
  o_totalprice AS value,
  TIMESTAMP '2026-01-01 00:00:00' AS load_timestamp
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
"""

OBS_SERIES_SQL = """
SELECT country_code AS geo, indicator_code AS indicator,
       CAST(year(time) AS INT) AS yr, value AS val
FROM observations WHERE value IS NOT NULL
"""


def obs_series(tables: dict[str, DataFrame]) -> DataFrame:
    """4-column projection feeding the insights pipeline (FIXTURES.md §2.2)."""
    return (
        observations(tables)
        .where(F.col("value").isNotNull())
        .select(
            F.col("country_code").alias("geo"),
            F.col("indicator_code").alias("indicator"),
            F.year("time").cast("int").alias("yr"),
            F.col("value").alias("val"),
        )
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL front-end: temp views for the 10 base tables plus the derived
    `observations` / `obs_series` views, so `spark.sql(...)` serves the
    same surface as the DataFrame API. The declared oracle queries are
    written in the Spark-SQL ∩ DuckDB dialect, so they run verbatim here
    (proven in tests/test_sql_frontend.py)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    observations_view(spark, sf_dir).createOrReplaceTempView("observations")
    obs_series_view(spark, sf_dir).createOrReplaceTempView("obs_series")


def with_cte(body_sql: str) -> str:
    """Wrap oracle SQL that references observations/obs_series with the
    deterministic derivation CTEs (the driver pre-registers only the base
    tables in DuckDB)."""
    return (
        "WITH observations AS (" + OBSERVATIONS_SQL + "),\n"
        "obs_series AS (" + OBS_SERIES_SQL + ")\n" + body_sql
    )
