"""Relational core: declared queries Q1-Q16 (SURVEY.md §2.12, Phase 1).

Each builder is pure DataFrame API — projections, filters, hash aggregates,
broadcast/sort-merge joins, window frames — so Catalyst gets the whole plan:
filter/projection pushdown into the parquet scans, partial+final aggregation,
TakeOrderedAndProject for top-k, broadcast for dimension-sized sides.

Determinism contract with the DuckDB oracle: every query carries a total
ORDER BY; monetary aggregates go through DECIMAL(18,2) (see
functions.numeric.exact_sum) so rounding never diverges between engines.

Reference parity citations are per-query; the reference expresses these as
pandas idioms (see SURVEY.md §2 operator table).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eurostat_energy_etl_pipeline_spark.catalog import load_tables, session_memo
from eurostat_energy_etl_pipeline_spark.functions import (
    exact_avg,
    exact_sum,
    portable_round,
    keyed_compute_width,
    presentation_sort,
)
from eurostat_energy_etl_pipeline_spark.plans import pin, query


# --- projections / filters -------------------------------------------------

@query(
    "q01_filter_project",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'F' ORDER BY o_orderkey
    """,
)
def q01(spark, sf_dir):
    """P7: conjunctive equality filter + projection
    (/root/reference/app/streamlit_app.py:94-98)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


@query(
    "q02_in_list",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
    WHERE l_returnflag IN ('A','R') ORDER BY l_orderkey, l_linenumber
    """,
)
def q02(spark, sf_dir):
    """P8: IN-list membership (/root/reference/etl/main.py:111-113)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .where(F.col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_linenumber", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q03_distinct_notnull",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    WHERE o_totalprice IS NOT NULL ORDER BY o_orderstatus, o_orderpriority
    """,
)
def q03(spark, sf_dir):
    """P10 not-null + A5 distinct (/root/reference/etl/main.py:132-143)."""
    t = load_tables(spark, sf_dir)
    return presentation_sort(
        t["orders"]
        .where(F.col("o_totalprice").isNotNull())
        .select("o_orderstatus", "o_orderpriority")
        .distinct(),
        "o_orderstatus",
        "o_orderpriority",
    )


@query(
    "q04_union_all",
    oracle="""
    SELECT c_custkey AS k, c_name AS n FROM customer
    UNION ALL SELECT s_suppkey, s_name FROM supplier ORDER BY k, n
    """,
)
def q04(spark, sf_dir):
    """U1: schema-aligned UNION ALL (/root/reference/etl/main.py:152-163)."""
    t = load_tables(spark, sf_dir)
    c = t["customer"].select(F.col("c_custkey").alias("k"), F.col("c_name").alias("n"))
    s = t["supplier"].select(F.col("s_suppkey").alias("k"), F.col("s_name").alias("n"))
    return c.unionByName(s).orderBy("k", "n")


@query(
    "q05_year_extract",
    oracle="""
    SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr FROM orders
    ORDER BY o_orderkey
    """,
)
def q05(spark, sf_dir):
    """P3/P4: date -> year extraction (/root/reference/etl/main.py:146,
    /root/reference/app/streamlit_app.py:51)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .select("o_orderkey", F.year("o_orderdate").cast("int").alias("yr"))
        .orderBy("o_orderkey")
    )


# --- aggregates ------------------------------------------------------------

@query(
    "q06_topk_avg",
    oracle="""
    SELECT o_custkey,
           floor((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6
             AS avg_price
    FROM orders GROUP BY o_custkey
    ORDER BY avg_price DESC, o_custkey LIMIT 10
    """,
)
def q06(spark, sf_dir):
    """A2+A4: top-10 by group mean (/root/reference/app/streamlit_app.py:101-106).
    Spark plans TakeOrderedAndProject — no full sort at scale."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_custkey")
        .agg(portable_round(exact_avg("o_totalprice"), 6).alias("avg_price"))
        .orderBy(F.desc("avg_price"), "o_custkey")
        .limit(10)
    )


@query(
    "q07_topk_sum",
    oracle="""
    SELECT l_suppkey,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM lineitem GROUP BY l_suppkey ORDER BY total DESC, l_suppkey LIMIT 10
    """,
)
def q07(spark, sf_dir):
    """A3+A4: top-10 by group sum (/root/reference/viz/viz_utils.py:55)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(F.round(exact_sum("l_extendedprice"), 4).alias("total"))
        .orderBy(F.desc("total"), "l_suppkey")
        .limit(10)
    )


@query(
    "q08_latest_period",
    oracle="""
    SELECT o_custkey,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
    FROM orders
    WHERE year(o_orderdate) = (SELECT max(year(o_orderdate)) FROM orders)
    GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def q08(spark, sf_dir):
    """A1: latest-period scalar subquery (/root/reference/app/streamlit_app.py:92).
    The 1-row max side is broadcast — no shuffle of the fact table to apply
    the predicate."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].withColumn("yr", F.year("o_orderdate"))
    latest = orders.agg(F.max("yr").alias("max_yr"))
    return (
        orders.join(F.broadcast(latest), orders["yr"] == latest["max_yr"])
        .groupBy("o_custkey")
        .agg(F.round(exact_sum("o_totalprice"), 4).alias("total"))
        .orderBy("o_custkey")
    )


@query(
    "q09_between",
    oracle="""
    SELECT count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS q
    FROM lineitem WHERE year(l_shipdate) BETWEEN 1994 AND 1996
    """,
)
def q09(spark, sf_dir):
    """P9: range predicate (/root/reference/app/streamlit_app.py:157-161)."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .where(F.year("l_shipdate").between(1994, 1996))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(exact_sum("l_quantity"), 4).alias("q"),
        )
    )


@query(
    "q10_pivot_conditional",
    oracle="""
    SELECT l_suppkey,
      round(CAST(sum(CASE WHEN l_returnflag='A' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS flag_a,
      round(CAST(sum(CASE WHEN l_returnflag='N' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS flag_n,
      round(CAST(sum(CASE WHEN l_returnflag='R' THEN CAST(l_extendedprice AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS flag_r
    FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
    """,
)
def q10(spark, sf_dir):
    """A10/A11: pivot as conditional aggregation
    (/root/reference/viz/viz_utils.py:71, app/streamlit_app.py:203-207).
    Conditional agg instead of .pivot() keeps one shuffle and a bounded,
    pre-declared column domain — the 100 TB-safe shape."""
    t = load_tables(spark, sf_dir)
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")

    # No final sort: supplier grain scales with the corpus (SF x 10k), so
    # a global orderBy pays a range exchange PLUS a boundary-sampling job
    # that re-executes the aggregate (measured 0.72 -> 0.53 s at sf0.1
    # without it); the driver's hash canonicalizes row order and the
    # oracle keeps ORDER BY for presentation (the q33 contract).
    #
    # r15 (guide §1.2 per-task work): two-level shape — reduce to
    # (suppkey, flag) grain with ONE decimal add per row, then pivot the
    # <=3 rows per key with the conditional picks. The one-level form
    # evaluated three CASEs and three decimal adds (two of them +0.00)
    # per input row, all inside the single scan task at this row-group
    # layout. Decimal addition is exact and associative, so the split is
    # value-identical (A/B'd: byte-equal output, 0.68 s -> 0.51 s).
    def pick(v):
        return F.round(
            F.sum(
                F.when(F.col("l_returnflag") == v, F.col("s")).otherwise(zero)
            ).cast("double"),
            4,
        ).alias(f"flag_{v.lower()}")

    return (
        t["lineitem"]
        .groupBy("l_suppkey", "l_returnflag")
        .agg(F.sum(dec).alias("s"))
        .groupBy("l_suppkey")
        .agg(pick("A"), pick("N"), pick("R"))
    )


# --- windows ---------------------------------------------------------------

def _custkey_year_totals(t):
    """Shared inner aggregate for Q11/Q12: per (custkey, year) exact totals.

    Pre-partitioned on o_custkey so the aggregate AND the downstream
    per-customer window reuse ONE exchange: HashPartitioning(custkey)
    satisfies both the groupBy(custkey, yr) clustering and the window's
    partitionBy(custkey), where the default plan exchanges twice (once per
    key set). Trade-off: the shuffle carries raw order rows instead of
    map-side-combined partials — a win here because the (custkey, yr)
    reduction factor is ~1.4x (orders per customer span few years), so raw
    N < partials + agged rows; for high-reduction aggregates keep the
    default combine-first shape instead."""
    return (
        t["orders"]
        .repartition("o_custkey")
        .groupBy("o_custkey", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(exact_sum("o_totalprice").alias("total"))
    )


def _custkey_year_view(spark, sf_dir):
    """Cached (custkey, year) rollup shared by Q11/Q12 — the same
    build-once-read-many treatment the observations view gets; both
    windows then scan cached columnar batches instead of re-aggregating
    orders per query."""
    from eurostat_energy_etl_pipeline_spark.catalog import cached_view

    return cached_view(
        "custkey_year_totals",
        spark,
        sf_dir,
        lambda: _custkey_year_totals(load_tables(spark, sf_dir)),
    )


_CUSTKEY_YEAR_SQL = """
SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS yr,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY o_custkey, year(o_orderdate)
"""


@query(
    "q11_lag",
    oracle=f"""
    SELECT o_custkey, yr, round(total, 4) AS total,
           round(lag(total) OVER (PARTITION BY o_custkey ORDER BY yr), 4) AS prev_total
    FROM ({_CUSTKEY_YEAR_SQL}) t ORDER BY o_custkey, yr
    """,
)
def q11(spark, sf_dir):
    """W1: lag over per-series years (/root/reference/ml/forecast_utils.py:37-38).
    The (custkey, year) rollup is served from the shared cached view — the
    dashboard pattern: q11/q12 are two lenses over one materialization."""
    w = Window.partitionBy("o_custkey").orderBy("yr")
    return (
        _custkey_year_view(spark, sf_dir)
        .select(
            "o_custkey",
            "yr",
            F.round("total", 4).alias("total"),
            F.round(F.lag("total").over(w), 4).alias("prev_total"),
        )
        .orderBy("o_custkey", "yr")
    )


@query(
    "q12_rolling_mean",
    oracle=f"""
    SELECT o_custkey, yr,
           round(avg(total) OVER (PARTITION BY o_custkey ORDER BY yr
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS roll_mean
    FROM ({_CUSTKEY_YEAR_SQL}) t ORDER BY o_custkey, yr
    """,
)
def q12(spark, sf_dir):
    """W2: trailing rolling mean frame (/root/reference/ml/forecast_utils.py:41).
    Frame holds <=3 exact doubles in a fixed order -> deterministic. Reads
    the same cached (custkey, year) rollup as q11."""
    w = Window.partitionBy("o_custkey").orderBy("yr").rowsBetween(-2, 0)
    return (
        _custkey_year_view(spark, sf_dir)
        .select("o_custkey", "yr", F.round(F.avg("total").over(w), 4).alias("roll_mean"))
        .orderBy("o_custkey", "yr")
    )


@query(
    "q13_row_number",
    oracle="""
    SELECT o_custkey, yr, rn FROM (
      SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS yr,
             CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY year(o_orderdate) DESC, o_orderkey DESC) AS INT) AS rn
      FROM orders) t
    WHERE rn <= 2 ORDER BY o_custkey, rn, yr
    """,
)
def q13(spark, sf_dir):
    """W5: time-ordered holdout split via row_number
    (/root/reference/ml/forecast_utils.py:64-65)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.year("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            F.year("o_orderdate").cast("int").alias("yr"),
            F.row_number().over(w).cast("int").alias("rn"),
        )
        .where(F.col("rn") <= 2)
        .orderBy("o_custkey", "rn", "yr")
    )


# --- joins -----------------------------------------------------------------

@query(
    "q14_join_agg",
    oracle="""
    SELECT n_name, count(*) AS n FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n DESC, n_name
    """,
)
def q14(spark, sf_dir):
    """J1: dimension lookup as broadcast hash join
    (/root/reference/etl/main.py:118-122)."""
    t = load_tables(spark, sf_dir)
    return presentation_sort(
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n")),
        F.desc("n"),
        "n_name",
    )


@query(
    "q15_left_join_coalesce",
    oracle="""
    SELECT c_custkey, coalesce(n_name, 'UNKNOWN') AS nation FROM customer
    LEFT JOIN nation ON c_nationkey = n_nationkey ORDER BY c_custkey
    """,
)
def q15(spark, sf_dir):
    """J3: left join + coalesce default
    (/root/reference/llm_app/build_knowledge_base.py:48)."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .select(
            "c_custkey", F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("nation")
        )
        .orderBy("c_custkey")
    )


@query(
    "q16_left_semi",
    oracle="""
    SELECT count(*) AS n FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def q16(spark, sf_dir):
    """J2: allow-list as left-semi join (/root/reference/etl/main.py:111-113)."""
    t = load_tables(spark, sf_dir)
    building = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    return (
        t["orders"]
        .join(
            F.broadcast(building),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q38_set_ops",
    oracle="""
    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ORDER BY k
    """,
)
def q38(spark, sf_dir):
    """U-extensions (SURVEY §2.7: intersect/except are free in Spark):
    BUILDING-segment customers with a finished order, minus negative-balance
    accounts. Both set ops plan as aggregated semi/anti joins — shuffle on
    the key only. Shared SQL dialect, so the oracle runs verbatim on both
    engines."""
    t = load_tables(spark, sf_dir)
    building = (
        t["customer"].where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
    )
    finished = t["orders"].where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    negative = t["customer"].where(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("k")
    )
    return building.intersect(finished).exceptAll(negative.distinct()).orderBy("k")


@query(
    "q40_rollup",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def q40(spark, sf_dir):
    """Grouping-sets surface (SURVEY §2.4 notes the reference has none —
    Spark gives rollup/cube free): status x priority rollup with subtotal
    and grand-total rows. Two-phase like q95: reduce the fact stream to
    the finest (status, priority) grain first, then ROLLUP the exact
    decimal partials — bit-identical output, Expand runs over the tiny
    base aggregate instead of the corpus. Shared SQL dialect so the
    oracle runs on both engines verbatim."""
    t = load_tables(spark, sf_dir)
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    base = (
        t["orders"]
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n0"), F.sum(dec).alias("s0"))
    )
    return (
        base.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("n0").alias("n"),
            F.round(F.sum("s0").cast("double"), 4).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .transform(presentation_sort, "status", "priority")
    )


@query(
    "q42_stats_agg",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_quantity), 6) AS qty_stddev,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS price_per_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q42(spark, sf_dir):
    """Statistical-aggregate surface (SURVEY §2.4 notes the reference has
    only sum/mean/max — corr/covar/regr come free in Spark): per-flag
    quantity-price correlation, sample covariance, and regression slope.
    All are single-pass co-moment aggregates with map-side partial combine
    (the same HashAggregate shape as A2/A3), so the 100 TB cost is one
    shuffle of 5-double states per group, not a data re-scan per statistic.
    Identical definitions in both dialects (Pearson corr, ddof=1 covariance,
    OLS slope) make this oracle-checkable verbatim."""
    t = load_tables(spark, sf_dir)
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr(q, p), 6).alias("qty_price_corr"),
            F.round(F.covar_samp(q, p), 4).alias("qty_price_covar"),
            F.round(F.stddev_samp(q), 6).alias("qty_stddev"),
            F.round(F.regr_slope(p, q), 4).alias("price_per_qty"),
        )
        .transform(presentation_sort, "l_returnflag")
    )


@query(
    "q43_join_chain",
    oracle="""
    SELECT r_name, n_name, count(*) AS customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS balance
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def q43(spark, sf_dir):
    """Multi-hop dimension chain (TPC-H Q5 shape, snowflaked J1): region ->
    nation -> customer rollup. Both dimension sides are broadcast — the fact
    scan never shuffles for the joins, only for the final hash aggregate —
    which is the plan that survives a 100 TB customer table (region/nation
    are bounded by geography, never by data volume)."""
    t = load_tables(spark, sf_dir)
    dec = F.col("c_acctbal").cast("decimal(18,2)")
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum(dec).cast("double"), 4).alias("balance"),
        )
        .transform(presentation_sort, "r_name", "n_name")
    )


@query(
    "q44_like_scan",
    oracle="""
    SELECT p_brand, p_type, count(*) AS n,
           floor((CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4
             AS avg_price
    FROM part
    WHERE p_name LIKE '%ge%'
    GROUP BY p_brand, p_type
    ORDER BY p_brand, p_type
    """,
)
def q44(spark, sf_dir):
    """String-predicate scan over the part dimension: LIKE '%ge%' (substring
    LIKE semantics are identical across engines) filtered before a two-key
    rollup. The contains-style predicate evaluates inside the scan's codegen
    stage — rows drop before the aggregate exchange, so the shuffle carries
    only qualifying (brand, type) groups."""
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .where(F.col("p_name").like("%ge%"))
        .groupBy("p_brand", "p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            portable_round(exact_avg("p_retailprice"), 4).alias("avg_price"),
        )
        .transform(presentation_sort, "p_brand", "p_type")
    )


@query(
    "q41_approx_distinct",
    oracle="""
    SELECT count(*) AS total, count(DISTINCT text) AS exact_distinct_texts,
           CAST(1 AS INT) AS hll_within_2pct
    FROM documents
    """,
)
def q41(spark, sf_dir):
    """HLL approximate distinct counts — the 100 TB dedup-accounting shape
    (exact countDistinct shuffles every distinct value; HLL sketches merge
    in fixed space map-side). The query certifies its own sketch: it runs
    BOTH aggregates and emits a flag asserting the HLL estimate lands
    within ±2% of the exact count (HLL registers merge by max, so the
    estimate is deterministic under any partitioning). The oracle pins the
    exact count and expects the flag to be 1, turning the former rows-only
    entry into a hard hash check. At 100 TB only the HLL column would run;
    the exact column exists to certify it at test scale."""
    t = load_tables(spark, sf_dir)
    exact = F.countDistinct("text")
    approx = F.approx_count_distinct("text", 0.02)
    return t["documents"].agg(
        F.count(F.lit(1)).alias("total"),
        exact.alias("exact_distinct_texts"),
        (F.abs(approx - exact) <= 0.02 * exact)
        .cast("int")
        .alias("hll_within_2pct"),
    )


@query(
    "q69_salted_join_agg",
    oracle="""
    SELECT s_name, count(*) AS n,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name ORDER BY s_name
    """,
)
def q69(spark, sf_dir):
    """Hot-key-safe fact⋈dim rollup through the explicit salting operator
    (`functions/skew.salted_join`): the fact side gets a uniform salt, the
    supplier dim is replicated across the salt buckets, and the join key
    becomes (suppkey, salt) so one hot supplier fans out over 16 reducers
    instead of hot-keying one. Salting is correctness-neutral — the oracle
    is the PLAIN join SQL, so the driver's hash compare proves row-level
    equivalence of the salted plan, which is the property that makes the
    operator safe to reach for when AQE skew-splitting isn't available
    (e.g. feeding a streaming stage)."""
    from eurostat_energy_etl_pipeline_spark.functions.skew import salted_join

    t = load_tables(spark, sf_dir)
    joined = salted_join(
        t["lineitem"].select("l_suppkey", "l_extendedprice"),
        t["supplier"].select(F.col("s_suppkey").alias("l_suppkey"), "s_name"),
        on=["l_suppkey"],
    )
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return (
        joined.groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(dec).cast("double"), 4).alias("revenue"),
        )
        .transform(presentation_sort, "s_name")
    )


@query(
    "q84_shipping_revenue",
    oracle="""
    SELECT n_name, CAST(year(l_shipdate) AS INT) AS ship_yr,
           count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE year(l_shipdate) BETWEEN 1996 AND 1998
    GROUP BY n_name, ship_yr ORDER BY n_name, ship_yr
    """,
)
def q84(spark, sf_dir):
    """TPC-H Q3/Q5-flavored shipping revenue: discounted lineitem revenue
    by nation and ship year over the selective 1996-1998 window — the
    4-table star join every warehouse benchmark exercises. Plan shape at
    scale: the ship-date filter is pushed into the lineitem scan (year
    BETWEEN rewrites to a date range), nation broadcasts, and the
    orders/customer joins run key-keyed so AQE picks broadcast vs
    sort-merge from runtime sizes. Revenue is an exact decimal sum of the
    per-row double product (both engines compute the product in binary
    double then round to DECIMAL(18,4) identically), so the hash compare
    is bit-stable."""
    t = load_tables(spark, sf_dir)
    # r14: year(l_shipdate) BETWEEN 1996 AND 1998 rewritten to the
    # equivalent half-open timestamp range [1996-01-01, 1999-01-01) — a
    # filter on a DERIVED column cannot reach the parquet scan (guide §6:
    # PushedFilters), and the year() expression was evaluated twice per
    # row (bound check x2). Identical predicate set; measured
    # 0.74 -> 0.62 s at sf0.1. At scale this is the difference between
    # pruning row groups on l_shipdate min/max stats and reading all.
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
    )
    joined = (
        li.join(t["orders"], li["l_orderkey"] == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        joined.groupBy(
            "n_name", F.year("l_shipdate").cast("int").alias("ship_yr")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(rev).cast("double"), 4).alias("revenue"),
        )
        .transform(presentation_sort, "n_name", "ship_yr")
    )


@query(
    "q86_join_skew_profile",
    oracle="""
    WITH k AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(n) AS BIGINT) AS max_n,
                 CAST(sum(n) AS BIGINT) AS total,
                 floor((CAST(max(n) AS DOUBLE) * count(*) / sum(n)) * 1e4 + 0.5) / 1e4
                   AS skew_factor
          FROM k)
    SELECT r.o_custkey, CAST(r.n AS BIGINT) AS n, s.n_keys, s.max_n,
           s.skew_factor
    FROM (SELECT o_custkey, n,
                 row_number() OVER (ORDER BY n DESC, o_custkey) AS rk
          FROM k) r CROSS JOIN s
    WHERE r.rk <= 5 ORDER BY r.o_custkey
    """,
)
def q86(spark, sf_dir):
    """Join-key skew profile: the diagnostic run BEFORE choosing a skew
    mitigation (AQE skew-join vs q69's explicit salting) — the 5 hottest
    o_custkey values with their row counts, next to corpus-level skew
    stats (key count, max key size, and max/mean ratio). One hash
    aggregate keyed by custkey (map-side combined), a TakeOrdered for the
    top-5, and a broadcast 1-row join for the stats — the key histogram
    itself is never globally sorted. skew_factor ~ 1 means uniform; the
    threshold AQE uses (5x median partition) maps to roughly
    skew_factor > 5 here."""
    t = load_tables(spark, sf_dir)
    k = t["orders"].groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    pin(k)  # shared by stats + top-5; released by the harness
    stats = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_n"),
        portable_round(
            F.max("n").cast("double") * F.count(F.lit(1)) / F.sum("n"), 4
        ).alias("skew_factor"),
    )
    top = k.orderBy(F.desc("n"), "o_custkey").limit(5)
    return (
        top.join(F.broadcast(stats))
        .select("o_custkey", "n", "n_keys", "max_n", "skew_factor")
        .transform(presentation_sort, "o_custkey")
    )


@query(
    "q95_cube_grouping",
    oracle="""
    SELECT CAST(grouping(l_returnflag) AS INT) AS g_rf,
           CAST(grouping(l_linestatus) AS INT) AS g_ls,
           coalesce(l_returnflag, '*') AS rf,
           coalesce(l_linestatus, '*') AS ls,
           count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g_rf, g_ls, rf, ls
    """,
)
def q95(spark, sf_dir):
    """CUBE + grouping flags — completes the grouping-sets surface next
    to q40's ROLLUP: all four (returnflag, linestatus) subtotal
    combinations, with `grouping()` bits distinguishing a real NULL
    group from an ALL subtotal (the correctness trap coalesce-only
    rollups fall into). TWO-PHASE cube: the fact stream first reduces to
    the finest (rf, ls) grain in one map-side-combined aggregate — so
    the 4x Expand multiplier and the decimal summation run over
    |rf|x|ls| rows, not the corpus — and the CUBE re-aggregates those
    exact decimal partials (re-summing exact decimals is exact, so the
    result is bit-identical to the single-phase plan; measured ~2x at
    sf0.1 and the gap grows with the fact table). Exact decimal sums;
    shared SQL dialect, so the oracle runs on both engines verbatim."""
    t = load_tables(spark, sf_dir)
    dec = F.col("l_quantity").cast("decimal(18,2)")
    base = (
        t["lineitem"]
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n0"), F.sum(dec).alias("s0"))
    )
    return (
        base.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.sum("n0").alias("n"),
            F.round(F.sum("s0").cast("double"), 4).alias("sum_qty"),
        )
        .select(
            "g_rf",
            "g_ls",
            F.coalesce("l_returnflag", F.lit("*")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("*")).alias("ls"),
            "n",
            "sum_qty",
        )
        .transform(presentation_sort, "g_rf", "g_ls", "rf", "ls")
    )


@query(
    "q104_ri_audit",
    oracle="""
    SELECT 'lineitem->orders' AS fk, count(*) AS n_rows,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer', count(*),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders r LEFT JOIN customer c ON r.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer->nation', count(*),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM customer u LEFT JOIN nation n ON u.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'supplier->nation', count(*),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY fk
    """,
)
def q104_ri_audit(spark, sf_dir):
    """Referential-integrity audit across the star schema — the
    constraint-checking data-quality job a lakehouse runs after every
    load (parquet enforces no FKs, so orphan detection IS the
    constraint): for each declared relationship, total rows and orphan
    count via a left join + null probe. Plan shape: the dimension sides
    (orders keys / customer keys / nation) reduce to DISTINCT keys
    before joining where the optimizer doesn't already, nation
    broadcasts, and the fact-side joins are AQE skew-split-able; each
    audit is one pass over its fact table. At 100 TB the same audit
    runs per ingest partition and the orphan counts feed the DQ
    dashboard (q_dq_probes' referential sibling)."""
    t = load_tables(spark, sf_dir)

    def audit(name, fact, fk, dim, pk):
        return (
            fact.join(
                dim.select(F.col(pk).alias("_pk")).distinct(),
                F.col(fk) == F.col("_pk"),
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("_pk").isNull().cast("long")).alias("n_orphans"),
            )
            .select(F.lit(name).alias("fk"), "n_rows", "n_orphans")
        )

    out = (
        audit("lineitem->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey")
        .unionByName(
            audit("orders->customer", t["orders"], "o_custkey", t["customer"], "c_custkey")
        )
        .unionByName(
            audit("customer->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey")
        )
        .unionByName(
            audit("supplier->nation", t["supplier"], "s_nationkey", t["nation"], "n_nationkey")
        )
    )
    return presentation_sort(out, "fk")


@query(
    "q109_rank_distribution",
    oracle="""
    SELECT s_nationkey, s_suppkey,
           floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
           floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cume,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    ORDER BY s_nationkey, s_suppkey
    """,
)
def q109_rank_distribution(spark, sf_dir):
    """Rank-distribution window family (percent_rank / cume_dist / ntile)
    — the W-surface members the library lacked: supplier account-balance
    position within each nation. The window orders by
    (s_acctbal, s_suppkey) so the order is TOTAL — rank-based doubles
    are then exact small-integer ratios, identical IEEE divisions on
    both engines, gridded at 1e-6 for rendering anyway. One shuffle on
    the partition key; no global window (the q53/q60 kernel exists for
    corpus-grain order statistics — this is the bounded-partition case
    where the native window IS the right plan)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return (
        t["supplier"]
        .select(
            "s_nationkey",
            "s_suppkey",
            (F.floor(F.percent_rank().over(w) * 1e6 + 0.5) / 1e6).alias(
                "pct_rank"
            ),
            (F.floor(F.cume_dist().over(w) * 1e6 + 0.5) / 1e6).alias("cume"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
        )
        .transform(presentation_sort, "s_nationkey", "s_suppkey")
    )


@query(
    "q121_share_of_total",
    oracle="""
    WITH rev AS (
      SELECT n.n_name,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue_dec
      FROM lineitem
      JOIN supplier s ON l_suppkey = s_suppkey
      JOIN nation n ON s_nationkey = n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name,
           floor(CAST(revenue_dec AS DOUBLE) * 1e2 + 0.5) / 1e2 AS revenue,
           floor(CAST(revenue_dec AS DOUBLE)
                 / CAST(sum(revenue_dec) OVER () AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS revenue_share
    FROM rev ORDER BY n_name
    """,
)
def q121_share_of_total(spark, sf_dir):
    """Ratio-to-report (share-of-total) — the W-surface member every BI
    layer ships: per-nation revenue as a fraction of the grand total.
    The grand total is an unpartitioned window SUM over the
    ALREADY-AGGREGATED 25-row nation table, so the SinglePartition
    exchange it implies moves dimension-bounded rows, never the fact
    stream (the only place an empty-frame window is the right plan).
    Both the per-nation revenue AND the grand total accumulate as exact
    DECIMALs (the q108/q119 gridded-fold convention — a window over
    doubles would be exact only up to plan-dependent accumulation
    order, ADVICE r8); doubles appear solely in the final division, the
    same single IEEE op on both engines."""
    t = load_tables(spark, sf_dir)
    rev = (
        t["lineitem"]
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "revenue_dec"
            )
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        (
            F.floor(F.col("revenue_dec").cast("double") * 1e2 + 0.5) / 1e2
        ).alias("revenue"),
        (
            F.floor(
                F.col("revenue_dec").cast("double")
                / F.sum("revenue_dec").over(w).cast("double")
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("revenue_share"),
    ).transform(presentation_sort, "n_name")


@query(
    "q123_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS STRING), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM d)
    SELECT c.digit, CAST(c.n AS BIGINT) AS n,
           floor(CAST(c.n AS DOUBLE) / t.total * 1e6 + 0.5) / 1e6
             AS obs_frac,
           floor(ln(1.0 + 1.0 / CAST(c.digit AS DOUBLE)) / ln(10.0)
                 * 1e6 + 0.5) / 1e6 AS exp_frac,
           floor(abs(CAST(c.n AS DOUBLE) / t.total
                     - ln(1.0 + 1.0 / CAST(c.digit AS DOUBLE)) / ln(10.0))
                 * 1e6 + 0.5) / 1e6 AS abs_dev
    FROM c CROSS JOIN t ORDER BY c.digit
    """,
)
def q123_benford_audit(spark, sf_dir):
    """Benford first-digit audit of o_totalprice — the fraud/corruption
    screen of financial DQ suites: observed leading-digit frequencies
    against the Benford expectation log10(1 + 1/d), with per-digit
    absolute deviation. A synthetic or tampered fact column shows up as
    a flat (or spiked) digit histogram.

    The leading digit comes from the INTEGER-part string (bigint
    rendering is identical across engines), never from log10(x) whose
    floor can straddle an ulp at exact powers of ten. One map-side
    combined 9-group aggregate + a broadcast 1-row total; expectation
    and deviation use the ln-parity contract (q36/q112), gridded at
    1e-6."""
    orders = load_tables(spark, sf_dir)["orders"]
    d = orders.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = d.agg(F.count(F.lit(1)).cast("double").alias("total"))
    exp_frac = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")) / F.log(
        F.lit(10.0)
    )
    obs = F.col("n").cast("double") / F.col("total")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            (F.floor(obs * 1e6 + 0.5) / 1e6).alias("obs_frac"),
            (F.floor(exp_frac * 1e6 + 0.5) / 1e6).alias("exp_frac"),
            (F.floor(F.abs(obs - exp_frac) * 1e6 + 0.5) / 1e6).alias(
                "abs_dev"
            ),
        )
        .transform(presentation_sort, "digit")
    )


@query(
    "q131_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rk
      FROM rev
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS s0,
             CAST(sum(CAST(rk * cents AS DECIMAL(38,0))) AS DOUBLE) AS s1
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           floor(s0 / 100.0 * 1e2 + 0.5) / 1e2 AS total_revenue,
           floor((2.0 * s1 - (n + 1.0) * s0) / (n * s0) * 1e6 + 0.5) / 1e6
             AS gini
    FROM s
    """,
)
def q131_gini_concentration(spark, sf_dir):
    """Revenue concentration — the exact Gini coefficient of per-customer
    revenue via the rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) /
    (n*sum(x)) over ascending revenue: the whale-dependence KPI
    (customer concentration risk, data-source balance) that normally
    forces a full sort + running total through one task.

    Scale shape: revenue first collapses to CUSTOMER grain (one
    fact-table aggregate); the global rank over (cents, custkey) comes
    from the deterministic-boundary distributed ranking kernel
    (operators/ranking.global_row_number — the q60 contract: per-bucket
    windows + an O(#buckets) offset collect, never a single-partition
    window). Revenue is held as exact integer CENTS so rank*cents
    products and both fold sums are exact DECIMAL(38,0) arithmetic;
    doubles appear only in the final three-operation Gini expression,
    identical on both engines."""
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_row_number,
    )

    orders = load_tables(spark, sf_dir)["orders"]
    rev = orders.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("cents")
    )
    ranked = global_row_number(rev, ["cents", "o_custkey"], out_col="rk")
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("double").alias("s0"),
        F.sum((F.col("rk") * F.col("cents")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s1"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        (F.floor(F.col("s0") / 100.0 * 1e2 + 0.5) / 1e2).alias(
            "total_revenue"
        ),
        (
            F.floor(
                (2.0 * F.col("s1") - (F.col("n") + 1.0) * F.col("s0"))
                / (F.col("n") * F.col("s0"))
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("gini"),
    )


@query(
    "q133_basket_pairs",
    oracle="""
    WITH bp AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_baskets FROM bp),
    ps AS (SELECT pk, count(*) AS c FROM bp GROUP BY pk),
    pairs AS (
      SELECT a.pk AS p1, b.pk AS p2, count(*) AS c_ab
      FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk HAVING count(*) >= 2
    )
    SELECT p1, p2, CAST(c_ab AS BIGINT) AS n_pair,
           floor(CAST(c_ab AS DOUBLE) / n.n_baskets * 1e6 + 0.5) / 1e6
             AS support,
           floor((CAST(c_ab AS DOUBLE) / n.n_baskets)
                 / ((CAST(sa.c AS DOUBLE) / n.n_baskets)
                    * (CAST(sb.c AS DOUBLE) / n.n_baskets))
                 * 1e6 + 0.5) / 1e6 AS lift
    FROM pairs
    JOIN ps sa ON sa.pk = p1
    JOIN ps sb ON sb.pk = p2
    CROSS JOIN n
    ORDER BY n_pair DESC, lift DESC, p1, p2 LIMIT 20
    """,
)
def q133_basket_pairs(spark, sf_dir):
    """Market-basket pair mining — the Apriori second pass (co-purchase
    association): parts that appear together in the same order, with
    support and lift, top-20 by frequency. The q122 PMI shape applied to
    BASKETS instead of token adjacency — the recommender / bundling
    primitive.

    Scale shape: ONE orderkey shuffle builds each basket as a sorted
    part array; pairs are generated ROW-SIDE from the array (a
    combinations explode — the self-join alternative would shuffle the
    (order, part) table twice on different keys), so the pair stream is
    bounded by sum(|basket|^2) with |basket| bounded by order size
    (never corpus-squared — the same bound as q97's IVF cells) and
    never crosses an exchange unaggregated; pair counts map-side
    combine, the HAVING floor prunes the singleton tail before the two
    part-support joins (pair-grain rows against the part-grain support
    table), and the top-20 is TakeOrderedAndProject. Supports and lift
    are ratios of exact integers, gridded at 1e-6."""
    li = load_tables(spark, sf_dir)["lineitem"]
    baskets = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        # r15: pin at COMPUTE width — the cached partitioning dictates
        # the pair-expansion stage's width (guide §2.5, the q182 fix)
        .repartition(keyed_compute_width(li), "ok")
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
        .transform(pin)  # shared by basket count + item supports + pairs
    )
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("n_baskets"))
    ps = baskets.select(F.explode("ps").alias("pk")).groupBy("pk").agg(
        F.count(F.lit(1)).alias("c")
    )
    # r14 (guide §4.1/§1.2): the canonical C(k,2) expansion as TWO chained
    # codegen'd Generates (posexplode + per-position tail-slice explode)
    # instead of nested higher-order TRANSFORM lambdas building
    # struct-array-of-arrays row-side — HOFs are interpreted per element
    # and allocate the full pair array per basket before the explode.
    # Same pair stream (sorted set arrays => p1 < p2), same sum(|basket|^2)
    # bound; measured 1.44 s -> 1.08 s for the kernel at sf0.1.
    pairs = (
        baskets.select(F.posexplode("ps").alias("i", "p1"), F.col("ps"))
        .select(
            "p1",
            F.explode(
                F.slice(F.col("ps"), F.col("i") + 2, F.size("ps"))
            ).alias("p2"),
        )
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 2)
    )
    sa = ps.select(F.col("pk").alias("p1"), F.col("c").alias("ca"))
    sb = ps.select(F.col("pk").alias("p2"), F.col("c").alias("cb"))
    sup = F.col("c_ab").cast("double") / F.col("n_baskets")
    lift = sup / (
        (F.col("ca").cast("double") / F.col("n_baskets"))
        * (F.col("cb").cast("double") / F.col("n_baskets"))
    )
    return (
        pairs.join(sa, "p1")
        .join(sb, "p2")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            F.col("c_ab").cast("long").alias("n_pair"),
            (F.floor(sup * 1e6 + 0.5) / 1e6).alias("support"),
            (F.floor(lift * 1e6 + 0.5) / 1e6).alias("lift"),
        )
        .orderBy(F.desc("n_pair"), F.desc("lift"), "p1", "p2")
        .limit(20)
    )


@query(
    "q135_weighted_quantiles",
    oracle="""
    WITH base AS (
      SELECT l_extendedprice AS price, l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    c AS (
      SELECT price, w,
             sum(w) OVER (ORDER BY price, l_orderkey, l_linenumber
                          ROWS UNBOUNDED PRECEDING) AS cw
      FROM base
    ),
    t AS (SELECT sum(w) AS tw FROM base)
    SELECT CAST(t.tw AS BIGINT) AS total_weight,
           (SELECT min(price) FROM c WHERE cw * 2 >= t.tw) AS wmedian,
           (SELECT min(price) FROM c WHERE cw * 10 >= t.tw * 9) AS wp90
    FROM t
    """,
)
def q135_weighted_quantiles(spark, sf_dir):
    """Weighted quantiles — the quantity-weighted median and p90 of unit
    price (every unit sold votes, not every line item): the
    inventory-fairness statistic plain percentiles misstate whenever
    weights are skewed. Defined exactly: the smallest price whose
    cumulative weight reaches q * W (integer threshold compares —
    cw*2 >= W and cw*10 >= 9W — so no floating-point quantile
    interpolation exists to diverge).

    Scale shape: the running weight comes from the distributed
    prefix-sum kernel (operators/ranking.global_prefix_sum —
    deterministic buckets, per-bucket windows, O(#buckets) offset
    collect; the oracle's single-partition window is exactly what the
    kernel replaces), and each quantile probe is a TakeOrdered(1) over
    the threshold filter, never a global sort."""
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_prefix_sum,
    )

    li = load_tables(spark, sf_dir)["lineitem"]
    base = li.select(
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("w"),
    )
    # r14: pin the prefix-summed table — the ranking kernel (bucket
    # sample + per-bucket windows) is the query's dominant subtree and
    # the quantile probe re-executes it per pass otherwise.
    c = pin(
        global_prefix_sum(
            base, ["price", "l_orderkey", "l_linenumber"], "w", out_col="cw"
        )
    )
    t = base.agg(F.sum("w").alias("tw"))
    # r14: both quantile probes as conditional MINs in ONE aggregate over
    # one pass of the prefix-sum kernel — as two filtered aggregates the
    # whole kernel subtree (bucket sample + per-bucket windows) replayed
    # once per quantile. min ignores the NULLs the when() leaves, so this
    # is the identical "smallest price whose cumulative weight reaches
    # q*W" per threshold.
    qs = c.crossJoin(F.broadcast(t)).agg(
        F.min(
            F.when(F.col("cw") * 2 >= F.col("tw"), F.col("price"))
        ).alias("wmedian"),
        F.min(
            F.when(F.col("cw") * 10 >= F.col("tw") * 9, F.col("price"))
        ).alias("wp90"),
    )
    return (
        t.select(F.col("tw").cast("long").alias("total_weight"))
        .crossJoin(F.broadcast(qs))
    )


_BLOOM_M = 1024  # bits
_BLOOM_K = 3


def _bloom_oracle_sql() -> str:
    """DuckDB twin of q138: the identical salted md5-prefix hash grid
    (the q113 construction), a 16-word BIGINT bitmap built by bit_or,
    and three word-keyed joins testing the candidate bits."""
    def h(expr: str, i: int) -> str:
        return (
            f"(('0x' || substr(md5(CAST({expr} AS STRING) || '#{i}'), 1, 15))"
            f"::BIGINT % {_BLOOM_M})"
        )

    key_hashes = ", ".join(
        f"{h('s_suppkey', i)} AS h{i}" for i in range(_BLOOM_K)
    )
    probe_hashes = ", ".join(
        f"{h('l_suppkey', i)} AS h{i}" for i in range(_BLOOM_K)
    )
    # 32-bit words: DuckDB range-checks BIGINT << 63, so bits live in
    # 0..31 and the bitmap is 32 words instead of 16.
    bits = "\n      UNION ALL\n      ".join(
        f"SELECT h{i} // 32 AS w, h{i} % 32 AS bit FROM kh"
        for i in range(_BLOOM_K)
    )
    cand_joins = "\n      ".join(
        f"JOIN bm b{i} ON b{i}.w = p.h{i} // 32 "
        f"AND ((b{i}.v >> (p.h{i} % 32)) & 1) = 1"
        for i in range(_BLOOM_K)
    )
    return f"""
    WITH keys AS (SELECT s_suppkey FROM supplier WHERE s_nationkey < 8),
    kh AS (SELECT {key_hashes} FROM keys),
    bm AS (SELECT w, bit_or(CAST(1 AS BIGINT) << CAST(bit AS INT)) AS v
           FROM ({bits}) GROUP BY w),
    p AS (SELECT l_suppkey, l_extendedprice, {probe_hashes} FROM lineitem),
    cand AS (
      SELECT p.l_suppkey, p.l_extendedprice FROM p
      {cand_joins}
    )
    SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST(count(*) AS BIGINT) AS n_true,
           floor((CAST((SELECT count(*) FROM cand) AS DOUBLE) - count(*))
                 / CAST((SELECT count(*) FROM p) AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS fp_rate,
           round(CAST(sum(CAST(c.l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE), 4) AS revenue
    FROM cand c
    WHERE c.l_suppkey IN (SELECT s_suppkey FROM keys)
    """


@query("q138_bloom_join", oracle=_bloom_oracle_sql())
def q138_bloom_join(spark, sf_dir):
    """Explicit Bloom-filter join pruning — the runtime-filter pattern
    made a first-class operator: the dimension side's join keys build a
    k=3 / m=1024-bit Bloom bitmap (32 words, bit_or-merged — the
    per-shard mergeable form), the fact stream is pre-filtered through
    the bitmap BEFORE the real join, and the plan certifies the pruned
    join is lossless (revenue over true matches) while auditing what the
    filter let through (candidate count, false-positive rate). At 100 TB
    this is the shuffle the filter deletes: only bloom-passing rows
    reach the join exchange, and the bitmap rides a broadcast, never a
    shuffle. Salted 60-bit md5-prefix hashes (the q113 grid
    construction) keep every bit position engine-portable.

    Spark builds the same runtime filters implicitly when statistics
    warrant; materializing the operator makes the mechanism testable —
    the one-sided guarantee (no true match ever pruned) is exactly what
    the oracle's equality certifies."""
    t = load_tables(spark, sf_dir)
    m, k = _BLOOM_M, _BLOOM_K

    def h(col, i):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit(f"#{i}"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(m),
        )

    keys = t["supplier"].where(F.col("s_nationkey") < 8).select("s_suppkey")
    kh = keys.select(
        *[h(F.col("s_suppkey"), i).alias(f"h{i}") for i in range(k)]
    )
    bits = None
    for i in range(k):
        part = kh.select(
            F.expr(f"h{i} div 32").alias("w"),
            (F.col(f"h{i}") % 32).cast("int").alias("bit"),
        )
        bits = part if bits is None else bits.unionByName(part)
    # F.shiftleft takes a python int for numBits; SQL shiftleft accepts a
    # column — route the variable shift through expr.
    bm = bits.groupBy("w").agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("v")
    )
    p = t["lineitem"].select(
        "l_suppkey",
        "l_extendedprice",
        *[h(F.col("l_suppkey"), i).alias(f"h{i}") for i in range(k)],
    )
    cand = p
    for i in range(k):
        bmi = bm.select(
            F.col("w").alias(f"w{i}"), F.col("v").alias(f"v{i}")
        )
        cand = cand.join(
            F.broadcast(bmi),
            (F.expr(f"h{i} div 32") == F.col(f"w{i}"))
            & (
                F.expr(
                    f"shiftright(v{i}, CAST(h{i} % 32 AS INT)) & 1"
                )
                == 1
            ),
        ).drop(f"w{i}", f"v{i}")
    cand = pin(cand.select("l_suppkey", "l_extendedprice"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("nc"))
    n_probe = p.agg(F.count(F.lit(1)).alias("np"))
    true_m = cand.join(F.broadcast(keys), cand["l_suppkey"] == keys["s_suppkey"], "left_semi")
    return (
        true_m.agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.round(exact_sum("l_extendedprice"), 4).alias("revenue"),
        )
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_probe))
        .select(
            F.col("nc").cast("long").alias("n_candidates"),
            "n_true",
            (
                F.floor(
                    (F.col("nc").cast("double") - F.col("n_true"))
                    / F.col("np").cast("double")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("fp_rate"),
            "revenue",
        )
    )


# At-rest materialized partial-aggregate per (session, sf_dir): written
# once by q152's first call, merged with the delta by every later call —
# the build-once-merge-many shape of q63's dedup index applied to
# incremental view maintenance.
_MV_BASE: dict[tuple[str, str], str] = {}


def _mv_base_path(spark, sf_dir: str) -> str:
    def build(path):
        (
            load_tables(spark, sf_dir)["orders"]
            .where(F.year("o_orderdate") <= 1996)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "total"
                ),
            )
            .write.mode("overwrite")
            .parquet(path)
        )

    return session_memo(_MV_BASE, spark, sf_dir, build, artifact="mv_base")


@query(
    "q152_ivm_merge",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6) AS avg_price
    FROM orders
    GROUP BY o_custkey
    ORDER BY total DESC, o_custkey LIMIT 20
    """,
)
def q152(spark, sf_dir):
    """INCREMENTAL VIEW MAINTENANCE — the materialized-aggregate merge
    every warehouse / streaming engine is built on: a per-customer
    (count, decimal-sum) partial-aggregate over the historical slice
    (orders through 1996) is materialized AT REST once per session; the
    query then merges only the DELTA slice (1997+) into it and derives
    the final top-20 — never rescanning history. The oracle recomputes
    from scratch, certifying merge(partials(base), partials(delta)) ==
    full recompute — the algebraic mergeability (count/sum are
    commutative monoids) that makes partial aggregation, AQE, and
    streaming state correct.

    Scale shape: history cost is paid once at MV build; steady-state
    reads are O(delta) + O(|MV|); the merge is one custkey-keyed
    aggregate over the union of two partial tables; top-20 is
    TakeOrderedAndProject. Exact decimal sums; avg derived as one
    double division."""
    mv = _mv_base_path(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    base = spark.read.parquet(mv)
    delta = (
        t["orders"]
        .where(F.year("o_orderdate") >= 1997)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        )
    )
    merged = (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total").alias("total_dec"),
        )
    )
    return (
        merged.select(
            "o_custkey",
            "n_orders",
            F.round(F.col("total_dec").cast("double"), 4).alias("total"),
            F.round(
                F.col("total_dec").cast("double") / F.col("n_orders"), 6
            ).alias("avg_price"),
        )
        .orderBy(F.desc("total"), "o_custkey")
        .limit(20)
    )


@query(
    "q155_rfm_segments",
    oracle="""
    WITH mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS ref FROM orders),
    c AS (
      SELECT o_custkey,
             CAST(ref - CAST(max(o_orderdate) AS DATE) AS BIGINT) AS recency,
             count(*) AS frequency,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders CROSS JOIN mx GROUP BY o_custkey, ref
    ),
    s AS (
      SELECT frequency, monetary,
             6 - ntile(5) OVER (ORDER BY recency, o_custkey) AS r_score,
             6 - ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
               AS f_score,
             6 - ntile(5) OVER (ORDER BY monetary DESC, o_custkey)
               AS m_score
      FROM c
    )
    SELECT CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(frequency) AS BIGINT) AS n_orders,
           round(CAST(sum(monetary) AS DOUBLE), 4) AS total_monetary
    FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q155(spark, sf_dir):
    """RFM SEGMENTATION — the classic customer-value grid (recency /
    frequency / monetary quintiles, score 5 = best): per-customer
    recency-from-latest-order, order count, and exact decimal spend,
    each scored by exact NTILE(5) with a customer-key tie-break, rolled
    up to the <=125-cell (r, f, m) grid with customer counts and spend.
    The segmentation every CRM/lifecycle pipeline derives first.

    Scale shape: one custkey-keyed map-side-combined aggregate reduces
    orders to customer grain; the three quintile assignments run through
    the distributed ranking kernel (`operators/ranking.global_ntile`:
    deterministic boundaries + per-bucket offsets, row-identical to SQL
    NTILE — never a SinglePartition window), CHAINED on one lineage so
    no self-joins reassemble the scores; the final rollup is
    domain-bounded. Descending dimensions rank on negated columns, so
    the kernel's ascending order matches the oracle's DESC exactly
    (integer/decimal keys — no float ties)."""
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_ntile,
    )

    o = load_tables(spark, sf_dir)["orders"]
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "monetary"
            ),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff("ref", "last_d").cast("long").alias("recency"),
            "frequency",
            "monetary",
            (-F.col("frequency")).alias("neg_f"),
            (-F.col("monetary")).alias("neg_m"),
        )
    )
    g = global_ntile(cust, ["recency", "o_custkey"], 5, "rt")
    g = global_ntile(g, ["neg_f", "o_custkey"], 5, "ft")
    g = global_ntile(g, ["neg_m", "o_custkey"], 5, "mt")
    return (
        g.select(
            (F.lit(6) - F.col("rt")).cast("int").alias("r_score"),
            (F.lit(6) - F.col("ft")).cast("int").alias("f_score"),
            (F.lit(6) - F.col("mt")).cast("int").alias("m_score"),
            "frequency",
            "monetary",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("frequency").cast("long").alias("n_orders"),
            F.round(F.sum("monetary").cast("double"), 4).alias(
                "total_monetary"
            ),
        )
        .transform(presentation_sort, "r_score", "f_score", "m_score")
    )


@query(
    "q168_skyline",
    oracle="""
    WITH p AS (
      SELECT o_custkey AS custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS spend_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    dp AS (SELECT spend_cents AS x, n_orders AS y FROM p GROUP BY 1, 2),
    f AS (
      SELECT x, y,
             max(y) OVER (ORDER BY x DESC, y DESC ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING) AS my
      FROM dp
    )
    SELECT custkey, spend_cents, n_orders
    FROM p JOIN f ON p.spend_cents = f.x AND p.n_orders = f.y
    WHERE my IS NULL OR my < y
    ORDER BY spend_cents DESC, custkey
    """,
)
def q168(spark, sf_dir):
    """2-D SKYLINE (Pareto frontier) of customers on (total spend, order
    count) — the multi-criteria "best customers" operator (Borzsony et
    al., ICDE 2001): a customer is on the frontier iff no other customer
    is >= on both axes and > on one. The segmentation primitive behind
    best-of tradeoff views (price/quality, cost/latency) that top-k per
    single axis cannot express.

    Algorithm: dominance is decided on DISTINCT (x, y) points sorted
    (x DESC, y DESC) with a running max(y) over STRICTLY EARLIER rows —
    every earlier row has x' > x, or x' = x with y' > y (points are
    distinct), so running_max_y >= y IS the dominance test, O(n log n)
    instead of the oracle-shaped O(n^2) NOT EXISTS. Scale shape: a
    customer-grain aggregate, then a PER-BUCKET window pass prunes
    locally-dominated points (local dominance implies global — skyline of
    a union is the skyline of the local skylines), so the final global
    window runs only over the union of 32 bucket frontiers, not the full
    customer table (the q148 no-SinglePartition-on-raw-grain discipline).
    Exactness: spend is an exact DECIMAL(18,2) sum carried as integer
    cents; every comparison is integer."""
    o = load_tables(spark, sf_dir)["orders"]
    p = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("spend_cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    dp = p.select(
        F.col("spend_cents").alias("x"), F.col("n_orders").alias("y")
    ).distinct()
    frame = lambda w: F.max("y").over(
        w.orderBy(F.desc("x"), F.desc("y")).rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    # phase 1: prune inside 32 hash buckets (survivors >= global skyline)
    local = (
        dp.withColumn("b", F.pmod(F.xxhash64("x", "y"), F.lit(32)))
        .withColumn("my", frame(Window.partitionBy("b")))
        .where(F.col("my").isNull() | (F.col("my") < F.col("y")))
        .drop("b", "my")
    )
    # phase 2: exact global pass over the pruned candidate set
    fr = local.withColumn("my", frame(Window)).where(
        F.col("my").isNull() | (F.col("my") < F.col("y"))
    )
    return (
        p.join(
            F.broadcast(fr.select("x", "y")),
            (p["spend_cents"] == F.col("x")) & (p["n_orders"] == F.col("y")),
        )
        .select("custkey", "spend_cents", "n_orders")
        .transform(presentation_sort, F.desc("spend_cents"), "custkey")
    )


# 8+8-bit Morton interleave of the two low key bytes, shared between the
# engine plan and the DuckDB oracle so both compute the identical z-value:
# z = sum_i (px_bit_i << 2i) + (sx_bit_i << 2i+1).
_Z_INTERLEAVE_SQL = " + ".join(
    f"((((l_partkey & 255) >> {i}) & 1) << {2 * i})"
    f" + ((((l_suppkey & 255) >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)


@query(
    "q169_zorder_layout",
    oracle=f"""
    WITH z AS (
      SELECT ({_Z_INTERLEAVE_SQL}) AS zval,
             (l_partkey & 255) AS px, (l_suppkey & 255) AS sx
      FROM lineitem
    )
    SELECT CAST(zval >> 8 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(px) AS BIGINT) AS px_min,
           CAST(max(px) AS BIGINT) AS px_max,
           CAST(min(sx) AS BIGINT) AS sx_min,
           CAST(max(sx) AS BIGINT) AS sx_max,
           CAST((max(px) - min(px) + 1) * (max(sx) - min(sx) + 1) AS BIGINT)
             AS bbox_area
    FROM z GROUP BY 1 ORDER BY zbucket
    """,
)
def q169(spark, sf_dir):
    """Z-ORDER (Morton curve) LAYOUT AUDIT — the data-clustering
    diagnostic behind multi-dimensional file skipping (Delta/Iceberg
    OPTIMIZE ZORDER BY): interleave the low 8 bits of (l_partkey,
    l_suppkey) into a 16-bit z-value, bucket rows by the top 8 z-bits
    (the would-be file assignment), and report each bucket's bounding
    box over BOTH keys. A tight bbox_area per bucket is exactly what
    makes min/max zone maps prune 2-D predicates; a partkey-sorted
    layout would show full-range sx spans in every bucket.

    Scale shape: the interleave is a pure integer scan-side expression
    (16 shift/mask terms, whole-stage codegen — the identical expression
    text runs in DuckDB), followed by ONE map-side-combined aggregate to
    the 256-bucket grain. At 100 TB this is the audit you run before
    rewriting a table z-ordered; all arithmetic is exact integers."""
    li = load_tables(spark, sf_dir)["lineitem"]
    px = F.col("l_partkey").bitwiseAND(F.lit(255))
    sx = F.col("l_suppkey").bitwiseAND(F.lit(255))
    bits = [
        F.shiftleft(F.shiftright(px, i).bitwiseAND(F.lit(1)), 2 * i)
        + F.shiftleft(F.shiftright(sx, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        for i in range(8)
    ]
    zval = bits[0]
    for b in bits[1:]:
        zval = zval + b
    z = li.select(
        zval.alias("zval"), px.alias("px"), sx.alias("sx")
    )
    span = lambda c: F.max(c) - F.min(c) + 1
    return (
        z.groupBy(F.shiftright(F.col("zval"), 8).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("px").cast("long").alias("px_min"),
            F.max("px").cast("long").alias("px_max"),
            F.min("sx").cast("long").alias("sx_min"),
            F.max("sx").cast("long").alias("sx_max"),
            (span("px") * span("sx")).cast("long").alias("bbox_area"),
        )
        .transform(presentation_sort, "zbucket")
    )


@query(
    "q182_item_item_cf",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    pop AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY p),
    co AS (
      SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS n_ab
      FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
      GROUP BY x.p, y.p HAVING count(*) >= 2
    ),
    sym AS (
      SELECT a, b, n_ab FROM co
      UNION ALL SELECT b, a, n_ab FROM co
    ),
    scored AS (
      SELECT s.a, s.b, s.n_ab,
             floor(s.n_ab / sqrt(CAST(pa.n AS DOUBLE) * pb.n) * 1e9 + 0.5)
               / 1e9 AS cosine
      FROM sym s JOIN pop pa ON pa.p = s.a JOIN pop pb ON pb.p = s.b
    ),
    ranked AS (
      SELECT a, b, n_ab, cosine,
             row_number() OVER (PARTITION BY a
                                ORDER BY cosine DESC, b) AS rk
      FROM scored
    )
    SELECT a AS part, b AS similar_part, n_ab AS n_cooccur, cosine,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3 ORDER BY part, rk
    """,
)
def q182(spark, sf_dir):
    """ITEM-ITEM COLLABORATIVE FILTERING — the classic co-occurrence
    recommender (Linden et al. 2003, Amazon item-to-item): similarity
    between parts = cosine over order-baskets, cos(a,b) =
    n_ab / sqrt(n_a * n_b), top-3 neighbors per part. Builds directly
    on q133's support-floored basket pairs (>= 2 shared orders prunes
    the quadratic coincidence tail BEFORE scoring — the same map-side
    combinable HAVING) and q105's array pair expansion: per-order
    baskets are collected with ONE orderkey-keyed aggregate and the
    C(k,2) canonical pairs expand scan-side from the sorted set array
    (no li-x-li self-join — each order's items cross the wire once).

    Scale shape: pair grain is bounded by basket sizes; popularity is a
    part-grain broadcastable table joined twice; the per-part top-3 is
    a pair-keyed window on the pruned pair set. Exactness: counts are
    integers, the cosine is one sqrt over an exact integer product,
    gridded at 1e-9; ranking ties break on the gridded value + part id."""
    li = (
        load_tables(spark, sf_dir)["lineitem"]
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # r15: basket grain at COMPUTE width (guide §2.5) — the downstream
    # pair expansion (Generate x Generate + partial pair count) runs at
    # the baskets exchange's width, and the byte-sized interactive
    # width (4) starved it; same exchange count, warehouse unchanged.
    baskets = li.repartition(keyed_compute_width(li), "o").groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("ps")
    )
    # emit BOTH orientations scan-side (each canonical pair as (a,b) AND
    # (b,a)): per-direction counts equal the canonical pair count, so one
    # aggregation replaces the co UNION co-swapped shape — which would
    # duplicate the whole basket subtree (two more lineitem scans)
    # r14 (guide §4.1): both orientations of every within-basket pair as
    # two chained codegen'd Generates (explode x explode, a != b) instead
    # of nested TRANSFORM lambdas materializing a struct-array-of-arrays
    # per basket — higher-order functions evaluate interpreted per
    # element. Identical pair multiset (per-direction count = canonical
    # count), same sum(|basket|^2) bound, one aggregation as before;
    # measured 1.49 s -> 1.05 s for the kernel at sf0.1.
    sym = (
        baskets.select(F.explode("ps").alias("a"), F.col("ps"))
        .select("a", F.explode("ps").alias("b"))
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    # the part-grain popularity table feeds BOTH broadcast sides — pin
    # it so the lineitem scan behind it runs once (r10 lifetime contract)
    pop = pin(
        li.groupBy(F.col("p")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
    )
    pa = pop.select(F.col("p").alias("_pa"), F.col("n").alias("n_a"))
    pb = pop.select(F.col("p").alias("_pb"), F.col("n").alias("n_b"))
    scored = (
        sym.join(F.broadcast(pa), F.col("a") == F.col("_pa"))
        .join(F.broadcast(pb), F.col("b") == F.col("_pb"))
        .select(
            "a",
            "b",
            "n_ab",
            (
                F.floor(
                    F.col("n_ab")
                    / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("a").orderBy(F.desc("cosine"), F.asc("b"))
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 3)
        .select(
            F.col("a").alias("part"),
            F.col("b").alias("similar_part"),
            F.col("n_ab").alias("n_cooccur"),
            "cosine",
            F.col("rk").cast("int").alias("rk"),
        )
        .transform(presentation_sort, "part", "rk")
    )


@query(
    "q190_zonemap_pruning",
    oracle=f"""
    WITH z AS (
      SELECT l_orderkey // 256 AS nat_file,
             ({_Z_INTERLEAVE_SQL}) >> 8 AS z_file,
             (l_partkey & 255) AS px, (l_suppkey & 255) AS sx
      FROM lineitem
    ),
    tagged AS (
      SELECT *, CASE WHEN px BETWEEN 32 AND 47 AND sx BETWEEN 64 AND 79
                     THEN 1 ELSE 0 END AS hit
      FROM z
    ),
    nat AS (
      SELECT nat_file AS f, count(*) AS n, sum(hit) AS hits,
             min(px) AS px_min, max(px) AS px_max,
             min(sx) AS sx_min, max(sx) AS sx_max
      FROM tagged GROUP BY nat_file
    ),
    zo AS (
      SELECT z_file AS f, count(*) AS n, sum(hit) AS hits,
             min(px) AS px_min, max(px) AS px_max,
             min(sx) AS sx_min, max(sx) AS sx_max
      FROM tagged GROUP BY z_file
    ),
    audit AS (
      SELECT 'natural' AS layout, * FROM nat
      UNION ALL SELECT 'zorder', * FROM zo
    ),
    flags AS (
      SELECT layout, n, hits,
             CASE WHEN px_max >= 32 AND px_min <= 47
                   AND sx_max >= 64 AND sx_min <= 79
                  THEN 1 ELSE 0 END AS must_read
      FROM audit
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(must_read) AS BIGINT) AS files_read,
           CAST(sum(n) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN must_read = 1 THEN n ELSE 0 END) AS BIGINT)
             AS rows_read,
           CAST(sum(hits) AS BIGINT) AS rows_matching,
           floor((1.0 - CAST(sum(must_read) AS DOUBLE) / count(*))
                 * 1e6 + 0.5) / 1e6 AS file_skip_rate,
           CASE WHEN sum(hits) > 0 THEN
             floor(CAST(sum(CASE WHEN must_read = 1 THEN n ELSE 0 END)
                        AS DOUBLE) / sum(hits) * 1e6 + 0.5) / 1e6
           END AS read_amplification
    FROM flags GROUP BY layout ORDER BY layout
    """,
)
def q190(spark, sf_dir):
    """ZONE-MAP PRUNING SIMULATION — quantifies WHY the q169 z-order
    layout matters: simulate min/max file skipping (parquet row-group /
    Delta-Iceberg data-skipping stats) for the 2-D predicate
    px∈[32,47] ∧ sx∈[64,79] under TWO file layouts of the same rows —
    'natural' (files = l_orderkey div 256 ranges, the as-ingested
    order) vs 'zorder' (files = top-8 Morton bits, q169's assignment).
    A file must be read iff its (px,sx) bounding box intersects the
    predicate box. Output per layout: file/row counts, the exact
    matching-row count (identical across layouts — layout never changes
    the answer, only the I/O), the file-skip rate and the read
    amplification rows_read/rows_matching — the number a 100 TB table
    owner uses to justify an OPTIMIZE ZORDER rewrite.

    Scale shape: BOTH file assignments are scan-side integer
    expressions (no global sort — the orderkey-range and z-bucket
    assignments are order-free closed forms, so no single-partition
    window anywhere); one file-grain aggregate per layout, then a
    2-row rollup. All integer-exact; the two rates are 1e6-gridded."""
    li = load_tables(spark, sf_dir)["lineitem"]
    px = F.col("l_partkey").bitwiseAND(F.lit(255))
    sx = F.col("l_suppkey").bitwiseAND(F.lit(255))
    bits = [
        F.shiftleft(F.shiftright(px, i).bitwiseAND(F.lit(1)), 2 * i)
        + F.shiftleft(F.shiftright(sx, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        for i in range(8)
    ]
    zval = bits[0]
    for b in bits[1:]:
        zval = zval + b
    hit = (
        px.between(32, 47) & sx.between(64, 79)
    ).cast("int")
    tagged = li.select(
        F.expr("l_orderkey div 256").alias("nat_file"),
        F.shiftright(zval, 8).alias("z_file"),
        px.alias("px"),
        sx.alias("sx"),
        hit.alias("hit"),
    )

    def file_stats(file_col, layout):
        return (
            tagged.groupBy(F.col(file_col).alias("f"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("hit").alias("hits"),
                F.min("px").alias("px_min"),
                F.max("px").alias("px_max"),
                F.min("sx").alias("sx_min"),
                F.max("sx").alias("sx_max"),
            )
            .select(F.lit(layout).alias("layout"), "*")
        )

    audit = file_stats("nat_file", "natural").unionByName(
        file_stats("z_file", "zorder")
    )
    must_read = (
        (F.col("px_max") >= 32)
        & (F.col("px_min") <= 47)
        & (F.col("sx_max") >= 64)
        & (F.col("sx_min") <= 79)
    ).cast("int")
    flags = audit.select("layout", "n", "hits", must_read.alias("must_read"))
    rows_read = F.sum(F.when(F.col("must_read") == 1, F.col("n")).otherwise(0))
    return (
        flags.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("must_read").cast("long").alias("files_read"),
            F.sum("n").cast("long").alias("rows_total"),
            rows_read.cast("long").alias("rows_read"),
            F.sum("hits").cast("long").alias("rows_matching"),
            (
                F.floor(
                    (1.0 - F.sum("must_read").cast("double") / F.count(F.lit(1)))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("file_skip_rate"),
            F.when(
                F.sum("hits") > 0,
                F.floor(
                    rows_read.cast("double") / F.sum("hits") * 1e6 + 0.5
                )
                / 1e6,
            ).alias("read_amplification"),
        )
        .transform(presentation_sort, "layout")
    )


@query(
    "q191_cf_backtest",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    bsz AS (SELECT o, count(*) AS sz FROM li GROUP BY o),
    held AS (
      SELECT li.o, max(li.p) AS h
      FROM li JOIN bsz ON li.o = bsz.o WHERE bsz.sz >= 2
      GROUP BY li.o
    ),
    tr AS (
      SELECT li.o, li.p FROM li LEFT JOIN held
        ON li.o = held.o AND li.p = held.h
      WHERE held.o IS NULL
    ),
    pop AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY p),
    co AS (
      SELECT x.p AS a, y.p AS b, CAST(count(*) AS BIGINT) AS n_ab
      FROM tr x JOIN tr y ON x.o = y.o AND x.p < y.p
      GROUP BY x.p, y.p HAVING count(*) >= 2
    ),
    sym AS (SELECT a, b, n_ab FROM co
            UNION ALL SELECT b, a, n_ab FROM co),
    scored AS (
      SELECT s.a, s.b,
             floor(s.n_ab / sqrt(CAST(pa.n AS DOUBLE) * pb.n) * 1e9 + 0.5)
               / 1e9 AS cosine
      FROM sym s JOIN pop pa ON pa.p = s.a JOIN pop pb ON pb.p = s.b
    ),
    top3 AS (
      SELECT a, b FROM (
        SELECT a, b, row_number() OVER (PARTITION BY a
                         ORDER BY cosine DESC, b) AS rk
        FROM scored) WHERE rk <= 3
    ),
    poptop AS (
      SELECT p FROM (
        SELECT p, row_number() OVER (ORDER BY n DESC, p) AS rk
        FROM pop) WHERE rk <= 3
    ),
    ev AS (
      SELECT held.o, held.h,
             max(CASE WHEN t.b IS NOT NULL THEN 1 ELSE 0 END) AS cf_hit,
             max(CASE WHEN pt.p IS NOT NULL THEN 1 ELSE 0 END) AS pop_hit
      FROM held
      JOIN tr r ON r.o = held.o
      LEFT JOIN top3 t ON t.a = r.p AND t.b = held.h
      LEFT JOIN poptop pt ON pt.p = held.h
      GROUP BY held.o, held.h
    )
    SELECT CAST(count(*) AS BIGINT) AS n_baskets,
           CAST(sum(cf_hit) AS BIGINT) AS cf_hits,
           floor(CAST(sum(cf_hit) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
             AS cf_hit_rate,
           CAST(sum(pop_hit) AS BIGINT) AS pop_hits,
           floor(CAST(sum(pop_hit) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
             AS pop_hit_rate
    FROM ev
    """,
)
def q191(spark, sf_dir):
    """RECOMMENDER BACKTEST — leave-one-out hit-rate@3 for the q182
    item-item CF, the evaluation every deployed recommender needs
    before its scores mean anything (q150 evaluates the classifier;
    nothing evaluated the recommender). Protocol: in every basket with
    >= 2 distinct parts, HIDE the max-partkey item (deterministic
    holdout); train the full q182 pipeline (support >= 2 co-occurrence,
    cosine over train popularity, top-3 per part) on the CENSORED
    corpus only — the held item never leaks into training counts; a
    basket is a hit iff its hidden item appears in the top-3 neighbor
    list of ANY remaining basket item. Reported against the
    popularity@3 baseline (is the hidden item just one of the 3
    most popular parts?) — the number that justifies shipping CF.

    Scale shape: identical to q182's (scan-side C(k,2) expansion on the
    censored baskets, support floor before scoring, broadcast
    popularity, pair-keyed top-3 window) plus one basket-grain
    evaluation join of the exploded rest-items against the top-3 table
    — pair-keyed, never quadratic. All counts integer-exact; rates and
    cosines gridded. Wall is ~2x q182 (two passes over the basket
    machinery: train + evaluate), honest for a backtest."""
    li = pin(
        load_tables(spark, sf_dir)["lineitem"]
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    wb = Window.partitionBy("o")
    tagged = li.select(
        "o",
        "p",
        F.count(F.lit(1)).over(wb).alias("sz"),
        F.max("p").over(wb).alias("mx"),
    )
    held = (
        tagged.where((F.col("sz") >= 2) & (F.col("p") == F.col("mx")))
        .select("o", F.col("p").alias("h"))
    )
    tr = pin(
        tagged.where((F.col("sz") < 2) | (F.col("p") != F.col("mx"))).select(
            "o", "p"
        )
    )
    # r15 note: q182's compute-width repartition is deliberately NOT applied here —
    # the pinned `tr` is already o-partitioned (the sessionizing window
    # exchange), so groupBy("o") adds no exchange at all; widening would
    # ADD one (measured 1.16 -> 1.37 s, reverted).
    baskets = tr.groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("ps")
    )
    # r14 (guide §4.1): both orientations of every within-basket pair as
    # two chained codegen'd Generates (explode x explode, a != b) instead
    # of nested TRANSFORM lambdas materializing a struct-array-of-arrays
    # per basket — higher-order functions evaluate interpreted per
    # element. Identical pair multiset (per-direction count = canonical
    # count), same sum(|basket|^2) bound, one aggregation as before;
    # measured 1.49 s -> 1.05 s for the kernel at sf0.1.
    sym = (
        baskets.select(F.explode("ps").alias("a"), F.col("ps"))
        .select("a", F.explode("ps").alias("b"))
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    pop = pin(
        tr.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pa = pop.select(F.col("p").alias("_pa"), F.col("n").alias("n_a"))
    pb = pop.select(F.col("p").alias("_pb"), F.col("n").alias("n_b"))
    scored = (
        sym.join(F.broadcast(pa), F.col("a") == F.col("_pa"))
        .join(F.broadcast(pb), F.col("b") == F.col("_pb"))
        .select(
            "a",
            "b",
            (
                F.floor(
                    F.col("n_ab")
                    / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("a").orderBy(F.desc("cosine"), F.asc("b"))
    top3 = (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 3)
        .select("a", "b")
    )
    poptop = (
        pop.orderBy(F.desc("n"), "p")
        .limit(3)
        .select(F.col("p").alias("pt"))
    )
    rest = held.join(tr.withColumnRenamed("p", "r"), "o")
    ev = (
        rest.join(
            top3,
            (top3["a"] == rest["r"]) & (top3["b"] == rest["h"]),
            "left",
        )
        .join(F.broadcast(poptop), rest["h"] == F.col("pt"), "left")
        .groupBy("o", "h")
        .agg(
            F.max(
                F.when(F.col("a").isNotNull(), 1).otherwise(0)
            ).alias("cf_hit"),
            F.max(
                F.when(F.col("pt").isNotNull(), 1).otherwise(0)
            ).alias("pop_hit"),
        )
    )
    rate = lambda c: F.floor(
        F.sum(c).cast("double") / F.count(F.lit(1)) * 1e6 + 0.5
    ) / 1e6
    return ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets"),
        F.sum("cf_hit").cast("long").alias("cf_hits"),
        rate("cf_hit").alias("cf_hit_rate"),
        F.sum("pop_hit").cast("long").alias("pop_hits"),
        rate("pop_hit").alias("pop_hit_rate"),
    )
