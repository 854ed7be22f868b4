"""Declared query library (SURVEY.md §2.12) + registry plumbing.

Every query is registered twice: a Spark DataFrame builder in ``QUERIES``
(name -> callable(spark, sf_dir) -> DataFrame) and, when SQL-expressible, the
equivalent DuckDB oracle string in ``ORACLE``. The driver hash-compares the
two at sf0.01; `tests/test_oracle_differential.py` does the same locally at
sf0.001.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# Prepared-plan cache per (session, sf_dir, query): rebuilding a query's
# DataFrame pays Catalyst analysis + optimization again (~200-450 ms/query,
# roughly half of repeated-workload wall clock at sf0.1) even though the
# resulting plan is identical. Real engines keep a plan cache for exactly
# this (prepared statements / Hive's PlanCache); we memoize the built
# DataFrame and let every call re-EXECUTE it — results are never cached
# here, only the plan. Inputs are immutable testdata dirs, so plans never
# go stale; the appId key drops the cache with the session.
#
# BOUNDED by default (r12): a retained DataFrame keeps its executed
# broadcasts / localCheckpoint RDDs / exchange state JVM-reachable, so an
# unbounded cache makes a one-shot 200+-query sweep accumulate every
# query's broadcast hash tables — which overflowed a 1g plain-session
# driver heap at sf0.1 even though no single query is large. A one-shot
# harness gets zero reuse from the memo anyway, so the default LRU cap
# costs it nothing and caps retention; repeated-workload harnesses
# (bench.py) raise SPARK_GRAFT_PLAN_CACHE_SIZE above the registry size
# to keep full reuse — exactly a real engine's sized prepared-statement
# cache.


class _Plan:
    """One plan scope, and the plan cache's entry: the built DataFrame
    (set once it is cached), the DataFrames its build pinned, and the RDD
    ids of its at-rest checkpoints. Removing an entry releases its pins,
    so no registry outlives the plan it describes."""

    __slots__ = ("df", "pins", "checkpoints")

    def __init__(self) -> None:
        self.df: DataFrame | None = None
        self.pins: list[DataFrame] = []
        self.checkpoints: set[int] = set()


_PLAN_CACHE: OrderedDict[tuple[str, str, str], _Plan] = OrderedDict()
# bench's throughput pass hits the cache from 8 client threads; OrderedDict
# reordering is not atomic, so every touch of the cache or of a record
# takes this (uncontended, nanoseconds next to a 200 ms plan build)
_LOCK = threading.Lock()


class _Building(threading.local):
    """Per-thread stack of the scope records being built: bench.py's
    threaded throughput pass builds plans concurrently, and a shared stack
    would let one thread's pin register in another thread's plan.
    Thread-local keeps attribution exact with no locking on the hot
    path."""

    def __init__(self) -> None:
        self.stack: list[_Plan] = []


_BUILDING = _Building()


def _plan_cache_cap() -> int:
    return int(os.environ.get("SPARK_GRAFT_PLAN_CACHE_SIZE", "32"))


def _release(plans: list[_Plan], blocking: bool = False) -> int:
    """Unpersist the pins of ``plans``; returns how many were released.
    Re-executing a plan afterwards is still correct — it just recomputes
    the subtree."""
    with _LOCK:
        handles = [df for p in plans for df in p.pins]
        for p in plans:
            p.pins = []
    n = 0
    for df in handles:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped; nothing to release
    return n


def clear_plan_cache() -> None:
    """Drop memoized plans and release their pins. Needed when a test
    wants the pre-execution plan: once a cached DataFrame has been
    executed, ``explain`` shows the AQE-finalized physical plan, not the
    static one."""
    with _LOCK:
        dropped = list(_PLAN_CACHE.values())
        _PLAN_CACHE.clear()
    _release(dropped)


def drop_plan(name: str) -> int:
    """Evict ``name``'s memoized plans (every session/sf_dir key) and
    release their pins.

    A ONE-SHOT harness (the driver's correctness sweep runs each query
    exactly once) should not retain executed plans: each kept DataFrame
    pins its executed broadcasts, localCheckpoint RDDs, and exchange
    state as JVM-reachable, so a 200+-query sweep accumulates every
    query's broadcast hash tables for the whole session — which
    overflows a small plain-session driver heap at sf0.1 even though no
    single query is large. Dropping the plan after its comparison lets
    ContextCleaner GC all of it; repeated-workload harnesses (bench)
    keep the cache, which is the whole point of the memo. Session-
    lifetime caches (catalog cached_views such as the text indexes and
    the shared graph, at-rest artifact memos) are deliberately
    untouched — they are the bounded, intended long-lived state."""
    with _LOCK:
        keys = [k for k in _PLAN_CACHE if k[2] == name]
        dropped = [_PLAN_CACHE.pop(k) for k in keys]
    _release(dropped)
    return len(dropped)


@contextmanager
def scope():
    """Open a plan scope on this thread and yield its record: `pin` and
    `at_rest` calls inside register into it. `query` keeps the record of
    a plan it caches; every other record has its pins released on exit
    (a per-batch or per-operation scope, a failed build, or the loser of
    two concurrent builds of one plan)."""
    rec = _Plan()
    stack = _BUILDING.stack
    stack.append(rec)
    try:
        yield rec
    finally:
        stack.pop()
        if rec.df is None:
            _release([rec])


def pin(df: DataFrame) -> DataFrame:
    """persist() ``df`` for the life of the current scope. Use for an
    expensive subtree referenced more than once in the SAME returned plan
    (or operation): the pin stays alive while the cached plan is
    measured, and is released when the plan leaves the cache, when the
    scope exits, or by :func:`release_pins`. Outside any scope there is
    no owner to release it, so nothing is persisted and ``df`` comes back
    as it was (a direct operator call recomputes the shared subtree)."""
    stack = _BUILDING.stack
    if stack:
        df.persist()
        with _LOCK:
            stack[-1].pins.append(df)
    return df


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding a localCheckpoint'd DataFrame's blocks (its
    LogicalRDD leaf). ``DataFrame.unpersist()`` does not release them."""
    return df._jdf.queryExecution().logical().rdd()


def at_rest(df: DataFrame) -> DataFrame:
    """Materialize an AT-REST ARTIFACT: eager localCheckpoint executes
    the build once and truncates lineage, so every consumer references a
    leaf RDD — the semantics of a stored table (incremental queries'
    artifacts ARE yesterday's persisted outputs). Load-bearing for plan
    size, not just fidelity: chaining artifact-on-artifact through lazy
    pins re-embeds each build subtree at every reference (q192's first
    cut produced a combinatorial ~24 MB logical plan that Catalyst
    re-optimized on EVERY action); leaf RDDs keep the returned plan
    proportional to the merge logic itself.

    Blocks are plan-lifetime: they are never released explicitly (a
    caller may still hold the DataFrame, and checkpoint blocks cannot be
    recomputed), so they go when the plan is dropped and GC'd. The
    checkpoint's RDD id, read off the returned DataFrame, is recorded in
    the scope being built, so lifetime gates can tell these blocks from a
    pin() leak."""
    out = df.localCheckpoint(eager=True)
    stack = _BUILDING.stack
    if stack:
        rdd_id = _checkpoint_rdd(out).id()
        with _LOCK:
            stack[-1].checkpoints.add(rdd_id)
    return out


@contextmanager
def staged(df: DataFrame):
    """Operation-lifetime checkpoint: yields ``df`` eagerly materialized
    with its lineage cut, and releases the blocks on exit. For operations
    that stage rows and then overwrite their own input (merge,
    compaction, index maintenance): the write never reads the files it is
    replacing. For a batch one operation reads more than once (a load's
    write, merge lookups and row count): the batch's plan runs once. No
    staging blocks outlive the call."""
    out = df.localCheckpoint(eager=True)
    try:
        yield out
    finally:
        _checkpoint_rdd(out).unpersist(False)


def checkpoint_users() -> frozenset[str]:
    """Cached plans that declared plan-lifetime checkpoint blocks (build
    before asking)."""
    with _LOCK:
        return frozenset(k[2] for k, p in _PLAN_CACHE.items() if p.checkpoints)


def checkpoint_ids(name: str) -> frozenset[int] | None:
    """The plan-lifetime block ids `name`'s cached plans declared, or
    None when they declared none."""
    with _LOCK:
        ids = frozenset().union(
            *(p.checkpoints for k, p in _PLAN_CACHE.items() if k[2] == name)
        )
    return ids or None


def release_pins(name: str | None = None, blocking: bool = False) -> int:
    """Unpersist every handle pinned by `name`'s cached plans (by every
    cached plan when None); the plans stay cached. Returns the number of
    handles released. ``blocking=False`` (the default) is the harness hot
    path; the count-based lifetime test passes ``blocking=True`` because
    an async unpersist can land AFTER a later baseline snapshot and
    deflate it mid-measurement."""
    with _LOCK:
        plans = [p for k, p in _PLAN_CACHE.items() if name in (None, k[2])]
    return _release(plans, blocking)


def query(name: str, oracle: str | None = None):
    """Register a declared query (and optionally its DuckDB oracle SQL).
    The registered callable is plan-memoized; the undecorated function is
    returned unchanged for direct use in tests."""

    def deco(fn):
        def prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
            key = (spark.sparkContext.applicationId, sf_dir, name)
            with _LOCK:
                hit = _PLAN_CACHE.get(key)
                if hit is not None:
                    _PLAN_CACHE.move_to_end(key)
                    return hit.df
            with scope() as rec:
                df = fn(spark, sf_dir)
                with _LOCK:
                    # a concurrent build of the same key may have won;
                    # this record then leaves the scope unset and released
                    cached = _PLAN_CACHE.setdefault(key, rec)
                    if cached is rec:
                        rec.df = df
                    _PLAN_CACHE.move_to_end(key)
                    over = len(_PLAN_CACHE) - _plan_cache_cap()
                    evicted = [
                        _PLAN_CACHE.popitem(last=False)[1] for _ in range(over)
                    ]
                if cached is not rec:
                    # Spark keeps one cache entry per plan: unpersisting a
                    # pin the winner also holds would unpin the winner
                    rec.pins = [
                        p for p in rec.pins
                        if not any(p.sameSemantics(w) for w in cached.pins)
                    ]
                df = cached.df
            _release(evicted)
            return df

        prepared.__name__ = f"{fn.__name__}_prepared"
        prepared.__doc__ = fn.__doc__
        QUERIES[name] = prepared
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from eurostat_energy_etl_pipeline_spark.plans import (  # noqa: F401
        relational,
        insights,
        analytics,
        northstar,
        events,
        corpus,
        graph,
        funnel,
    )
