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
_PLAN_CACHE: OrderedDict[tuple[str, str, str], DataFrame] = OrderedDict()
# bench's throughput pass hits the cache from 8 client threads; OrderedDict
# reordering is not atomic, so every cache touch takes this (uncontended,
# nanoseconds next to a 200 ms plan build)
_PLAN_CACHE_LOCK = threading.Lock()


def _plan_cache_cap() -> int:
    return int(os.environ.get("SPARK_GRAFT_PLAN_CACHE_SIZE", "32"))


def clear_plan_cache() -> None:
    """Drop memoized plans. Needed when a test wants the pre-execution plan:
    once a cached DataFrame has been executed, ``explain`` shows the
    AQE-finalized physical plan, not the static one."""
    with _PLAN_CACHE_LOCK:
        _PLAN_CACHE.clear()


def drop_plan(name: str) -> int:
    """Evict ``name``'s memoized plans (every session/sf_dir key).

    A ONE-SHOT harness (the driver's correctness sweep runs each query
    exactly once) should not retain executed plans: each kept DataFrame
    pins its executed broadcasts, localCheckpoint RDDs, and exchange
    state as JVM-reachable, so a 200+-query sweep accumulates every
    query's broadcast hash tables for the whole session — which
    overflows a small plain-session driver heap at sf0.1 even though no
    single query is large. Dropping the plan after its comparison lets
    ContextCleaner GC all of it; repeated-workload harnesses (bench)
    keep the cache, which is the whole point of the memo. Session-
    lifetime caches (catalog cached_view, prepared graphs, at-rest
    index memos) are deliberately untouched — they are the bounded,
    intended long-lived state."""
    with _PLAN_CACHE_LOCK:
        keys = [k for k in _PLAN_CACHE if k[2] == name]
        for k in keys:
            del _PLAN_CACHE[k]
    # the plan is gone, so its plan-lifetime checkpoint declaration no
    # longer describes anything live (ADVICE r13: don't let stale entries
    # keep the lifetime gate lenient forever)
    with _PINNED_LOCK:
        _CHECKPOINT_USERS.pop(name, None)
    return len(keys)


# Persisted-intermediate registry (VERDICT r9 item 4): plans that persist
# a shared subtree register the handle under the query being built, so the
# harness (bench.py between measurements, tests) can return the session's
# cached-block footprint to baseline instead of accumulating dozens of
# pinned RDDs across a 163-query run. graph.py's iterative pins manage
# their own lifetime internally and don't use this.
_PINNED: dict[str, list[DataFrame]] = {}
_PINNED_LOCK = threading.Lock()


class _Building(threading.local):
    """Per-thread query-name stack: bench.py's threaded throughput pass
    builds plans concurrently (e.g. after clear_plan_cache), and a shared
    stack would let one thread's pin register under another thread's
    query name. thread-local keeps attribution exact with no locking on
    the hot path."""

    def __init__(self) -> None:
        self.stack: list[str] = []


_BUILDING = _Building()


def pin(df: DataFrame) -> DataFrame:
    """persist() + register the handle for :func:`release_pins`. Use for
    an expensive subtree referenced more than once in the SAME returned
    plan; the pin stays alive while the query is measured and is released
    by the harness afterwards (re-executing the memoized plan after a
    release is still correct — just recomputes the subtree)."""
    stack = _BUILDING.stack
    name = stack[-1] if stack else "__anon__"
    with _PINNED_LOCK:
        _PINNED.setdefault(name, []).append(df.persist())
    return df


# name -> the plan-lifetime checkpoint RDD ids of the query's CURRENT
# build. Reset per build (the `query` wrapper pops the entry on every
# plan-cache miss) so the registry reflects the plan as built NOW, not
# historical builds (ADVICE r13).
_CHECKPOINT_USERS: dict[str, set[int]] = {}


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

    Blocks are plan-lifetime (released when the plan is dropped and
    GC'd): the checkpoint's RDD id, read off the returned DataFrame, is
    registered under the query being built (thread-local build stack),
    so lifetime gates can tell these blocks from a pin() leak."""
    out = df.localCheckpoint(eager=True)
    rdd_id = _checkpoint_rdd(out).id()
    stack = _BUILDING.stack
    name = stack[-1] if stack else "__anon__"
    with _PINNED_LOCK:
        _CHECKPOINT_USERS.setdefault(name, set()).add(rdd_id)
    return out


@contextmanager
def staged(df: DataFrame):
    """Operation-lifetime checkpoint: yields ``df`` eagerly materialized
    with its lineage cut, and releases the blocks on exit. For operations
    that stage rows and then overwrite their own input (merge,
    compaction, index maintenance): the write never reads the files it is
    replacing, and no staging blocks outlive the call."""
    out = df.localCheckpoint(eager=True)
    try:
        yield out
    finally:
        _checkpoint_rdd(out).unpersist(False)


def checkpoint_users() -> frozenset[str]:
    """Queries that self-declared plan-lifetime checkpoint blocks (only
    populated for plans BUILT in this session — build before asking)."""
    with _PINNED_LOCK:
        return frozenset(_CHECKPOINT_USERS)


def checkpoint_ids(name: str) -> frozenset[int] | None:
    """The plan-lifetime block ids `name`'s current build declared, or
    None when it declared none."""
    with _PINNED_LOCK:
        ids = _CHECKPOINT_USERS.get(name)
        return None if ids is None else frozenset(ids)


def release_pins(name: str | None = None, blocking: bool = False) -> int:
    """Unpersist every handle pinned by `name` (or by all queries when
    None). Returns the number of handles released. ``blocking=False``
    (the default) is the harness hot path; the count-based lifetime test
    passes ``blocking=True`` because an async unpersist can land AFTER a
    later baseline snapshot and deflate it mid-measurement."""
    with _PINNED_LOCK:
        names = [name] if name is not None else list(_PINNED)
        handles = [df for q in names for df in _PINNED.pop(q, [])]
    n = 0
    for df in handles:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


def query(name: str, oracle: str | None = None):
    """Register a declared query (and optionally its DuckDB oracle SQL).
    The registered callable is plan-memoized; the undecorated function is
    returned unchanged for direct use in tests."""

    def deco(fn):
        def prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
            key = (spark.sparkContext.applicationId, sf_dir, name)
            with _PLAN_CACHE_LOCK:
                df = _PLAN_CACHE.get(key)
                if df is not None:
                    _PLAN_CACHE.move_to_end(key)
                    return df
            # fresh build: reset the query's checkpoint declaration so the
            # registry reflects THIS plan (a refactor that drops checkpoint
            # usage stops being grandfathered in — ADVICE r13)
            with _PINNED_LOCK:
                _CHECKPOINT_USERS.pop(name, None)
            _BUILDING.stack.append(name)
            try:
                df = fn(spark, sf_dir)
            finally:
                _BUILDING.stack.pop()
            with _PLAN_CACHE_LOCK:
                _PLAN_CACHE[key] = df
                cap = _plan_cache_cap()
                while len(_PLAN_CACHE) > cap:
                    _PLAN_CACHE.popitem(last=False)  # LRU eviction
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
