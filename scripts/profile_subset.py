"""Interactive profiling helpers: meant to be `exec`'d or imported inside a
long-lived python shell holding one SparkSession. Times a named subset of
the declared queries (warm, best-of-N) with per-query job/stage/task counts,
and times the matching DuckDB oracles for the ratio view.

Usage (inside python -i):
    >>> from scripts.profile_subset import *
    >>> spark = boot()
    >>> prof(spark, ["q82_bigram_lm_score", "q99_pagerank"], reps=3)
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.1"


def boot(cpus: str = "32"):
    from eurostat_energy_etl_pipeline_spark.session import get_spark

    return get_spark("profile-subset", cpus=cpus)


def _run(spark, fn, sf_dir):
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def prof(spark, names, reps: int = 3, sf_dir: str = SF, warm: bool = True):
    import __spark_entry__ as m

    queries = m.queries()
    sc = spark.sparkContext
    st = sc.statusTracker()
    out = {}
    for name in names:
        fn = queries[name]
        if warm:
            _run(spark, fn, sf_dir)
        best = float("inf")
        jobs = stages = tasks = 0
        for i in range(reps):
            tag = f"{name}#{i}"
            sc.setJobGroup(tag, tag)
            t0 = time.perf_counter()
            _run(spark, fn, sf_dir)
            dt = time.perf_counter() - t0
            sc.setJobGroup("idle", "")
            if dt < best:
                best = dt
                jids = st.getJobIdsForGroup(tag)
                jobs = len(jids)
                stages = tasks = 0
                for jid in jids:
                    ji = st.getJobInfo(jid)
                    if ji is None:
                        continue
                    for sid in ji.stageIds:
                        si = st.getStageInfo(sid)
                        if si is not None:
                            stages += 1
                            tasks += si.numTasks
        out[name] = {"sec": round(best, 3), "jobs": jobs, "stages": stages, "tasks": tasks}
        print(f"{name:32s} {best:6.3f}s  jobs={jobs:3d} stages={stages:3d} tasks={tasks:4d}")
    return out


def duck(names, reps: int = 3, sf_dir: str = SF):
    import duckdb

    import __spark_entry__ as m
    from eurostat_energy_etl_pipeline_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = m.oracle_sql()
    out = {}
    for name in names:
        if name not in oracles:
            continue
        con.execute(oracles[name]).fetchall()  # warm
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            con.execute(oracles[name]).fetchall()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
        print(f"{name:32s} duck {best:6.3f}s")
    return out
