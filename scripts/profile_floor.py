"""Per-query job/stage profile at a given SF: quantifies how much of the
warm wall-clock is Spark's fixed per-job/stage scheduling floor vs. actual
work. Output feeds BENCHNOTES.md's floor analysis.

Usage: python scripts/profile_floor.py [sf_dir] [cpus]
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from eurostat_energy_etl_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = sys.argv[2] if len(sys.argv) > 2 else os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("profile", cpus=cpus)
    sc = spark.sparkContext
    import __spark_entry__ as m

    queries = m.queries()

    # Calibrate the per-job floor: a do-nothing 1-partition job.
    for _ in range(3):
        spark.range(1).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    reps = 20
    for _ in range(reps):
        spark.range(1).write.format("noop").mode("overwrite").save()
    per_job_floor = (time.perf_counter() - t0) / reps

    # Warm every query once (materializes the declared caches).
    for name in sorted(queries):
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    st = sc.statusTracker()
    prof = {}
    for name in sorted(queries):
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        sc.setJobGroup("done-" + name, "")
        job_ids = st.getJobIdsForGroup(name)
        n_stages = 0
        n_tasks = 0
        for jid in job_ids:
            ji = st.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        prof[name] = {
            "sec": round(dt, 4),
            "jobs": len(job_ids),
            "stages": n_stages,
            "tasks": n_tasks,
        }

    total = sum(p["sec"] for p in prof.values())
    total_jobs = sum(p["jobs"] for p in prof.values())
    total_stages = sum(p["stages"] for p in prof.values())
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "per_job_floor_sec": round(per_job_floor, 4),
                "total_sec": round(total, 3),
                "total_jobs": total_jobs,
                "total_stages": total_stages,
                "floor_estimate_sec": round(per_job_floor * total_jobs, 3),
                "queries": prof,
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
