"""Scratch profiler: split per-query time into DataFrame CONSTRUCTION
(python plan building + Catalyst analysis, py4j chatter) vs EXECUTION
(noop write of a pre-built DataFrame). If construction is a big share,
an engine-level plan-handle cache (prepared statements) is the win."""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from eurostat_energy_etl_pipeline_spark.session import autotune_for_input, get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark(cpus="32")
autotune_for_input(spark, SF)

import __spark_entry__ as m

qs = m.queries()
names = sorted(qs)

# Warm everything once.
for n in names:
    qs[n](spark, SF).write.format("noop").mode("overwrite").save()

tot_build = tot_exec = tot_both = 0.0
rows = []
for n in names:
    # best-of-3 of each phase
    b = e = be = 1e9
    for _ in range(3):
        t0 = time.perf_counter()
        df = qs[n](spark, SF)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        b = min(b, t1 - t0)
        e = min(e, t2 - t1)
        be = min(be, t2 - t0)
    tot_build += b
    tot_exec += e
    tot_both += be
    rows.append((n, b, e))

rows.sort(key=lambda r: -r[1])
for n, b, e in rows[:20]:
    print(f"{n:28s} build={b:6.3f} exec={e:6.3f}")
print(f"TOTAL build={tot_build:.2f} exec={tot_exec:.2f} both={tot_both:.2f} n={len(names)}")
