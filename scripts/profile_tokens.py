"""Scratch profiler: measure heavy corpus queries as-is at sf0.1 under the
bench config, then measure the incremental cost of the same plans reading a
cached tokenized-documents view. Decides whether the shared token cache
(VERDICT r5 suggestion) is worth landing."""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.session import autotune_for_input, get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
spark = get_spark(cpus="32")
autotune_for_input(spark, SF)

import __spark_entry__ as m

HEAVY = [
    "q82_bigram_lm_score",
    "q102_heldout_lm",
    "q66_rare_word_filter",
    "q92_dup_span_coverage",
    "q96_vocab_coverage",
    "q89_bpe_pair_stats",
    "q78_vocab_topk",
    "q98_bpe_encode",
    "q99_pagerank",
    "q25_minhash_lsh_pairs",
    "q88_knn_join_lsh",
]
qs = m.queries()


def run(name):
    t0 = time.perf_counter()
    qs[name](spark, SF).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# Warm (cold pass first, then best of 3)
for name in HEAVY:
    cold = run(name)
    best = min(run(name) for _ in range(3))
    print(f"{name:28s} cold={cold:6.2f} best3={best:6.2f}", flush=True)

# Token-scan cost in isolation: tokenize+explode only.
from eurostat_energy_etl_pipeline_spark.catalog import load_tables
from eurostat_energy_etl_pipeline_spark.operators.text import whitespace_tokens

t = load_tables(spark, SF)
tok = t["documents"].select(
    "doc_id", "lang", whitespace_tokens(F.col("text")).alias("tk")
)
t0 = time.perf_counter()
tok.write.format("noop").mode("overwrite").save()
print(f"tokenize-scan (noop)          {time.perf_counter() - t0:6.2f}", flush=True)

cached = tok.cache()
cached.count()
t0 = time.perf_counter()
cached.select(F.explode("tk")).write.format("noop").mode("overwrite").save()
print(f"explode-from-cache (noop)     {time.perf_counter() - t0:6.2f}", flush=True)
t0 = time.perf_counter()
t["documents"].select(F.explode(whitespace_tokens(F.col("text")))).write.format(
    "noop"
).mode("overwrite").save()
print(f"explode-from-scan (noop)      {time.perf_counter() - t0:6.2f}", flush=True)
