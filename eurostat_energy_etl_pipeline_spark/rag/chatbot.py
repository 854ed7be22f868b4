"""Intent router + answer generation (reference llm_app/chatbot.py).

Driver-side control flow by design (T5): the routing predicate runs on one
short string; the work it dispatches to — argmax over the insights table or
a semantic search — are distributed plans.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import cached_view, session_memo
from eurostat_energy_etl_pipeline_spark.plans.insights import insights_table
from eurostat_energy_etl_pipeline_spark.rag import tfidf

RISING_WORDS = ("rising", "increasing", "growing")
GEP_WORDS = ("gep", "gross electricity")

# The insights corpus is deterministic per (session, sf_dir), so its tf-idf
# posting-list index (a catalog session view) and the parameterless intent
# plan (a session memo) are built once and serve every question.
_RISING_GEP_PLAN: dict[tuple[str, str], "object"] = {}


def route(question: str) -> str:
    """Keyword intent predicate (/root/reference/llm_app/chatbot.py:62-68)."""
    q = question.lower()
    if any(w in q for w in RISING_WORDS) and any(w in q for w in GEP_WORDS):
        return "intent"
    return "semantic"


def fastest_rising_gep(spark: SparkSession, sf_dir: str):
    """A12 argmax over insights restricted to GEP
    (/root/reference/llm_app/chatbot.py:9-46)."""
    ins = insights_table(spark, sf_dir)
    return (
        ins.where(F.col("indicator").isin("nrg_cb_e", "GEP"))
        .orderBy(F.desc("slope_per_year"), "geo", "indicator")
        .limit(1)
    )


def answer_question(spark: SparkSession, sf_dir: str, question: str) -> dict:
    """Returns {mode, answer, rows} mirroring the reference's two paths;
    the semantic route ranks with tf-idf (reference parity, rag/tfidf.py)."""
    if not question or not question.strip():
        return {"mode": "empty", "answer": "Please ask a question.", "rows": []}
    mode = route(question)
    if mode == "intent":
        plan = session_memo(
            _RISING_GEP_PLAN, spark, sf_dir, lambda: fastest_rising_gep(spark, sf_dir)
        )
        row = plan.collect()
        if not row:
            return {"mode": mode, "answer": "No GEP insights available.", "rows": []}
        r = row[0]
        answer = (
            f"{r['geo']} has the fastest-rising {r['indicator_name']} "
            f"({r['slope_per_year']:+.2f}/yr, {r['start_year']}-{r['end_year']})."
        )
        return {"mode": mode, "answer": answer, "rows": [r.asDict()]}
    ins = insights_table(spark, sf_dir).withColumnRenamed("insight_text", "text")
    # geo+indicator keys -> stable surrogate id for the index
    corpus = ins.select(
        F.xxhash64("geo", "indicator").alias("doc_id"), "text"
    )
    index = cached_view(
        "insights_tfidf_index",
        spark,
        sf_dir,
        lambda: tfidf.build_index(corpus, "text", "doc_id"),
    )
    scored = tfidf.search(index, spark, question, k=5)
    hits = (
        scored.join(corpus, scored["id"] == corpus["doc_id"])
        .select("id", F.round("score", 6).alias("score"), "text")
        .orderBy(F.desc("score"), "id")
        .collect()
    )
    lines = [f"- {h['text']} (score {h['score']:.3f})" for h in hits]
    return {"mode": mode, "answer": "\n".join(lines), "rows": [h.asDict() for h in hits]}
