"""Intent router + answer generation (reference llm_app/chatbot.py).

Driver-side control flow by design (T5): the routing predicate runs on one
short string; the work it dispatches to — argmax over the insights table or
a semantic search — are distributed plans.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import session_memo
from eurostat_energy_etl_pipeline_spark.plans.insights import insights_table
from eurostat_energy_etl_pipeline_spark.rag.tfidf import semantic_search

RISING_WORDS = ("rising", "increasing", "growing")
GEP_WORDS = ("gep", "gross electricity")

# BM25 index memo for the chatbot's insights corpus, keyed like
# bm25.documents_bm25_index — build_bm25_index caches its result DataFrame,
# so rebuilding per question would leak one cached index into executor
# storage per call; the corpus is deterministic per (session, sf_dir).
_INSIGHTS_BM25_CACHE: dict[tuple[str, str], "object"] = {}


def _insights_bm25_index(spark: SparkSession, sf_dir: str, corpus):
    from eurostat_energy_etl_pipeline_spark.rag.bm25 import build_bm25_index

    return session_memo(
        _INSIGHTS_BM25_CACHE,
        spark,
        sf_dir,
        lambda: build_bm25_index(corpus, "text", "doc_id"),
    )


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


def answer_question(
    spark: SparkSession, sf_dir: str, question: str, ranker: str = "tfidf"
) -> dict:
    """Returns {mode, answer, rows} mirroring the reference's two paths.

    `ranker` picks the retrieval scorer for the semantic route: "tfidf"
    (reference parity, rag/tfidf.py) or "bm25" (rag/bm25.py) — both are
    posting-list index probes with identical plan shape, so swapping the
    scorer changes ranking behavior only, not the distribution story."""
    if not question or not question.strip():
        return {"mode": "empty", "answer": "Please ask a question.", "rows": []}
    mode = route(question)
    if mode == "intent":
        row = fastest_rising_gep(spark, sf_dir).collect()
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
    if ranker == "bm25":
        from eurostat_energy_etl_pipeline_spark.rag.bm25 import bm25_search

        index = _insights_bm25_index(spark, sf_dir, corpus)
        scored = bm25_search(index, question, k=5)
        hits = (
            scored.join(corpus, scored["id"] == corpus["doc_id"])
            .select("id", F.round("score", 6).alias("score"), "text")
            .orderBy(F.desc("score"), "id")
            .collect()
        )
    else:
        hits = semantic_search(spark, corpus, question, k=5).collect()
    lines = [f"- {h['text']} (score {h['score']:.3f})" for h in hits]
    return {"mode": mode, "answer": "\n".join(lines), "rows": [h.asDict() for h in hits]}
