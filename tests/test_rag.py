"""RAG invariants (FIXTURES.md §3.4): top-k size, non-increasing scores,
exact-text query ranks its own document first, intent routing."""

import pytest
from pyspark.sql import Row

from eurostat_energy_etl_pipeline_spark.rag.chatbot import route
from eurostat_energy_etl_pipeline_spark.rag.tfidf import semantic_search

CORPUS = [
    (0, "germany gross electricity production is rising steadily"),
    (1, "france household energy consumption is declining"),
    (2, "italy transport energy consumption is stable"),
    (3, "spain industrial energy consumption is rising"),
    (4, "poland commercial services energy consumption is declining"),
    (5, "norway gross electricity production is stable overall"),
    (6, "sweden household consumption compare trends"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in CORPUS])


def test_topk_size_and_order(spark, corpus):
    hits = semantic_search(spark, corpus, "energy consumption trends", k=5).toPandas()
    assert len(hits) <= 5
    scores = hits["score"].values
    assert (scores[:-1] >= scores[1:]).all()


def test_exact_text_ranks_first(spark, corpus):
    q = CORPUS[3][1]
    hits = semantic_search(spark, corpus, q, k=5).toPandas()
    assert hits["id"].iloc[0] == 3


def test_irrelevant_query_low_overlap(spark, corpus):
    hits = semantic_search(spark, corpus, "zzz qqq unrelated tokens", k=5).toPandas()
    assert len(hits) == 0  # no shared terms -> no postings -> no hits


def test_scores_match_sklearn_formula(spark, corpus):
    """Numeric parity with the reference's TfidfVectorizer semantics
    (rag_engine.py:29-33): smoothed idf on BOTH document and query vectors,
    L2 norm on both, cosine = normalized dot. Re-implemented in numpy here
    (sklearn itself is not in the container)."""
    import math
    from collections import Counter

    from eurostat_energy_etl_pipeline_spark.operators.text import ENGLISH_STOPWORDS

    def terms(text):
        toks = [t for t in text.split() if t and t not in ENGLISH_STOPWORDS]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    docs = {i: Counter(terms(t)) for i, t in CORPUS}
    n = len(docs)
    dfreq = Counter(term for c in docs.values() for term in c)
    idf = {t: math.log((1 + n) / (1 + df)) + 1.0 for t, df in dfreq.items()}

    def vec(counter):
        v = {t: tf * idf[t] for t, tf in counter.items() if t in idf}
        norm = math.sqrt(sum(x * x for x in v.values()))
        return v, norm

    query = "energy consumption trends"
    qv, qn = vec(Counter(terms(query)))
    expected = {}
    for i, c in docs.items():
        dv, dn = vec(c)
        dot = sum(w * qv[t] for t, w in dv.items() if t in qv)
        if dot and dn and qn:
            expected[i] = dot / (dn * qn)

    hits = semantic_search(spark, corpus, query, k=7).toPandas()
    got = dict(zip(hits["id"], hits["score"]))
    assert set(got) == set(expected)
    for i, s in expected.items():
        assert abs(got[i] - s) < 1e-6, (i, got[i], s)


def test_intent_routing():
    assert route("Which country's GEP is rising fastest?") == "intent"
    assert route("is gross electricity production growing anywhere") == "intent"
    assert route("compare household consumption") == "semantic"
    assert route("rising unemployment") == "semantic"  # rising but not GEP


# --- chatbot session state ---------------------------------------------------

_SEMANTIC_Q = "which countries show declining energy consumption"


def test_tfidf_answers_build_the_insights_index_once(spark, sf_dir, monkeypatch):
    """The tf-idf route probes one session-memoized index: the second and
    third answers build no index plan and equal the first, which equals
    the one-shot build + search."""
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark import catalog
    from eurostat_energy_etl_pipeline_spark.plans.insights import insights_table
    from eurostat_energy_etl_pipeline_spark.rag import chatbot, tfidf

    corpus = (
        insights_table(spark, sf_dir)
        .withColumnRenamed("insight_text", "text")
        .select(F.xxhash64("geo", "indicator").alias("doc_id"), "text")
    )
    one_shot = [r.asDict() for r in semantic_search(spark, corpus, _SEMANTIC_Q).collect()]

    builds = []
    real = tfidf.build_index

    def counting(*args, **kwargs):
        builds.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(tfidf, "build_index", counting)
    monkeypatch.setitem(catalog._VIEW_CACHE, "insights_tfidf_index", {})
    answers = []
    for _ in range(3):
        answers.append(chatbot.answer_question(spark, sf_dir, _SEMANTIC_Q))
        assert len(builds) == 1
    assert answers[0]["mode"] == "semantic" and answers[0]["rows"]
    assert answers[0]["rows"] == one_shot
    assert answers[1] == answers[0] and answers[2] == answers[0]


def test_intent_answers_reuse_one_plan(spark, sf_dir, monkeypatch):
    from eurostat_energy_etl_pipeline_spark.rag import chatbot

    want = [r.asDict() for r in chatbot.fastest_rising_gep(spark, sf_dir).collect()]
    builds = []
    real = chatbot.fastest_rising_gep

    def counting(*args):
        builds.append(1)
        return real(*args)

    monkeypatch.setattr(chatbot, "fastest_rising_gep", counting)
    monkeypatch.setattr(chatbot, "_RISING_GEP_PLAN", {})
    answers = [
        chatbot.answer_question(spark, sf_dir, "which country has rising gep?")
        for _ in range(3)
    ]
    assert builds == [1]
    assert answers[0]["mode"] == "intent" and answers[0]["rows"] == want
    assert answers[1] == answers[0] and answers[2] == answers[0]


def _insights_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.plans.insights import insights_table

    return insights_table(spark, sf_dir).select(
        F.xxhash64("geo", "indicator").alias("doc_id"),
        F.col("insight_text").alias("text"),
    )


_TAIL_QUESTIONS = {
    "out_of_vocabulary": "zzz qqq unrelated tokens",
    "repeated_term": "energy energy consumption energy consumption",
    "stopwords_only": "the and of is",
    "tied_scores": "energy",
}


@pytest.mark.parametrize("case", list(_TAIL_QUESTIONS))
def test_semantic_answer_runs_three_jobs_and_equals_one_shot(spark, sf_dir, case):
    """On a warm session a semantic answer is at most three Spark jobs
    (the query's idfs, the top-k, the k texts) and returns exactly the
    one-shot build + search rows."""
    from tests.harness import run_counting_jobs

    from eurostat_energy_etl_pipeline_spark.rag import chatbot

    question = _TAIL_QUESTIONS[case]
    chatbot.answer_question(spark, sf_dir, _SEMANTIC_Q)  # builds the session views
    ans, jobs = run_counting_jobs(
        spark, lambda: chatbot.answer_question(spark, sf_dir, question)
    )
    assert jobs <= 3
    want = [r.asDict() for r in semantic_search(spark, _insights_corpus(spark, sf_dir), question).collect()]
    assert ans["mode"] == "semantic" and ans["rows"] == want
    assert bool(want) == (case in ("repeated_term", "tied_scores"))
    if case == "tied_scores":
        wider = semantic_search(spark, _insights_corpus(spark, sf_dir), question, k=6).collect()
        assert wider[4]["score"] == wider[5]["score"]  # the tie straddles the cut


_TOKENIZER_CASES = [
    "household\xa0energy use",
    " rising gep",
    "\u2003rising gep",
    "transport\x1fenergy",
    "final\tenergy\tconsumption",
    "final\x0benergy consumption",
    "  energy  use  ",
    "\x1cgep\x1d use",
    "energy\u3000use and\u2028trends",
    "\xc9nergie \xdcBER Use",
]


@pytest.mark.parametrize("text", _TOKENIZER_CASES)
def test_query_tokenizers_split_as_the_corpus_does(spark, text):
    """The driver-side query terms of tf-idf and BM25 are what Spark's
    corpus-side `_terms` / `_unigrams` make of the same string."""
    from collections import Counter

    from pyspark.sql import functions as F

    from eurostat_energy_etl_pipeline_spark.rag import bm25, tfidf

    row = (
        spark.createDataFrame([(text,)], "t string")
        .select(tfidf._terms(F.col("t")).alias("terms"), bm25._unigrams(F.col("t")).alias("uni"))
        .first()
    )
    assert tfidf._query_terms(text) == {t: float(c) for t, c in Counter(row["terms"]).items()}
    assert bm25._query_unigrams(text) == list(dict.fromkeys(row["uni"]))
