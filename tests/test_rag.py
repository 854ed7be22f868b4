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
