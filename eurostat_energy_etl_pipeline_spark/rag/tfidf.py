"""TF-IDF + cosine top-k search as pure DataFrame algebra.

The reference fits an sklearn TfidfVectorizer (1-2 grams, english stopwords)
and does a dense cosine against the whole corpus in driver memory
(/root/reference/llm_app/rag_engine.py:29-52). The Spark-native shape is an
**inverted index**: a (doc_id, term, weight) posting-list DataFrame.

- Build: tokenize -> stopword-filter -> unigrams ∪ bigrams -> per-doc term
  counts (tf) -> document frequencies (df, a window over term) -> smoothed
  idf -> weights -> per-doc L2 norms (a window over doc). One hash
  aggregate and two windows, no UDFs, no driver materialization; the
  postings come out hash-partitioned by doc id.
- Search: one collect reads the idfs of the query's terms (a handful of
  rows, one flagged posting per term); the query weights and norm become
  literals. The query's terms then filter the posting lists — only
  matching postings are read — one groupBy(doc) sums the partial dot
  products without an exchange, and a TakeOrderedAndProject keeps the
  top-k: two jobs per search on a cached index. This is exactly how a
  search engine scales: cost ~ postings of the query terms, independent
  of corpus width.

Weighting mirrors sklearn's defaults: tf * (ln((1+N)/(1+df)) + 1), L2-normed
(/root/reference/llm_app/rag_engine.py:29-33 semantics, not bit-parity —
SURVEY.md §5.2.3).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import cached_view
from eurostat_energy_etl_pipeline_spark.functions.parallelism import widen_if_narrow
from eurostat_energy_etl_pipeline_spark.operators.text import (
    ENGLISH_STOPWORDS,
    split_whitespace,
    whitespace_tokens,
)


def _terms(col) -> F.Column:
    """Stopword-filtered unigrams + adjacent bigrams. Bigrams are zip_with
    over two shifted slices — a lambda-bound element_at would re-evaluate
    the filtered-token expression per element (quadratic per doc)."""
    stop = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    toks = F.filter(
        whitespace_tokens(col), lambda t: (t != "") & ~F.array_contains(stop, t)
    )
    n = F.size(toks)
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    )
    return F.concat(toks, bigrams)


def build_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Posting-list index: (id, term, idf, w, norm, head), as a plain plan,
    hash-partitioned by `id`. A caller that searches it repeatedly caches
    it through `catalog.cached_view` (T4 — the engine-side analog of the
    reference's lru_cache), as `documents_index` does.

    One fully-lazy plan, no driver-side actions: the corpus size N enters
    the idf expression as a broadcast 1-row aggregate instead of a separate
    `df.count()` job (which round-1 profiling showed as a whole extra scan
    per index build). Document frequency is a window over `term`, the L2
    norm a window over `id`; the second one leaves the postings
    hash-partitioned by `id`, so a reader that groups or windows by doc
    (`search`, q112, q162) adds no exchange. `idf` rides along per posting
    so the query side weights its terms identically without recomputing
    document frequencies, and `head` marks one posting per term (its
    lowest id), so a query reads its term idfs with a filter, not an
    aggregate."""
    from pyspark.sql.window import Window

    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        widen_if_narrow(df)
        .select(F.col(id_col).alias("id"), F.explode(_terms(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    by_term = Window.partitionBy("term").orderBy("id")
    whole_term = by_term.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w = (
        tf.select(
            "*",
            F.count(F.lit(1)).over(whole_term).alias("df"),
            (F.row_number().over(by_term) == 1).alias("head"),
        )
        .join(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            (F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))) + 1.0).alias(
                "idf"
            ),
            "tf",
            "head",
        )
        .withColumn("w", F.col("tf") * F.col("idf"))
    )
    norm = F.sqrt(F.sum(F.col("w") * F.col("w")).over(Window.partitionBy("id")))
    return w.select("id", "term", "idf", "w", norm.alias("norm"), "head")


def _query_terms(query: str) -> dict[str, float]:
    """Driver-side mirror of `_terms` for the query string (it is ONE short
    string — tokenizing it in Python is not a distribution concern, and it
    saves a createDataFrame + explode round-trip per search): the corpus
    tokenizer's `split_whitespace` twin + stopword filter + adjacent
    bigrams, counted."""
    from collections import Counter

    toks = [t for t in split_whitespace(query) if t and t not in ENGLISH_STOPWORDS]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return {t: float(c) for t, c in Counter(grams).items()}


def search(index: DataFrame, query: str, k: int = 5) -> DataFrame:
    """Cosine top-k of the query against the posting-list index: `(id,
    score)` with the score rounded to 6 dp by Spark's HALF_UP `round`.

    sklearn-parity weighting on BOTH sides (rag_engine.py:29-33): the query
    vector gets the same smoothed idf as the corpus (read from the index's
    per-term idf — terms outside the corpus vocabulary drop out, exactly as
    a fitted vectorizer ignores them) and is L2-normalized, so scores are
    true cosines, not dot products against a unit document vector.

    Plan shape: one collect reads the idfs of the query's terms off their
    `head` postings (at most one row per term), and the query weights and
    the query norm enter the plan as literals. What is returned is the
    query's terms as a literal IN-list on the postings (cost ~ postings of
    those terms), one hash aggregate per doc — no exchange, the index is
    partitioned by `id` — and a TakeOrderedAndProject on dot/norm: one job
    for a caller that collects it. The constant query norm cannot change
    the ordering. Rows come in dot/norm order; a caller that presents them
    sorts on the rounded score."""
    qtf = _query_terms(query)
    matched = index.where(F.col("term").isin(list(qtf)))
    idf = dict(matched.where(F.col("head")).select("term", "idf").collect()) if qtf else {}
    if not idf:
        return index.select("id").limit(0).withColumn("score", F.lit(0.0))
    qw = {t: qtf[t] * idf[t] for t in sorted(idf)}
    qnorm = math.sqrt(sum(x * x for x in qw.values()))
    qw_map = F.create_map(*[x for t, v in qw.items() for x in (F.lit(t), F.lit(v))])
    score = F.when(F.col("norm") > 0, F.col("dot") / (F.col("norm") * F.lit(qnorm)))
    return (
        matched.groupBy("id", "norm")
        .agg(F.sum(F.col("w") * qw_map[F.col("term")]).alias("dot"))
        .orderBy(F.desc(F.col("dot") / F.col("norm")), "id")
        .limit(k)
        .select("id", F.round(score.otherwise(F.lit(0.0)), 6).alias("score"))
    )


def semantic_search(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-shot build + search (T2+T3), joined back to the source text.
    The index is not cached: it lives as long as the returned plan."""
    hits = search(build_index(corpus, text_col, id_col), query, k)
    return (
        hits.join(corpus, hits["id"] == corpus[id_col])
        .select("id", "score", F.col(text_col))
        .orderBy(F.desc("score"), "id")
    )


def documents_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list index over the documents fixture, a session view (T4;
    the engine analog of the reference's process-wide lru_cache on
    get_index, rag_engine.py:14-15)."""
    return cached_view(
        "documents_tfidf_index",
        spark,
        sf_dir,
        lambda: build_index(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "text", "doc_id"
        ),
    )


SEARCH_QUERY = "spark shuffle join performance"


def tfidf_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: fixed query over the documents fixture. TF-IDF is
    deterministic algebra, so it has a full SQL oracle
    (`tfidf_oracle_sql`) — the driver hash-compares the top-k ids AND
    cosine scores against an independent DuckDB recomputation of the
    sklearn-parity weighting. Ranking invariants stay in tests/test_rag.py."""
    return search(documents_index(spark, sf_dir), SEARCH_QUERY, k=5)


def tfidf_oracle_sql(query: str = SEARCH_QUERY, k: int = 5) -> str:
    """DuckDB recomputation of the whole TF-IDF pipeline: tokenize +
    stopword-filter + uni/bigrams, tf, windowed df, smoothed idf
    (ln((1+N)/(1+df))+1), L2 norms, query-side idf weighting and the final
    cosine — the arithmetic of `build_index`/`search`, written as joins
    and aggregates where the engine uses windows and literals. The
    query's term counts are inlined from the same `_query_terms` the engine
    uses, so both sides weight the query identically."""
    stop_sql = "[" + ", ".join(f"'{s}'" for s in sorted(ENGLISH_STOPWORDS)) + "]"
    qterms = _query_terms(query)
    qt_values = ", ".join(f"('{t}', {c})" for t, c in sorted(qterms.items()))
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             x -> x <> '' AND NOT list_contains({stop_sql}, x)) AS tk
      FROM documents
    ),
    terms AS (
      SELECT doc_id, unnest(tk || CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
             ELSE list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i+1]) END) AS term
      FROM toks
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM terms GROUP BY doc_id, term),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    wv AS (
      SELECT doc_id, term, tf,
             ln((1 + n_docs)
                / (1 + CAST(count(*) OVER (PARTITION BY term) AS DOUBLE))) + 1
               AS idf,
             tf * (ln((1 + n_docs)
                / (1 + CAST(count(*) OVER (PARTITION BY term) AS DOUBLE))) + 1)
               AS w
      FROM tf CROSS JOIN nd
    ),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM wv GROUP BY doc_id),
    qt AS (SELECT * FROM (VALUES {qt_values}) AS q(term, qc)),
    matched AS (SELECT wv.doc_id, wv.term, wv.w, wv.idf, qt.qc
                FROM wv JOIN qt USING (term)),
    qn AS (SELECT sqrt(sum(power(qc * idf, 2))) AS qnorm
           FROM (SELECT term, any_value(idf) AS idf, any_value(qc) AS qc
                 FROM matched GROUP BY term)),
    dots AS (SELECT doc_id, sum(w * qc * idf) AS dot FROM matched GROUP BY doc_id)
    SELECT CAST(d.doc_id AS BIGINT) AS id,
           round(CASE WHEN n.norm > 0 AND q.qnorm > 0
                 THEN d.dot / (n.norm * q.qnorm) ELSE 0.0 END, 6) AS score
    FROM dots d JOIN norms n USING (doc_id) CROSS JOIN qn q
    ORDER BY d.dot / n.norm DESC, d.doc_id
    LIMIT {k}
    """
