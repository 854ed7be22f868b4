"""TF-IDF + cosine top-k search as pure DataFrame algebra.

The reference fits an sklearn TfidfVectorizer (1-2 grams, english stopwords)
and does a dense cosine against the whole corpus in driver memory
(/root/reference/llm_app/rag_engine.py:29-52). The Spark-native shape is an
**inverted index**: a (doc_id, term, weight) posting-list DataFrame.

- Build: tokenize -> stopword-filter -> unigrams ∪ bigrams -> per-doc term
  counts (tf) -> document frequencies (df) -> smoothed idf -> weights +
  per-doc L2 norms. Two hash aggregates, no UDFs, no driver materialization.
- Search: the query's terms (a handful) broadcast-join the posting lists —
  only matching postings are read — then one groupBy(doc) sums the partial
  dot products; normalize; TakeOrderedAndProject top-k. This is exactly how
  a search engine scales: cost ~ postings of the query terms, independent of
  corpus width.

Weighting mirrors sklearn's defaults: tf * (ln((1+N)/(1+df)) + 1), L2-normed
(/root/reference/llm_app/rag_engine.py:29-33 semantics, not bit-parity —
SURVEY.md §5.2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import session_memo
from eurostat_energy_etl_pipeline_spark.functions.parallelism import widen_if_narrow
from eurostat_energy_etl_pipeline_spark.operators.text import (
    ENGLISH_STOPWORDS,
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
    """Posting-list index: (id, term, w, idf, norm). Cache it for repeated
    queries (T4 — the engine-side analog of the reference's lru_cache).

    One fully-lazy plan, no driver-side actions: the corpus size N enters
    the idf expression as a broadcast 1-row aggregate instead of a separate
    `df.count()` job (which round-1 profiling showed as a whole extra scan
    per index build). Document frequency is attached with a window over
    `term` — same shuffle key as the tf aggregate, so Catalyst reuses the
    exchange rather than shuffling twice. `idf` rides along per posting so
    the query side can weight its terms identically without recomputing
    document frequencies."""
    from pyspark.sql.window import Window

    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tf = (
        widen_if_narrow(df)
        .select(F.col(id_col).alias("id"), F.explode(_terms(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    w = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .join(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            (F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))) + 1.0).alias(
                "idf"
            ),
            "tf",
        )
        .withColumn("w", F.col("tf") * F.col("idf"))
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    index = w.select("id", "term", "idf", "w").join(norms, "id")
    index.cache()
    return index


def _query_terms(query: str) -> dict[str, float]:
    """Driver-side mirror of `_terms` for the query string (it is ONE short
    string — tokenizing it in Python is not a distribution concern, and it
    saves a createDataFrame + explode round-trip per search). Mirrors
    split(trim(lower(s)), '\\s+') + stopword filter + adjacent bigrams."""
    import re
    from collections import Counter

    toks = [
        t
        for t in re.split(r"\s+", query.strip().lower())
        if t and t not in ENGLISH_STOPWORDS
    ]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return {t: float(c) for t, c in Counter(grams).items()}


def search(
    index: DataFrame,
    spark: SparkSession,
    query: str,
    k: int = 5,
) -> DataFrame:
    """Cosine top-k of the query against the posting-list index.

    sklearn-parity weighting on BOTH sides (rag_engine.py:29-33): the query
    vector gets the same smoothed idf as the corpus (read from the index's
    per-term idf — terms outside the corpus vocabulary drop out, exactly as
    a fitted vectorizer ignores them) and is L2-normalized, so scores are
    true cosines, not dot products against a unit document vector.

    Plan shape: the query's terms become a literal IN-list on the cached
    posting lists (cost ~ postings of those terms), one hash aggregate per
    doc, ordered-limit. The constant query-norm divides the k result rows
    AFTER the limit — it cannot change the ordering."""
    qtf = _query_terms(query)
    if not qtf:
        return index.select("id").limit(0).withColumn("score", F.lit(0.0))
    qtf_map = F.create_map(
        *[x for t, c in qtf.items() for x in (F.lit(t), F.lit(c))]
    )
    matched = index.where(F.col("term").isin(list(qtf)))
    # L2 norm of the query vector over the corpus-vocabulary terms it hit.
    qnorm = (
        matched.groupBy("term")
        .agg(F.first("idf").alias("idf"))
        .agg(
            F.sqrt(
                F.sum(F.pow(qtf_map[F.col("term")] * F.col("idf"), F.lit(2.0)))
            ).alias("qnorm")
        )
    )
    top = (
        matched.withColumn("qw", qtf_map[F.col("term")] * F.col("idf"))
        .groupBy("id", "norm")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
        .orderBy(F.desc(F.col("dot") / F.col("norm")), "id")
        .limit(k)
    )
    return (
        top.join(F.broadcast(qnorm))
        .select(
            "id",
            F.when(
                (F.col("norm") > 0) & (F.col("qnorm") > 0),
                F.col("dot") / (F.col("norm") * F.col("qnorm")),
            )
            .otherwise(F.lit(0.0))
            .alias("score"),
        )
        .orderBy(F.desc("score"), "id")
    )


def semantic_search(
    spark: SparkSession,
    corpus: DataFrame,
    query: str,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-shot build + search (T2+T3), joined back to the source text."""
    index = build_index(corpus, text_col, id_col)
    hits = search(index, spark, query, k)
    return (
        hits.join(corpus, hits["id"] == corpus[id_col])
        .select("id", F.round("score", 6).alias("score"), F.col(text_col))
        .orderBy(F.desc("score"), "id")
    )


# Index memo per (session, corpus path) — the engine analog of the
# reference's process-wide lru_cache on get_index (rag_engine.py:14-15).
_INDEX_CACHE: dict[tuple[str, str], DataFrame] = {}


def documents_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once posting-list index over the documents fixture (T4)."""
    return session_memo(
        _INDEX_CACHE,
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
    index = documents_index(spark, sf_dir)
    return search(index, spark, SEARCH_QUERY, k=5).select(
        "id", F.round("score", 6).alias("score")
    )


def tfidf_oracle_sql(query: str = SEARCH_QUERY, k: int = 5) -> str:
    """DuckDB recomputation of the whole TF-IDF pipeline: tokenize +
    stopword-filter + uni/bigrams, tf, windowed df, smoothed idf
    (ln((1+N)/(1+df))+1), L2 norms, query-side idf weighting and the final
    cosine — mirroring `build_index`/`search` construct for construct. The
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
