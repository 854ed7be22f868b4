"""Okapi BM25 ranked retrieval as DataFrame algebra.

The reference's retrieval layer is TF-IDF cosine
(/root/reference/llm_app/rag_engine.py:29-52, re-expressed in
`rag/tfidf.py`); BM25 is the standard production upgrade of that exact
surface (same build-index/search API, same posting-list shape), so it
lives here as a first-class retrieval operator rather than a bolt-on.

Scale shape is identical to the TF-IDF index and is why this survives
100 TB: the index is a (doc, term, tf, dl) posting-list DataFrame with
per-term document frequency attached by a window over `term` (same
shuffle key as the tf aggregate, so Catalyst reuses the exchange), and a
search probes only the postings of the query's terms (an IN-list
filter), never the corpus. Corpus-level constants (N, avgdl) enter as a
broadcast 1-row aggregate, not a driver action.

Scoring is the Lucene BM25 formulation (Robertson et al., TREC-3):

    idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(D,Q) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

with k1=1.2, b=0.75, unigram terms after the shared stopword filter.
Document length `dl` is the filtered-token count; empty documents keep
dl=0 and simply have no postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import cached_view
from eurostat_energy_etl_pipeline_spark.functions.parallelism import widen_if_narrow
from eurostat_energy_etl_pipeline_spark.operators.text import (
    ENGLISH_STOPWORDS,
    whitespace_tokens,
)
from eurostat_energy_etl_pipeline_spark.plans import staged

K1 = 1.2
B = 0.75


def _unigrams(col) -> F.Column:
    """Stopword-filtered lowercase unigrams (the tfidf tokenizer minus
    bigrams — classic BM25 scores unigram term matches)."""
    stop = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    return F.filter(
        whitespace_tokens(col), lambda t: (t != "") & ~F.array_contains(stop, t)
    )


def build_bm25_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Posting-list index `(id, term, tf, dl, idf, avgdl)`.

    One lazy plan: tokenize once, carry the per-doc length through the
    explode, aggregate tf, attach df with a window keyed like the tf
    aggregate (exchange reuse), join the 1-row (N, avgdl) aggregate by
    broadcast. No driver actions, no UDFs; a plain plan that a repeated
    searcher caches through `catalog.cached_view`, exactly like
    `tfidf.build_index`."""
    from pyspark.sql.window import Window

    toks = widen_if_narrow(df).select(
        F.col(id_col).alias("id"), _unigrams(F.col(text_col)).alias("tks")
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size("tks").cast("double")).alias("avgdl"),
    )
    tf = (
        toks.select("id", F.size("tks").cast("double").alias("dl"), F.explode("tks").alias("term"))
        .groupBy("id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    return (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("double")
        )
        .join(F.broadcast(stats))
        .select(
            "id",
            "term",
            "tf",
            "dl",
            "avgdl",
            F.log(
                1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )


def _query_unigrams(query: str) -> list[str]:
    """Driver-side mirror of `_unigrams` for the (single, short) query
    string — distinct stopword-filtered lowercase tokens."""
    import re

    seen: dict[str, None] = {}
    for t in re.split(r"\s+", query.strip().lower()):
        if t and t not in ENGLISH_STOPWORDS:
            seen[t] = None
    return list(seen)


def bm25_search(index: DataFrame, query: str, k: int = 5) -> DataFrame:
    """Top-k documents for `query` against a `build_bm25_index` result.

    The query's terms become a literal IN-list over the cached posting
    lists — cost ~ postings of those terms — then one hash aggregate per
    doc sums the per-term BM25 contributions, and a TakeOrderedAndProject
    emits k rows. Query term frequency is 1 per distinct term (the
    standard short-query simplification)."""
    terms = _query_unigrams(query)
    if not terms:
        return index.select("id").limit(0).withColumn("score", F.lit(0.0))
    contrib = F.col("idf") * (
        F.col("tf")
        * (K1 + 1.0)
        / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl")))
    )
    return (
        index.where(F.col("term").isin(terms))
        .groupBy("id")
        .agg(F.sum(contrib).alias("score"))
        .orderBy(F.desc("score"), "id")
        .limit(k)
    )


def documents_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 postings over the documents fixture, a session view like
    `tfidf.documents_index`."""
    return cached_view(
        "documents_bm25_index",
        spark,
        sf_dir,
        lambda: build_bm25_index(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "text", "doc_id"
        ),
    )


SEARCH_QUERY = "spark shuffle join performance"


def bm25_search_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry (q75): fixed BM25 top-5 over the documents fixture.
    Deterministic algebra end-to-end, so it carries a full DuckDB oracle
    that recomputes the identical Lucene-BM25 weighting independently."""
    index = documents_bm25_index(spark, sf_dir)
    return bm25_search(index, SEARCH_QUERY, k=5).select(
        "id", F.round("score", 4).alias("score")
    )


def bm25_oracle_sql(
    query: str = SEARCH_QUERY,
    k: int = 5,
    text_expr: str = "text",
    where_sql: str = "",
) -> str:
    """DuckDB recomputation of the whole BM25 pipeline: same tokenizer
    (split + stopword filter), same dl/avgdl/df/N statistics, same Lucene
    idf and saturation formula, same (score desc, id) tie-break.
    `text_expr`/`where_sql` swap in an effective corpus (q164's
    post-merge replay); defaults render the original q75 oracle
    byte-for-byte."""
    stop_sql = "[" + ", ".join(f"'{s}'" for s in sorted(ENGLISH_STOPWORDS)) + "]"
    terms = _query_unigrams(query)
    terms_sql = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower({text_expr})), '\\s+'),
             x -> x <> '' AND NOT list_contains({stop_sql}, x)) AS tk
      FROM documents{where_sql}
    ),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             avg(CAST(len(tk) AS DOUBLE)) AS avgdl
      FROM toks
    ),
    postings AS (
      SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl, unnest(tk) AS term
      FROM toks
    ),
    tf AS (
      SELECT doc_id, term, any_value(dl) AS dl, CAST(count(*) AS DOUBLE) AS tf
      FROM postings
      WHERE list_contains({terms_sql}, term)
      GROUP BY doc_id, term
    ),
    withdf AS (
      SELECT *, CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS df
      FROM tf
    ),
    scored AS (
      SELECT doc_id,
             sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * ({K1} + 1.0)
                 / (tf + {K1} * (1.0 - {B} + {B} * dl / avgdl))) AS raw
      FROM withdf CROSS JOIN stats
      GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS id, round(raw, 4) AS score
    FROM scored ORDER BY raw DESC, doc_id LIMIT {k}
    """


# ---------------------------------------------------------------------------
# AT-REST posting index + incremental maintenance (the retrieval twin of
# the MinHash q111 and IVF q160 maintained indexes — every at-rest index
# in this engine carries a MERGE path).
#
# Layout (the Lucene segment model, not in-place rewrite):
#   {path}/postings : (id, term, tf, dl, gen)  partitioned by
#                     tb = pmod(xxhash64(term), num_term_buckets) — a
#                     query's terms prune to their buckets;
#   {path}/docs     : (id, dl, gen) partitioned by idb = pmod(id, B) —
#                     one row per doc (dl=0 for empty docs) so N/avgdl
#                     match the cached-index stats exactly;
#   {path}/deletes  : (id, before_gen) append-only tombstones — a row of
#                     `id` with gen < before_gen is dead;
#   {path}/_meta.json : {num_term_buckets, num_id_buckets, gen}.
#
# MERGE appends a new generation and tombstones the affected ids' older
# generations — it never reads the base postings at all (an upsert's OLD
# terms are unknown without its old text; the segment model sidesteps
# the lookup entirely, which is exactly why Lucene works this way).
# Reads apply the delete mask; compaction rewrites live rows and clears
# the mask.
# ---------------------------------------------------------------------------


def _postings_rows(df: DataFrame, text_col: str, id_col: str, gen: int):
    """(postings, docs) row sets for one generation of documents."""
    toks = widen_if_narrow(df).select(
        F.col(id_col).alias("id"), _unigrams(F.col(text_col)).alias("tks")
    )
    docs = toks.select(
        "id",
        F.size("tks").cast("double").alias("dl"),
        F.lit(gen).cast("int").alias("gen"),
    )
    postings = (
        toks.select(
            "id",
            F.size("tks").cast("double").alias("dl"),
            F.explode("tks").alias("term"),
        )
        .groupBy("id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn("gen", F.lit(gen).cast("int"))
    )
    return postings, docs


def write_postings_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_term_buckets: int = 16,
    num_id_buckets: int = 16,
) -> None:
    """Materialize the BM25 posting index at rest (generation 0)."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        _write_index_meta,
    )

    spark = df.sparkSession
    postings, docs = _postings_rows(df, text_col, id_col, gen=0)
    (
        postings.withColumn(
            "tb",
            F.pmod(F.xxhash64("term"), F.lit(num_term_buckets)).cast("int"),
        )
        .repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(f"{path}/postings")
    )
    (
        docs.withColumn(
            "idb", F.pmod(F.col("id"), F.lit(num_id_buckets)).cast("int")
        )
        .repartition("idb")
        .write.mode("overwrite")
        .partitionBy("idb")
        .parquet(f"{path}/docs")
    )
    spark.createDataFrame([], "id long, before_gen int").write.mode(
        "overwrite"
    ).parquet(f"{path}/deletes")
    _write_index_meta(
        path,
        {
            "num_term_buckets": int(num_term_buckets),
            "num_id_buckets": int(num_id_buckets),
            "gen": 0,
            "text_col": text_col,
            "id_col": id_col,
        },
        spark=spark,
    )


def merge_into_postings_index(
    spark: SparkSession,
    path: str,
    upserts: DataFrame | None = None,
    tombstone_ids=None,
) -> dict:
    """One maintenance batch: MERGE semantics on id (upserts replace,
    tombstones remove, tombstones win inside the batch) as ONE appended
    generation + tombstone rows — the base index is never read or
    rewritten. O(batch) work regardless of index size; queries apply the
    delete mask until :func:`compact_postings_index` folds it in."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        _write_index_meta,
        read_index_meta,
    )

    meta = read_index_meta(path, spark)
    gen = int(meta["gen"]) + 1
    if tombstone_ids is None:
        tomb = spark.createDataFrame([], "id long")
    elif isinstance(tombstone_ids, DataFrame):
        tomb = tombstone_ids.select(
            F.col(tombstone_ids.columns[0]).alias("id")
        )
    else:
        tomb = spark.createDataFrame(
            [(int(i),) for i in tombstone_ids], "id long"
        )
    ups_ids = (
        upserts.select(F.col(meta["id_col"]).alias("id"))
        if upserts is not None
        else tomb.limit(0)
    )
    affected = ups_ids.unionByName(tomb).distinct()
    n_tomb = tomb.count()
    # every affected id's generations BELOW `gen` die; the upserts'
    # fresh rows are written AT `gen`, so they survive their own mask
    affected.select(
        "id", F.lit(gen).cast("int").alias("before_gen")
    ).write.mode("append").parquet(f"{path}/deletes")
    n_ups = 0
    if upserts is not None:
        eff = upserts.join(
            F.broadcast(tomb),
            upserts[meta["id_col"]] == tomb["id"],
            "left_anti",
        )
        postings, docs = _postings_rows(
            eff, meta["text_col"], meta["id_col"], gen=gen
        )
        (
            postings.withColumn(
                "tb",
                F.pmod(
                    F.xxhash64("term"), F.lit(meta["num_term_buckets"])
                ).cast("int"),
            )
            .write.mode("append")
            .partitionBy("tb")
            .parquet(f"{path}/postings")
        )
        (
            docs.withColumn(
                "idb",
                F.pmod(F.col("id"), F.lit(meta["num_id_buckets"])).cast(
                    "int"
                ),
            )
            .write.mode("append")
            .partitionBy("idb")
            .parquet(f"{path}/docs")
        )
        n_ups = docs.count()
    _write_index_meta(path, {**meta, "gen": gen}, spark=spark)
    return {"gen": gen, "n_upserts": n_ups, "n_tombstones": n_tomb}


def _delete_mask(spark, path: str) -> DataFrame:
    """(id, cut) — rows of `id` with gen < cut are dead."""
    return (
        spark.read.parquet(f"{path}/deletes")
        .groupBy("id")
        .agg(F.max("before_gen").alias("cut"))
    )


def _live(df: DataFrame, mask: DataFrame) -> DataFrame:
    return (
        df.join(F.broadcast(mask), "id", "left")
        .where(F.col("gen") >= F.coalesce(F.col("cut"), F.lit(0)))
        .drop("cut")
    )


def bm25_index_search(
    spark: SparkSession, path: str, query: str, k: int = 5
) -> DataFrame:
    """Top-k against the at-rest index from any session: the query's
    terms prune the postings to their hash buckets (planning-time
    partition filter), the delete mask hides dead generations, and the
    corpus statistics (N, avgdl — the docs sidecar; df — the pruned
    postings themselves) are derived from the LIVE view, so scores equal
    a scratch rebuild of the effective corpus exactly."""
    from pyspark.sql.window import Window

    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        read_index_meta,
    )

    meta = read_index_meta(path, spark)
    terms = _query_unigrams(query)
    if not terms:
        return spark.createDataFrame([], "id long, score double")
    mask = _delete_mask(spark, path)
    ntb = meta["num_term_buckets"]
    tbs = sorted(
        {
            r["tb"]
            for r in spark.createDataFrame(
                [(t,) for t in terms], "term string"
            )
            .select(
                F.pmod(F.xxhash64("term"), F.lit(ntb)).cast("int").alias("tb")
            )
            .collect()
        }
    )
    post = _live(
        spark.read.parquet(f"{path}/postings")
        .where(F.col("tb").isin(tbs))
        .where(F.col("term").isin(terms)),
        mask,
    )
    docs = _live(spark.read.parquet(f"{path}/docs"), mask)
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    scored = (
        post.withColumn(
            "df",
            F.count(F.lit(1))
            .over(Window.partitionBy("term"))
            .cast("double"),
        )
        .join(F.broadcast(stats))
        .groupBy("id")
        .agg(
            F.sum(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (K1 + 1.0)
                / (
                    F.col("tf")
                    + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
        .orderBy(F.desc("score"), "id")
        .limit(k)
    )
    return scored


def compact_postings_index(spark: SparkSession, path: str) -> dict:
    """Fold the delete mask in: rewrite live postings/docs rows at
    generation 0 and clear the tombstones — the segment-merge every
    Lucene-model index runs periodically. Returns a before/after audit."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        _write_index_meta,
        read_index_meta,
    )

    meta = read_index_meta(path, spark)
    mask = _delete_mask(spark, path)
    audit = {}
    for table, part in (("postings", "tb"), ("docs", "idb")):
        tpath = f"{path}/{table}"
        df = spark.read.parquet(tpath)
        audit[f"{table}_before"] = df.count()
        with staged(
            _live(df, mask).withColumn("gen", F.lit(0).cast("int"))
        ) as live:
            live.write.mode("overwrite").partitionBy(part).parquet(tpath)
            audit[f"{table}_after"] = live.count()
    spark.createDataFrame([], "id long, before_gen int").write.mode(
        "overwrite"
    ).parquet(f"{path}/deletes")
    _write_index_meta(path, {**meta, "gen": 0}, spark=spark)
    return audit
