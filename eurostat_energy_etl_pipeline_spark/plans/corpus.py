"""Corpus-construction queries: chunking, PII scanning, benchmark
decontamination, quality stratification, percentile budgeting, embedding
cluster audits, tombstone deletes, and mixture weighting — the
training-data-pipeline surface beyond dedup/similarity (SURVEY.md §2.9
north-star scope). Every query here is deterministic and oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import load_tables, session_memo
from eurostat_energy_etl_pipeline_spark.functions import (
    exact_sum,
    ordered_output,
    portable_round,
    portable_round_sql,
    presentation_sort,
)
from eurostat_energy_etl_pipeline_spark.operators import text as T
from eurostat_energy_etl_pipeline_spark.operators.chunking import chunk_documents
from eurostat_energy_etl_pipeline_spark.operators.dedup import (
    connected_components,
    contaminated_ids,
    ngram_jaccard_pairs,
)
from eurostat_energy_etl_pipeline_spark.operators.ranking import global_ntile
from eurostat_energy_etl_pipeline_spark.operators.similarity import label_cohesion
from eurostat_energy_etl_pipeline_spark.plans import pin, query


@query(
    "q50_doc_chunks",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks,
             greatest(CAST(ceil(CAST(len(string_split_regex(trim(lower(text)), '\s+')) - 64
                  AS DOUBLE) / 48) AS INT), 0) + 1 AS nc
      FROM documents
    )
    SELECT doc_id, i - 1 AS chunk_id,
           CAST(len(toks[(i-1)*48+1:(i-1)*48+64]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(toks[(i-1)*48+1:(i-1)*48+64], ' ')) AS chunk_hash
    FROM tok, unnest(generate_series(1, nc)) AS t(i)
    ORDER BY doc_id, chunk_id
    """,
)
def q50(spark, sf_dir):
    """Overlapping 64-token / stride-48 chunking of every document, checked
    content-exactly via per-chunk md5. Scan-side explode only — no shuffle
    (`operators/chunking.py`)."""
    t = load_tables(spark, sf_dir)
    chunks = chunk_documents(t["documents"], chunk_tokens=64, stride=48)
    return chunks.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


@query(
    "q51_pii_scan",
    oracle=r"""
    SELECT event_type,
           CAST(sum(len(regexp_extract_all(props, '[0-9]{2,}'))) AS BIGINT) AS numseqs,
           CAST(sum(len(regexp_extract_all(props,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS emails,
           CAST(sum(len(regexp_extract_all(props, 'https?://[^\s]+'))) AS BIGINT) AS urls,
           count(DISTINCT regexp_replace(regexp_replace(regexp_replace(props,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                'https?://[^\s]+', '[URL]', 'g'),
                '[0-9]{2,}', '[NUM]', 'g')) AS distinct_redacted
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q51(spark, sf_dir):
    """PII scan + redaction audit over the event payloads: per-type counts
    of digit-runs / emails / URLs and the distinct payload count AFTER
    redaction (how much cardinality the scrub collapses). Pure codegen
    regex — the portable Java∩RE2 subset, mirrored exactly by the oracle."""
    t = load_tables(spark, sf_dir)
    p = F.col("props")
    return (
        t.wide("events")
        .groupBy("event_type")
        .agg(
            F.sum(T.pattern_count(p, T.NUMSEQ_PATTERN)).alias("numseqs"),
            F.sum(T.pattern_count(p, T.EMAIL_PATTERN)).alias("emails"),
            F.sum(T.pattern_count(p, T.URL_PATTERN)).alias("urls"),
            F.countDistinct(T.redact_pii(p)).alias("distinct_redacted"),
        )
        .transform(presentation_sort, "event_type")
    )


@query(
    "q52_decontaminate",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, substr(md5(g), 1, 16) AS g
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(generate_series(1, len(tk) - 3),
                         i -> array_to_string(tk[i:i+3], ' ')) END) AS g
        FROM toks)
    )
    SELECT DISTINCT c.doc_id FROM grams c
    WHERE c.doc_id % 97 != 0
      AND c.g IN (SELECT g FROM grams WHERE doc_id % 97 = 0)
    ORDER BY doc_id
    """,
)
def q52(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 97 != 0) sharing
    any 4-token shingle with the held-out benchmark subset (doc_id % 97 =
    0). Both sides reduce to distinct 64-bit gram keys before a broadcast
    semi-join (`operators/dedup.contaminated_ids`); the oracle mirrors the
    md5-prefix key exactly, so the contaminated set is checked as an exact
    set."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    # r15: ordered_output — the bare orderBy's range sampler re-executed
    # the shingle semi-join child once per action in the AQE-off regime
    # (guide §7.2); same rows, same total order.
    return ordered_output(contaminated_ids(corpus, bench, k=4), "doc_id")


@query(
    "q53_quality_deciles",
    oracle=r"""
    WITH q AS (
      SELECT doc_id,
             (least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) * 0.5
              + least(CASE WHEN trim(text) = '' THEN 0.0
                  ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> list_contains(['the','and','of','is','to','in','that','with',
                                           'a','an','for','on','as','are','it'], t))) AS DOUBLE)
                       / len(string_split_regex(trim(lower(text)), '\s+')) END * 4.0, 1.0) * 0.3
              + (1.0 - least(CASE WHEN len(text) > 0
                  THEN CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                       / len(text) ELSE 0.0 END * 5.0, 1.0)) * 0.2) AS quality
      FROM documents
    )
    SELECT decile, count(*) AS docs, round(avg(quality), 4) AS avg_quality
    FROM (SELECT doc_id, quality,
                 ntile(10) OVER (ORDER BY quality, doc_id) AS decile FROM q)
    GROUP BY decile ORDER BY decile
    """,
)
def q53(spark, sf_dir):
    """Quality-decile stratification (curriculum/filtering readout): ntile
    over the composite quality score with a deterministic doc_id tie-break,
    rolled up per decile. Uses the distributed global ntile
    (`operators/ranking.global_ntile`: deterministic driver-computed
    bucket boundaries + per-bucket offsets — run-stable where
    repartitionByRange's per-action sampler reseed is not) instead of
    `ntile OVER (ORDER BY ...)`, which would move every row through one
    task — row-identical by construction, scales linearly."""
    t = load_tables(spark, sf_dir)
    scored = t.wide("documents").select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    )
    return (
        global_ntile(scored, ["quality", "doc_id"], 10, "decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .transform(presentation_sort, "decile")
    )


@query(
    "q54_token_percentiles",
    oracle=r"""
    SELECT lang,
           round(quantile_cont(nt, 0.5), 4) AS p50,
           round(quantile_cont(nt, 0.9), 4) AS p90,
           round(quantile_cont(nt, 0.99), 4) AS p99
    FROM (SELECT lang, CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(lower(text)), '\s+')) END AS nt
          FROM documents)
    GROUP BY lang ORDER BY lang
    """,
)
def q54(spark, sf_dir):
    """Exact interpolated token-count percentiles per language (sequence-
    length budgeting for packing/truncation decisions). Spark `percentile`
    and DuckDB `quantile_cont` share the linear-interpolation definition,
    so values match to the rounded digit."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("lang", T.token_count(F.col("text")).alias("nt"))
    return (
        docs.groupBy("lang")
        .agg(
            F.round(F.percentile("nt", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("nt", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("nt", F.lit(0.99)), 4).alias("p99"),
        )
        .transform(presentation_sort, "lang")
    )


@query(
    "q55_label_cohesion",
    oracle=r"""
    WITH e AS (
      SELECT label, vec_id, (u)[1] AS val, (u)[2] AS pos
      FROM (SELECT label, vec_id,
                   unnest(list_zip(CAST(embedding AS DOUBLE[]),
                                   generate_series(1, len(embedding)))) AS u
            FROM embeddings)
    ),
    cent AS (SELECT label, pos, avg(val) AS c FROM e GROUP BY label, pos),
    per_vec AS (
      SELECT e.label, e.vec_id,
             sum(e.val * cent.c) AS dot_c,
             sum(e.val * e.val) AS n2,
             sum(cent.c * cent.c) AS c2
      FROM e JOIN cent ON e.label = cent.label AND e.pos = cent.pos
      GROUP BY e.label, e.vec_id
    )
    SELECT label, count(*) AS n,
           round(avg(sqrt(n2)), 4) AS avg_norm,
           round(avg(CASE WHEN n2 > 0 AND c2 > 0
                     THEN dot_c / (sqrt(n2) * sqrt(c2)) ELSE 0.0 END), 4)
             AS avg_cos_centroid
    FROM per_vec GROUP BY label ORDER BY label
    """,
)
def q55(spark, sf_dir):
    """Embedding cluster audit: per-label member count, mean norm, and mean
    cosine-to-centroid (`operators/similarity.label_cohesion`) — IVF cell
    balance / label purity in one pass over exploded (label, dim) space."""
    t = load_tables(spark, sf_dir)
    out = label_cohesion(t["embeddings"])
    return out.select(
        "label",
        "n",
        F.round("avg_norm", 4).alias("avg_norm"),
        F.round("avg_cos_centroid", 4).alias("avg_cos_centroid"),
    ).transform(presentation_sort, "label")


@query(
    "q56_tombstone_delete",
    oracle=r"""
    SELECT event_type, count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    WHERE user_id NOT IN (SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0)
    GROUP BY event_type ORDER BY event_type
    """,
)
def q56(spark, sf_dir):
    """Right-to-erasure pass: drop every event of the tombstoned users
    (user_id % 13 = 0) via a broadcast anti-join against the deletion list,
    then account what survives. The anti-join (not a rewritten predicate)
    is the real shape: at scale the deletion list is an external table, and
    broadcasting it keeps the fact scan shuffle-free."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    tombstones = ev.where(F.col("user_id") % 13 == 0).select("user_id").distinct()
    return (
        ev.join(F.broadcast(tombstones), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(exact_sum("value"), 2).alias("total_value"),
        )
        .transform(presentation_sort, "event_type")
    )


@query(
    "q57_mixture_weights",
    oracle=r"""
    WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
    SELECT lang, n_docs,
           round(pow(n_docs, 0.7) / sum(pow(n_docs, 0.7)) OVER (), 6) AS weight,
           CAST(floor(pow(n_docs, 0.7) / sum(pow(n_docs, 0.7)) OVER () * 100000)
                AS BIGINT) AS alloc_100k
    FROM n ORDER BY lang
    """,
)
def q57(spark, sf_dir):
    """Temperature-scaled mixture weights (alpha = 0.7) per language and the
    integer document allocation out of a 100k budget — the sampling-ratio
    step of multi-source corpus blending. One aggregate + one unpartitioned
    window over |languages| rows (the window input is already tiny)."""
    t = load_tables(spark, sf_dir)
    n = t["documents"].groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = Window.partitionBy()
    raw = F.pow("n_docs", 0.7)
    weight = raw / F.sum(raw).over(w_all)
    return n.select(
        "lang",
        "n_docs",
        F.round(weight, 6).alias("weight"),
        F.floor(weight * 100000).cast("long").alias("alloc_100k"),
    ).transform(presentation_sort, "lang")


@query(
    "q73_mixture_sample",
    oracle="""
    WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    a AS (SELECT lang,
                 CAST(floor(pow(n_docs, 0.7) / sum(pow(n_docs, 0.7)) OVER ()
                      * 100) AS INT) AS alloc
          FROM n),
    r AS (
      SELECT d.doc_id, d.lang,
             row_number() OVER (PARTITION BY d.lang
                  ORDER BY md5(CAST(d.doc_id AS STRING)), d.doc_id) AS rn
      FROM documents d
    )
    SELECT r.doc_id, r.lang FROM r JOIN a USING (lang)
    WHERE r.rn <= a.alloc ORDER BY r.doc_id
    """,
)
def q73(spark, sf_dir):
    """Mixture-weighted corpus draw: the step that CONSUMES q57's blend
    weights — per-language allocations out of a 100-document budget
    (floor(n^0.7 / sum n^0.7 * budget)), filled by each stratum's top
    rows in deterministic hash order. Completes the blending story
    (q57 computes the ratios, this draws the corpus); the kept set is
    reproducible on any partitioning, which the oracle checks as exact
    set equality."""
    from eurostat_energy_etl_pipeline_spark.operators.sampling import (
        mixture_sample,
    )

    t = load_tables(spark, sf_dir)
    return (
        mixture_sample(t["documents"], "lang", "doc_id", budget=100)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "q58_repetition_ratio",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, lang,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(generate_series(1, len(tk) - 2),
                       i -> array_to_string(tk[i:i+2], ' ')) END AS grams
      FROM (SELECT doc_id, lang,
                   string_split_regex(trim(lower(text)), '\s+') AS tk
            FROM documents)
    )
    SELECT lang,
           round(avg(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)), 4)
             AS avg_repetition,
           CAST(sum(CASE WHEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                              / len(grams) > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetitive
    FROM sh GROUP BY lang ORDER BY lang
    """,
)
def q58(spark, sf_dir):
    """Within-document self-repetition (Gopher-style quality rule): the
    fraction of a document's 3-gram instances that are duplicates of an
    earlier gram, averaged per language, plus the count of docs above a
    0.2 repetition threshold. Array expressions per row — no explode, no
    shuffle beyond the final tiny aggregate."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import token_shingles

    t = load_tables(spark, sf_dir)
    grams = token_shingles(F.col("text"), 3)
    rep = 1.0 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams)
    return (
        t.wide("documents")
        .select("lang", rep.alias("rep"))
        .groupBy("lang")
        .agg(
            F.round(F.avg("rep"), 4).alias("avg_repetition"),
            F.sum(F.when(F.col("rep") > 0.2, 1).otherwise(0)).alias("n_repetitive"),
        )
        .transform(presentation_sort, "lang")
    )


@query(
    "q59_cross_source_overlap",
    oracle=r"""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(array_to_string((string_split_regex(trim(lower(text)), '\s+'))[1:4],
                 ' ')) AS f
      FROM documents
    )
    SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_signatures
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY src_a, src_b ORDER BY src_a, src_b
    """,
)
def q59(spark, sf_dir):
    """Cross-source boilerplate/overlap matrix: for every source pair, how
    many document *prefix signatures* (md5 of the first 4 tokens — the
    cheap shared-template/header detector) both contain. The
    provenance-overlap audit run before mixing crawl snapshots; with exact
    fingerprints the same plan yields full-duplicate provenance. Joins
    DISTINCT (source, signature) tuples only, never text; the `<`
    predicate halves the output and drops self-pairs."""
    t = load_tables(spark, sf_dir)
    sig = F.md5(
        F.array_join(F.slice(T.whitespace_tokens(F.col("text")), 1, 4), " ")
    )
    fp = t["documents"].select("source", sig.alias("f")).distinct()
    a = fp.select(F.col("source").alias("src_a"), "f")
    b = fp.select(F.col("source").alias("src_b"), "f")
    return (
        a.join(b, "f")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_signatures"))
        .transform(presentation_sort, "src_a", "src_b")
    )


@query(
    "q60_global_ids",
    oracle=r"""
    WITH r AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY lang, doc_id) AS BIGINT) AS gid
      FROM documents
    )
    SELECT doc_id, gid, CAST(floor((gid - 1) / 256.0) AS INT) AS shard_id
    FROM r ORDER BY gid
    """,
)
def q60(spark, sf_dir):
    """Shard-manifest construction: a stable, contiguous global index per
    document (ordered by (lang, doc_id) so same-language docs land in the
    same shards) plus the 256-docs-per-shard assignment. This is the
    "assign every training example a global position" step of corpus
    serialization. Uses `operators/ranking.global_row_number` (range
    partition + per-partition offsets) — identical output to
    `row_number() OVER (ORDER BY ...)` with no single-partition stage."""
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_row_number,
    )

    t = load_tables(spark, sf_dir)
    ranked = global_row_number(
        t["documents"].select("doc_id", "lang"), ["lang", "doc_id"], "gid"
    )
    return ranked.select(
        "doc_id",
        F.col("gid").cast("long").alias("gid"),
        F.expr("(gid - 1) div 256").cast("int").alias("shard_id"),
    ).orderBy("gid")


@query(
    "q61_canonical_docs",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, lang, CAST(floor(n_chars / 100.0) AS INT) AS bucket,
             (least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) * 0.5
              + least(CASE WHEN trim(text) = '' THEN 0.0
                  ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> list_contains(['the','and','of','is','to','in','that','with',
                                           'a','an','for','on','as','are','it'], t))) AS DOUBLE)
                       / len(string_split_regex(trim(lower(text)), '\s+')) END * 4.0, 1.0) * 0.3
              + (1.0 - least(CASE WHEN len(text) > 0
                  THEN CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                       / len(text) ELSE 0.0 END * 5.0, 1.0)) * 0.2) AS quality
      FROM documents
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY lang, bucket
                                       ORDER BY quality DESC, doc_id) AS rn
          FROM q)
    SELECT lang, bucket, doc_id AS canonical_id,
           CAST((SELECT count(*) FROM q q2
                 WHERE q2.lang = r.lang AND q2.bucket = r.bucket) AS BIGINT) AS n_docs,
           floor((quality) * 1e4 + 0.5) / 1e4 AS best_quality
    FROM r WHERE rn = 1 ORDER BY lang, bucket
    """,
)
def q61(spark, sf_dir):
    """Canonical-document selection: within each near-dup cluster keep the
    highest-quality member (ties broken by doc_id) — the "pick the best
    copy" step after dedup clustering. Cluster key here is the
    deterministic (lang, 100-char length bucket) so the oracle can mirror
    it; with real clusters the same plan runs keyed by `component` from
    `near_dup_components`. One windowed rank per cluster (partitioned —
    parallel at any scale) plus a count aggregate reusing the same
    exchange."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    scored = t.wide("documents").select(
        "doc_id",
        "lang",
        F.expr("floor(n_chars / 100.0)").cast("int").alias("bucket"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    w = Window.partitionBy("lang", "bucket")
    ranked = scored.select(
        "lang",
        "bucket",
        "doc_id",
        "quality",
        F.row_number()
        .over(w.orderBy(F.desc("quality"), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_docs"),
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "lang",
            "bucket",
            F.col("doc_id").alias("canonical_id"),
            "n_docs",
            portable_round("quality", 4).alias("best_quality"),
        )
        .transform(presentation_sort, "lang", "bucket")
    )


@query(
    "q62_json_props",
    oracle=r"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_sum,
           floor((avg(CAST(json_extract_string(props, '$.k') AS BIGINT))) * 1e4 + 0.5) / 1e4 AS k_avg,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_max,
           CAST(count(CASE WHEN json_extract_string(props, '$.k') IS NULL
                      THEN 1 END) AS BIGINT) AS k_missing
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q62(spark, sf_dir):
    """Semi-structured payload analytics: extract a typed field from the
    JSON event payload (`get_json_object` — JVM codegen, no Python) and
    aggregate per event type. The extraction happens scan-side before the
    single hash-aggregate exchange, so only (event_type, k) longs shuffle —
    the JSON strings never leave the scan stage."""
    t = load_tables(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        t["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            portable_round(F.avg("k"), 4).alias("k_avg"),
            F.max("k").alias("k_max"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("k_missing"),
        )
        .transform(presentation_sort, "event_type")
    )


# At-rest near-dup index memo per (session, sf_dir): the index write is the
# amortized once-per-corpus ingest step; queries probe it read-only.
_ND_INDEX: dict[tuple[str, str], str] = {}


def _neardup_index_path(spark, sf_dir: str) -> str:
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        write_minhash_index,
    )

    def build(path):
        docs = load_tables(spark, sf_dir)["documents"]
        write_minhash_index(docs.where(F.col("doc_id") % 5 != 0), path)

    return session_memo(_ND_INDEX, spark, sf_dir, build, artifact="nd_index")


@query(
    "q63_incremental_dedup",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 2),
                       i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    ),
    batch AS (
      SELECT doc_id + 1000000 AS new_id, doc_id AS src FROM documents
      WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, doc_id FROM documents
      WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
    ),
    bex AS (SELECT b.new_id, b.src, unnest(n.shingles) AS g
            FROM batch b JOIN sh n ON n.doc_id = b.src),
    cex AS (SELECT doc_id AS corpus_id, unnest(shingles) AS g
            FROM sh WHERE doc_id % 5 <> 0),
    cand AS (SELECT DISTINCT bex.new_id, bex.src, cex.corpus_id
             FROM bex JOIN cex USING (g))
    SELECT new_id, corpus_id, jacc FROM (
      SELECT cd.new_id, cd.corpus_id,
             floor((CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
                   / (len(n.shingles) + len(c.shingles)
                      - len(list_intersect(n.shingles, c.shingles)))) * 1e6 + 0.5) / 1e6 AS jacc
      FROM cand cd
      JOIN sh n ON n.doc_id = cd.src
      JOIN sh c ON c.doc_id = cd.corpus_id
    ) WHERE jacc >= 0.5 ORDER BY new_id, corpus_id
    """,
)
def q63(spark, sf_dir):
    """Incremental near-dup screening: an incoming batch (the held-out 20%
    of documents plus re-ingested exact copies of corpus members, new ids)
    probed against the persisted corpus MinHash index — the nightly-ingest
    dedup shape where the corpus is shingled once at ingest and never
    re-read. The re-ingested copies are guaranteed catches (Jaccard 1.0,
    identical signatures -> identical bands). The oracle is exhaustive
    ground truth: an inverted shingle index enumerates every (batch,
    corpus) pair sharing a shingle — a provable superset of pairs at
    J>=0.5 — and exact Jaccard filters it, so the driver's hash compare
    certifies full recall AND precision of the index-probe path on this
    corpus; tests/test_dedup.py::test_incremental_index_probe keeps the
    operator-level invariants."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        match_against_index,
    )

    idx = _neardup_index_path(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    held_out = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    reingested = docs.where(
        (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 0)
    ).select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    batch = held_out.unionByName(reingested)
    return match_against_index(spark, batch, idx, threshold=0.5)


@query(
    "q66_rare_word_filter",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tk
      FROM documents
    ),
    freq AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
    docscore AS (
      SELECT t.doc_id, t.lang,
             avg(CASE WHEN f.c < 5 THEN 1.0 ELSE 0.0 END) AS rare_ratio
      FROM tok t JOIN freq f USING (tk) GROUP BY t.doc_id, t.lang
    )
    SELECT lang, round(avg(rare_ratio), 4) AS avg_rare_ratio,
           CAST(sum(CASE WHEN rare_ratio > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM docscore GROUP BY lang ORDER BY lang
    """,
)
def q66(spark, sf_dir):
    """Corpus-statistical quality filter (the CCNet/KenLM-filter shape with
    the corpus itself as the language model): build the corpus token
    frequency table, score every document by the fraction of its token
    INSTANCES that are corpus-rare (count < 5), and roll up per language
    with a >0.2 flag count. Same de-skewed shape as q82: reduce instances
    to the well-distributed (doc, lang, token, m) multiplicity grain
    first, roll corpus frequencies up from that (map-side combine tames
    the hot tokens), and join the one-row-per-token frequency table back.
    A count WINDOW over the raw token instances — round-3's formulation —
    would serialize every instance of the hottest token ("the") into one
    task at corpus scale; no stage here ever groups raw instances by a
    skewed key, and the join build side is AQE skew-split-able. The
    per-doc instance mean is recovered exactly as sum(m·flag)/sum(m);
    the (doc,token) exchange is planned once and reused by both the
    frequency rollup and the score join (ReusedExchange, plan-pinned)."""
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        whitespace_tokens,
    )

    t = load_tables(spark, sf_dir)
    tok = (
        t.wide("documents")
        .select(
            "doc_id", "lang", F.explode(whitespace_tokens(F.col("text"))).alias("tk")
        )
        # tk is never null (explode of split output), but the dt⋈freq join
        # infers isnotnull(tk) into only the frequency branch, breaking
        # subtree identity; stating it in the shared subtree keeps the
        # (doc,lang,tk) exchange bit-identical for both consumers.
        .where(F.col("tk").isNotNull())
    )
    dt = tok.groupBy("doc_id", "lang", "tk").agg(F.count(F.lit(1)).alias("m"))
    freq = dt.groupBy("tk").agg(F.sum("m").alias("c"))
    docscore = (
        dt.join(freq, "tk")
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.sum(F.when(F.col("c") < 5, F.col("m")).otherwise(F.lit(0))).cast(
                    "double"
                )
                / F.sum("m")
            ).alias("rare_ratio")
        )
    )
    return (
        docscore.groupBy("lang")
        .agg(
            F.round(F.avg("rare_ratio"), 4).alias("avg_rare_ratio"),
            F.sum(F.when(F.col("rare_ratio") > 0.2, 1).otherwise(0)).alias(
                "n_flagged"
            ),
        )
        .transform(presentation_sort, "lang")
    )


@query(
    "q68_topk_per_group",
    oracle="""
    WITH r AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT lang, doc_id, n_chars, CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 3 ORDER BY lang, rk
    """,
)
def q68(spark, sf_dir):
    """Top-k per group (k=3 longest documents per language) — the grouped
    analog of the global top-k (A4), and the pattern behind "best N
    examples per source/topic" curation steps. One partitioned window
    rank: the shuffle is keyed by the group column, ranking runs in
    parallel per group, and the k<=3 filter drops rows before anything
    else moves. The oracle SQL runs verbatim on both engines."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    return (
        t["documents"]
        .select(
            "lang",
            "doc_id",
            "n_chars",
            F.row_number().over(w).cast("int").alias("rk"),
        )
        .where(F.col("rk") <= 3)
        .transform(presentation_sort, "lang", "rk")
    )


@query(
    "q70_dataset_split",
    oracle="""
    WITH s AS (
      SELECT lang,
             CASE WHEN substr(md5(text), 1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5(text), 1, 8) < 'e6666665' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, count(*) AS n
    FROM s GROUP BY lang, split ORDER BY lang, split
    """,
)
def q70(spark, sf_dir):
    """Train/val/test manifest: deterministic 80/10/10 assignment by
    content hash (`operators/sampling.hash_split`) rolled up per
    (language, split). Hash intervals are nested, so growing a split never
    leaks held-out rows into train; assignment is a scan-side expression —
    no shuffle, no seed, identical on any cluster. The oracle runs the
    same md5 hex-interval compare, so the check is exact assignment
    equality, not a rate tolerance."""
    from eurostat_energy_etl_pipeline_spark.operators.sampling import hash_split

    t = load_tables(spark, sf_dir)
    return (
        hash_split(t["documents"], "text")
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(presentation_sort, "lang", "split")
    )


@query(
    "q71_jsonstat_decode",
    oracle="""
    SELECT indicator_code, country_code, country_name, time_iso,
           CAST(value AS DOUBLE) AS value
    FROM (VALUES
      ('GEP', 'DE', 'Germany', '2022-01-01', 100.5),
      ('GEP', 'DE', 'Germany', '2023-01-01', 101.0),
      ('GEP', 'FR', 'France', '2022-01-01', 200.0),
      ('GEP', 'FR', 'France', '2023-01-01', 201.5),
      ('GEP', 'ZZ', 'ZZ', '2022-01-01', 300.0)
    ) AS t(indicator_code, country_code, country_name, time_iso, value)
    ORDER BY country_code, time_iso
    """,
)
def q71(spark, sf_dir):
    """The ingest path itself under the oracle gate: decode the frozen
    §3.1 JSON-stat golden cube (S1-S5 — validation, dense-cube unravel,
    label resolution with code fallback, indicator allow-list) and emit
    the observation rows. The oracle is the literal expected relation, so
    the driver's hash compare pins the full decode semantics, not just
    row counts. sf_dir is unused — the payload is the fixture."""
    from eurostat_energy_etl_pipeline_spark.sources.jsonstat import (
        GOLDEN_FIXTURE,
        decode_jsonstat,
    )

    decoded = decode_jsonstat(spark, GOLDEN_FIXTURE, "nrg_cb_e")
    return presentation_sort(
        decoded.select(
            "indicator_code",
            "country_code",
            "country_name",
            F.date_format("time", "yyyy-MM-dd").alias("time_iso"),
            "value",
        ),
        "country_code",
        "time_iso",
    )


@query(
    "q72_source_audit",
    oracle="""
    SELECT source, count(*) AS n_docs,
           count(*) - count(DISTINCT md5(text)) AS n_exact_dups,
           count(DISTINCT lang) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q72(spark, sf_dir):
    """Per-source ingest audit: document count, exact-duplicate count (by
    content hash — the dedup telemetry every multi-source corpus tracks
    per feed), language spread, and total character volume. One hash
    aggregate; the distinct counts shuffle 16-byte hashes and 2-byte lang
    codes, never text. The oracle runs verbatim on both engines."""
    t = load_tables(spark, sf_dir)
    return (
        t.wide("documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.count_distinct(F.md5("text"))).alias(
                "n_exact_dups"
            ),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .transform(presentation_sort, "source")
    )


@query(
    "q76_length_histogram",
    oracle="""
    SELECT lang,
           CAST(floor(n_chars / 100.0) * 100 AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, bucket_lo
    ORDER BY lang, bucket_lo
    """,
)
def q76(spark, sf_dir):
    """Per-language document-length histogram (100-char buckets) with
    bucket extrema — the length-distribution report every corpus curation
    pass starts from (truncation budgets, short-doc filters). One hash
    aggregate on (lang, bucket): the bucket id is computed scan-side from
    the pruned 2-column projection, so nothing but 2 small ints + a lang
    code ever shuffles; at 100 TB this is a near-pure map-side-combine
    aggregate with a bounded output (langs x ~6 buckets)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(
            "lang",
            (F.floor(F.col("n_chars") / 100.0) * 100)
            .cast("bigint")
            .alias("bucket_lo"),
            "n_chars",
        )
        .groupBy("lang", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .transform(presentation_sort, "lang", "bucket_lo")
    )


@query(
    "q78_vocab_topk",
    oracle=r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
             x -> x <> '' AND NOT list_contains(['a', 'an', 'and', 'are', 'as', 'for', 'in', 'is', 'it', 'of', 'on', 'that', 'the', 'to', 'with'], x)) AS tk
      FROM documents
    ),
    cnt AS (
      SELECT term, count(*) AS n
      FROM (SELECT unnest(tk) AS term FROM toks)
      GROUP BY term
    ),
    ranked AS (
      SELECT term, n,
             row_number() OVER (ORDER BY n DESC, term) AS rk
      FROM cnt
    )
    SELECT term, n, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 20 ORDER BY rk
    """,
)
def q78(spark, sf_dir):
    """Corpus vocabulary head: top-20 stopword-filtered tokens by exact
    frequency, with a deterministic (count desc, term) rank — the
    vocabulary audit that feeds tokenizer training and stopword-list
    review. Plan: explode -> one hash aggregate keyed by term (map-side
    combine does the heavy lifting: the shuffle carries one row per
    distinct term per partition, not per occurrence), then a
    TakeOrderedAndProject picks 20 rows and the rank is attached on that
    20-row result — no SinglePartition window over the full vocabulary."""
    t = load_tables(spark, sf_dir)
    stop = F.array(*[F.lit(s) for s in sorted(T.ENGLISH_STOPWORDS)])
    toks = F.filter(
        T.whitespace_tokens(F.col("text")),
        lambda x: (x != "") & ~F.array_contains(stop, x),
    )
    top = (
        t.wide("documents")
        .select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(20)
    )
    w = Window.orderBy(F.desc("n"), "term")
    return top.withColumn("rk", F.row_number().over(w).cast("int")).transform(
        presentation_sort, "rk"
    )


@query(
    "q82_bigram_lm_score",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i+1])) AS bigram
      FROM toks WHERE len(tk) >= 2
    ),
    db AS (
      SELECT doc_id, lang, bigram, count(*) AS m
      FROM bg GROUP BY doc_id, lang, bigram
    ),
    bgc AS (SELECT bigram, sum(m) AS c_bg FROM db GROUP BY bigram),
    pfc AS (
      SELECT split_part(bigram, ' ', 1) AS pfx, sum(c_bg) AS c_pfx
      FROM bgc GROUP BY split_part(bigram, ' ', 1)
    ),
    scored AS (
      SELECT d.doc_id, d.lang, d.m,
             ln(CAST(b.c_bg AS DOUBLE) / CAST(p.c_pfx AS DOUBLE)) AS lp
      FROM db d
      JOIN bgc b USING (bigram)
      JOIN pfc p ON split_part(d.bigram, ' ', 1) = p.pfx
    ),
    docscore AS (
      SELECT doc_id, lang, sum(m * lp) / sum(m) AS avg_logprob
      FROM scored GROUP BY doc_id, lang
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(avg_logprob), 4) AS mean_logprob,
           CAST(sum(CASE WHEN avg_logprob < -3.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_prob
    FROM docscore GROUP BY lang ORDER BY lang
    """,
)
def q82(spark, sf_dir):
    """Corpus-trained bigram LM quality score — the KenLM/CCNet filter
    shape with the corpus as its own language model (q66's rare-word
    screen is the unigram cousin). Per document: the mean log conditional
    probability ln(c(w1 w2) / c(w1 ·)) over its bigram instances, where
    both counts come from the whole corpus; per language: mean score and
    the count of improbable documents (avg < -3 nats ~ perplexity > 20
    per bigram). Plan: tokenize once, explode bigrams once, pre-aggregate
    instances to (doc, bigram, multiplicity), reduce to the bigram-TYPE
    count table, attach prefix totals to it with ONE sum-over-window at
    type grain (r11 — replaces the r7 prefix aggregate + join-back), and
    join the enriched types back at the (doc, bigram) grain. Round 3
    used count windows partitioned by the raw
    prefix, which serializes every instance of the hottest token ("the")
    into one task — a guaranteed straggler/OOM key at corpus scale. Here
    no stage ever groups raw instances by a skewed key: the hot prefix is
    reduced map-side to one partial row per task, and the join's build
    side carries exactly one row per key (AQE skew-split-able). The
    per-doc mean over instances is recovered exactly as
    sum(m*lp)/sum(m). No smoothing is needed: every observed bigram has
    count >= 1 and its prefix count >= its own."""
    t = load_tables(spark, sf_dir)
    toks = F.filter(T.whitespace_tokens(F.col("text")), lambda x: x != "")
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = (
        t.wide("documents")
        .where(n >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("bigram"))
        # The prefix key is never null (concat_ws output), but the
        # bgc⋈pfc join infers isnotnull(split(bigram)[0]) into ONLY the
        # count-rollup branch, which breaks subtree identity. Stating the
        # same predicate here puts it in BOTH consumers' subtrees, so the
        # (doc,bigram) exchange below is bit-identical and Catalyst plans
        # it once (ReusedExchange) — without this the count rollup
        # re-scans and re-tokenizes the whole corpus.
        .where(F.split(F.col("bigram"), " ")[0].isNotNull())
    )
    # (doc, bigram) multiplicities: the well-distributed grain every later
    # stage builds on. Its exchange is planned once and reused by both
    # consumers (the count rollup and the score join).
    db = bg.groupBy("doc_id", "lang", "bigram").agg(
        F.count(F.lit(1)).alias("m")
    )
    bgc = db.groupBy("bigram").agg(F.sum("m").alias("c_bg"))
    # Prefix totals as a sum-over-window on the TYPE-grain table (r11):
    # one pfx exchange of (bigram, c_bg) rows replaces the r7 aggregate +
    # join-back (two exchanges + a join build). The window partition is
    # bigram TYPES per prefix — bounded by |V|, never the raw instance
    # stream (the round-3 skew trap the plan gate still forbids);
    # measured 1.6 -> 1.05 s warm at sf0.1, identical results.
    pfx_w = Window.partitionBy(F.split(F.col("bigram"), " ")[0])
    bgc2 = bgc.withColumn("c_pfx", F.sum("c_bg").over(pfx_w)).select(
        "bigram", "c_bg", "c_pfx"
    )
    scored = db.join(bgc2, "bigram").select(
        "doc_id",
        "lang",
        "m",
        F.log(F.col("c_bg").cast("double") / F.col("c_pfx").cast("double")).alias(
            "lp"
        ),
    )
    docscore = scored.groupBy("doc_id", "lang").agg(
        (F.sum(F.col("m") * F.col("lp")) / F.sum("m")).alias("avg_logprob")
    )
    return (
        docscore.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
            F.sum(F.when(F.col("avg_logprob") < -3.0, 1).otherwise(0)).alias(
                "n_low_prob"
            ),
        )
        .transform(presentation_sort, "lang")
    )


@query(
    "q89_bpe_pair_stats",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    wf AS (SELECT w, count(*) AS m FROM tok WHERE len(w) >= 2 GROUP BY w),
    p AS (
      SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> substr(w, i, 2))) AS pair, m
      FROM wf
    )
    SELECT pair, CAST(sum(m) AS BIGINT) AS n
    FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20
    """,
)
def q89(spark, sf_dir):
    """BPE merge-candidate statistics — the inner loop of tokenizer
    training (the first Sennrich-BPE iteration: adjacent symbol-pair
    frequencies over the corpus, weighted by word occurrences). The
    scale shape mirrors q66/q82's grain reduction: reduce instances to
    the (word type, multiplicity) table FIRST (one map-side-combined
    shuffle; Zipf makes the type table orders of magnitude smaller than
    the instance stream), explode each distinct word's character pairs
    once, and sum multiplicities per pair — so "the" contributes its
    pair set exactly once no matter how many billion times it occurs.
    Top-20 plans as TakeOrderedAndProject. Everything is Catalyst array
    expressions (transform over sequence); no UDFs."""
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        whitespace_tokens,
    )

    t = load_tables(spark, sf_dir)
    tok = (
        t.wide("documents")
        .select(F.explode(whitespace_tokens(F.col("text"))).alias("w"))
        .where(F.length("w") >= 2)
    )
    wf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("m"))
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "m",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("m").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# q93's DuckDB oracle: the 5 merge iterations unrolled as chained CTEs.
# Each level recomputes pair stats from the re-encoded word-type table,
# picks the argmax pair with the same (n DESC, a, b) tiebreak, and applies
# the merge through the delimiter-doubled replace() — the identical
# encoding trick the Spark operator uses (operators/bpe.py module
# docstring), so both engines execute the same greedy left-to-right
# merge. Unrolling is what makes an inherently iterative algorithm
# SQL-expressible (vs q91's single-iteration closed form).
_BPE_LEVEL_SQL = """
    p{k} AS (
      SELECT pr[1] AS a, pr[2] AS b, CAST(sum(m) AS BIGINT) AS n
      FROM (
        SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                                     i -> [syms[i], syms[i+1]])) AS pr, m
        FROM (SELECT string_split(trim(enc, '_'), '__') AS syms, m FROM w{j})
      ) GROUP BY a, b
    ),
    b{k} AS (SELECT a, b, n FROM p{k} ORDER BY n DESC, a, b LIMIT 1),
    w{k} AS (
      SELECT replace(enc, '_' || a || '__' || b || '_',
                     '_' || a || b || '_') AS enc, m
      FROM w{j}, b{k}
    )"""

_BPE_ORACLE = (
    r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    wf AS (SELECT w, count(*) AS m FROM tok
           WHERE len(w) >= 2 AND regexp_matches(w, '^[a-z]+$') GROUP BY w),
    w0 AS (SELECT '_' || array_to_string(string_split(w, ''), '__') || '_'
                    AS enc, m
           FROM wf)"""
    + "".join("," + _BPE_LEVEL_SQL.format(k=k, j=k - 1) for k in range(1, 6))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {k} AS rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, n FROM b{k}"
        for k in range(1, 6)
    )
    + "\n    ORDER BY rank"
)


@query("q93_bpe_train", oracle=_BPE_ORACLE)
def q93(spark, sf_dir):
    """Full BPE tokenizer training, 5 merges (`operators/bpe.train_bpe`) —
    the iterative completion of q89's single-iteration pair statistics.
    Per merge: one map-side-combined pair aggregate over the PERSISTED
    word-type table (vocabulary-sized, corpus-size independent) + a
    limit(1) argmax collecting exactly one row to the driver + a narrow
    greedy string-replace re-encoding — the driver-coordinated-iteration
    shape of q91's Lloyd step. The delimiter-doubled encoding makes
    builtin replace() exactly the greedy non-overlapping merge on both
    engines, so the 5 learned (pair, frequency) rules hash-match the
    unrolled DuckDB derivation."""
    from eurostat_energy_etl_pipeline_spark.operators.bpe import train_bpe

    t = load_tables(spark, sf_dir)
    return presentation_sort(
        train_bpe(t.wide("documents"), n_merges=5), "rank"
    )


# q98: tokenizer APPLICATION at corpus grain. The merge list is static
# (a fixed, documented rule set — common English pairs, chained so later
# merges consume earlier outputs), because a corpus-LEARNED list cannot
# be inlined into a static oracle string; training itself is certified by
# q93, application by this query. Both engines replay the identical
# delimiter-doubled replace chain.
_BPE_APPLY_RULES = [
    ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"),
    ("i", "n"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def _bpe_apply_enc_sql() -> str:
    enc = "'_' || array_to_string(string_split(w, ''), '__') || '_'"
    for a, b in _BPE_APPLY_RULES:
        enc = f"replace({enc}, '_{a}__{b}_', '_{a}{b}_')"
    return enc


@query(
    "q98_bpe_encode",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    wdm AS (SELECT doc_id, w, count(*) AS m FROM tok
            WHERE len(w) >= 2 AND regexp_matches(w, '^[a-z]+$')
            GROUP BY doc_id, w),
    vocab AS (SELECT DISTINCT w FROM wdm),
    np AS (SELECT w,
                  len(string_split(trim({_bpe_apply_enc_sql()}, '_'), '__'))
                    AS np
           FROM vocab),
    agg AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_words,
                   CAST(sum(m * np) AS BIGINT) AS n_pieces
            FROM wdm JOIN np USING (w) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
           CASE WHEN a.n_words > 0
                THEN {portable_round_sql(
                    'CAST(a.n_pieces AS DOUBLE) / a.n_words', 6)}
                ELSE CAST(0 AS DOUBLE) END AS fertility
    FROM documents d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q98(spark, sf_dir):
    """Corpus-scale BPE tokenizer APPLICATION (`operators/bpe.
    fertility_table`) — the other half of the q93 loop: every document
    scored with per-doc word count, BPE piece count, and fertility
    (pieces per word, the tokenizer-efficiency metric every multilingual
    corpus report tracks). Scale shape: ZERO shuffle — one scan-side
    Arrow kernel pass (the q94 entropy-kernel class) that applies the
    encode/replace chain once per word TYPE via a per-partition memo
    (Zipf makes the amortized per-instance cost a dict hit), emitting
    one row per document. The alternative broadcast-vocabulary-join
    formulation measured 3x slower at sf0.1: it paid a distinct
    shuffle + broadcast build + doc-keyed aggregate for the same
    memoization the kernel gets task-locally. Exact DuckDB differential
    over the identical static merge rules (Python/Spark/DuckDB replace
    share the left-to-right non-overlapping contract, fuzzed in
    test_bpe)."""
    from eurostat_energy_etl_pipeline_spark.operators.bpe import (
        fertility_table,
    )

    t = load_tables(spark, sf_dir)
    docs = t.wide("documents")
    stats = fertility_table(docs, _BPE_APPLY_RULES)
    return stats.select(
        "doc_id",
        "n_words",
        "n_pieces",
        F.when(
            F.col("n_words") > 0,
            portable_round(
                F.col("n_pieces").cast("double") / F.col("n_words"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("fertility"),
    )  # corpus-grain: unordered by design (see q33's sort note)


@query(
    "q94_char_entropy",
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c
      FROM documents WHERE len(text) > 0
    ),
    e AS (SELECT doc_id, count(*) AS n_chars, entropy(c) AS ent
          FROM ch GROUP BY doc_id)
    SELECT d.doc_id, d.lang, CAST(coalesce(e.n_chars, 0) AS INT) AS n_chars,
           {portable_round_sql('coalesce(e.ent, 0)', 4)} AS entropy,
           CASE WHEN {portable_round_sql('coalesce(e.ent, 0)', 4)} < 4.0
                THEN 1 ELSE 0 END AS low_entropy
    FROM documents d LEFT JOIN e USING (doc_id)
    ORDER BY doc_id
    """,
)
def q94(spark, sf_dir):
    """Per-document character-entropy quality screen — the CCNet/Gopher
    gibberish filter (`operators/entropy.char_entropy_table`). Dense
    byte-level counting is the workload class where the Arrow-batched
    numpy kernel wins (the q87 BLAS lesson): the whole batch reduces
    through ONE np.unique over a packed (doc << 32 | codepoint) key —
    no per-char explode/shuffle, no O(len x distinct) HOF histogram, no
    per-row Python. Scan-side mapInPandas: zero shuffle, parallel per
    partition. The low-entropy flag cuts on the GRID-ROUNDED value on
    both engines so the boundary can never flip between them.

    Character model: the kernel counts UNICODE CODE POINTS (UTF-32
    units) — so does DuckDB's string_split(text, '') on this corpus, but
    the two characterizations are not identical in general: combining
    sequences count per combining mark here (no grapheme clustering),
    and any engine splitting on UTF-16 units would count astral-plane
    chars twice. The oracle equivalence therefore assumes
    code-point-splitting parity, which the test corpora satisfy; the
    operator contract (operators/entropy.py) states the code-point
    semantics explicitly."""
    from eurostat_energy_etl_pipeline_spark.operators.entropy import (
        char_entropy_table,
    )

    t = load_tables(spark, sf_dir)
    e = char_entropy_table(t["documents"])
    ent_r = portable_round("entropy", 4)
    # Corpus-grain result: no final global sort (see q33 — the range
    # sampler would re-run the entropy kernel; the driver hash is
    # order-insensitive).
    return e.select(
        "doc_id",
        "lang",
        "n_chars",
        ent_r.alias("entropy"),
        F.when(ent_r < 4.0, 1).otherwise(0).alias("low_entropy"),
    )


@query(
    "q96_vocab_coverage",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents
    ),
    wf AS (SELECT w, count(*) AS m FROM tok
           WHERE len(w) >= 2 AND regexp_matches(w, '^[a-z]+$') GROUP BY w),
    tot AS (SELECT CAST(sum(m) AS BIGINT) AS t FROM wf),
    c AS (
      SELECT w, m,
             CAST(sum(m) OVER (ORDER BY m DESC, w
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum
      FROM wf
    )
    SELECT pct,
           CAST(sum(CASE WHEN (cum - m) * 100 < pct * t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_types,
           CAST(max(CASE WHEN (cum - m) * 100 < pct * t THEN cum END)
                AS BIGINT) AS covered_tokens,
           CAST(max(t) AS BIGINT) AS total_tokens
    FROM c, tot, (VALUES (90), (95), (99)) AS pv(pct)
    GROUP BY pct ORDER BY pct
    """,
)
def q96(spark, sf_dir):
    """Zipf vocabulary-coverage curve — the tokenizer-design readout "how
    many word types cover 90/95/99% of token mass" (what sets vocabulary
    size budgets). The running total over the frequency-sorted vocabulary
    uses `operators/ranking.global_prefix_sum`: the same deterministic-
    bucket kernel as the global rank/ntile — per-bucket value totals (one
    O(#buckets) collect) + a bucket-partitioned local cumsum — so the
    corpus-wide cumulative distribution never moves through a
    single-partition window. Pure 64-bit integer arithmetic end to end
    ((cum_before)*100 < pct*total), so the oracle comparison is exact at
    any scale."""
    from eurostat_energy_etl_pipeline_spark.operators.bpe import word_type_table
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_prefix_sum,
    )

    t = load_tables(spark, sf_dir)
    wf = word_type_table(t.wide("documents"))
    totals = wf.agg(F.sum("m").cast("long").alias("t"))
    cum = global_prefix_sum(
        wf.withColumn("negm", -F.col("m")), ["negm", "w"], "m", "cum"
    )
    before = (F.col("cum") - F.col("m")) * F.lit(100)
    aggs = []
    for p in (90, 95, 99):
        hit = before < F.lit(p) * F.col("t")
        aggs.append(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(f"n{p}")
        )
        aggs.append(F.max(F.when(hit, F.col("cum"))).cast("long").alias(f"c{p}"))
    one = cum.crossJoin(F.broadcast(totals)).agg(*aggs, F.max("t").alias("t"))
    return one.select(
        F.expr(
            "stack(3, 90, n90, c90, 95, n95, c95, 99, n99, c99)"
        ).alias("pct", "n_types", "covered_tokens"),
        F.col("t").alias("total_tokens"),
    ).transform(presentation_sort, "pct")


@query(
    "q100_weighted_sample",
    oracle=f"""
    SELECT doc_id, n_chars,
           {portable_round_sql(
               "ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) "
               "|| 'wsamp'), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0) "
               "/ greatest(CAST(n_chars AS DOUBLE), 0.000000001)", 9)}
             AS samp_key
    FROM documents
    ORDER BY samp_key DESC, doc_id LIMIT 25
    """,
)
def q100(spark, sf_dir):
    """Deterministic quality-weighted corpus sampling
    (`operators/sampling.weighted_sample_topk`): the Efraimidis-Spirakis
    A-ES draw in log space with u derived from the content hash — the
    "sample docs proportional to weight" step of corpus curation, made
    seedless and partitioning-invariant (the hash_sample contract
    extended to weighted draws). Weight here is n_chars, so longer
    documents are proportionally likelier; the top-25 plans as
    TakeOrderedAndProject (per-partition heaps, no global sort). The
    oracle replays the identical hash->uniform->ln(u)/w arithmetic;
    keys land on the 1e-9 grid before ranking on both engines."""
    from eurostat_energy_etl_pipeline_spark.operators.sampling import (
        weighted_sample_topk,
    )

    t = load_tables(spark, sf_dir)
    return weighted_sample_topk(
        t.wide("documents").select("doc_id", "n_chars"),
        "doc_id",
        "n_chars",
        k=25,
    )


# q102: the held-out evaluation composition — train the corpus bigram LM
# on the content-hash train split, score the VAL split with Laplace
# smoothing (unseen bigrams must not produce ln(0); alpha=1 over the
# train vocabulary), roll up per language. This is how a production
# pipeline actually uses q82's LM: quality-score NEW data against
# counts from CURATED data, with a real train/test boundary.
_LM_SPLIT_SALT = "lmsplit"
_LM_TRAIN_RATE = 0.8


@query(
    "q102_heldout_lm",
    oracle=rf"""
    WITH docs AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '') AS tk,
             substr(md5(CAST(doc_id AS VARCHAR) || '{_LM_SPLIT_SALT}'), 1, 4)
               < 'cccc' AS is_train
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, is_train,
             unnest(list_transform(generate_series(1, len(tk) - 1),
                                   i -> tk[i] || ' ' || tk[i+1])) AS bigram
      FROM docs WHERE len(tk) >= 2
    ),
    vocab AS (
      SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
      FROM (SELECT unnest(tk) AS w FROM docs WHERE is_train)
    ),
    bgc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_bg
            FROM bg WHERE is_train GROUP BY bigram),
    pfc AS (SELECT split_part(bigram, ' ', 1) AS pfx,
                   CAST(sum(c_bg) AS BIGINT) AS c_pfx
            FROM bgc GROUP BY split_part(bigram, ' ', 1)),
    vb AS (SELECT doc_id, lang, bigram, count(*) AS m
           FROM bg WHERE NOT is_train GROUP BY doc_id, lang, bigram),
    scored AS (
      SELECT vb.doc_id, vb.lang, vb.m,
             ln((CAST(coalesce(b.c_bg, 0) AS DOUBLE) + 1.0)
                / (CAST(coalesce(p.c_pfx, 0) AS DOUBLE) + vocab.v)) AS lp,
             CASE WHEN b.c_bg IS NULL THEN vb.m ELSE 0 END AS m_oov
      FROM vb CROSS JOIN vocab
      LEFT JOIN bgc b USING (bigram)
      LEFT JOIN pfc p ON split_part(vb.bigram, ' ', 1) = p.pfx
    ),
    docscore AS (
      SELECT doc_id, lang,
             sum(m * lp) / sum(m) AS avg_logprob,
             CAST(sum(m_oov) AS DOUBLE) / sum(m) AS oov_ratio
      FROM scored GROUP BY doc_id, lang
    )
    SELECT lang, count(*) AS n_val_docs,
           round(avg(avg_logprob), 4) AS mean_logprob,
           round(avg(oov_ratio), 4) AS mean_oov_ratio
    FROM docscore GROUP BY lang ORDER BY lang
    """,
)
def q102(spark, sf_dir):
    """Held-out bigram-LM evaluation (`the q82 LM with a real train/val
    boundary`): counts train on the deterministic content-hash 80%
    split (the q70 split contract — no seed, partitioning-invariant),
    VAL documents score with Laplace smoothing
    ln((c_bg+1)/(c_pfx+|V_train|)) so unseen bigrams contribute finite
    mass, and the per-language rollup reports mean score plus the OOV
    bigram-instance ratio (the distribution-shift signal). Same grain
    discipline as q82: instances reduce to (doc, bigram, m) before any
    corpus-wide key is touched; the smoothing scalar |V| broadcasts as
    a 1-row cross join reading the PINNED tokenized split table (r11 —
    the vocab pass previously re-scanned and re-tokenized the corpus).
    At 100 TB this is the nightly score-new-data-against-curated-counts
    job. Residual wall is job count (14 AQE stage-materialization jobs:
    pin + vocab broadcast + 2 count tiers + 2 scale-safe SMJ scoring
    joins + 2 rollup grains + presentation), not data volume — the two
    scoring joins stay separate because an unseen val bigram still needs
    its prefix's train total, and both stay SMJ because the count tables
    are corpus-wide at 100 TB (broadcast would be a small-scale-only
    cheat)."""
    from eurostat_energy_etl_pipeline_spark.operators.sampling import (
        sample_predicate,
    )

    t = load_tables(spark, sf_dir)
    toks = F.filter(T.whitespace_tokens(F.col("text")), lambda x: x != "")
    # The tokenized split table feeds TWO consumers with different
    # downstream grains (the bigram pipeline and the |V| vocab scalar's
    # broadcast subtree) — without a pin the vocab pass re-scans and
    # re-tokenizes the corpus (measured 2.0 -> 1.45 s warm at sf0.1).
    # plans.pin lifetime: released by the harness after measurement. At
    # cluster scale the persist spills MEMORY_AND_DISK and degrades
    # gracefully to the recompute it replaces if cache is short.
    docs = pin(
        t.wide("documents").select(
            "doc_id",
            "lang",
            toks.alias("tk"),
            sample_predicate(
                F.col("doc_id"), _LM_TRAIN_RATE, salt=_LM_SPLIT_SALT
            ).alias("is_train"),
        )
    )
    bg = (
        docs.where(F.size("tk") >= 2)
        .select(
            "doc_id",
            "lang",
            "is_train",
            F.explode(
                F.zip_with(
                    F.slice(F.col("tk"), 1, F.size("tk") - 1),
                    F.slice(F.col("tk"), 2, F.size("tk") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("bigram"),
        )
    )
    v = (
        docs.where("is_train")
        .select(F.explode("tk").alias("w"))
        .agg(F.count_distinct("w").cast("double").alias("v"))
    )
    # Shared instance reduction (the q82 ReusedExchange discipline, r7):
    # BOTH count tables derive from one (doc, split, bigram) multiplicity
    # aggregate — its exchange is planned once and reused, so the corpus
    # is tokenized and its bigrams exploded exactly ONCE for the counting
    # side (the train/val filters sit ABOVE the shared aggregate). The
    # old shape filtered bg twice BELOW two separate shuffles, paying the
    # tokenize+explode scan twice and shuffling raw instances twice.
    db = bg.groupBy("doc_id", "lang", "is_train", "bigram").agg(
        F.count(F.lit(1)).alias("m")
    )
    bgc = (
        db.where("is_train")
        .groupBy("bigram")
        .agg(F.sum("m").alias("c_bg"))
    )
    pfc = bgc.groupBy(F.split(F.col("bigram"), " ")[0].alias("pfx")).agg(
        F.sum("c_bg").alias("c_pfx")
    )
    vb = db.where(~F.col("is_train")).select("doc_id", "lang", "bigram", "m")
    scored = (
        vb.crossJoin(F.broadcast(v))
        .join(bgc, "bigram", "left")
        .join(
            pfc.withColumnRenamed("pfx", "_pfx"),
            F.split(F.col("bigram"), " ")[0] == F.col("_pfx"),
            "left",
        )
        .select(
            "doc_id",
            "lang",
            "m",
            F.log(
                (F.coalesce("c_bg", F.lit(0)).cast("double") + 1.0)
                / (F.coalesce("c_pfx", F.lit(0)).cast("double") + F.col("v"))
            ).alias("lp"),
            F.when(F.col("c_bg").isNull(), F.col("m"))
            .otherwise(F.lit(0))
            .alias("m_oov"),
        )
    )
    docscore = scored.groupBy("doc_id", "lang").agg(
        (F.sum(F.col("m") * F.col("lp")) / F.sum("m")).alias("avg_logprob"),
        (F.sum("m_oov").cast("double") / F.sum("m")).alias("oov_ratio"),
    )
    return (
        docscore.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_val_docs"),
            F.round(F.avg("avg_logprob"), 4).alias("mean_logprob"),
            F.round(F.avg("oov_ratio"), 4).alias("mean_oov_ratio"),
        )
        .transform(presentation_sort, "lang")
    )


@query(
    "q110_dedup_apply",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 2),
                       i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS toks
            FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             floor((CASE WHEN len(a.shingles) + len(b.shingles)
                             - len(list_intersect(a.shingles, b.shingles)) > 0
                   THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                        / (len(a.shingles) + len(b.shingles)
                           - len(list_intersect(a.shingles, b.shingles)))
                   ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS jacc
      FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
    ),
    flags AS (
      SELECT d.doc_id,
             CASE WHEN p.jacc >= 0.005 THEN 0 ELSE 1 END AS is_start
      FROM documents d LEFT JOIN pairs p ON p.id_b = d.doc_id
    ),
    grp AS (
      SELECT doc_id, sum(is_start) OVER (ORDER BY doc_id) AS g FROM flags
    ),
    keep AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS cluster_id FROM grp
    ),
    tok AS (
      SELECT doc_id, source,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\s+'))
             END AS n_tokens
      FROM documents
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS docs_before,
           CAST(sum(t.n_tokens) AS BIGINT) AS tokens_before,
           CAST(sum(CASE WHEN k.doc_id = k.cluster_id THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_after,
           CAST(sum(CASE WHEN k.doc_id = k.cluster_id THEN t.n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_after,
           floor((1.0 - CAST(sum(CASE WHEN k.doc_id = k.cluster_id
                                      THEN t.n_tokens ELSE 0 END) AS DOUBLE)
                      / CAST(sum(t.n_tokens) AS DOUBLE)) * 1e6 + 0.5) / 1e6
               AS pct_tokens_removed
    FROM tok t JOIN keep k USING (doc_id)
    GROUP BY t.source ORDER BY t.source
    """,
)
def q110(spark, sf_dir):
    """Dedup EXECUTION — the artifact a training run actually consumes
    (reference analog: the load-time dedupe invariant,
    ``etl/main.py:132-143``, lifted to corpus scale). q25/q45/q61/q67 emit
    pairs and keep-lists; this query APPLIES one: near-dup connected
    components (the q45 edge set, so the oracle's gaps-and-islands closed
    form stays valid) -> keep the canonical (min-id) member -> left-semi
    the corpus against the keep-list -> per-source before/after row AND
    token accounting, the audit a data-mixture owner reads after every
    dedup pass.

    Scale shape: the keep-list is O(#docs) ids, the apply is one
    doc_id-keyed join (semi-join semantics expressed as a flag join so
    before/after aggregate from ONE scan of the token stats instead of
    two), and the audit is a source-keyed aggregate — nothing wider than
    the CC labeling itself ever shuffles. At 100 TB the same plan holds
    with the keep-list read from the at-rest index (the q63 pattern)
    instead of recomputed."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    edges = ngram_jaccard_pairs(docs, k=3).where(F.col("jacc") >= 0.005)
    cc = connected_components(
        edges, "id_a", "id_b", nodes=docs.select("doc_id")
    )
    keep = cc.where(F.col("id") == F.col("component")).select(
        F.col("id").alias("doc_id"), F.lit(1).alias("_keep")
    )
    tok = t.wide("documents").select(
        "doc_id", "source", T.token_count(F.col("text")).alias("n_tokens")
    )
    flagged = tok.join(keep, "doc_id", "left")
    kept_tokens = F.sum(
        F.when(F.col("_keep").isNotNull(), F.col("n_tokens")).otherwise(0)
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_before"),
            F.sum("n_tokens").alias("tokens_before"),
            F.sum(F.coalesce("_keep", F.lit(0))).alias("docs_after"),
            kept_tokens.alias("tokens_after"),
            portable_round(
                1.0 - kept_tokens.cast("double") / F.sum("n_tokens").cast("double"),
                6,
            ).alias("pct_tokens_removed"),
        )
        .transform(presentation_sort, "source")
    )


# Maintained-index memo per (session, sf_dir): base index on ~2/3 of the
# corpus, then ONE merge_into_minhash_index batch (adds + sentinel text
# updates + tombstones) — q111 probes the POST-maintenance index, so its
# oracle certifies the maintenance end-to-end.
_MAINT_INDEX: dict = {}


def _maintained_index_path(spark, sf_dir: str) -> str:
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        merge_into_minhash_index,
        write_minhash_index,
    )

    def build(path):
        docs = load_tables(spark, sf_dir)["documents"]
        write_minhash_index(
            docs.where(F.col("doc_id") % 3 != 0), path, num_buckets=16
        )
        upserts = docs.where(
            (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 7 == 0)
        ).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat("text", F.lit(" zzz update sentinel")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        tombstones = docs.where(F.col("doc_id") % 11 == 0).select("doc_id")
        merge_into_minhash_index(
            spark, path, upserts=upserts, tombstone_ids=tombstones
        )

    return session_memo(
        _MAINT_INDEX, spark, sf_dir, build, artifact="maint_index"
    )


@query(
    "q111_index_maintenance",
    oracle=r"""
    WITH state AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' zzz update sentinel'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 11 <> 0
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 2),
                       i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS toks
            FROM state)
    ),
    bex AS (SELECT s.doc_id + 1000000 AS new_id, s.doc_id AS src,
                   unnest(s.shingles) AS g
            FROM sh s WHERE s.doc_id % 5 = 0),
    cex AS (SELECT doc_id AS corpus_id, unnest(shingles) AS g FROM sh),
    cand AS (SELECT DISTINCT bex.new_id, bex.src, cex.corpus_id
             FROM bex JOIN cex USING (g))
    SELECT new_id, corpus_id, jacc FROM (
      SELECT cd.new_id, cd.corpus_id,
             floor((CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
                   / (len(n.shingles) + len(c.shingles)
                      - len(list_intersect(n.shingles, c.shingles)))) * 1e6 + 0.5) / 1e6 AS jacc
      FROM cand cd
      JOIN sh n ON n.doc_id = cd.src
      JOIN sh c ON c.doc_id = cd.corpus_id
    ) WHERE jacc >= 0.5 ORDER BY new_id, corpus_id
    """,
)
def q111(spark, sf_dir):
    """Cross-run incremental index MAINTENANCE, certified end-to-end
    (VERDICT r5 item 8): the at-rest MinHash index is built on ~2/3 of the
    corpus, then ONE `merge_into_minhash_index` batch applies adds
    (doc_id%3==0), text updates (%7==0, sentinel-suffixed — MERGE
    semantics replace the old bands AND shingles), and tombstones
    (%11==0, winning over their own upserts). The declared query probes
    the MAINTAINED index with re-ingested copies (new ids) of the
    post-state corpus.

    The oracle is exhaustive ground truth over the POST-maintenance
    corpus state, computed directly from `documents` — so the driver hash
    fails if maintenance left a tombstoned doc matchable, kept an
    updated doc's OLD shingles (its probe pair would verify at jacc<1),
    or dropped an add. Bucketed-layout mechanics (partition-pruned
    rewrite, emptied-bucket cleanup, scratch-vs-incremental equality)
    are differential-tested in tests/test_dedup.py.

    RECALL GEOMETRY (accepted risk, same contract as q25/q63): the
    exhaustive oracle enumerates every shingle-sharing pair, but
    `match_against_index` generates candidates via 16-band × 2-row
    MinHash LSH, whose hit probability at jaccard j is
    1 - (1 - j^2)^16 (~99.0% at j=0.5, >99.97% at j=0.6). On THIS
    fixture every qualifying pair is a near-copy (probe jacc ≈ 1.0,
    where the band-collision probability is 1 up to hash collisions),
    so the gate is deterministic — but a new dataset/scale factor with
    pairs sitting just above the 0.5 threshold could miss a band and
    fail the hash even with the code unchanged. That is the documented
    LSH trade, not a maintenance bug; raise bands or add a
    shingle-sharing fallback probe if a fixture ever lands in the
    marginal band."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        match_against_index,
    )

    idx = _maintained_index_path(spark, sf_dir)
    docs = load_tables(spark, sf_dir)["documents"]
    probe = (
        docs.where((F.col("doc_id") % 11 != 0) & (F.col("doc_id") % 5 == 0))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat("text", F.lit(" zzz update sentinel")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return match_against_index(spark, probe, idx, threshold=0.5)


def _keyword_oracle_sql(k: int = 3) -> str:
    """DuckDB twin of q112: the q36 TF-IDF weighting CTEs (tokenize,
    stopword filter, uni+bigrams, tf, windowed df, smoothed idf) with a
    per-doc row_number over the 1e-9-gridded weight instead of a
    query-side cosine."""
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        ENGLISH_STOPWORDS,
    )

    stop_sql = "[" + ", ".join(f"'{s}'" for s in sorted(ENGLISH_STOPWORDS)) + "]"
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
      SELECT doc_id, term,
             tf * (ln((1 + n_docs)
                / (1 + CAST(count(*) OVER (PARTITION BY term) AS DOUBLE))) + 1)
               AS w
      FROM tf CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, term, w,
             row_number() OVER (PARTITION BY doc_id
                 ORDER BY floor(w * 1e9 + 0.5) / 1e9 DESC, term) AS rk
      FROM wv
    )
    SELECT doc_id, CAST(rk AS INT) AS rk, term,
           floor(w * 1e6 + 0.5) / 1e6 AS weight
    FROM ranked WHERE rk <= {k}
    """


@query("q112_keyword_extract", oracle=_keyword_oracle_sql())
def q112(spark, sf_dir):
    """Per-document keyword EXTRACTION — the inverse direction of q36's
    query-driven search: the top-3 TF-IDF terms of every document, the
    tagging/labeling primitive of corpus curation (topic routing, index
    previews, weak supervision features). Reuses the cached posting-list
    index (rag/tfidf.build_index — same sklearn-parity smoothed-idf
    weighting the oracle replays), so the whole query is ONE doc-keyed
    window over the postings: rank on the 1e-9-gridded weight (ties —
    equal tf*idf — break on the term itself, a total order both engines
    share; the grid absorbs last-ulp ln() placement, the q36/q75
    precedent) and keep rk <= 3. Corpus-grain output, unsorted (driver
    canonicalizes; a coalesce(1) sort would serialize the window)."""
    from pyspark.sql.window import Window as W

    from eurostat_energy_etl_pipeline_spark.rag.tfidf import documents_index

    idx = documents_index(spark, sf_dir)
    rk_w = W.partitionBy("id").orderBy(
        (F.floor(F.col("w") * 1e9 + 0.5) / 1e9).desc(), "term"
    )
    return (
        idx.select("id", "term", "w", F.row_number().over(rk_w).alias("rk"))
        .where(F.col("rk") <= 3)
        .select(
            F.col("id").alias("doc_id"),
            F.col("rk").cast("int").alias("rk"),
            "term",
            (F.floor(F.col("w") * 1e6 + 0.5) / 1e6).alias("weight"),
        )
    )


_CMS_D = 4  # independent hash rows
_CMS_W = 256  # counters per row


def _cms_bucket_sql(expr: str, i: int) -> str:
    """DuckDB twin of the portable CMS bucket hash (60-bit md5 prefix,
    the portable_token_hash construction, salted per row, mod W)."""
    return (
        f"(('0x' || substr(md5({expr} || '#{i}'), 1, 15))::BIGINT % {_CMS_W})"
    )


def _cms_oracle_sql(k: int = 20) -> str:
    rows = ",\n      ".join(
        f"g{i} AS (SELECT {_cms_bucket_sql('tk', i)} AS b, count(*) AS c"
        " FROM tok GROUP BY 1)"
        for i in range(_CMS_D)
    )
    est = " , ".join(
        f"(SELECT c FROM g{i} WHERE b = {_cms_bucket_sql('t.tk', i)})"
        for i in range(_CMS_D)
    )
    return f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS tk
      FROM documents
    ),
    {rows},
    top AS (
      SELECT tk, count(*) AS true_c FROM tok GROUP BY tk
      ORDER BY true_c DESC, tk LIMIT {k}
    )
    SELECT t.tk AS token, CAST(t.true_c AS BIGINT) AS true_c,
           CAST(least({est}) AS BIGINT) AS cms_est,
           CAST(least({est}) - t.true_c AS BIGINT) AS overestimate
    FROM top t ORDER BY true_c DESC, token
    """


@query("q113_cms_audit", oracle=_cms_oracle_sql())
def q113(spark, sf_dir):
    """Count-min-sketch heavy-hitter AUDIT: a d=4 x w=256 CMS counter grid
    over the corpus token stream, read back for the true top-20 tokens
    next to their exact counts — certifying the sketch the way q79
    certifies the quantizer: `cms_est >= true_c` always (the CMS
    one-sided guarantee) and `overestimate` quantifies the eps*N error
    the width buys. The driver hash pins BOTH the exact counts and every
    estimate, so the portable hash grid (salted 60-bit md5-prefix
    buckets, the portable_token_hash construction) must agree cell-level
    across engines.

    Scale shape: the GRID is the operator — one map-side-combinable
    aggregate into d*w = 1024 cells regardless of corpus size (the
    sketch you keep per shard and MERGE by cell-wise +, giving streams
    and cross-shard unions O(1) state). The exact side exists to audit
    it and is what the sketch replaces at 100 TB — production reads the
    grid alone; here the exact top-20 doubles as the probe set so the
    certification is self-contained. Estimates probe the grid with a
    d*k = 80-row broadcast join, never a second corpus pass."""
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        whitespace_tokens,
    )


    def bucket(col, i):
        h = F.conv(
            F.substring(F.md5(F.concat(col, F.lit(f"#{i}"))), 1, 15), 16, 10
        ).cast("long")
        return F.pmod(h, F.lit(_CMS_W))

    tok = load_tables(spark, sf_dir).wide("documents").select(
        F.explode(
            F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
        ).alias("tk")
    )
    grid = (
        tok.select(
            F.posexplode(
                F.array(*[bucket(F.col("tk"), i) for i in range(_CMS_D)])
            ).alias("i", "b")
        )
        .groupBy("i", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        tok.groupBy("tk")
        .agg(F.count(F.lit(1)).alias("true_c"))
        .orderBy(F.desc("true_c"), "tk")
        .limit(20)
    )
    probes = top.select(
        "tk",
        "true_c",
        F.posexplode(
            F.array(*[bucket(F.col("tk"), i) for i in range(_CMS_D)])
        ).alias("i", "b"),
    )
    return (
        probes.join(F.broadcast(grid), ["i", "b"])
        .groupBy("tk", "true_c")
        .agg(F.min("c").alias("cms_est"))
        .select(
            F.col("tk").alias("token"),
            F.col("true_c").cast("long").alias("true_c"),
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("true_c")).cast("long").alias(
                "overestimate"
            ),
        )
        .transform(presentation_sort, F.desc("true_c"), "token")
    )


@query(
    "q115_pipeline",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             (least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) * 0.5
              + least(CASE WHEN trim(text) = '' THEN 0.0
                  ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> list_contains(['the','and','of','is','to','in','that','with',
                                           'a','an','for','on','as','are','it'], t))) AS DOUBLE)
                       / len(string_split_regex(trim(lower(text)), '\s+')) END * 4.0, 1.0) * 0.3
              + (1.0 - least(CASE WHEN len(text) > 0
                  THEN CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                       / len(text) ELSE 0.0 END * 5.0, 1.0)) * 0.2) AS quality
      FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.5),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
    ),
    sampled AS (
      SELECT * FROM deduped WHERE substr(md5(text), 1, 4) < '8000'
    )
    SELECT k.lang,
           CAST((SELECT count(*) FROM scored s WHERE s.lang = k.lang) AS BIGINT)
             AS docs_in,
           CAST(count(*) AS BIGINT) AS docs_quality,
           CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_deduped,
           CAST(sum(CASE WHEN sm.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_sampled,
           CAST(coalesce(sum(CASE WHEN sm.doc_id IS NOT NULL THEN
                CASE WHEN trim(k.text) = '' THEN 0
                     ELSE len(string_split_regex(trim(lower(k.text)), '\s+')) END
                ELSE 0 END), 0) AS BIGINT) AS tokens_final
    FROM kept k
    LEFT JOIN deduped d ON d.doc_id = k.doc_id
    LEFT JOIN sampled sm ON sm.doc_id = k.doc_id
    GROUP BY k.lang ORDER BY k.lang
    """,
)
def q115(spark, sf_dir):
    """The COMPOSED preprocessing pipeline as one declared query — the
    end-to-end artifact a data-curation run reports: quality filter
    (T.quality_score >= 0.5, the q61 scoring) -> exact near-dup collapse
    (fingerprint = md5 of case/whitespace-normalized text, q27's key;
    keep min doc_id per group) -> deterministic 50% content-hash sample
    (q47's predicate) -> per-language funnel accounting with final token
    counts. Every stage is an already-certified operator; this query
    certifies their COMPOSITION (stage ordering, survivor propagation,
    per-lang attribution) under one oracle hash.

    Scale shape: one scan computes score+fingerprint+sample flags;
    the dedup rank is one fingerprint-keyed window; the funnel
    accounting is one lang-keyed aggregate over flag columns — no stage
    re-reads the corpus, no driver materialization anywhere."""
    from pyspark.sql.window import Window as W

    from eurostat_energy_etl_pipeline_spark.operators.sampling import (
        sample_predicate,
    )
    from eurostat_energy_etl_pipeline_spark.operators.text import fingerprint

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    kept = (
        t.wide("documents")
        .select(
            "doc_id",
            "lang",
            "text",
            T.quality_score(F.col("text")).alias("quality"),
        )
        .where(F.col("quality") >= 0.5)
    )
    flagged = kept.select(
        "doc_id",
        "lang",
        T.token_count(F.col("text")).alias("n_tokens"),
        (
            F.row_number().over(
                W.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
            )
            == 1
        ).alias("is_canonical"),
        sample_predicate(F.col("text"), 0.5).alias("in_sample"),
    )
    surv = F.col("is_canonical") & F.col("in_sample")
    total_by_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_in")
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_quality"),
            F.sum(F.col("is_canonical").cast("long")).alias("docs_deduped"),
            F.sum(surv.cast("long")).alias("docs_sampled"),
            F.sum(F.when(surv, F.col("n_tokens")).otherwise(0)).alias(
                "tokens_final"
            ),
        )
        .join(F.broadcast(total_by_lang), "lang")
        .select(
            "lang",
            "docs_in",
            "docs_quality",
            "docs_deduped",
            "docs_sampled",
            "tokens_final",
        )
        .transform(presentation_sort, "lang")
    )


_KMV_K = 256


@query(
    "q116_kmv_audit",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\\s+'),
                 x -> x <> '')) AS tk
      FROM documents
    ),
    h AS (SELECT ('0x' || substr(md5(tk), 1, 15))::BIGINT AS hv FROM tok),
    kmv AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    agg AS (SELECT count(*) AS k_eff, max(hv) AS kth FROM kmv),
    n AS (SELECT count(*) AS n_exact FROM tok)
    SELECT CAST({_KMV_K} AS INT) AS k,
           CAST(n.n_exact AS BIGINT) AS n_exact,
           floor((CAST(a.k_eff - 1 AS DOUBLE)
                  / (CAST(a.kth AS DOUBLE) / 1152921504606846976.0))
                 * 1e4 + 0.5) / 1e4 AS kmv_est,
           floor(((CAST(a.k_eff - 1 AS DOUBLE)
                  / (CAST(a.kth AS DOUBLE) / 1152921504606846976.0))
                  / CAST(n.n_exact AS DOUBLE) - 1.0) * 1e6 + 0.5) / 1e6
             AS rel_err
    FROM agg a CROSS JOIN n
    """,
)
def q116(spark, sf_dir):
    """K-minimum-values distinct-count sketch AUDIT — the mergeable
    cardinality sketch alongside q113's count-min frequency sketch: the
    K=256 smallest portable hashes of the distinct token set give
    D_hat = (K-1)/U_(K) (Bar-Yossef et al.), audited against the exact
    distinct count in the same plan. Everything is deterministic — the
    hash is the portable 60-bit md5 prefix, U_(K) normalizes by 2^60 —
    so the driver hash pins the estimate AND its relative error
    cross-engine, not just "close enough".

    Scale shape: the sketch side is one TakeOrdered(K) over the hashed
    distinct-token stream — O(K) state per shard, merged by re-taking
    the K smallest of a union (the property that makes KMV a per-shard
    sidecar at 100 TB); the exact side is the audit the sketch replaces
    at scale, kept here so the certification is self-contained (the q113
    contract)."""
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        whitespace_tokens,
    )

    tok = (
        load_tables(spark, sf_dir).wide("documents")
        .select(
            F.explode(
                F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
            ).alias("tk")
        )
        .distinct()
    )
    h = tok.select(
        F.conv(F.substring(F.md5("tk"), 1, 15), 16, 10).cast("long").alias("hv")
    )
    kmv = h.orderBy("hv").limit(_KMV_K)
    agg = kmv.agg(
        F.count(F.lit(1)).alias("k_eff"), F.max("hv").alias("kth")
    )
    n = tok.agg(F.count(F.lit(1)).alias("n_exact"))
    est = (F.col("k_eff") - 1).cast("double") / (
        F.col("kth").cast("double") / F.lit(1152921504606846976.0)
    )
    return (
        agg.join(F.broadcast(n))
        .select(
            F.lit(_KMV_K).cast("int").alias("k"),
            F.col("n_exact").cast("long").alias("n_exact"),
            (F.floor(est * 1e4 + 0.5) / 1e4).alias("kmv_est"),
            (
                F.floor(
                    (est / F.col("n_exact").cast("double") - 1.0) * 1e6 + 0.5
                )
                / 1e6
            ).alias("rel_err"),
        )
    )


@query(
    "q117_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE doc_id % 10 <> 0
    ),
    new AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
      FROM documents WHERE doc_id % 7 <> 0
    ),
    j AS (
      SELECT coalesce(o.source, n.source) AS source,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT source, status, CAST(count(*) AS BIGINT) AS n
    FROM j GROUP BY source, status ORDER BY source, status
    """,
)
def q117(spark, sf_dir):
    """Snapshot DIFF / CDC audit — the table-to-table delta report every
    incremental pipeline publishes (what changed between yesterday's
    shard and today's): two corpus snapshots (held-out rows simulate
    adds/removes, a sentinel suffix simulates updates) full-outer-joined
    on the key, rows classified added/removed/changed/unchanged by
    content hash, counted per source. One id-keyed shuffle for the join
    (both sides hash to the same partitioning — at rest this is the
    bucketed-layout co-located join, `etl/bucketing.py`), content
    compared as md5 so the wide text column is pruned before the
    exchange (the q19/q23 discipline)."""
    t = load_tables(spark, sf_dir)
    old = (
        t.wide("documents")
        .where(F.col("doc_id") % 10 != 0)
        .select("doc_id", "source", F.md5("text").alias("h"))
    )
    new = (
        t.wide("documents")
        .where(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            "source",
            F.md5(
                F.when(
                    F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" v2"))
                ).otherwise(F.col("text"))
            ).alias("h"),
        )
    )
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer").select(
        F.coalesce(F.col("o.source"), F.col("n.source")).alias("source"),
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return (
        j.groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(presentation_sort, "source", "status")
    )


@query(
    "q119_quantile_normalize",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, source,
             (least(CAST(len(text) AS DOUBLE) / 500.0, 1.0) * 0.5
              + least(CASE WHEN trim(text) = '' THEN 0.0
                  ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> list_contains(['the','and','of','is','to','in','that','with',
                                           'a','an','for','on','as','are','it'], t))) AS DOUBLE)
                       / len(string_split_regex(trim(lower(text)), '\s+')) END * 4.0, 1.0) * 0.3
              + (1.0 - least(CASE WHEN len(text) > 0
                  THEN CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                       / len(text) ELSE 0.0 END * 5.0, 1.0)) * 0.2) AS q
      FROM documents
    ),
    g AS (SELECT q, row_number() OVER (ORDER BY q, doc_id) AS grank FROM scored),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM scored),
    loc AS (
      SELECT doc_id, source, q,
             row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS lr,
             count(*) OVER (PARTITION BY source) AS ls
      FROM scored
    ),
    tgt AS (
      SELECT l.source, l.q AS raw,
             CAST(CASE WHEN l.ls > 1
                  THEN floor((CAST(l.lr - 1 AS DOUBLE) / (l.ls - 1))
                             * (nn.n_all - 1) + 0.5) + 1
                  ELSE floor(0.5 * (nn.n_all - 1) + 0.5) + 1 END AS BIGINT)
               AS gidx
      FROM loc l CROSS JOIN nn
    ),
    norm AS (SELECT t.source, t.raw, g2.q AS nq
             FROM tgt t JOIN g g2 ON g2.grank = t.gidx)
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           floor(CAST(sum(CAST(floor(raw * 1e12 + 0.5) / 1e12
                 AS DECIMAL(30,12))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
             AS mean_raw,
           floor(CAST(sum(CAST(floor(nq * 1e12 + 0.5) / 1e12
                 AS DECIMAL(30,12))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
             AS mean_norm
    FROM norm GROUP BY source ORDER BY source
    """,
)
def q119(spark, sf_dir):
    """Cross-source QUANTILE NORMALIZATION of quality scores — the
    score-calibration step before mixing heterogeneous sources (a
    source's harsh or lenient scorer must not skew the mixture): each
    doc's source-local percent-rank is mapped onto the GLOBAL score
    quantile function, i.e. normalized_score = global score at index
    round(local_pr * (N-1)). Composes the distributed global ranking
    kernel (operators/ranking.global_row_number — range partitioning +
    offsets, never a single-partition window) with one source-keyed
    local window and an integer-keyed join against the ranked global
    table. Means are gridded-decimal exact sums (the q99/q108 recipe),
    so the oracle hash pins raw AND normalized per-source means."""
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_row_number,
    )

    # r15: the scored table feeds THREE consumers in the final plan (the
    # global-rank side, the source-local window side, and the n_all
    # broadcast) plus the ranking kernel's build-time boundary sample —
    # each replaying the regex quality score over the whole corpus. Pin
    # it (text-free: doc_id, source, q), guide §1.2/§5.
    scored = pin(
        load_tables(spark, sf_dir).wide("documents").select(
            "doc_id", "source", T.quality_score(F.col("text")).alias("q")
        )
    )
    g = global_row_number(scored, ["q", "doc_id"], out_col="grank").select(
        F.col("q").alias("gq"), "grank"
    )
    n_all = scored.agg(F.count(F.lit(1)).alias("n_all"))
    wsrc = Window.partitionBy("source").orderBy("q", "doc_id")
    loc = scored.select(
        "source",
        "q",
        F.row_number().over(wsrc).alias("lr"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("ls"),
    )
    tgt = loc.join(F.broadcast(n_all)).select(
        "source",
        F.col("q").alias("raw"),
        F.when(
            F.col("ls") > 1,
            F.floor(
                ((F.col("lr") - 1).cast("double") / (F.col("ls") - 1))
                * (F.col("n_all") - 1)
                + 0.5
            )
            + 1,
        )
        .otherwise(F.floor(0.5 * (F.col("n_all") - 1) + 0.5) + 1)
        .cast("long")
        .alias("gidx"),
    )
    norm = tgt.join(g, tgt["gidx"] == g["grank"])

    def _exact_mean(col):
        dec = (F.floor(F.col(col) * 1e12 + 0.5) / 1e12).cast("decimal(30,12)")
        return (
            F.floor(
                F.sum(dec).cast("double") / F.count(F.lit(1)) * 1e6 + 0.5
            )
            / 1e6
        )

    return (
        norm.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _exact_mean("raw").alias("mean_raw"),
            _exact_mean("gq").alias("mean_norm"),
        )
        .transform(presentation_sort, "source")
    )


@query(
    "q_stream_screen",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 2),
                       i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS toks
            FROM documents)
    ),
    batch AS (
      SELECT doc_id + 1000000 AS new_id, doc_id AS src FROM documents
      WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, doc_id FROM documents
      WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
    ),
    bex AS (SELECT b.new_id, b.src, unnest(n.shingles) AS g
            FROM batch b JOIN sh n ON n.doc_id = b.src),
    cex AS (SELECT doc_id AS corpus_id, unnest(shingles) AS g
            FROM sh WHERE doc_id % 5 <> 0),
    cand AS (SELECT DISTINCT bex.new_id, bex.src, cex.corpus_id
             FROM bex JOIN cex USING (g))
    SELECT new_id, corpus_id, jacc FROM (
      SELECT cd.new_id, cd.corpus_id,
             floor((CAST(len(list_intersect(n.shingles, c.shingles)) AS DOUBLE)
                   / (len(n.shingles) + len(c.shingles)
                      - len(list_intersect(n.shingles, c.shingles)))) * 1e6 + 0.5) / 1e6 AS jacc
      FROM cand cd
      JOIN sh n ON n.doc_id = cd.src
      JOIN sh c ON c.doc_id = cd.corpus_id
    ) WHERE jacc >= 0.5 ORDER BY new_id, corpus_id
    """,
)
def q_stream_screen(spark, sf_dir):
    """STREAMING ingest near-dup screening under the oracle gate — the
    firehose twin of q63, same batch, same at-rest index, same
    exhaustive ground truth: the incoming documents arrive as a
    Structured Streaming source and each micro-batch runs the FULL
    matcher (candidate join + exact-Jaccard verify) via foreachBatch
    (`streaming/events.screen_stream_per_batch` — documents arrive
    exactly once per batch, so per-batch results are complete and no
    cross-batch state exists). Matching hashes certify that micro-batch
    chunking changes nothing: the streamed drain emits exactly the
    batch matcher's pair set. The per-batch sink collects verified
    matches (pair-grain, O(matches)) and the final result is assembled
    as an Arrow local relation."""
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from eurostat_energy_etl_pipeline_spark.streaming.events import (
        screen_stream_per_batch,
    )

    idx = _neardup_index_path(spark, sf_dir)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    batch_stream = (
        stream.where(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            stream.where(
                (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 0)
            ).select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
        )
    )
    rows: list = []

    def sink(matches, batch_id):
        rows.extend(matches.collect())

    q = screen_stream_per_batch(batch_stream, spark, idx, sink, threshold=0.5)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pdf = pd.DataFrame(
        [(r["new_id"], r["corpus_id"], r["jacc"]) for r in rows],
        columns=["new_id", "corpus_id", "jacc"],
    )
    out_schema = StructType(
        [
            StructField("new_id", LongType()),
            StructField("corpus_id", LongType()),
            StructField("jacc", DoubleType()),
        ]
    )
    return spark.createDataFrame(
        pdf.astype({"new_id": "int64", "corpus_id": "int64", "jacc": "float64"}),
        schema=out_schema,
    )


@query(
    "q122_pmi_collocations",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS tk
      FROM documents
    ),
    bg AS (
      SELECT unnest(CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
               ELSE list_transform(generate_series(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1]) END) AS pair
      FROM tok
    ),
    uni AS (SELECT unnest(tk) AS w FROM tok),
    uc AS (SELECT w, count(*) AS cw FROM uni GROUP BY w),
    totals AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS n_tok,
                      (SELECT CAST(count(*) AS DOUBLE) FROM bg) AS n_big),
    pc AS (SELECT pair, count(*) AS n_pair FROM bg GROUP BY pair
           HAVING count(*) >= 5),
    scored AS (
      SELECT string_split(pc.pair, ' ')[1] AS w1,
             string_split(pc.pair, ' ')[2] AS w2,
             pc.n_pair,
             floor(ln((CAST(pc.n_pair AS DOUBLE) / t.n_big)
                      / ((CAST(a.cw AS DOUBLE) / t.n_tok)
                         * (CAST(b.cw AS DOUBLE) / t.n_tok)))
                   * 1e6 + 0.5) / 1e6 AS pmi
      FROM pc
      JOIN uc a ON a.w = string_split(pc.pair, ' ')[1]
      JOIN uc b ON b.w = string_split(pc.pair, ' ')[2]
      CROSS JOIN totals t
    )
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi
    FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def q122(spark, sf_dir):
    """Collocation mining — top-20 adjacent-token bigrams by pointwise
    mutual information with a min-count-5 support floor: the association
    statistic behind phrase detection / tokenizer-vocab candidates
    (word2vec-phrases-style) in a training-data pipeline.

    Scale shape: two token-keyed aggregates (bigram counts, unigram
    counts) plus two shuffle joins of the HAVING-filtered bigram table
    back to unigram counts on each word — the bigram side is already
    collapsed to (pair, count) grain before any join, so the joins move
    vocabulary-bounded rows, never token instances. Corpus totals ride a
    broadcast 1-row cross join (the q103 scalar convention) and the
    final top-20 is a TakeOrderedAndProject, never a global sort.

    Cross-engine exactness: counts are integers, PMI is one ln() over a
    ratio of exact integer ratios (the q36/q112 ln-parity contract),
    gridded at 1e-6 before the (pmi DESC, w1, w2) ranking."""
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        whitespace_tokens,
    )

    tok = load_tables(spark, sf_dir).wide("documents").select(
        F.filter(whitespace_tokens(F.col("text")), lambda x: x != "").alias(
            "tk"
        )
    )
    tok = pin(tok)  # shared by the unigram and bigram branches
    bigrams = tok.select(
        F.explode(
            F.when(F.size("tk") < 2, F.array().cast("array<string>")).otherwise(
                F.zip_with(
                    F.slice(F.col("tk"), 1, F.size("tk") - 1),
                    F.slice(F.col("tk"), 2, F.size("tk") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            )
        ).alias("pair")
    )
    unigrams = tok.select(F.explode("tk").alias("w"))
    uc = unigrams.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    totals = unigrams.agg(
        F.count(F.lit(1)).cast("double").alias("n_tok")
    ).crossJoin(bigrams.agg(F.count(F.lit(1)).cast("double").alias("n_big")))
    pc = (
        bigrams.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= 5)
        .select(
            F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("w2"),
            "n_pair",
        )
    )
    a = uc.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    b = uc.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    pmi = F.log(
        (F.col("n_pair").cast("double") / F.col("n_big"))
        / (
            (F.col("c1").cast("double") / F.col("n_tok"))
            * (F.col("c2").cast("double") / F.col("n_tok"))
        )
    )
    return (
        pc.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            (F.floor(pmi * 1e6 + 0.5) / 1e6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


@query(
    "q125_novelty_rate",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(generate_series(1, len(tk) - 2),
                         i -> array_to_string(tk[i:i+2], ' ')) END)) AS g
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS tk
            FROM documents)
    ),
    first_seen AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           floor(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS novelty
    FROM sh s JOIN first_seen f USING (g)
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
)
def q125(spark, sf_dir):
    """Per-document n-gram NOVELTY against everything ingested before it
    (ingestion order = doc_id): the fraction of a doc's distinct 3-token
    shingles whose first corpus occurrence is this doc. The curriculum /
    crawl-freshness signal — a feed of near-copies scores ~0, genuinely
    new material ~1 — and the streaming-ingest counterpart of q92's
    span-level duplication coverage.

    Scale shape: distinct shingles explode once; first-seen is one
    min-aggregate keyed on the shingle (shuffled as xxhash64 longs, the
    repo invariant — text never shuffles), joined back to the same
    hashed-gram stream it came from, so Catalyst reuses the exchange;
    the per-doc rollup is doc-keyed. No windows, no corpus-squared
    stage. (Collision note: a 64-bit gram-hash collision could merge two
    grams' first-seen; the same accepted risk as q92/q107.)"""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        token_shingles,
    )

    sh = load_tables(spark, sf_dir).wide("documents").select(
        "doc_id",
        F.explode(
            F.array_distinct(token_shingles(F.col("text"), 3))
        ).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("gh"))
    first_seen = sh.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(first_seen, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            novel.cast("long").alias("n_novel"),
            (
                F.floor(
                    novel.cast("double") / F.count(F.lit(1)) * 1e6 + 0.5
                )
                / 1e6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@query(
    "q128_kmv_set_ops",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id % 2 AS half,
             unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\\s+'),
                 x -> x <> '')) AS tk
      FROM documents
    ),
    h AS (SELECT half, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS hv
          FROM tok),
    ska AS (SELECT hv FROM h WHERE half = 0 ORDER BY hv LIMIT {_KMV_K}),
    skb AS (SELECT hv FROM h WHERE half = 1 ORDER BY hv LIMIT {_KMV_K}),
    u AS (SELECT DISTINCT hv FROM (SELECT hv FROM ska UNION ALL
                                   SELECT hv FROM skb)
          ORDER BY hv LIMIT {_KMV_K}),
    ua AS (SELECT count(*) AS k_eff, max(hv) AS kth FROM u),
    ki AS (SELECT count(*) AS k_int FROM u
           WHERE hv IN (SELECT hv FROM ska)
             AND hv IN (SELECT hv FROM skb)),
    ex AS (SELECT count(DISTINCT tk) AS n_union,
                  count(DISTINCT CASE WHEN cnt = 2 THEN tk END) AS n_inter
           FROM (SELECT tk, count(DISTINCT half) AS cnt
                 FROM tok GROUP BY tk)),
    est AS (SELECT CAST(ua.k_eff - 1 AS DOUBLE)
                   / (CAST(ua.kth AS DOUBLE) / 1152921504606846976.0)
                     AS d_union,
                   CAST(ki.k_int AS DOUBLE) / CAST(ua.k_eff AS DOUBLE)
                     AS rho
            FROM ua CROSS JOIN ki)
    SELECT CAST({_KMV_K} AS INT) AS k,
           CAST(ex.n_union AS BIGINT) AS n_union,
           CAST(ex.n_inter AS BIGINT) AS n_inter,
           floor(est.d_union * 1e4 + 0.5) / 1e4 AS union_est,
           floor(est.rho * est.d_union * 1e4 + 0.5) / 1e4 AS inter_est,
           floor((est.d_union / CAST(ex.n_union AS DOUBLE) - 1.0)
                 * 1e6 + 0.5) / 1e6 AS union_rel_err
    FROM ex CROSS JOIN est
    """,
)
def q128(spark, sf_dir):
    """KMV sketch SET OPERATIONS — what makes q116's cardinality sketch a
    distributed primitive rather than a single counter: two per-shard
    sketches (tokens of even-doc_id docs vs odd) merge into a union
    sketch by re-taking the K smallest of the combined values, and the
    intersection estimate is rho * D_union with rho = |sketch(A) cap
    sketch(B) cap union-sketch| / K (Beyer et al., SIGMOD'07). At 100 TB
    this is how cross-shard / cross-source vocabulary overlap is
    estimated without ever co-shuffling the token sets; the exact union
    and intersection ride along as the self-contained certification
    (the q113/q116 audit contract).

    Determinism: the portable 60-bit md5-prefix hash pins every sketch
    member cross-engine, so the driver hash certifies the estimates AND
    their error, not "close enough". Scale shape: two TakeOrdered(K)
    over hashed distinct-token streams, then O(K)-row broadcast joins;
    the exact side is one distinct-token aggregate."""
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        whitespace_tokens,
    )

    tok = (
        load_tables(spark, sf_dir).wide("documents")
        .select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(
                F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
            ).alias("tk"),
        )
        .distinct()
        .transform(pin)  # shared by both halves' KMV sketch builds
    )
    h = tok.select(
        "half",
        F.conv(F.substring(F.md5("tk"), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    ska = h.where(F.col("half") == 0).select("hv").orderBy("hv").limit(_KMV_K)
    skb = h.where(F.col("half") == 1).select("hv").orderBy("hv").limit(_KMV_K)
    u = (
        ska.unionByName(skb)
        .distinct()
        .orderBy("hv")
        .limit(_KMV_K)
        .transform(pin)  # probed three times (k_eff/kth, ka, kb)
    )
    ua = u.agg(F.count(F.lit(1)).alias("k_eff"), F.max("hv").alias("kth"))
    ki = (
        u.join(F.broadcast(ska), "hv", "left_semi")
        .join(F.broadcast(skb), "hv", "left_semi")
        .agg(F.count(F.lit(1)).alias("k_int"))
    )
    ex = (
        tok.groupBy("tk")
        .agg(F.count_distinct("half").alias("cnt"))
        .agg(
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)).alias("n_inter"),
        )
    )
    d_union = (F.col("k_eff") - 1).cast("double") / (
        F.col("kth").cast("double") / F.lit(1152921504606846976.0)
    )
    rho = F.col("k_int").cast("double") / F.col("k_eff").cast("double")
    return (
        ua.crossJoin(F.broadcast(ki))
        .crossJoin(F.broadcast(ex))
        .select(
            F.lit(_KMV_K).cast("int").alias("k"),
            F.col("n_union").cast("long").alias("n_union"),
            F.col("n_inter").cast("long").alias("n_inter"),
            (F.floor(d_union * 1e4 + 0.5) / 1e4).alias("union_est"),
            (F.floor(rho * d_union * 1e4 + 0.5) / 1e4).alias("inter_est"),
            (
                F.floor(
                    (d_union / F.col("n_union").cast("double") - 1.0) * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("union_rel_err"),
        )
    )


@query(
    "q130_ks_drift",
    oracle="""
    WITH c AS (
      SELECT n_chars,
             sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
      FROM documents WHERE source IN ('src0', 'src1')
      GROUP BY n_chars
    ),
    t AS (SELECT CAST(sum(ca) AS DOUBLE) AS na,
                 CAST(sum(cb) AS DOUBLE) AS nb FROM c),
    e AS (
      SELECT n_chars,
             floor(abs(CAST(sum(ca) OVER w AS DOUBLE) / t.na
                       - CAST(sum(cb) OVER w AS DOUBLE) / t.nb)
                   * 1e9 + 0.5) / 1e9 AS d
      FROM c CROSS JOIN t
      WINDOW w AS (ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
           (SELECT max(d) FROM e) AS ks_stat,
           (SELECT min(n_chars) FROM e
            WHERE d = (SELECT max(d) FROM e)) AS at_value
    FROM t
    """,
)
def q130(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic between the length
    distributions of two sources — the distribution-shape complement of
    q103's binned PSI (PSI needs baseline deciles; KS is bin-free and
    catches shifts PSI's 10 buckets smear): max |ECDF_a - ECDF_b| with
    the location where the gap peaks.

    Scale shape: the corpus first collapses to VALUE grain (one
    n_chars-keyed aggregate of per-source counts — the value domain is
    bounded by document length, independent of corpus size), so the
    unpartitioned cumulative window runs over domain-bounded rows, never
    corpus rows (the q121 dimension-bounded-window contract). ECDF
    differences grid to 1e-9 before max/argmax so the peak location is
    engine-stable."""
    docs = load_tables(spark, sf_dir)["documents"]
    c = (
        docs.where(F.col("source").isin("src0", "src1"))
        .groupBy("n_chars")
        .agg(
            F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias(
                "ca"
            ),
            F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias(
                "cb"
            ),
        )
    )
    t = c.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
    )
    w = Window.partitionBy().orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = c.crossJoin(F.broadcast(t)).select(
        "n_chars",
        "na",
        "nb",
        (
            F.floor(
                F.abs(
                    F.sum("ca").over(w).cast("double") / F.col("na")
                    - F.sum("cb").over(w).cast("double") / F.col("nb")
                )
                * 1e9
                + 0.5
            )
            / 1e9
        ).alias("d"),
    )
    peak = e.agg(F.max("d").alias("ks_stat"))
    return (
        e.join(F.broadcast(peak), F.col("d") == F.col("ks_stat"))
        .agg(
            F.max(F.col("na")).cast("long").alias("n_a"),
            F.max(F.col("nb")).cast("long").alias("n_b"),
            F.max("ks_stat").alias("ks_stat"),
            F.min("n_chars").alias("at_value"),
        )
        .select("n_a", "n_b", "ks_stat", "at_value")
    )


_HLL_M = 64  # registers (top-6 bits of the portable 60-bit hash)


@query(
    "q136_hll_audit",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\\s+'),
                 x -> x <> '')) AS tk
      FROM documents
    ),
    h AS (SELECT ('0x' || substr(md5(tk), 1, 15))::BIGINT AS hv FROM tok),
    r AS (
      SELECT CAST(hv // 18014398509481984 AS INT) AS reg,
             CASE WHEN hv % 18014398509481984 = 0 THEN 55
                  ELSE CAST(instr(lpad(bin(hv % 18014398509481984), 54, '0'),
                                  '1') AS INT) END AS rho
      FROM h
    ),
    m AS (SELECT reg, max(rho) AS mr FROM r GROUP BY reg),
    spine AS (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS reg),
    regs AS (
      SELECT spine.reg, coalesce(m.mr, 0) AS mr
      FROM spine LEFT JOIN m ON spine.reg = m.reg
    ),
    agg AS (
      SELECT CAST(sum(CAST(floor(pow(2.0, -mr) * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS DOUBLE) AS z,
             CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS v
      FROM regs
    ),
    est AS (
      SELECT CASE
               WHEN (0.7213 / (1.0 + 1.079 / {_HLL_M}.0))
                    * {_HLL_M}.0 * {_HLL_M}.0 / z <= 2.5 * {_HLL_M}.0
                    AND v > 0
               THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v)
               ELSE (0.7213 / (1.0 + 1.079 / {_HLL_M}.0))
                    * {_HLL_M}.0 * {_HLL_M}.0 / z
             END AS e
      FROM agg
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_exact FROM tok)
    SELECT CAST({_HLL_M} AS INT) AS m,
           CAST(n.n_exact AS BIGINT) AS n_exact,
           floor(est.e * 1e4 + 0.5) / 1e4 AS hll_est,
           floor((est.e / n.n_exact - 1.0) * 1e6 + 0.5) / 1e6 AS rel_err
    FROM est CROSS JOIN n
    """,
)
def q136(spark, sf_dir):
    """HyperLogLog cardinality AUDIT — the third sketch in the family
    (q113 count-min frequencies, q116/q128 KMV order statistics): 64
    stochastic-averaging registers hold the max leading-zero rank of the
    portable 60-bit hash (top-6 bits pick the register, the remaining 54
    carry the rank), harmonic-mean estimate with the standard
    small-range linear-counting correction (Flajolet et al. 2007).
    O(m)=64 longs of state per shard, merged by register-wise max — the
    cheapest mergeable distinct counter there is, audited against the
    exact count in the same plan (the q116 contract).

    Determinism: register and rank derive from exact integer bit
    arithmetic on the md5-prefix hash (rank via instr over the
    zero-padded binary string — both engines render bin() of a positive
    long identically); 2^-M terms are exactly representable doubles,
    gridded and decimal-folded so the 64-term harmonic sum is
    order-independent; the estimate is the same IEEE expression tree on
    both engines."""
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        whitespace_tokens,
    )

    m = _HLL_M
    tok = (
        load_tables(spark, sf_dir).wide("documents")
        .select(
            F.explode(
                F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
            ).alias("tk")
        )
        .distinct()
        .transform(pin)  # shared by the sketch and the exact side
    )
    h = tok.select(
        F.conv(F.substring(F.md5("tk"), 1, 15), 16, 10)
        .cast("long")
        .alias("hv")
    )
    rem = F.col("hv") % F.lit(18014398509481984)  # 2^54
    r = h.select(
        # integer `div`, NOT `/`: double division of a near-2^60 long
        # rounds past 2^53 and could misplace a register boundary (the
        # oracle's `//` is exact int64 arithmetic).
        F.expr("hv div 18014398509481984").cast("int").alias("reg"),
        F.when(rem == 0, F.lit(55))
        .otherwise(
            F.instr(F.lpad(F.bin(rem), 54, "0"), "1").cast("int")
        )
        .alias("rho"),
    )
    mx = r.groupBy("reg").agg(F.max("rho").alias("mr"))
    spine = spark.range(m).select(F.col("id").cast("int").alias("reg"))
    regs = spine.join(F.broadcast(mx), "reg", "left").select(
        F.coalesce("mr", F.lit(0)).alias("mr")
    )
    alpha = 0.7213 / (1.0 + 1.079 / float(m))
    agg = regs.agg(
        F.sum(
            (
                F.floor(F.pow(F.lit(2.0), -F.col("mr")) * 1e12 + 0.5) / 1e12
            ).cast("decimal(30,12)")
        )
        .cast("double")
        .alias("z"),
        F.sum(F.when(F.col("mr") == 0, 1).otherwise(0))
        .cast("double")
        .alias("v"),
    )
    raw = F.lit(alpha) * F.lit(float(m)) * F.lit(float(m)) / F.col("z")
    e = F.when(
        (raw <= 2.5 * float(m)) & (F.col("v") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v")),
    ).otherwise(raw)
    n = tok.agg(F.count(F.lit(1)).cast("double").alias("n_exact"))
    return (
        agg.crossJoin(F.broadcast(n))
        .select(
            F.lit(m).cast("int").alias("m"),
            F.col("n_exact").cast("long").alias("n_exact"),
            (F.floor(e * 1e4 + 0.5) / 1e4).alias("hll_est"),
            (
                F.floor((e / F.col("n_exact") - 1.0) * 1e6 + 0.5) / 1e6
            ).alias("rel_err"),
        )
    )


@query(
    "q139_table_checksum",
    oracle="""
    WITH rh AS (
      SELECT source,
             ('0x' || substr(md5(
                 (CASE WHEN doc_id IS NULL THEN '~N'
                       ELSE CAST(length(CAST(doc_id AS STRING)) AS STRING)
                            || ':' || CAST(doc_id AS STRING) END)
                 || '|' ||
                 (CASE WHEN text IS NULL THEN '~N'
                       ELSE CAST(length(text) AS STRING) || ':' || text END)
                 || '|' ||
                 (CASE WHEN lang IS NULL THEN '~N'
                       ELSE CAST(length(lang) AS STRING) || ':' || lang END)
                 || '|' ||
                 (CASE WHEN source IS NULL THEN '~N'
                       ELSE CAST(length(source) AS STRING) || ':' || source END)
                 || '|' ||
                 (CASE WHEN n_chars IS NULL THEN '~N'
                       ELSE CAST(length(CAST(n_chars AS STRING)) AS STRING)
                            || ':' || CAST(n_chars AS STRING) END)
             ), 1, 15))::BIGINT AS h
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(h AS DECIMAL(38,0))) AS STRING) AS checksum
    FROM rh GROUP BY source ORDER BY source
    """,
)
def q139(spark, sf_dir):
    """Content CHECKSUM per source — the replica-reconciliation primitive
    of a 100 TB migration: an order-independent table fingerprint
    (sum of per-row canonical-rendering hashes) that two sides compute
    INDEPENDENTLY and compare as one tiny row set, instead of shipping
    or sorting either copy. A single flipped byte, dropped row, or
    duplicated row moves the per-source checksum; the row count
    disambiguates drops from flips.

    Scale shape: one map-side-combinable aggregate over the scan — the
    hash never shuffles row content, only (source, partial-sum) state.
    Exactness: the portable 60-bit md5-prefix hash over an INJECTIVE
    '|'-delimited rendering of int/string columns only (doubles are
    excluded from the canonical form by design — their cross-engine
    rendering is the one thing that can't be pinned): every field is
    length-prefixed and NULL renders as an explicit '~N' sentinel in
    BOTH engines, so a '|' inside text cannot realign fields and a NULL
    cannot silently drop one (the r9 ADVICE aliasing classes); sums
    fold as DECIMAL(38,0) and are compared as strings so no engine's
    integer width matters."""

    def field(c):
        # injective field rendering (r9 ADVICE): NULL gets an explicit
        # sentinel (concat_ws would silently SKIP it, aliasing
        # (a,NULL,b) with (a,b,NULL)); non-null values are
        # length-prefixed so a '|' inside text can never realign field
        # boundaries. '~N' cannot collide with a real field — real
        # fields always render as <digits>:<value>.
        st = c.cast("string")
        return F.when(st.isNull(), F.lit("~N")).otherwise(
            F.concat(F.length(st).cast("string"), F.lit(":"), st)
        )

    canon = F.concat_ws(
        "|",
        field(F.col("doc_id")),
        field(F.col("text")),
        field(F.col("lang")),
        field(F.col("source")),
        field(F.col("n_chars")),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    return (
        load_tables(spark, sf_dir).wide("documents")
        .select("source", h.alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)"))
            .cast("string")
            .alias("checksum"),
        )
        .transform(presentation_sort, "source")
    )


@query(
    "q141_substring_dedup",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(len(tk) - 7 AS BIGINT) AS n_grams, pos,
             substr(md5(array_to_string(tk[pos:pos+7], ' ')), 1, 15) AS gh
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - 7)) AS pos
            FROM tok WHERE len(tk) >= 8)
    ),
    d AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
    dp AS (SELECT g.doc_id, g.n_grams, g.pos FROM g JOIN d USING (gh)),
    brk AS (
      SELECT doc_id, n_grams, pos,
             CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS brk
      FROM dp
    ),
    isl AS (
      SELECT doc_id, n_grams, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
      FROM brk
    ),
    spans AS (
      SELECT doc_id, n_grams, island, count(*) AS npos,
             max(pos) + 7 - min(pos) + 1 AS covered
      FROM isl GROUP BY doc_id, n_grams, island
    )
    SELECT doc_id, n_grams,
           CAST(sum(npos) AS BIGINT) AS dup_grams,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(covered) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id, n_grams ORDER BY doc_id
    """,
)
def q141(spark, sf_dir):
    """Exact SUBSTRING-level dedup (the suffix-array family, Lee et al.
    2022; `operators/substrings.duplicated_span_profile`) — the one
    dedup grain the document-level family (q19/q25/q26/q97/q107/q114/
    q132) cannot see: a verbatim k-token span pasted into two otherwise-
    distinct documents. Per document: repeated-gram positions, maximal
    covered spans, and the token count a span-level dedup pass would
    remove. k=8 whitespace tokens on these short synthetic fixtures
    (Lee et al. use 50 BPE tokens; the operator takes k).

    Scale shape (never a driver suffix array): grams are hashed
    scan-side to 60-bit md5 prefixes, so the one content-keyed exchange
    carries 15-byte keys; the repeated-hash aggregate and the
    position-stream join consume the SAME exchange (ReusedExchange);
    run detection is a per-document gaps-and-islands window — integer
    arithmetic end to end, replayed exactly by the DuckDB oracle.
    Corpus-grain output ships unsorted (the q33 contract); the oracle's
    ORDER BY is presentation only."""
    from eurostat_energy_etl_pipeline_spark.operators.substrings import (
        duplicated_span_profile,
    )

    t = load_tables(spark, sf_dir)
    return duplicated_span_profile(t.wide("documents"), k=8, min_count=2)


@query(
    "q144_winnowing",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, len(tk) - 3 AS n_grams, pos,
             substr(md5(array_to_string(tk[pos:pos+3], ' ')), 1, 15)
               || ':' || lpad(CAST(pos AS STRING), 10, '0') AS key
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - 3)) AS pos
            FROM tok WHERE len(tk) >= 7)
    ),
    m AS (
      SELECT doc_id, n_grams, pos,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS sel_key
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id, substr(sel_key, 1, 15) AS gh,
             CAST(substr(sel_key, 17, 10) AS BIGINT) AS pos
      FROM m WHERE pos <= n_grams - 3
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_fps, count(DISTINCT gh) AS n_hashes
      FROM sel GROUP BY doc_id
    ),
    selg AS (SELECT DISTINCT doc_id, gh FROM sel),
    sh AS (
      SELECT doc_id, gh, count(*) OVER (PARTITION BY gh) AS nd FROM selg
    ),
    per_shared AS (
      SELECT doc_id, sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS shared_fps
      FROM sh GROUP BY doc_id
    )
    SELECT p.doc_id, CAST(p.n_fps AS BIGINT) AS n_fps,
           CAST(p.n_hashes AS BIGINT) AS n_hashes,
           CAST(s.shared_fps AS BIGINT) AS shared_fps,
           floor(CAST(s.shared_fps AS DOUBLE) / CAST(p.n_hashes AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS shared_frac
    FROM per_doc p JOIN per_shared s ON p.doc_id = s.doc_id
    ORDER BY p.doc_id
    """,
)
def q144(spark, sf_dir):
    """WINNOWING fingerprint sketches (Schleimer/Wilkerson/Aiken 2003 —
    MOSS; `operators/substrings.winnowing_fingerprints`): per document,
    the count of selected (hash, position) fingerprints, distinct
    hashes, and how many of those hashes are also selected by ANOTHER
    document — the plagiarism/mirror-detection signal. Winnowing
    guarantees any shared span of >= k + w - 1 tokens (here 7) yields a
    common selected fingerprint while shipping only ~2/(w+1) of the
    gram stream — the bandwidth contract that makes cross-corpus
    fingerprint joins feasible at 100 TB (q141 finds the spans
    exhaustively; this is the sketched tier above it).

    Scale shape: selection is per-document window work (no exchange of
    text or grams); only the selected 15-byte hashes cross the one
    gh-keyed exchange for the sharing count. Fractions are ratios of
    exact integers, gridded at 1e-6."""
    from eurostat_energy_etl_pipeline_spark.operators.substrings import (
        winnowing_fingerprints,
    )

    t = load_tables(spark, sf_dir)
    # the selection subtree (explode + window + distinct) feeds BOTH the
    # per-doc rollup and the sharing count: pin it (plans.pin lifetime
    # contract) so it executes once per measurement, not twice
    sel = pin(winnowing_fingerprints(t.wide("documents"), k=4, w=4))
    per_doc = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fps"),
        F.countDistinct("gh").cast("long").alias("n_hashes"),
    )
    selg = sel.select("doc_id", "gh").distinct()
    nd = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    per_shared = (
        selg.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("nd") >= 2).cast("int")).cast("long").alias(
                "shared_fps"
            )
        )
    )
    return (
        per_doc.join(per_shared, "doc_id")
        .select(
            "doc_id",
            "n_fps",
            "n_hashes",
            "shared_fps",
            (
                F.floor(
                    F.col("shared_fps").cast("double")
                    / F.col("n_hashes").cast("double")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("shared_frac"),
        )
    )


@query(
    "q145_repetition_filters",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS tk
      FROM documents
    ),
    base AS (
      SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens
      FROM tok WHERE len(tk) >= 5
    ),
    g2 AS (
      SELECT doc_id, n_tokens,
             array_to_string(tk[pos:pos+1], ' ') AS gram
      FROM (SELECT doc_id, tk, n_tokens,
                   unnest(generate_series(1, len(tk) - 1)) AS pos
            FROM base)
    ),
    t2 AS (
      SELECT doc_id,
             floor(CAST(cnt AS DOUBLE) * 2 / CAST(n_tokens AS DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS top2_frac
      FROM (SELECT doc_id, n_tokens, count(*) AS cnt,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY count(*) DESC, gram ASC) AS rk
            FROM g2 GROUP BY doc_id, n_tokens, gram) WHERE rk = 1
    ),
    g3 AS (
      SELECT doc_id, n_tokens,
             array_to_string(tk[pos:pos+2], ' ') AS gram
      FROM (SELECT doc_id, tk, n_tokens,
                   unnest(generate_series(1, len(tk) - 2)) AS pos
            FROM base WHERE len(tk) >= 3)
    ),
    t3 AS (
      SELECT doc_id,
             floor(CAST(cnt AS DOUBLE) * 3 / CAST(n_tokens AS DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS top3_frac
      FROM (SELECT doc_id, n_tokens, count(*) AS cnt,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY count(*) DESC, gram ASC) AS rk
            FROM g3 GROUP BY doc_id, n_tokens, gram) WHERE rk = 1
    ),
    g5 AS (
      SELECT doc_id, n_tokens, pos,
             array_to_string(tk[pos:pos+4], ' ') AS gram
      FROM (SELECT doc_id, tk, n_tokens,
                   unnest(generate_series(1, len(tk) - 4)) AS pos
            FROM base)
    ),
    dp AS (
      SELECT doc_id, n_tokens, pos,
             count(*) OVER (PARTITION BY doc_id, gram) AS cnt
      FROM g5
    ),
    brk AS (
      SELECT doc_id, n_tokens, pos,
             CASE WHEN max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR pos > max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS brk
      FROM dp WHERE cnt >= 2
    ),
    isl AS (
      SELECT doc_id, n_tokens, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
      FROM brk
    ),
    cov AS (
      SELECT doc_id,
             floor(CAST(sum(covered) AS DOUBLE) / CAST(max(n_tokens) AS DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS dup5_frac
      FROM (SELECT doc_id, n_tokens, island,
                   max(pos) + 4 - min(pos) + 1 AS covered
            FROM isl GROUP BY doc_id, n_tokens, island)
      GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           coalesce(t2.top2_frac, 0.0) AS top2_frac,
           coalesce(t3.top3_frac, 0.0) AS top3_frac,
           coalesce(cov.dup5_frac, 0.0) AS dup5_frac,
           CAST(CASE WHEN coalesce(t2.top2_frac, 0.0) > 0.20
                       OR coalesce(t3.top3_frac, 0.0) > 0.18
                       OR coalesce(cov.dup5_frac, 0.0) > 0.30
                     THEN 1 ELSE 0 END AS INT) AS flagged
    FROM (SELECT doc_id, n_tokens FROM base) b
    LEFT JOIN t2 ON b.doc_id = t2.doc_id
    LEFT JOIN t3 ON b.doc_id = t3.doc_id
    LEFT JOIN cov ON b.doc_id = cov.doc_id
    ORDER BY b.doc_id
    """,
)
def q145(spark, sf_dir):
    """WITHIN-document repetition quality rules — the Gopher /
    MassiveText repetition filters (Rae et al. 2021; token-level
    variant): per document, the token share of its most frequent 2-gram
    and 3-gram and the share covered by internally-repeated 5-grams,
    plus the composite go/no-go flag. The boilerplate/keyword-stuffing
    screen every LLM curation pipeline runs; q141 finds spans repeated
    ACROSS documents, this flags documents repeating THEMSELVES.
    `operators/substrings.repetition_profile` — see its docstring for
    the scale shape ((doc, gram)-keyed, no corpus-global key)."""
    from eurostat_energy_etl_pipeline_spark.operators.substrings import (
        repetition_profile,
    )

    return repetition_profile(load_tables(spark, sf_dir).wide("documents"))


@query(
    "q146_mutual_information",
    oracle="""
    WITH cells AS (
      SELECT lang, source, count(*) AS c
      FROM documents GROUP BY lang, source
    ),
    ml AS (SELECT lang, sum(c) AS cl FROM cells GROUP BY lang),
    ms AS (SELECT source, sum(c) AS cs FROM cells GROUP BY source),
    n AS (SELECT sum(c) AS n FROM cells),
    hj AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(c AS DOUBLE) / n.n) * ln(CAST(c AS DOUBLE) / n.n)
               * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12))) AS DOUBLE) AS s
      FROM cells CROSS JOIN n
    ),
    hl AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(cl AS DOUBLE) / n.n) * ln(CAST(cl AS DOUBLE) / n.n)
               * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12))) AS DOUBLE) AS s
      FROM ml CROSS JOIN n
    ),
    hs AS (
      SELECT CAST(sum(CAST(floor(
               (CAST(cs AS DOUBLE) / n.n) * ln(CAST(cs AS DOUBLE) / n.n)
               * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12))) AS DOUBLE) AS s
      FROM ms CROSS JOIN n
    )
    SELECT CAST(n.n AS BIGINT) AS n_docs,
           floor(-hl.s * 1e6 + 0.5) / 1e6 AS h_lang,
           floor(-hs.s * 1e6 + 0.5) / 1e6 AS h_source,
           floor(-hj.s * 1e6 + 0.5) / 1e6 AS h_joint,
           floor((-hl.s - hs.s + hj.s) * 1e6 + 0.5) / 1e6 AS mi,
           floor((-hj.s + hs.s) * 1e6 + 0.5) / 1e6 AS h_lang_given_source
    FROM n CROSS JOIN hj CROSS JOIN hl CROSS JOIN hs
    """,
)
def q146(spark, sf_dir):
    """MUTUAL INFORMATION and conditional entropy between two metadata
    fields (lang x source) — the information-theoretic twin of q140's
    chi-square: MI ~ 0 certifies the fields are independent (a corpus
    whose languages are balanced across sources); high H(lang|source)
    says source does NOT determine language. The leakage/correlation
    audit run before stratifying a training mix on either field.

    Scale shape: the fact stream collapses to (lang, source) cells in
    one map-side-combined aggregate; marginals and entropies are
    arithmetic over the domain-bounded cell table (|langs| x |sources|).
    Exactness: each p*ln(p) term is computed with an identical op order
    in both engines, gridded to 1e-12, and summed as DECIMAL
    (order-independent — the q126 recipe); MI and H(lang|source) are
    then derived from the three entropy sums with single IEEE ops."""
    dec = "decimal(30,12)"
    cells = (
        load_tables(spark, sf_dir).wide("documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ml = cells.groupBy("lang").agg(F.sum("c").alias("cl"))
    ms = cells.groupBy("source").agg(F.sum("c").alias("cs"))
    n = cells.agg(F.sum("c").alias("n"))

    def plogp_sum(df, cnt_col):
        p = F.col(cnt_col).cast("double") / F.col("n")
        term = F.floor(p * F.log(p) * 1e12 + 0.5) / 1e12
        return df.crossJoin(F.broadcast(n)).agg(
            F.sum(term.cast(dec)).cast("double").alias("s")
        )

    hj = plogp_sum(cells, "c").select(F.col("s").alias("sj"))
    hl = plogp_sum(ml, "cl").select(F.col("s").alias("sl"))
    hs = plogp_sum(ms, "cs").select(F.col("s").alias("ss"))
    g6 = lambda c: F.floor(c * 1e6 + 0.5) / 1e6
    return (
        n.crossJoin(F.broadcast(hj))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hs))
        .select(
            F.col("n").cast("long").alias("n_docs"),
            g6(-F.col("sl")).alias("h_lang"),
            g6(-F.col("ss")).alias("h_source"),
            g6(-F.col("sj")).alias("h_joint"),
            g6(-F.col("sl") - F.col("ss") + F.col("sj")).alias("mi"),
            g6(-F.col("sj") + F.col("ss")).alias("h_lang_given_source"),
        )
    )


@query(
    "q148_rank_fusion",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             CASE WHEN len(text) > 0
               THEN CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                    / len(text) ELSE 0.0 END AS pr,
             CASE WHEN trim(text) = '' THEN 0.0
               ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    t -> list_contains(['the','and','of','is','to','in','that','with',
                                        'a','an','for','on','as','are','it'], t))) AS DOUBLE)
                    / len(string_split_regex(trim(lower(text)), '\\s+')) END AS sr,
             CAST(len(text) AS DOUBLE) AS n,
             n_chars
      FROM documents
    ),
    s AS (
      SELECT doc_id, n_chars,
             CAST(floor((least(n / 500.0, 1.0) * 0.5
                         + least(sr * 4.0, 1.0) * 0.3
                         + (1.0 - least(pr * 5.0, 1.0)) * 0.2) * 1e12 + 0.5)
                  AS BIGINT) AS qg
      FROM q
    ),
    r AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY qg DESC, doc_id) AS rank_quality,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank_length
      FROM s
    )
    SELECT doc_id, CAST(rank_quality AS BIGINT) AS rank_quality,
           CAST(rank_length AS BIGINT) AS rank_length,
           floor((1.0 / (60 + rank_quality) + 1.0 / (60 + rank_length))
                 * 1e9 + 0.5) / 1e9 AS rrf
    FROM r
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def q148(spark, sf_dir):
    """Reciprocal-rank FUSION (Cormack et al. 2009, k=60) of two
    independent document rankings — the standard way a retrieval stack
    combines heterogeneous scorers (BM25 + embedding + freshness)
    without calibrating their score scales: rrf = sum 1/(k + rank_i).
    Here the two deterministic signals are the q30 quality score and
    document length; top-20 fused.

    Scale shape: each global ranking uses the distributed ranking kernel
    (`operators/ranking.global_row_number`: range partitioning +
    per-partition offsets — never a SinglePartition window); the fusion
    is a doc-keyed join of two (doc_id, rank) columns and the top-20 is
    TakeOrderedAndProject. Exactness: scores are 1e-12-gridded integers
    BEFORE ranking (a raw-double sort key would hang rank identity on
    the last ulp), and the two reciprocal terms are added in a fixed
    order then 1e-9-gridded."""
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_row_number,
    )
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        quality_score,
    )

    docs = load_tables(spark, sf_dir).wide("documents")
    # r15: `s` feeds BOTH ranking sides in the final plan (plus the two
    # kernels' build-time boundary samples), each replaying the regex
    # quality score over the whole corpus. Pin it (text-free 4-column
    # doc grain), guide §1.2/§5.
    s = pin(
        docs.select(
            "doc_id",
            "n_chars",
            (-F.floor(quality_score(F.col("text")) * 1e12 + 0.5))
            .cast("long")
            .alias("neg_qg"),
            (-F.col("n_chars")).cast("long").alias("neg_len"),
        )
    )
    ra = global_row_number(s, ["neg_qg", "doc_id"], "rank_quality").select(
        "doc_id", "rank_quality"
    )
    rb = global_row_number(
        s.select("doc_id", "neg_len"), ["neg_len", "doc_id"], "rank_length"
    ).select("doc_id", "rank_length")
    fused = ra.join(rb, "doc_id").select(
        "doc_id",
        F.col("rank_quality").cast("long").alias("rank_quality"),
        F.col("rank_length").cast("long").alias("rank_length"),
        (
            F.floor(
                (
                    1.0 / (F.lit(60) + F.col("rank_quality"))
                    + 1.0 / (F.lit(60) + F.col("rank_length"))
                )
                * 1e9
                + 0.5
            )
            / 1e9
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(20)


_CUT_CTES = r"""
    WITH tok AS (
      SELECT doc_id, source, text, list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               x -> x <> '') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, pos,
             substr(md5(array_to_string(tk[pos:pos+7], ' ')), 1, 15) AS gh
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - 7)) AS pos
            FROM tok WHERE len(tk) >= 8)
    ),
    occ AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gh) AS cnt,
             row_number() OVER (PARTITION BY gh
                                ORDER BY doc_id, pos) AS rk
      FROM g
    ),
    cut AS (SELECT doc_id, pos FROM occ WHERE cnt >= 2 AND rk >= 2),
    brk AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS brk
      FROM cut
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
      FROM brk
    ),
    ivs AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
            FROM isl GROUP BY doc_id, island),
    nsp AS (SELECT doc_id, count(*) AS spans_cut,
                   sum(e - s + 1) AS cut_toks
            FROM ivs GROUP BY doc_id)
"""


@query(
    "q156_substring_cut",
    oracle=_CUT_CTES
    + r""",
    toks AS (
      SELECT doc_id, i, tk[i] AS tok
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
            FROM tok WHERE len(tk) >= 1)
    ),
    keptt AS (
      SELECT x.doc_id, x.i, x.tok
      FROM toks x LEFT JOIN ivs v
        ON x.doc_id = v.doc_id AND x.i BETWEEN v.s AND v.e
      WHERE v.doc_id IS NULL
    ),
    rew AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS rtext
      FROM keptt GROUP BY doc_id
    )
    SELECT t.doc_id, t.source,
           CAST(len(t.tk) AS BIGINT) AS tokens_before,
           CAST(len(t.tk) - coalesce(n.cut_toks, 0) AS BIGINT)
             AS tokens_after,
           CAST(coalesce(n.spans_cut, 0) AS BIGINT) AS spans_cut,
           md5(CASE WHEN n.doc_id IS NULL THEN t.text
                    ELSE coalesce(r.rtext, '') END) AS text_md5
    FROM tok t
    LEFT JOIN nsp n ON t.doc_id = n.doc_id
    LEFT JOIN rew r ON t.doc_id = r.doc_id
    ORDER BY t.doc_id
    """,
)
def q156(spark, sf_dir):
    """Substring-dedup APPLY stage (Lee et al. 2022 "ExactSubstr"
    removal; `operators/substrings.cut_duplicated_spans`) — the step
    q141's profile only measures: every non-first occurrence of a
    repeated k-token span is CUT from the corpus (keep-first-occurrence
    under the total (doc_id, pos) order) and the REWRITTEN text ships
    downstream. Per document: before/after token counts, merged spans
    cut, and the md5 of the rewritten text — the oracle recomputes the
    rewrite string-exactly in DuckDB (the q50 chunk-hash discipline), so
    the certified artifact is the corpus a training run would consume,
    not a statistic about it. k=8 whitespace tokens on these fixtures
    (Lee et al. use 50 BPE tokens; the operator takes k).

    Scale shape: corpus frequency AND first-occurrence rank are two
    window functions over ONE gh-hashed exchange of 15-byte gram hashes
    (text never crosses a content-keyed shuffle); cut positions reduce
    per document into O(#spans) merged intervals; the rewrite is one
    doc_id equi-join + a scan-side higher-order token filter (no UDF).
    Hashing the rewritten text keeps the certified result narrow — the
    full text column is the operator's output, not the audit's."""
    from eurostat_energy_etl_pipeline_spark.operators.substrings import (
        cut_duplicated_spans,
    )

    t = load_tables(spark, sf_dir)
    out = cut_duplicated_spans(t.wide("documents"), k=8, min_count=2)
    return out.select(
        "doc_id",
        "source",
        "tokens_before",
        "tokens_after",
        "spans_cut",
        F.md5("text").alias("text_md5"),
    ).transform(presentation_sort, "doc_id")


@query(
    "q157_substring_cut_audit",
    oracle=_CUT_CTES
    + r"""
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN n.doc_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS docs_touched,
           CAST(sum(len(t.tk)) AS BIGINT) AS tokens_before,
           CAST(sum(len(t.tk) - coalesce(n.cut_toks, 0)) AS BIGINT)
             AS tokens_after,
           CAST(sum(coalesce(n.spans_cut, 0)) AS BIGINT) AS spans_cut,
           CASE WHEN sum(len(t.tk)) = 0 THEN 0.0
                ELSE floor((1.0 - CAST(sum(len(t.tk)
                                - coalesce(n.cut_toks, 0)) AS DOUBLE)
                           / CAST(sum(len(t.tk)) AS DOUBLE)) * 1e6 + 0.5)
                     / 1e6 END AS pct_tokens_removed
    FROM tok t LEFT JOIN nsp n ON t.doc_id = n.doc_id
    GROUP BY t.source ORDER BY t.source
    """,
)
def q157(spark, sf_dir):
    """Substring-cut AUDIT — the q110 before/after accounting at SPAN
    grain: per source, documents touched, token counts before/after the
    q156 span-cut pass, spans removed, and the fraction of tokens the
    pass deleted (Lee et al. report exactly this corpus fraction). The
    oracle certifies the audit against a closed form (disjoint merged
    intervals ⇒ tokens_after = tokens_before − Σ(interval lengths)),
    independently cross-checking q156's filter-based counts.

    Scale shape: identical to q156 up to doc grain, then one
    source-keyed aggregate — the audit never touches text at all (the
    interval arithmetic is exact without materializing the rewrite)."""
    from eurostat_energy_etl_pipeline_spark.operators.substrings import (
        cut_duplicated_spans,
    )

    t = load_tables(spark, sf_dir)
    cut = cut_duplicated_spans(t.wide("documents"), k=8, min_count=2)
    kept_tokens = F.sum("tokens_after")
    return (
        cut.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum((F.col("spans_cut") > 0).cast("long")).alias(
                "docs_touched"
            ),
            F.sum("tokens_before").alias("tokens_before"),
            kept_tokens.alias("tokens_after"),
            F.sum("spans_cut").alias("spans_cut"),
            F.when(F.sum("tokens_before") == 0, F.lit(0.0))
            .otherwise(
                portable_round(
                    1.0
                    - kept_tokens.cast("double")
                    / F.sum("tokens_before").cast("double"),
                    6,
                )
            )
            .alias("pct_tokens_removed"),
        )
        .transform(presentation_sort, "source")
    )


@query(
    "q170_phrase_search",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) AS pos
      FROM tok
    ),
    m AS (
      SELECT a.doc_id, count(*) AS n_occurrences
      FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.term = 'hash' AND b.term = 'join'
      GROUP BY a.doc_id
    )
    SELECT doc_id, CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM m ORDER BY n_occurrences DESC, doc_id LIMIT 20
    """,
)
def q170(spark, sf_dir):
    """POSITIONAL PHRASE SEARCH — exact phrase matching ("hash join")
    via positional postings, the operator BM25 (q75/T2) cannot express:
    bag-of-words ranks docs containing both terms anywhere; a phrase
    query needs (term, doc, position) postings intersected with a
    +1 position offset (Lucene's PhraseQuery / the sloppy-phrase
    primitive at slop=0). Tokenization is the library-standard
    whitespace split on trim(lower(text)) (q21/q96 contract).

    Scale shape: the posexplode is scan-side (generate + filter inside
    whole-stage codegen — each side keeps ONLY its query term, ~1/|vocab|
    of postings, before anything shuffles); the intersection is one
    equi-join on (doc_id, pos+1) between two slim (doc, pos) streams,
    then a doc-grain count and TakeOrderedAndProject for the top 20. At
    rest this is served by the q164 posting index extended with a
    positions column; the query-time shape is identical."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
    )
    p = toks.select(
        "doc_id", F.posexplode("toks").alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    a = p.where(F.col("term") == "hash").select("doc_id", "pos")
    b = p.where(F.col("term") == "join").select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    m = (
        a.join(
            b,
            (a["doc_id"] == b["doc_b"]) & (b["pos_b"] == a["pos"] + 1),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    return m.orderBy(F.desc("n_occurrences"), "doc_id").limit(20)


@query(
    "q171_text_normalize",
    oracle=r"""
    WITH n AS (
      SELECT doc_id, source, text,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS ntext
      FROM documents
    )
    SELECT doc_id, source,
           CAST(len(text) AS BIGINT) AS chars_before,
           CAST(len(ntext) AS BIGINT) AS chars_after,
           CASE WHEN ntext = text THEN 0 ELSE 1 END AS changed,
           md5(ntext) AS text_md5
    FROM n ORDER BY doc_id
    """,
)
def q171(spark, sf_dir):
    """TEXT NORMALIZATION apply stage — the first rewrite every training
    corpus goes through before dedup/tokenization: collapse runs of
    whitespace to single spaces and trim the ends, with per-doc
    before/after character accounting and a changed flag. The rewritten
    text itself is certified STRING-EXACTLY cross-engine via md5 (the
    q156 span-cut recipe), not just by its length — so the oracle proves
    the normalized corpus, byte for byte.

    Regex portability contract: '\\s+' must mean the same character
    class in Java regex (Spark) and RE2 (DuckDB) — both include
    [ \\t\\n\\x0b\\f\\r], which covers this corpus; the operator
    deliberately avoids classes the engines define differently
    (POSIX [[:space:]], unicode properties). Scale shape: pure
    scan-side string expressions, zero shuffle, whole-stage codegen;
    the md5 certificate is 16 bytes/doc regardless of text size."""
    d = load_tables(spark, sf_dir)["documents"]
    ntext = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    n = d.select("doc_id", "source", "text", ntext.alias("ntext"))
    return n.select(
        "doc_id",
        "source",
        F.length("text").cast("long").alias("chars_before"),
        F.length("ntext").cast("long").alias("chars_after"),
        F.when(F.col("ntext") == F.col("text"), 0).otherwise(1).alias(
            "changed"
        ),
        F.md5(F.col("ntext")).alias("text_md5"),
    )


@query(
    "q183_budget_selection",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source, tk,
             CAST(len(tk) AS BIGINT) AS n_tok,
             CAST(floor(len(list_distinct(tk)) * 1.0 / len(tk) * 1e6)
                  AS BIGINT) AS score_i
      FROM (SELECT doc_id, source,
                   list_filter(string_split_regex(trim(lower(text)), '\s+'),
                               x -> x <> '') AS tk
            FROM documents)
      WHERE len(tk) > 0
    ),
    b AS (SELECT CAST(floor(0.4 * sum(n_tok)) AS BIGINT) AS budget FROM t),
    o AS (
      SELECT doc_id, source, n_tok, score_i,
             sum(n_tok) OVER (ORDER BY 1000000 - score_i, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs_total,
           CAST(sum(CASE WHEN cum <= b.budget THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_selected,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN cum <= b.budget THEN n_tok ELSE 0 END)
                AS BIGINT) AS tokens_selected,
           floor(sum(CASE WHEN cum <= b.budget THEN n_tok ELSE 0 END) * 1.0
                 / sum(n_tok) * 1e6 + 0.5) / 1e6 AS pct_tokens_selected
    FROM o CROSS JOIN b
    GROUP BY source, b.budget ORDER BY source
    """,
)
def q183(spark, sf_dir):
    """TOKEN-BUDGET DATA SELECTION — the "best docs until the budget is
    spent" primitive every curriculum / data-mixing pipeline runs before
    training: docs rank globally by a quality score (here lexical
    diversity, distinct-token ratio — integer-gridded so the order is
    exact), and the selection keeps the prefix of that order whose
    CUMULATIVE token count fits a 40%-of-corpus budget; per-source
    accounting shows what the greedy selection kept (the fractional-
    knapsack shape of quality-aware subsampling, complementing q73's
    proportional mixture draw).

    Scale shape: the global running total comes from the DISTRIBUTED
    prefix-sum kernel (`operators/ranking.global_prefix_sum` —
    deterministic buckets + O(#buckets) offsets, never a
    single-partition window; the q135 contract), over an integral token
    count so the cumsum is exact; the budget scalar derives from one
    aggregate and broadcasts. All outputs are integer-exact but the one
    gridded percentage."""
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_prefix_sum,
    )
    from eurostat_energy_etl_pipeline_spark.operators.text import (
        whitespace_tokens,
    )

    tk = F.filter(whitespace_tokens(F.col("text")), lambda x: x != "")
    t = (
        load_tables(spark, sf_dir).wide("documents")
        .select("doc_id", "source", tk.alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            "source",
            F.size("tk").cast("long").alias("n_tok"),
            F.floor(
                F.size(F.array_distinct("tk"))
                * 1.0
                / F.size("tk")
                * 1e6
            )
            .cast("long")
            .alias("score_i"),
        )
        .withColumn("sort_key", F.lit(1000000) - F.col("score_i"))
        # three consumers (bucket boundary sample + offset collect inside
        # the kernel, the final cumsum pass, the budget aggregate) — pin
        # so the tokenizing scan runs once (r10 lifetime contract)
        .transform(pin)
    )
    cum = global_prefix_sum(
        t, ["sort_key", "doc_id"], "n_tok", out_col="cum"
    )
    b = t.agg(
        F.floor(0.4 * F.sum("n_tok")).cast("long").alias("budget")
    )
    sel = F.col("cum") <= F.col("budget")
    return (
        cum.crossJoin(F.broadcast(b))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_total"),
            F.sum(sel.cast("int")).cast("long").alias("docs_selected"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(F.when(sel, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_selected"),
            (
                F.floor(
                    F.sum(F.when(sel, F.col("n_tok")).otherwise(0))
                    * 1.0
                    / F.sum("n_tok")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("pct_tokens_selected"),
        )
        .transform(presentation_sort, "source")
    )


@query(
    "q187_leakage_safe_split",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3
                  THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 2),
                       i -> array_to_string(toks[i:i+2], ' ')) END)
               AS shingles
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
      WHERE (CASE WHEN len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles)) > 0
             THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / (len(a.shingles) + len(b.shingles)
                     - len(list_intersect(a.shingles, b.shingles)))
             ELSE 0.0 END) >= 0.005
    ),
    flags AS (
      SELECT d.doc_id,
             CASE WHEN p.id_b IS NOT NULL THEN 0 ELSE 1 END AS is_start
      FROM documents d LEFT JOIN pairs p ON p.id_b = d.doc_id
    ),
    grp AS (
      SELECT doc_id, sum(is_start) OVER (ORDER BY doc_id) AS g FROM flags
    ),
    cl AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS cluster_id
      FROM grp
    ),
    asg AS (
      SELECT c.doc_id, c.cluster_id,
             CASE WHEN substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(c.cluster_id AS VARCHAR)), 1, 8)
                       < 'e6666665' THEN 'val'
                  ELSE 'test' END AS gsplit,
             CASE WHEN substr(md5(d.text), 1, 8) < 'cccccccc' THEN 'train'
                  WHEN substr(md5(d.text), 1, 8) < 'e6666665' THEN 'val'
                  ELSE 'test' END AS nsplit
      FROM cl c JOIN documents d ON c.doc_id = d.doc_id
    ),
    ec AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(coalesce(sum(CASE WHEN a.gsplit <> b.gsplit
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS cross_split_edges,
             CAST(coalesce(sum(CASE WHEN a.nsplit <> b.nsplit
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS cross_split_edges_naive
      FROM pairs p JOIN asg a ON p.id_a = a.doc_id
                   JOIN asg b ON p.id_b = b.doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN gsplit = 'train' THEN 1 ELSE 0 END)
                AS BIGINT) AS train_docs,
           CAST(sum(CASE WHEN gsplit = 'val' THEN 1 ELSE 0 END)
                AS BIGINT) AS val_docs,
           CAST(sum(CASE WHEN gsplit = 'test' THEN 1 ELSE 0 END)
                AS BIGINT) AS test_docs,
           ec.n_edges, ec.cross_split_edges, ec.cross_split_edges_naive
    FROM asg CROSS JOIN ec
    GROUP BY ec.n_edges, ec.cross_split_edges, ec.cross_split_edges_naive
    """,
)
def q187(spark, sf_dir):
    """LEAKAGE-SAFE (cluster-aware) train/val/test SPLIT — the unit of
    assignment is the NEAR-DUP CLUSTER, not the document, so near
    duplicates can never straddle splits (the classic eval-leakage bug
    in naive per-doc hash splits: a test doc's near-copy sits in train
    and the eval is contaminated). Composition: q45's near-dup edges
    (consecutive-id Jaccard >= 0.005 on this corpus; LSH pairs at
    scale) -> connected components (star contraction) -> q70's nested
    md5 hex-interval 80/10/10 assignment applied to the CLUSTER id ->
    every member inherits its cluster's split.

    Output: ONE certificate row — doc/cluster/split counts plus the
    leakage readout: cross_split_edges under the grouped assignment
    (must be 0 BY CONSTRUCTION — both endpoints share a cluster, hence
    a split) vs cross_split_edges_naive under the per-doc q70 hash
    split (> 0 whenever edges exist with ~1-2(.8^2+.1^2+.1^2)=0.34
    expected crossing rate — the quantified leakage this operator
    prevents). The oracle recomputes clusters via the q45
    gaps-and-islands closed form and both assignments independently.

    Scale shape: edges at consecutive-id grain (LSH band output at
    scale), components shuffle 8-byte node keys, split assignment is a
    scan-side md5 interval compare, and every certificate aggregate is
    map-side combinable over doc/edge grain."""
    from eurostat_energy_etl_pipeline_spark.operators.sampling import (
        hash_split,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    edges = pin(
        ngram_jaccard_pairs(docs, k=3)
        .where(F.col("jacc") >= 0.005)
        .select("id_a", "id_b")
    )
    # one slim (doc_id, nsplit) projection serves BOTH the CC node list
    # and the naive-baseline assignment — without it each was its own
    # documents scan (3 total; now 2: this + the shingle pass)
    naive = pin(
        hash_split(docs, "text", out_col="nsplit").select(
            "doc_id", "nsplit"
        )
    )
    cc = connected_components(
        edges, "id_a", "id_b", nodes=naive.select("doc_id")
    )
    grouped = hash_split(
        cc.select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        ),
        "cluster_id",
        out_col="gsplit",
    )
    asg = pin(grouped.join(naive, "doc_id"))
    a = asg.select(
        F.col("doc_id").alias("id_a"),
        F.col("gsplit").alias("gsplit_a"),
        F.col("nsplit").alias("nsplit_a"),
    )
    b = asg.select(
        F.col("doc_id").alias("id_b"),
        F.col("gsplit").alias("gsplit_b"),
        F.col("nsplit").alias("nsplit_b"),
    )
    ec = (
        edges.join(a, "id_a")
        .join(b, "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.coalesce(
                F.sum((F.col("gsplit_a") != F.col("gsplit_b")).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("cross_split_edges"),
            F.coalesce(
                F.sum((F.col("nsplit_a") != F.col("nsplit_b")).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("cross_split_edges_naive"),
        )
    )
    cert = asg.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.sum((F.col("gsplit") == "train").cast("long"))
        .cast("long")
        .alias("train_docs"),
        F.sum((F.col("gsplit") == "val").cast("long"))
        .cast("long")
        .alias("val_docs"),
        F.sum((F.col("gsplit") == "test").cast("long"))
        .cast("long")
        .alias("test_docs"),
    )
    return cert.crossJoin(F.broadcast(ec))


@query(
    "q188_decontamination_profile",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS tk
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, substr(md5(g), 1, 16) AS g
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(tk) < 4
                    THEN [array_to_string(tk, ' ')]
                    ELSE list_transform(generate_series(1, len(tk) - 3),
                         i -> array_to_string(tk[i:i+3], ' ')) END) AS g
        FROM toks)
    ),
    bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
      FROM grams WHERE doc_id % 97 <> 0 GROUP BY doc_id
    ),
    m AS (
      SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_matched
      FROM grams c JOIN bg ON c.g = bg.g
      WHERE c.doc_id % 97 <> 0
      GROUP BY c.doc_id
    )
    SELECT t.doc_id, t.n_shingles, m.n_matched,
           floor(CAST(m.n_matched AS DOUBLE) / t.n_shingles * 1e6 + 0.5)
             / 1e6 AS contaminated_frac
    FROM tot t JOIN m ON t.doc_id = m.doc_id
    ORDER BY t.doc_id
    """,
)
def q188(spark, sf_dir):
    """GRADED benchmark decontamination (GPT-3 appendix-C shape) — the
    quantitative generalization of q52's binary any-shingle flag: per
    training document, the FRACTION of its distinct 4-token shingles
    that appear anywhere in the held-out benchmark split (doc_id % 97
    == 0). Real decontamination pipelines act on this fraction (drop
    above a high bar, review the tail), not on a single-shingle hit —
    a 1000-shingle doc sharing one idiom is noise, a doc with 40% of
    its shingles in the benchmark is a leak. Output: every training
    doc with at least one match, with exact integer shingle counts and
    the 1e6-gridded fraction.

    Scale shape: the q52 contract throughout — both sides reduce to
    distinct 16-hex-char gram keys scan-side (array_distinct BEFORE the
    explode makes per-doc distinctness free); the benchmark key set
    broadcasts as a LEFT-join tag, so ONE doc-keyed aggregate computes
    total (count(*)) AND matched (count of tags) distinct shingles —
    two documents scans total (corpus grams + bench grams), one
    aggregate, and text never crosses any exchange."""
    t = load_tables(spark, sf_dir)
    docs = t.wide("documents")
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        token_shingles,
    )

    gram_key = F.substring(F.md5(F.col("_g")), 1, 16)
    shingles = F.array_distinct(token_shingles(F.col("text"), 4))
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    bg = (
        bench.select(F.explode(shingles).alias("_g"))
        .select(gram_key.alias("g"))
        .distinct()
    )
    cg = corpus.select(
        "doc_id", F.explode(shingles).alias("_g")
    ).select("doc_id", gram_key.alias("g"))
    # one doc-keyed aggregate computes BOTH counts: tag each distinct
    # gram with a broadcast LEFT join against the benchmark key set,
    # then count(*) = the doc's distinct-shingle total and count(_m) =
    # its matched count — no separate totals scan, no second aggregate
    # (was: semi-join + groupBy PLUS a third documents scan for sizes)
    return (
        cg.join(F.broadcast(bg.withColumn("_m", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count("_m").cast("long").alias("n_matched"),
        )
        .where(F.col("n_matched") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_matched",
            (
                F.floor(
                    F.col("n_matched").cast("double")
                    / F.col("n_shingles")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("contaminated_frac"),
        )
        .transform(presentation_sort, "doc_id")
    )


_Q194_SQL = r"""
    WITH sh AS MATERIALIZED (
      SELECT DISTINCT source, substr(md5(g), 1, 16) AS g
      FROM (
        SELECT source,
               unnest(CASE WHEN len(tk) < 3
                 THEN [array_to_string(tk, ' ')]
                 ELSE list_transform(generate_series(1, len(tk) - 2),
                      i -> array_to_string(tk[i:i+2], ' ')) END) AS g
        FROM (SELECT source,
                     list_filter(string_split_regex(trim(lower(text)),
                                                    '\s+'),
                                 x -> x <> '') AS tk
              FROM documents)
      )
    ),
    tot AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.g = b.g AND a.source <> b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           CAST(t.n AS BIGINT) AS a_shingles,
           CAST(shared AS BIGINT) AS shared_shingles,
           floor(shared * 1.0 / t.n * 1e6) / 1e6 AS containment
    FROM pairs JOIN tot t ON t.source = src_a
    ORDER BY src_a, src_b
"""


@query("q194_source_containment", oracle=_Q194_SQL)
def q194(spark, sf_dir):
    """CROSS-SOURCE CONTAINMENT MATRIX — the provenance analysis a
    multi-crawl corpus runs before mixing sources (who syndicates whom,
    which crawls are supersets): for every ORDERED source pair (a, b),
    the fraction of a's distinct 3-token shingles that also appear
    anywhere in b (directional containment C(a->b) = |A ∩ B| / |A|, the
    asymmetric cousin of the per-document Jaccard the dedup family
    uses). Broder's containment sketch made exact: source grain is tiny
    (~dozens of crawls) so no MinHash approximation is needed even at
    100 TB — only the shingle->source-set reduction is big, and it is
    ONE map-side-combinable aggregate on the 16-hex shingle key.

    Shape at scale: shingles hash scan-side (text never shuffles);
    (source, shingle) pairs dedupe into the one content-keyed exchange;
    a `collect_set(source)` per shingle is bounded by |sources| (never
    by corpus size); the ordered-pair expansion is |sources|^2-bounded
    per shingle and combiner-collapsed before the final (a, b)
    aggregate; per-source totals broadcast into the ratio. The DuckDB
    oracle replays the same matrix with an exact shingle self-join —
    harder than the operator (it materializes |A ∩ B| pair rows), which
    is the point: exact ground truth certifying the set-algebra path.
    """
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        doc_shingle_keys,
    )

    # pinned: the deduped (source, shingle) table feeds BOTH the
    # per-source totals and the shingle->source-set aggregate — unpinned,
    # each branch re-scans and re-shingles the corpus (two full passes)
    sh = pin(
        doc_shingle_keys(
            load_tables(spark, sf_dir).wide("documents"), k=3, id_col="source"
        ).distinct()
    )
    tot = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ss = sh.groupBy("_g").agg(F.collect_set("source").alias("ss"))
    pairs = (
        ss.where(F.size("ss") >= 2)
        .select(F.explode("ss").alias("src_a"), "ss")
        .select("src_a", F.explode("ss").alias("src_b"))
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(
            F.broadcast(tot.withColumnRenamed("source", "src_a")), "src_a"
        )
        .select(
            "src_a",
            "src_b",
            F.col("n").cast("long").alias("a_shingles"),
            F.col("shared").cast("long").alias("shared_shingles"),
            (
                F.floor(F.col("shared") * 1.0 / F.col("n") * 1e6) / 1e6
            ).alias("containment"),
        )
        .transform(presentation_sort, "src_a", "src_b")
    )


@query("q198_incremental_containment", oracle=_Q194_SQL)
def q198(spark, sf_dir):
    """INCREMENTAL cross-source containment (VERDICT r13 item 4) — the
    delta twin of q194. A new crawl should not recompute the whole
    provenance matrix: the pipeline keeps three at-rest artifacts —
    the deduped (source, shingle) membership table, the pairwise
    intersection counts, and the per-source totals — and folds a new
    batch in O(new shingles). Split: docs with doc_id <= 90% of max
    are yesterday's corpus; the top 10% are today's crawl.

    The fold is exact set algebra (disjoint-union decomposition of
    |A' ∩ B'| with A' = A ∪ newA, newA ∩ A = ∅):
        |A' ∩ B'| = |A ∩ B| + |newA ∩ B| + |A ∩ newB| + |newA ∩ newB|
    so the delta terms are: truly-new memberships (the batch's
    (source, shingle) pairs anti-joined against the stored table), one
    g-keyed join of new memberships against the stored table (covering
    both |newA ∩ B| and |A ∩ newB| via the mirror), and the new-new
    term from the batch's own per-shingle source sets. Totals fold
    additively. Output == q194's full-corpus matrix, and the oracle IS
    q194's scratch-recompute SQL verbatim — the hash match is the
    merge-equals-recompute differential for the provenance artifact.

    Scale shape: shingles hash scan-side (text never shuffles); the
    anti-join and the delta join carry 16-hex keys; per-shingle source
    sets stay |sources|-bounded; the pair tables are |sources|^2 rows
    (broadcastable); only the batch is re-shingled — yesterday's
    corpus is never re-scanned."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        doc_shingle_keys,
    )
    from eurostat_energy_etl_pipeline_spark.plans import at_rest

    wide = pin(
        load_tables(spark, sf_dir).wide("documents").select("doc_id", "source", "text")
    )
    max_id = wide.agg(F.max("doc_id")).first()[0]
    cut = ((max_id or 0) * 9) // 10
    old = wide.where(F.col("doc_id") <= F.lit(cut))
    delta = wide.where(F.col("doc_id") > F.lit(cut))

    # ---- yesterday's at-rest artifacts ----
    sh_old = at_rest(doc_shingle_keys(old, k=3, id_col="source").distinct())
    tot_old = at_rest(
        sh_old.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    )
    pair_old = at_rest(
        sh_old.groupBy("_g")
        .agg(F.collect_set("source").alias("ss"))
        .where(F.size("ss") >= 2)
        .select(F.explode("ss").alias("src_a"), "ss")
        .select("src_a", F.explode("ss").alias("src_b"))
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )

    # ---- today's fold: O(new shingles) ----
    new_g = at_rest(
        doc_shingle_keys(delta, k=3, id_col="source")
        .distinct()
        .join(sh_old, ["source", "_g"], "left_anti")
    )
    t_no = (
        new_g.select(F.col("source").alias("src_a"), "_g")
        .join(sh_old.select(F.col("source").alias("src_b"), "_g"), "_g")
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    t_nn = (
        new_g.groupBy("_g")
        .agg(F.collect_set("source").alias("ss"))
        .where(F.size("ss") >= 2)
        .select(F.explode("ss").alias("src_a"), "ss")
        .select("src_a", F.explode("ss").alias("src_b"))
        .where(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    pair_new = at_rest(  # tomorrow's pair artifact
        pair_old.unionByName(t_no)
        .unionByName(
            t_no.select(
                F.col("src_b").alias("src_a"),
                F.col("src_a").alias("src_b"),
                "shared",
            )
        )
        .unionByName(t_nn)
        .groupBy("src_a", "src_b")
        .agg(F.sum("shared").alias("shared"))
    )
    tot_new = at_rest(  # tomorrow's totals artifact
        tot_old.unionByName(
            new_g.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n"))
    )
    return (
        pair_new.join(
            F.broadcast(tot_new.withColumnRenamed("source", "src_a")),
            "src_a",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n").cast("long").alias("a_shingles"),
            F.col("shared").cast("long").alias("shared_shingles"),
            (
                F.floor(F.col("shared") * 1.0 / F.col("n") * 1e6) / 1e6
            ).alias("containment"),
        )
        .transform(presentation_sort, "src_a", "src_b")
    )
