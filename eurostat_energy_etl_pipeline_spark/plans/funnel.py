"""End-to-end training-data CURATION FUNNEL (VERDICT r11 item 2): the
composition every 100 TB pipeline actually runs, chained as ONE lazy
plan over `documents` with per-stage row/token/char accounting —
normalize -> exact dedup -> substring span-cut -> benchmark
decontamination -> quality filter -> token-budget selection -> sequence
packing. Every stage reuses the library's individually-oracle-checked
kernel; what THIS query certifies is the composition itself (column
contracts between operators, survivor cascades, token accounting drift
— the bug class single-operator oracles cannot catch).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import load_tables
from eurostat_energy_etl_pipeline_spark.functions import presentation_sort
from eurostat_energy_etl_pipeline_spark.operators import text as T
from eurostat_energy_etl_pipeline_spark.operators.dedup import (
    contaminated_ids,
    doc_shingle_keys,
    shingle_keys,
)
from eurostat_energy_etl_pipeline_spark.operators.packing import pack_sequences
from eurostat_energy_etl_pipeline_spark.operators.ranking import global_prefix_sum
from eurostat_energy_etl_pipeline_spark.operators.substrings import (
    cut_duplicated_spans,
    gram_occurrences,
    rewrite_cut_positions,
    span_gram_index,
    span_occurrence_index,
)
from eurostat_energy_etl_pipeline_spark.plans import at_rest as _at_rest
from eurostat_energy_etl_pipeline_spark.plans import pin, query

# Funnel knobs — fixed constants so the oracle is a closed form.
# quality gate: integer-gridded composite score (q53's closed form) at
# 1e9 so the threshold compare is integer-exact cross-engine
QUALITY_MIN_I = 350_000_000  # quality_score >= 0.35
BUDGET_FRAC = 0.6            # keep best docs until 60% of tokens spent
PACK_BUDGET = 2048           # q49's training-bin size
CUT_K = 8                    # q156's span-cut gram width
DECON_K = 4                  # q52's decontamination shingle width

# Multiply-referenced CTEs carry AS MATERIALIZED: the 8 stage rows (and
# q192's base-run chain) each re-reference the shared cascade, and
# DuckDB inlines un-hinted CTEs per reference — measured 13.5 s -> 0.8 s
# for q192 at sf0.001, identical results. A fair baseline should not
# recompute the funnel once per accounting row any more than Spark does
# (the Spark plans pin/checkpoint exactly these intermediates).
_FUNNEL_SQL = r"""
    WITH base AS (
      SELECT doc_id, lang, source,
             CAST(len(text) AS BIGINT) AS chars_raw,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS ntext,
             doc_id % 97 = 0 AS is_bench
      FROM documents
    ),
    basen AS MATERIALIZED (
      SELECT *, CAST(len(ntext) AS BIGINT) AS chars_norm,
             list_filter(string_split_regex(trim(lower(ntext)), '\s+'),
                         x -> x <> '') AS tk
      FROM base
    ),
    train AS MATERIALIZED (SELECT * FROM basen WHERE NOT is_bench),
    dd AS MATERIALIZED (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY ntext
                                     ORDER BY doc_id) AS rn
        FROM train) WHERE rn = 1
    ),
    g AS (
      SELECT doc_id, pos,
             substr(md5(array_to_string(tk[pos:pos+7], ' ')), 1, 15) AS gh
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - 7)) AS pos
            FROM dd WHERE len(tk) >= 8)
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
    ivs AS MATERIALIZED (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
            FROM isl GROUP BY doc_id, island),
    nsp AS (SELECT doc_id, count(*) AS spans_cut,
                   sum(e - s + 1) AS cut_toks
            FROM ivs GROUP BY doc_id),
    toksx AS (
      SELECT doc_id, i, tk[i] AS tok
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
            FROM dd WHERE len(tk) >= 1)
    ),
    keptt AS (
      SELECT x.doc_id, x.i, x.tok
      FROM toksx x LEFT JOIN ivs v
        ON x.doc_id = v.doc_id AND x.i BETWEEN v.s AND v.e
      WHERE v.doc_id IS NULL
    ),
    rew AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS rtext
      FROM keptt GROUP BY doc_id
    ),
    cutc AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.source,
             CASE WHEN n.doc_id IS NULL THEN d.ntext
                  ELSE coalesce(r.rtext, '') END AS ctext,
             CAST(len(d.tk) - coalesce(n.cut_toks, 0) AS BIGINT) AS n_tok
      FROM dd d
      LEFT JOIN nsp n ON d.doc_id = n.doc_id
      LEFT JOIN rew r ON d.doc_id = r.doc_id
    ),
    cutn AS MATERIALIZED (
      SELECT *, CAST(len(ctext) AS BIGINT) AS chars_cut,
             list_filter(string_split_regex(trim(lower(ctext)), '\s+'),
                         x -> x <> '') AS ctk
      FROM cutc
    ),
    bgr AS MATERIALIZED (
      SELECT DISTINCT substr(md5(g), 1, 16) AS g
      FROM (
        SELECT unnest(CASE WHEN len(btk) < 4
                 THEN [array_to_string(btk, ' ')]
                 ELSE list_transform(generate_series(1, len(btk) - 3),
                      i -> array_to_string(btk[i:i+3], ' ')) END) AS g
        FROM (SELECT string_split_regex(trim(lower(ntext)), '\s+') AS btk
              FROM basen WHERE is_bench))
    ),
    cgr AS MATERIALIZED (
      SELECT doc_id, substr(md5(g), 1, 16) AS g
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(xtk) < 4
                 THEN [array_to_string(xtk, ' ')]
                 ELSE list_transform(generate_series(1, len(xtk) - 3),
                      i -> array_to_string(xtk[i:i+3], ' ')) END) AS g
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(ctext)), '\s+') AS xtk
              FROM cutn))
    ),
    contam AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM cgr WHERE g IN (SELECT g FROM bgr)
    ),
    dec AS MATERIALIZED (
      SELECT c.* FROM cutn c LEFT JOIN contam x ON c.doc_id = x.doc_id
      WHERE x.doc_id IS NULL
    ),
    q AS MATERIALIZED (
      SELECT *,
             CAST(floor((
               least(CAST(len(ctext) AS DOUBLE) / 500.0, 1.0) * 0.5
               + least(CASE WHEN trim(ctext) = '' THEN 0.0
                   ELSE CAST(len(list_filter(
                          string_split_regex(trim(lower(ctext)), '\s+'),
                          t -> list_contains(
                            ['the','and','of','is','to','in','that','with',
                             'a','an','for','on','as','are','it'], t)))
                        AS DOUBLE)
                        / len(string_split_regex(trim(lower(ctext)), '\s+'))
                   END * 4.0, 1.0) * 0.3
               + (1.0 - least(CASE WHEN len(ctext) > 0
                   THEN CAST(len(regexp_replace(ctext, '[^.!?,;:]', '', 'g'))
                        AS DOUBLE) / len(ctext)
                   ELSE 0.0 END * 5.0, 1.0)) * 0.2
             ) * 1e9 + 0.5) AS BIGINT) AS q_i
      FROM dec
    ),
    qf AS MATERIALIZED (SELECT * FROM q WHERE q_i >= 350000000),
    selt AS MATERIALIZED (
      SELECT doc_id, lang, n_tok, chars_cut,
             CAST(floor(len(list_distinct(ctk)) * 1.0 / len(ctk) * 1e6)
                  AS BIGINT) AS score_i
      FROM qf WHERE len(ctk) > 0
    ),
    bud AS (SELECT CAST(floor(0.6 * sum(n_tok)) AS BIGINT) AS budget
            FROM selt),
    ord AS (
      SELECT *, sum(n_tok) OVER (ORDER BY 1000000 - score_i, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM selt
    ),
    sel AS MATERIALIZED (SELECT o.* FROM ord o CROSS JOIN bud b
            WHERE o.cum <= b.budget),
    pk AS (
      SELECT lang,
             CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY lang
                    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin_id,
             n_tok
      FROM sel
    ),
    bins AS (SELECT lang, bin_id, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
             FROM pk GROUP BY lang, bin_id)
    SELECT * FROM (
      SELECT 1 AS stage, 'input' AS label,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(coalesce(sum(len(tk)), 0) AS BIGINT) AS tokens,
             CAST(coalesce(sum(chars_raw), 0) AS BIGINT) AS chars
      FROM train
      UNION ALL
      SELECT 2, 'normalize', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(tk)), 0) AS BIGINT),
             CAST(coalesce(sum(chars_norm), 0) AS BIGINT)
      FROM train
      UNION ALL
      SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(tk)), 0) AS BIGINT),
             CAST(coalesce(sum(chars_norm), 0) AS BIGINT)
      FROM dd
      UNION ALL
      SELECT 4, 'span_cut', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tok), 0) AS BIGINT),
             CAST(coalesce(sum(chars_cut), 0) AS BIGINT)
      FROM cutn
      UNION ALL
      SELECT 5, 'decontaminate', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tok), 0) AS BIGINT),
             CAST(coalesce(sum(chars_cut), 0) AS BIGINT)
      FROM dec
      UNION ALL
      SELECT 6, 'quality_filter', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tok), 0) AS BIGINT),
             CAST(coalesce(sum(chars_cut), 0) AS BIGINT)
      FROM qf
      UNION ALL
      SELECT 7, 'budget_select', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tok), 0) AS BIGINT),
             CAST(coalesce(sum(chars_cut), 0) AS BIGINT)
      FROM sel
      UNION ALL
      SELECT 8, 'pack', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(bin_tokens), 0) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM bins
    ) ORDER BY stage
"""


@query("q185_curation_funnel", oracle=_FUNNEL_SQL)
def q185(spark, sf_dir):
    """END-TO-END CURATION FUNNEL — the full training-corpus pipeline
    as ONE lazy plan with per-stage accounting, certifying the
    COMPOSITION of the library's oracle-checked kernels (the bug class
    single-operator oracles can't catch: column-contract drift between
    stages, survivor-cascade errors, token-accounting skew):

      1 input          training split (doc_id % 97 != 0; the % 97 == 0
                       docs are the held-out benchmark, q52's contract)
      2 normalize      whitespace collapse + trim (q171 kernel) —
                       token-count invariant, chars shrink
      3 exact_dedup    keep-first per sha2(normalized text) (q19/q23)
      4 span_cut       Lee-et-al ExactSubstr removal, k=8, min_count=2
                       (`operators/substrings.cut_duplicated_spans`,
                       q156) — docs unchanged, tokens/chars shrink
      5 decontaminate  drop docs sharing any 4-token shingle with the
                       benchmark (`operators/dedup.contaminated_ids`,
                       q52), checked against the CUT text — what
                       actually ships must be clean, not the input
      6 quality_filter composite quality (q53 closed form) gridded at
                       1e9 >= 0.35 — integer-exact threshold compare
      7 budget_select  rank by lexical diversity, keep the prefix of
                       the global order whose cumulative tokens fit a
                       60% budget (`operators/ranking.global_prefix_sum`
                       — distributed kernel, q183; never a
                       single-partition window)
      8 pack           2048-token training bins per lang
                       (`operators/packing.pack_sequences`, q49);
                       docs = bin count, tokens = packed tokens
                       (must equal stage 7's), chars reported 0 at
                       bin grain

    Output: (stage, label, docs, tokens, chars) — 8 rows. The DuckDB
    oracle recomputes the ENTIRE funnel from scratch (every stage is
    the already-proven per-operator closed form), so the certified
    artifact is the full cascade, integer-exact.

    Scale shape: ONE parquet scan of `documents` feeds the whole chain
    (pinned; the benchmark side derives from the same scan — shingles
    tokenize identically on normalized text, so no second raw-text
    scan). Text crosses only doc-keyed exchanges; content-keyed
    exchanges carry 15/16-byte hashes (the q156/q52 contracts).
    Survivor flags live at doc grain so all eight accounting rows
    aggregate cached doc-grain tables. Wall-clock is scheduler-floor
    dominated: ~20 jobs (cut's two window exchanges, decontamination's
    semi-join, the prefix-sum kernel's bucket pass, 8 accounting
    aggregates) x the measured 0.10-0.15 s/job floor."""
    ntext = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    ntok = F.size(
        F.filter(T.whitespace_tokens(F.col("ntext")), lambda x: x != "")
    ).cast("long")
    base = (
        load_tables(spark, sf_dir).wide("documents")
        .select(
            "doc_id",
            "lang",
            "source",
            F.length("text").cast("long").alias("chars_raw"),
            ntext.alias("ntext"),
            (F.col("doc_id") % 97 == 0).alias("is_bench"),
        )
        .withColumn("chars_norm", F.length("ntext").cast("long"))
        .withColumn("n_tok_norm", ntok)
        # one scan feeds train + bench + two accounting rows
        .transform(pin)
    )
    train = base.where(~F.col("is_bench"))
    # stage 3: keep-first per content hash — shuffle 32-byte keys, not text
    wdd = Window.partitionBy("h").orderBy("doc_id")
    dd = (
        train.withColumn("h", F.sha2(F.col("ntext"), 256))
        .withColumn("rn", F.row_number().over(wdd))
        .where(F.col("rn") == 1)
        .drop("rn", "h")
    )
    # stage 4: ExactSubstr cut on the deduped normalized corpus
    cut = pin(
        cut_duplicated_spans(
            dd.select("doc_id", "lang", "source", "ntext"),
            k=CUT_K,
            min_count=2,
            text_col="ntext",
        )
    )
    # stage 5: decontaminate the CUT text against the benchmark split
    # (benchmark tokenizes identically on normalized text — whitespace
    # collapse never changes the token stream)
    bench = base.where(F.col("is_bench")).select(
        "doc_id", F.col("ntext").alias("text")
    )
    contam = pin(contaminated_ids(cut, bench, k=DECON_K))
    ctk = F.filter(T.whitespace_tokens(F.col("text")), lambda x: x != "")
    cutc = (
        cut.join(
            F.broadcast(contam.withColumn("_c", F.lit(1))), "doc_id", "left"
        )
        .withColumn("contaminated", F.col("_c").isNotNull())
        .drop("_c")
        .withColumn("chars_cut", F.length("text").cast("long"))
        .withColumn(
            "q_i",
            F.floor(T.quality_score(F.col("text")) * 1e9 + 0.5).cast("long"),
        )
    )
    clean = cutc.where(~F.col("contaminated"))
    good = clean.where(F.col("q_i") >= QUALITY_MIN_I)
    # stage 7: diversity-ranked greedy selection under a token budget
    elig = pin(
        good.where(F.col("tokens_after") > 0).select(
            "doc_id",
            "lang",
            "tokens_after",
            "chars_cut",
            F.floor(
                F.size(F.array_distinct(ctk)) * 1.0 / F.size(ctk) * 1e6
            )
            .cast("long")
            .alias("score_i"),
        )
        .withColumn(
            "sort_key", (F.lit(1_000_000) - F.col("score_i")).cast("long")
        )
    )
    cum = global_prefix_sum(
        elig, ["sort_key", "doc_id"], "tokens_after", out_col="cum"
    )
    b = elig.agg(
        F.floor(BUDGET_FRAC * F.sum("tokens_after"))
        .cast("long")
        .alias("budget")
    )
    sel = pin(
        cum.crossJoin(F.broadcast(b)).where(F.col("cum") <= F.col("budget"))
    )
    # stage 8: greedy 2048-token bins per lang over the selected docs
    bins = (
        pack_sequences(
            sel,
            F.col("tokens_after"),
            budget=PACK_BUDGET,
            shard_col="lang",
            order_col="doc_id",
        )
        .groupBy("lang", "bin_id")
        .agg(F.sum("tokens_after").cast("long").alias("bin_tokens"))
    )

    def frow(stage, label, df, tokens_col, chars_col):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.coalesce(F.sum(tokens_col), F.lit(0))
            .cast("long")
            .alias("tokens"),
            F.coalesce(F.sum(chars_col), F.lit(0))
            .cast("long")
            .alias("chars"),
        ).select(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(label).alias("label"),
            "docs",
            "tokens",
            "chars",
        )

    funnel = (
        frow(1, "input", train, "n_tok_norm", "chars_raw")
        .unionByName(frow(2, "normalize", train, "n_tok_norm", "chars_norm"))
        .unionByName(frow(3, "exact_dedup", dd, "n_tok_norm", "chars_norm"))
        .unionByName(frow(4, "span_cut", cutc, "tokens_after", "chars_cut"))
        .unionByName(
            frow(5, "decontaminate", clean, "tokens_after", "chars_cut")
        )
        .unionByName(
            frow(6, "quality_filter", good, "tokens_after", "chars_cut")
        )
        .unionByName(frow(7, "budget_select", sel, "tokens_after", "chars_cut"))
        .unionByName(
            bins.agg(
                F.count(F.lit(1)).cast("long").alias("docs"),
                F.coalesce(F.sum("bin_tokens"), F.lit(0))
                .cast("long")
                .alias("tokens"),
            ).select(
                F.lit(8).cast("long").alias("stage"),
                F.lit("pack").alias("label"),
                "docs",
                "tokens",
                F.lit(0).cast("long").alias("chars"),
            )
        )
    )
    return funnel.transform(presentation_sort, "stage")


# ---------------------------------------------------------------------------
# q192 — INCREMENTAL end-to-end curation (VERDICT r12 item 1): the delta
# twin of q185. The corpus is split at a doc_id cutoff (bottom 90% = the
# at-rest base the pipeline curated yesterday, top 10% = today's ingest
# batch); the query runs the base funnel ONCE to materialize yesterday's
# artifacts (exact-hash index, ExactSubstr gram index, benchmark shingle
# index, doc-shingle inverted index, doc-grain metadata, keep-list) and
# then processes ONLY the delta against those artifacts. The DuckDB
# oracle recomputes the whole funnel FROM SCRATCH over the full corpus —
# so a hash match IS the merge-equals-recompute differential (the
# q152/q178 contract, now for the full curation cascade).
# ---------------------------------------------------------------------------

_QI_SQL = r"""CAST(floor((
               least(CAST(len(ctext) AS DOUBLE) / 500.0, 1.0) * 0.5
               + least(CASE WHEN trim(ctext) = '' THEN 0.0
                   ELSE CAST(len(list_filter(
                          string_split_regex(trim(lower(ctext)), '\s+'),
                          t -> list_contains(
                            ['the','and','of','is','to','in','that','with',
                             'a','an','for','on','as','are','it'], t)))
                        AS DOUBLE)
                        / len(string_split_regex(trim(lower(ctext)), '\s+'))
                   END * 4.0, 1.0) * 0.3
               + (1.0 - least(CASE WHEN len(ctext) > 0
                   THEN CAST(len(regexp_replace(ctext, '[^.!?,;:]', '', 'g'))
                        AS DOUBLE) / len(ctext)
                   ELSE 0.0 END * 5.0, 1.0)) * 0.2
             ) * 1e9 + 0.5) AS BIGINT)"""

_INCR_SQL = (
    r"""
    WITH base AS (
      SELECT doc_id, lang, source,
             CAST(len(text) AS BIGINT) AS chars_raw,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS ntext,
             doc_id % 97 = 0 AS is_bench
      FROM documents
    ),
    co AS (SELECT (max(doc_id) * 9) // 10 AS cut FROM documents),
    basen AS MATERIALIZED (
      SELECT *, CAST(len(ntext) AS BIGINT) AS chars_norm,
             list_filter(string_split_regex(trim(lower(ntext)), '\s+'),
                         x -> x <> '') AS tk
      FROM base
    ),
    train AS MATERIALIZED (SELECT * FROM basen WHERE NOT is_bench),
    dd AS MATERIALIZED (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY ntext
                                     ORDER BY doc_id) AS rn
        FROM train) WHERE rn = 1
    ),
    g AS (
      SELECT doc_id, pos,
             substr(md5(array_to_string(tk[pos:pos+7], ' ')), 1, 15) AS gh
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - 7)) AS pos
            FROM dd WHERE len(tk) >= 8)
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
    ivs AS MATERIALIZED (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
            FROM isl GROUP BY doc_id, island),
    nsp AS (SELECT doc_id, count(*) AS spans_cut,
                   sum(e - s + 1) AS cut_toks
            FROM ivs GROUP BY doc_id),
    toksx AS (
      SELECT doc_id, i, tk[i] AS tok
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
            FROM dd WHERE len(tk) >= 1)
    ),
    keptt AS (
      SELECT x.doc_id, x.i, x.tok
      FROM toksx x LEFT JOIN ivs v
        ON x.doc_id = v.doc_id AND x.i BETWEEN v.s AND v.e
      WHERE v.doc_id IS NULL
    ),
    rew AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS rtext
      FROM keptt GROUP BY doc_id
    ),
    cutc AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.source,
             CASE WHEN n.doc_id IS NULL THEN d.ntext
                  ELSE coalesce(r.rtext, '') END AS ctext,
             CAST(len(d.tk) - coalesce(n.cut_toks, 0) AS BIGINT) AS n_tok
      FROM dd d
      LEFT JOIN nsp n ON d.doc_id = n.doc_id
      LEFT JOIN rew r ON d.doc_id = r.doc_id
    ),
    cutn AS MATERIALIZED (
      SELECT *, CAST(len(ctext) AS BIGINT) AS chars_cut,
             list_filter(string_split_regex(trim(lower(ctext)), '\s+'),
                         x -> x <> '') AS ctk
      FROM cutc
    ),
    cutq AS MATERIALIZED (
      SELECT *, """
    + _QI_SQL
    + r""" AS q_i
      FROM cutn
    ),
    bgr AS MATERIALIZED (
      SELECT DISTINCT substr(md5(g), 1, 16) AS g
      FROM (
        SELECT unnest(CASE WHEN len(btk) < 4
                 THEN [array_to_string(btk, ' ')]
                 ELSE list_transform(generate_series(1, len(btk) - 3),
                      i -> array_to_string(btk[i:i+3], ' ')) END) AS g
        FROM (SELECT string_split_regex(trim(lower(ntext)), '\s+') AS btk
              FROM basen WHERE is_bench))
    ),
    bgrb AS MATERIALIZED (
      SELECT DISTINCT substr(md5(g), 1, 16) AS g
      FROM (
        SELECT unnest(CASE WHEN len(btk) < 4
                 THEN [array_to_string(btk, ' ')]
                 ELSE list_transform(generate_series(1, len(btk) - 3),
                      i -> array_to_string(btk[i:i+3], ' ')) END) AS g
        FROM (SELECT string_split_regex(trim(lower(ntext)), '\s+') AS btk
              FROM basen, co
              WHERE is_bench AND doc_id <= co.cut))
    ),
    cgr AS MATERIALIZED (
      SELECT doc_id, substr(md5(g), 1, 16) AS g
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(xtk) < 4
                 THEN [array_to_string(xtk, ' ')]
                 ELSE list_transform(generate_series(1, len(xtk) - 3),
                      i -> array_to_string(xtk[i:i+3], ' ')) END) AS g
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(ctext)), '\s+') AS xtk
              FROM cutn))
    ),
    contam AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM cgr WHERE g IN (SELECT g FROM bgr)
    ),
    contamb AS MATERIALIZED (
      SELECT DISTINCT c.doc_id FROM cgr c, co
      WHERE c.doc_id <= co.cut AND c.g IN (SELECT g FROM bgrb)
    ),
    dec AS MATERIALIZED (
      SELECT c.* FROM cutq c LEFT JOIN contam x ON c.doc_id = x.doc_id
      WHERE x.doc_id IS NULL
    ),
    qf AS MATERIALIZED (SELECT * FROM dec WHERE q_i >= 350000000),
    selt AS MATERIALIZED (
      SELECT doc_id, lang, n_tok, chars_cut,
             CAST(floor(len(list_distinct(ctk)) * 1.0 / len(ctk) * 1e6)
                  AS BIGINT) AS score_i
      FROM qf WHERE len(ctk) > 0
    ),
    bud AS (SELECT CAST(floor(0.6 * sum(n_tok)) AS BIGINT) AS budget
            FROM selt),
    ord AS (
      SELECT *, sum(n_tok) OVER (ORDER BY 1000000 - score_i, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM selt
    ),
    sel AS MATERIALIZED (SELECT o.* FROM ord o CROSS JOIN bud b
            WHERE o.cum <= b.budget),
    decb AS MATERIALIZED (
      SELECT c.* FROM cutq c, co
      WHERE c.doc_id <= co.cut
        AND c.doc_id NOT IN (SELECT doc_id FROM contamb)
    ),
    qfb AS MATERIALIZED (SELECT * FROM decb WHERE q_i >= 350000000),
    seltb AS MATERIALIZED (
      SELECT doc_id, lang, n_tok, chars_cut,
             CAST(floor(len(list_distinct(ctk)) * 1.0 / len(ctk) * 1e6)
                  AS BIGINT) AS score_i
      FROM qfb WHERE len(ctk) > 0
    ),
    budb AS (SELECT CAST(floor(0.6 * sum(n_tok)) AS BIGINT) AS budget
             FROM seltb),
    ordb AS (
      SELECT *, sum(n_tok) OVER (ORDER BY 1000000 - score_i, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM seltb
    ),
    selb AS MATERIALIZED (SELECT o.* FROM ordb o CROSS JOIN budb b
             WHERE o.cum <= b.budget),
    flip5 AS (
      SELECT (SELECT count(*) FROM contam c, co WHERE c.doc_id <= co.cut)
           - (SELECT count(*) FROM contamb) AS n
    ),
    flip7 AS (
      SELECT count(*) AS n FROM (
        SELECT doc_id FROM (
          SELECT doc_id FROM selb
          UNION ALL
          SELECT s.doc_id FROM sel s, co WHERE s.doc_id <= co.cut
        ) GROUP BY doc_id HAVING count(*) = 1)
    ),
    pk AS (
      SELECT lang,
             CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY lang
                    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin_id,
             n_tok
      FROM sel
    ),
    bins AS (SELECT lang, bin_id, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
             FROM pk GROUP BY lang, bin_id)
    SELECT * FROM (
      SELECT 1 AS stage, 'input' AS label,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(coalesce(sum(len(tk)), 0) AS BIGINT) AS tokens,
             CAST(coalesce(sum(chars_raw), 0) AS BIGINT) AS chars,
             CAST(coalesce(sum(CASE WHEN t.doc_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS delta_docs,
             CAST(0 AS BIGINT) AS old_flipped
      FROM train t, co
      UNION ALL
      SELECT 2, 'normalize', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(tk)), 0) AS BIGINT),
             CAST(coalesce(sum(chars_norm), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.doc_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM train t, co
      UNION ALL
      SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(tk)), 0) AS BIGINT),
             CAST(coalesce(sum(chars_norm), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.doc_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM dd t, co
      UNION ALL
      SELECT 4, 'span_cut', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tok), 0) AS BIGINT),
             CAST(coalesce(sum(chars_cut), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.doc_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM cutn t, co
      UNION ALL
      SELECT 5, 'decontaminate', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tok), 0) AS BIGINT),
             CAST(coalesce(sum(chars_cut), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.doc_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST((SELECT n FROM flip5) AS BIGINT)
      FROM dec t, co
      UNION ALL
      SELECT 6, 'quality_filter', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tok), 0) AS BIGINT),
             CAST(coalesce(sum(chars_cut), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.doc_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM qf t, co
      UNION ALL
      SELECT 7, 'budget_select', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(n_tok), 0) AS BIGINT),
             CAST(coalesce(sum(chars_cut), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.doc_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST((SELECT n FROM flip7) AS BIGINT)
      FROM sel t, co
      UNION ALL
      SELECT 8, 'pack', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(bin_tokens), 0) AS BIGINT),
             CAST(0 AS BIGINT),
             CAST(0 AS BIGINT),
             CAST(0 AS BIGINT)
      FROM bins
    ) ORDER BY stage
"""
)


# The artifact STATE a daily curation pipeline keeps at rest between
# ingest ticks. Every entry is a materialized leaf (plans.at_rest) —
# the in-session stand-in for a stored parquet table:
#   hash_idx    A1 distinct sha2(ntext) of every train doc seen so far
#   gram_idx    A2 `span_gram_index` (gh, n_occ) of the deduped corpus
#               so far — the ExactSubstr history
#   bench_keys  A3 `shingle_keys` of the benchmark split so far
#   doc_sh_idx  A4 `doc_shingle_keys` of the cut corpus so far (the
#               REVERSE decontamination probe)
#   meta        A5 text-free doc-grain metadata: (doc_id, lang,
#               n_tok_norm, chars_norm, tokens_after, chars_cut, q_i,
#               score_i, contam, is_delta) — is_delta marks rows added
#               by the MOST RECENT fold (reset to False on the next)
# The keep-list (A6) is derived per state by `_budget_select(meta)`.
_FUNNEL_INPUT_COLS = (
    "doc_id",
    "lang",
    "n_tok_norm",
    "chars_norm",
    "ntext",
)


def _sha_hashes(train):
    return train.select(F.sha2(F.col("ntext"), 256).alias("h")).distinct()


def _doc_meta(cut_df, contam_ids, is_delta):
    """Text-free doc-grain metadata for a cut-corpus slice — everything
    selection and stage accounting need downstream (~40 bytes/doc); the
    text is dropped right after the scan-side quality/diversity
    expressions, so nothing text-sized enters the at-rest state."""
    ctk = F.filter(T.whitespace_tokens(F.col("text")), lambda x: x != "")
    return (
        cut_df.join(
            F.broadcast(
                contam_ids.select("doc_id").withColumn("_c", F.lit(1))
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang",
            "n_tok_norm",
            "chars_norm",
            "tokens_after",
            F.length("text").cast("long").alias("chars_cut"),
            F.floor(T.quality_score(F.col("text")) * 1e9 + 0.5)
            .cast("long")
            .alias("q_i"),
            F.when(
                F.col("tokens_after") > 0,
                F.floor(
                    F.size(F.array_distinct(ctk)) * 1.0 / F.size(ctk) * 1e6
                ).cast("long"),
            ).alias("score_i"),
            F.col("_c").isNotNull().alias("contam"),
            F.lit(is_delta).alias("is_delta"),
        )
    )


def _w_hash():
    # built lazily: Window specs need an active SparkContext, and this
    # module must stay importable before the session exists (the driver
    # imports __spark_entry__ first, then builds the session)
    return Window.partitionBy("h").orderBy("doc_id")


def build_funnel_state(train, bench):
    """Scratch-build the curation pipeline's at-rest artifact state from
    a base corpus slice — "yesterday's run". `train`/`bench` carry the
    `_FUNNEL_INPUT_COLS` contract (normalized text + raw accounting).
    Text never crosses a content-keyed exchange anywhere in the build:
    hashes (32-hex sha2, 15-byte gram, 16-hex shingle) do."""
    hash_idx = _at_rest(_sha_hashes(train))  # A1
    dd = _at_rest(
        train.select(*_FUNNEL_INPUT_COLS)
        .withColumn("h", F.sha2(F.col("ntext"), 256))
        .withColumn("rn", F.row_number().over(_w_hash()))
        .where(F.col("rn") == 1)
        .drop("rn", "h")
    )
    gram_idx = _at_rest(span_gram_index(dd, k=CUT_K, text_col="ntext"))  # A2
    cut = _at_rest(
        cut_duplicated_spans(dd, k=CUT_K, min_count=2, text_col="ntext")
    )
    bench_keys = _at_rest(  # A3
        shingle_keys(bench.select(F.col("ntext").alias("text")), k=DECON_K)
    )
    doc_sh_idx = _at_rest(doc_shingle_keys(cut, k=DECON_K))  # A4
    contam = contaminated_ids(cut, benchmark_keys=bench_keys, k=DECON_K)
    meta = _at_rest(_doc_meta(cut, contam, is_delta=False))  # A5
    return {
        "hash_idx": hash_idx,
        "gram_idx": gram_idx,
        "bench_keys": bench_keys,
        "doc_sh_idx": doc_sh_idx,
        "meta": meta,
    }


def fold_funnel_batch(state, new_train, new_bench):
    """Fold ONE ingest tick into the at-rest state — O(batch) index
    probes plus the bounded artifact merges; the base corpus is never
    re-scanned. Returns ``(new_state, newly_old)`` where `newly_old` is
    the DataFrame of pre-existing doc_ids the new benchmark newly
    contaminates (the ONLY way existing docs' stage membership changes
    before the global re-select — the q192 stage-5 certificate).

    Per-stage mechanics (each certified by the scratch-recompute
    oracles of q192/q196):
      - dedup: batch hashes anti-join A1, keep-first within the batch
        (batch ids exceed all prior ids, so full-corpus keep-first is
        preserved exactly);
      - span cut: `cut_duplicated_spans(base_gram_index=A2)` — the
        (n_occ + cnt, n_occ + rk) shift gives full-corpus semantics from
        a batch-only scan; prior docs provably never re-cut at
        min_count=2 (an occurrence is cut iff an EARLIER one exists,
        and every earlier occurrence is already folded in);
      - decontaminate: batch docs probe A3 merged with the new
        benchmark's shingles; the new benchmark's shingles probe A4 to
        find OLD docs they newly contaminate — O(new shingles), no
        corpus re-scan;
      - metadata: prior rows flip contam for `newly_old` and reset
        is_delta; batch rows computed fresh, union'd.

    Every merged artifact is materialized as a leaf because it IS
    tomorrow's at-rest table (the r13 steady-state lesson: re-deriving
    merged tables under cache pressure re-executes the delta chain per
    consumer; a daily pipeline writes the merge once). The merge costs
    are bounded: A1/A2/A3/A4 rewrites are index-sized (fixed-width
    hashes, text-free), A5 is ~40 bytes/doc."""
    batch = new_train.select(*_FUNNEL_INPUT_COLS)
    new_dd = _at_rest(
        batch.withColumn("h", F.sha2(F.col("ntext"), 256))
        .join(state["hash_idx"], "h", "left_anti")  # probe A1
        .withColumn("rn", F.row_number().over(_w_hash()))
        .where(F.col("rn") == 1)
        .drop("rn", "h")
    )
    new_cut = _at_rest(
        cut_duplicated_spans(
            new_dd,
            k=CUT_K,
            min_count=2,
            text_col="ntext",
            base_gram_index=state["gram_idx"],  # probe A2
        )
    )
    new_bkeys = _at_rest(
        shingle_keys(new_bench.select(F.col("ntext").alias("text")), k=DECON_K)
    )
    # the ONLY way existing docs change: the new benchmark's shingles
    # probe the at-rest doc-shingle index (O(new shingles))
    prev_contam = state["meta"].where(F.col("contam")).select("doc_id")
    newly_old = _at_rest(
        state["doc_sh_idx"]
        .join(F.broadcast(new_bkeys), "_g", "left_semi")
        .select("doc_id")
        .distinct()
        .join(prev_contam, "doc_id", "left_anti")
    )
    bench_keys = _at_rest(
        state["bench_keys"].unionByName(new_bkeys).distinct()
    )
    new_contam = contaminated_ids(
        new_cut, benchmark_keys=bench_keys, k=DECON_K
    )
    meta_prev = (
        state["meta"]
        .join(
            F.broadcast(newly_old.withColumn("_n", F.lit(1))),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang",
            "n_tok_norm",
            "chars_norm",
            "tokens_after",
            "chars_cut",
            "q_i",
            "score_i",
            (F.col("contam") | F.col("_n").isNotNull()).alias("contam"),
            F.lit(False).alias("is_delta"),
        )
    )
    new_state = {
        "hash_idx": _at_rest(
            state["hash_idx"].unionByName(_sha_hashes(batch)).distinct()
        ),
        "gram_idx": _at_rest(
            state["gram_idx"]
            .unionByName(span_gram_index(new_dd, k=CUT_K, text_col="ntext"))
            .groupBy("gh")
            .agg(F.sum("n_occ").cast("long").alias("n_occ"))
        ),
        "bench_keys": bench_keys,
        "doc_sh_idx": _at_rest(
            state["doc_sh_idx"].unionByName(doc_shingle_keys(new_cut, k=DECON_K))
        ),
        "meta": _at_rest(
            meta_prev.unionByName(
                _doc_meta(new_cut, new_contam, is_delta=True)
            )
        ),
    }
    return new_state, newly_old


def _budget_select(meta):
    """The global token-budget selection over a state's text-free
    metadata — q185 stage 7 semantics through the distributed
    prefix-sum kernel (never a single-partition window)."""
    elig = _at_rest(
        meta.where(
            ~F.col("contam")
            & (F.col("q_i") >= QUALITY_MIN_I)
            & (F.col("tokens_after") > 0)
        ).select(
            "doc_id",
            "lang",
            "tokens_after",
            "chars_cut",
            "is_delta",
            (F.lit(1_000_000) - F.col("score_i")).cast("long").alias(
                "sort_key"
            ),
        )
    )
    cum = global_prefix_sum(
        elig, ["sort_key", "doc_id"], "tokens_after", out_col="cum"
    )
    b = elig.agg(
        F.floor(BUDGET_FRAC * F.sum("tokens_after")).cast("long").alias(
            "budget"
        )
    )
    return _at_rest(
        cum.crossJoin(F.broadcast(b)).where(F.col("cum") <= F.col("budget"))
    )


def _funnel_input(spark, sf_dir):
    """The ONE pinned documents scan every incremental-funnel query
    derives its slices from, plus the max doc_id (an O(1) driver scalar
    under the audited-collect contract)."""
    ntext = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    ntok = F.size(
        F.filter(T.whitespace_tokens(F.col("ntext")), lambda x: x != "")
    ).cast("long")
    base_all = (
        load_tables(spark, sf_dir).wide("documents")
        .select(
            "doc_id",
            "lang",
            "source",
            F.length("text").cast("long").alias("chars_raw"),
            ntext.alias("ntext"),
            (F.col("doc_id") % 97 == 0).alias("is_bench"),
        )
        .withColumn("chars_norm", F.length("ntext").cast("long"))
        .withColumn("n_tok_norm", ntok)
        .transform(pin)  # the ONE documents scan
    )
    max_id = base_all.agg(F.max("doc_id")).first()[0]
    return base_all, (max_id if max_id is not None else 0)


def _incremental_report(train, cut_id, state_prev, state_cur, newly_old):
    """q185's 8 accounting rows over the FULL corpus as folded into
    `state_cur`, plus delta_docs (latest-tick survivors per stage) and
    old_flipped (pre-existing docs whose stage membership changed:
    possible only at stages 5 and 7 — 0 elsewhere by the fold's
    monotonicity proofs). `state_prev` supplies yesterday's keep-list
    (A6) for the stage-7 boundary diff; `cut_id` is the latest tick's
    doc_id cutoff for the raw stage-1/2 delta accounting."""
    meta_all = state_cur["meta"]
    sel_prev = _budget_select(state_prev["meta"])  # A6
    sel = _budget_select(meta_all)

    flip5 = newly_old.agg(
        F.count(F.lit(1)).cast("long").alias("old_flipped")
    )
    flip7 = (
        sel_prev.select("doc_id")
        .unionAll(sel.where(~F.col("is_delta")).select("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 1)
        .agg(F.count(F.lit(1)).cast("long").alias("old_flipped"))
    )

    bins = (
        pack_sequences(
            sel,
            F.col("tokens_after"),
            budget=PACK_BUDGET,
            shard_col="lang",
            order_col="doc_id",
        )
        .groupBy("lang", "bin_id")
        .agg(F.sum("tokens_after").cast("long").alias("bin_tokens"))
    )

    def srow(stage, label, df, tokens_col, chars_col, delta_cond, flipped=None):
        row = df.agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.coalesce(F.sum(tokens_col), F.lit(0))
            .cast("long")
            .alias("tokens"),
            F.coalesce(F.sum(chars_col), F.lit(0))
            .cast("long")
            .alias("chars"),
            F.coalesce(
                F.sum(F.when(delta_cond, 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("delta_docs"),
        ).select(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(label).alias("label"),
            "docs",
            "tokens",
            "chars",
            "delta_docs",
        )
        if flipped is None:
            return row.withColumn("old_flipped", F.lit(0).cast("long"))
        return row.crossJoin(F.broadcast(flipped))

    raw_delta = F.col("doc_id") > F.lit(cut_id)
    d = F.col("is_delta")
    funnel = (
        srow(1, "input", train, "n_tok_norm", "chars_raw", raw_delta)
        .unionByName(
            srow(2, "normalize", train, "n_tok_norm", "chars_norm", raw_delta)
        )
        .unionByName(
            srow(3, "exact_dedup", meta_all, "n_tok_norm", "chars_norm", d)
        )
        .unionByName(
            srow(4, "span_cut", meta_all, "tokens_after", "chars_cut", d)
        )
        .unionByName(
            srow(
                5,
                "decontaminate",
                meta_all.where(~F.col("contam")),
                "tokens_after",
                "chars_cut",
                d,
                flipped=flip5,
            )
        )
        .unionByName(
            srow(
                6,
                "quality_filter",
                meta_all.where(
                    ~F.col("contam") & (F.col("q_i") >= QUALITY_MIN_I)
                ),
                "tokens_after",
                "chars_cut",
                d,
            )
        )
        .unionByName(
            srow(
                7,
                "budget_select",
                sel,
                "tokens_after",
                "chars_cut",
                d,
                flipped=flip7,
            )
        )
        .unionByName(
            bins.agg(
                F.count(F.lit(1)).cast("long").alias("docs"),
                F.coalesce(F.sum("bin_tokens"), F.lit(0))
                .cast("long")
                .alias("tokens"),
            ).select(
                F.lit(8).cast("long").alias("stage"),
                F.lit("pack").alias("label"),
                "docs",
                "tokens",
                F.lit(0).cast("long").alias("chars"),
                F.lit(0).cast("long").alias("delta_docs"),
                F.lit(0).cast("long").alias("old_flipped"),
            )
        )
    )
    return funnel.transform(presentation_sort, "stage")


@query("q192_incremental_funnel", oracle=_INCR_SQL)
def q192(spark, sf_dir):
    """INCREMENTAL end-to-end curation (VERDICT r12 item 1) — the delta
    twin of q185. Yesterday's pipeline curated the base corpus (doc_id
    <= cutoff, cutoff = floor(max_id * 0.9)) and left its artifacts at
    rest (`build_funnel_state` — A1 exact-hash index, A2 ExactSubstr
    gram index, A3 benchmark shingle index, A4 doc-shingle inverted
    index, A5 text-free doc-grain metadata, each a materialized leaf
    standing in for a stored table); today's batch (doc_id > cutoff) is
    folded in WITHOUT re-running the funnel over the base
    (`fold_funnel_batch` — O(batch) index probes per stage), and the
    budget selection + pack recompute globally over the merged
    metadata (~40 bytes/doc) through the distributed prefix-sum kernel.

    Output: q185's 8 accounting rows over the FULL corpus plus
    delta_docs (batch survivors per stage) and old_flipped (base docs
    whose stage membership changed: possible only at stages 5 and 7 —
    0 elsewhere by the fold's monotonicity proofs). The DuckDB oracle
    recomputes EVERYTHING from scratch over the full corpus (plus the
    base-only selection chain for old_flipped), so the hash match IS
    the merge-equals-recompute differential for the entire cascade —
    the q152/q178 incremental contract, composed. q196 runs the SAME
    fold twice (80/10/10 split) against the SAME oracle — the
    multi-tick closure fold(fold(base, b1), b2) == scratch.

    Scale shape: ONE `documents` scan (pinned) feeds both the artifact
    build and the delta path; every index probe joins on fixed-width
    hashes (15/16-byte), text crosses only doc-keyed exchanges; the
    merged artifacts are materialized leaves because they ARE
    tomorrow's at-rest tables. At 100 TB the artifact phase is
    yesterday's already-paid run; only the delta phase, the bounded
    index merges, and the metadata-grain select/pack execute daily."""
    base_all, max_id = _funnel_input(spark, sf_dir)
    cut_id = (max_id * 9) // 10
    is_old = F.col("doc_id") <= F.lit(cut_id)
    train = base_all.where(~F.col("is_bench"))
    state0 = build_funnel_state(
        train.where(is_old), base_all.where(F.col("is_bench") & is_old)
    )
    state1, newly_old = fold_funnel_batch(
        state0,
        train.where(~is_old),
        base_all.where(F.col("is_bench") & ~is_old),
    )
    return _incremental_report(train, cut_id, state0, state1, newly_old)


@query("q196_multitick_funnel", oracle=_INCR_SQL)
def q196(spark, sf_dir):
    """MULTI-TICK CLOSURE for the incremental curation funnel (VERDICT
    r13 item 1): certify fold(fold(base, b1), b2) == scratch. q192
    proves ONE fold equals a scratch recompute; a real pipeline runs
    the fold EVERY DAY on the artifacts the previous fold merged — if
    the merged artifacts are subtly not the same shape as scratch-built
    ones (gram-index counts, keep-first tie-breaks at the batch
    boundary, contamination carried across ticks), day 2 diverges
    silently. This query splits the corpus 80/10/10 by doc_id:
    `build_funnel_state` on the bottom 80%, `fold_funnel_batch` for
    b1 = (80%, 90%], then the SAME fold again for b2 = (90%, max] —
    tick 2 consumes ONLY tick 1's merged leaves, exactly as tomorrow's
    pipeline consumes today's stored tables.

    Output contract == q192's (the report is the shared
    `_incremental_report` with cut = the 90% boundary: stage rows over
    the full corpus, delta_docs = b2 survivors, old_flipped vs the
    post-tick-1 state), and the oracle is q192's scratch-recompute SQL
    VERBATIM — so the driver hash match proves the two-tick path lands
    bit-identically on the same scratch ground truth, i.e. closure
    under composition: fold(fold(base, b1), b2) == fold(base, b1 ∪ b2)
    == scratch (the first equality follows from this oracle plus
    q192's, and `tests/test_round14_ops.py` also asserts it directly
    DataFrame-to-DataFrame). With it, induction gives day-N
    correctness for any fold schedule.

    Scale shape: identical to q192 per tick — the day-2 fold never
    touches day-0 text; its inputs are tick 1's index leaves and the
    b2 slice of the one pinned scan."""
    base_all, max_id = _funnel_input(spark, sf_dir)
    cut80 = (max_id * 8) // 10
    cut90 = (max_id * 9) // 10
    train = base_all.where(~F.col("is_bench"))
    bench = base_all.where(F.col("is_bench"))
    in_base = F.col("doc_id") <= F.lit(cut80)
    in_b1 = (F.col("doc_id") > F.lit(cut80)) & (
        F.col("doc_id") <= F.lit(cut90)
    )
    in_b2 = F.col("doc_id") > F.lit(cut90)
    state0 = build_funnel_state(train.where(in_base), bench.where(in_base))
    state1, _ = fold_funnel_batch(
        state0, train.where(in_b1), bench.where(in_b1)
    )
    state2, newly_old = fold_funnel_batch(
        state1, train.where(in_b2), bench.where(in_b2)
    )
    return _incremental_report(train, cut90, state1, state2, newly_old)


# ---------------------------------------------------------------------------
# q197 — DELETION folding (VERDICT r13 item 2): fold a right-to-be-
# forgotten tombstone batch through the funnel artifacts WITHOUT
# re-running the funnel over the surviving corpus. Deletion is the
# NON-MONOTONE direction append-only artifacts cannot express:
#   - exact dedup can RESURRECT a shadowed duplicate (the group's
#     keeper is deleted, the next-smallest doc_id must re-enter);
#   - the ExactSubstr cut can UN-cut spans (removing occurrences lowers
#     a gram's corpus count below min_count, and removing EARLIER
#     occurrences shifts first-occurrence ranks), so surviving docs'
#     text can GROW BACK;
#   - grown-back text can newly CONTAMINATE (restored shingles), and
#     quality / selection can flip either way.
# The at-rest artifacts that make the fold O(touched): the (h, doc_id)
# hash map (q63's dedup-index shape) and the occurrence-grain
# span_occurrence_index (gh, doc_id, pos, cut). The DuckDB oracle runs
# the funnel from scratch TWICE (full corpus; corpus minus tombstones)
# and derives every certificate from the two per-doc tables — so the
# hash match proves incremental-delete == delete-then-recompute.
# ---------------------------------------------------------------------------


def _del_cascade(s: str, pred: str) -> str:
    """One suffixed scratch funnel cascade (train -> dedup -> span cut ->
    decontaminate -> quality -> selection) ending in the per-doc table
    docd_{s} — generated twice so the q197 oracle can diff the
    pre-delete and post-delete cascades row by row."""
    return rf"""
    train_{s} AS MATERIALIZED (
      SELECT * FROM basen WHERE NOT is_bench{pred}),
    dd_{s} AS MATERIALIZED (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY ntext
                                     ORDER BY doc_id) AS rn
        FROM train_{s}) WHERE rn = 1
    ),
    g_{s} AS (
      SELECT doc_id, pos,
             substr(md5(array_to_string(tk[pos:pos+7], ' ')), 1, 15) AS gh
      FROM (SELECT doc_id, tk,
                   unnest(generate_series(1, len(tk) - 7)) AS pos
            FROM dd_{s} WHERE len(tk) >= 8)
    ),
    occ_{s} AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY gh) AS cnt,
             row_number() OVER (PARTITION BY gh
                                ORDER BY doc_id, pos) AS rk
      FROM g_{s}
    ),
    cutp_{s} AS (SELECT doc_id, pos FROM occ_{s} WHERE cnt >= 2 AND rk >= 2),
    brk_{s} AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS brk
      FROM cutp_{s}
    ),
    isl_{s} AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
      FROM brk_{s}
    ),
    ivs_{s} AS MATERIALIZED (
      SELECT doc_id, island, min(pos) AS st, max(pos) + 7 AS en
      FROM isl_{s} GROUP BY doc_id, island),
    nsp_{s} AS (SELECT doc_id, sum(en - st + 1) AS cut_toks
            FROM ivs_{s} GROUP BY doc_id),
    toksx_{s} AS (
      SELECT doc_id, i, tk[i] AS tok
      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
            FROM dd_{s} WHERE len(tk) >= 1)
    ),
    keptt_{s} AS (
      SELECT x.doc_id, x.i, x.tok
      FROM toksx_{s} x LEFT JOIN ivs_{s} v
        ON x.doc_id = v.doc_id AND x.i BETWEEN v.st AND v.en
      WHERE v.doc_id IS NULL
    ),
    rew_{s} AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS rtext
      FROM keptt_{s} GROUP BY doc_id
    ),
    cutc_{s} AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.chars_norm,
             CAST(len(d.tk) AS BIGINT) AS n_tok_norm,
             CASE WHEN n.doc_id IS NULL THEN d.ntext
                  ELSE coalesce(r.rtext, '') END AS ctext,
             CAST(len(d.tk) - coalesce(n.cut_toks, 0) AS BIGINT) AS n_tok
      FROM dd_{s} d
      LEFT JOIN nsp_{s} n ON d.doc_id = n.doc_id
      LEFT JOIN rew_{s} r ON d.doc_id = r.doc_id
    ),
    cutn_{s} AS MATERIALIZED (
      SELECT *, CAST(len(ctext) AS BIGINT) AS chars_cut,
             list_filter(string_split_regex(trim(lower(ctext)), '\s+'),
                         x -> x <> '') AS ctk
      FROM cutc_{s}
    ),
    cutq_{s} AS MATERIALIZED (
      SELECT *, {_QI_SQL} AS q_i
      FROM cutn_{s}
    ),
    cgr_{s} AS MATERIALIZED (
      SELECT doc_id, substr(md5(g), 1, 16) AS g
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(xtk) < 4
                 THEN [array_to_string(xtk, ' ')]
                 ELSE list_transform(generate_series(1, len(xtk) - 3),
                      i -> array_to_string(xtk[i:i+3], ' ')) END) AS g
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(ctext)), '\s+') AS xtk
              FROM cutn_{s}))
    ),
    contam_{s} AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM cgr_{s} WHERE g IN (SELECT g FROM bgr)
    ),
    qf_{s} AS MATERIALIZED (
      SELECT c.* FROM cutq_{s} c LEFT JOIN contam_{s} x
        ON c.doc_id = x.doc_id
      WHERE x.doc_id IS NULL AND c.q_i >= 350000000
    ),
    selt_{s} AS MATERIALIZED (
      SELECT doc_id, lang, n_tok, chars_cut,
             CAST(floor(len(list_distinct(ctk)) * 1.0 / len(ctk) * 1e6)
                  AS BIGINT) AS score_i
      FROM qf_{s} WHERE len(ctk) > 0
    ),
    bud_{s} AS (SELECT CAST(floor(0.6 * sum(n_tok)) AS BIGINT) AS budget
            FROM selt_{s}),
    ord_{s} AS (
      SELECT *, sum(n_tok) OVER (ORDER BY 1000000 - score_i, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM selt_{s}
    ),
    sel_{s} AS MATERIALIZED (
      SELECT o.* FROM ord_{s} o CROSS JOIN bud_{s} b
      WHERE o.cum <= b.budget),
    docd_{s} AS MATERIALIZED (
      SELECT c.doc_id, c.n_tok_norm, c.chars_norm, c.n_tok, c.chars_cut,
             c.q_i,
             (x.doc_id IS NOT NULL) AS contam,
             (sl.doc_id IS NOT NULL) AS insel
      FROM cutq_{s} c
      LEFT JOIN contam_{s} x ON c.doc_id = x.doc_id
      LEFT JOIN sel_{s} sl ON c.doc_id = sl.doc_id
    )"""


_DELETE_SQL = (
    r"""
    WITH base AS (
      SELECT doc_id, lang, source,
             CAST(len(text) AS BIGINT) AS chars_raw,
             trim(regexp_replace(text, '\s+', ' ', 'g')) AS ntext,
             doc_id % 97 = 0 AS is_bench
      FROM documents
    ),
    basen AS MATERIALIZED (
      SELECT *, CAST(len(ntext) AS BIGINT) AS chars_norm,
             list_filter(string_split_regex(trim(lower(ntext)), '\s+'),
                         x -> x <> '') AS tk
      FROM base
    ),
    bgr AS MATERIALIZED (
      SELECT DISTINCT substr(md5(g), 1, 16) AS g
      FROM (
        SELECT unnest(CASE WHEN len(btk) < 4
                 THEN [array_to_string(btk, ' ')]
                 ELSE list_transform(generate_series(1, len(btk) - 3),
                      i -> array_to_string(btk[i:i+3], ' ')) END) AS g
        FROM (SELECT string_split_regex(trim(lower(ntext)), '\s+') AS btk
              FROM basen WHERE is_bench))
    ),"""
    + _del_cascade("o", "")
    + ","
    + _del_cascade("n", " AND doc_id % 7 <> 3")
    + r""",
    cmp AS MATERIALIZED (
      SELECT o.doc_id AS od, n.doc_id AS nd,
             o.n_tok_norm AS o_ntok, o.chars_norm AS o_nchr,
             o.n_tok AS o_tok, o.chars_cut AS o_chr,
             o.q_i AS o_q, o.contam AS o_con, o.insel AS o_sel,
             n.n_tok_norm AS n_ntok, n.chars_norm AS n_nchr,
             n.n_tok AS n_tok2, n.chars_cut AS n_chr,
             n.q_i AS n_q, n.contam AS n_con, n.insel AS n_sel
      FROM docd_o o FULL JOIN docd_n n ON o.doc_id = n.doc_id
    ),
    certs AS (
      SELECT
        CAST(coalesce(sum(CASE WHEN od IS NOT NULL AND nd IS NULL
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS r34,
        CAST(coalesce(sum(CASE WHEN nd IS NOT NULL AND od IS NULL
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS a34,
        CAST(coalesce(sum(CASE WHEN od IS NOT NULL AND nd IS NOT NULL
                  AND (o_ntok <> n_ntok OR o_nchr <> n_nchr)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c3,
        CAST(coalesce(sum(CASE WHEN od IS NOT NULL AND nd IS NOT NULL
                  AND (o_tok <> n_tok2 OR o_chr <> n_chr)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c4,
        CAST(coalesce(sum(CASE WHEN (od IS NOT NULL AND NOT o_con)
                  AND NOT (nd IS NOT NULL AND NOT n_con)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS r5,
        CAST(coalesce(sum(CASE WHEN (nd IS NOT NULL AND NOT n_con)
                  AND NOT (od IS NOT NULL AND NOT o_con)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS a5,
        CAST(coalesce(sum(CASE WHEN (od IS NOT NULL AND NOT o_con)
                  AND (nd IS NOT NULL AND NOT n_con)
                  AND (o_tok <> n_tok2 OR o_chr <> n_chr)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c5,
        CAST(coalesce(sum(CASE WHEN
                  (od IS NOT NULL AND NOT o_con AND o_q >= 350000000)
                  AND NOT (nd IS NOT NULL AND NOT n_con
                           AND n_q >= 350000000)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS r6,
        CAST(coalesce(sum(CASE WHEN
                  (nd IS NOT NULL AND NOT n_con AND n_q >= 350000000)
                  AND NOT (od IS NOT NULL AND NOT o_con
                           AND o_q >= 350000000)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS a6,
        CAST(coalesce(sum(CASE WHEN
                  (od IS NOT NULL AND NOT o_con AND o_q >= 350000000)
                  AND (nd IS NOT NULL AND NOT n_con AND n_q >= 350000000)
                  AND (o_tok <> n_tok2 OR o_chr <> n_chr)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS r6c,
        CAST(coalesce(sum(CASE WHEN coalesce(o_sel, FALSE)
                  AND NOT coalesce(n_sel, FALSE)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS r7,
        CAST(coalesce(sum(CASE WHEN coalesce(n_sel, FALSE)
                  AND NOT coalesce(o_sel, FALSE)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS a7,
        CAST(coalesce(sum(CASE WHEN coalesce(o_sel, FALSE)
                  AND coalesce(n_sel, FALSE)
                  AND (o_tok <> n_tok2 OR o_chr <> n_chr)
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c7
      FROM cmp
    ),
    r12 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train_o
            WHERE doc_id % 7 = 3),
    pk AS (
      SELECT lang,
             CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY lang
                    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin_id,
             n_tok
      FROM sel_n
    ),
    bins AS (SELECT lang, bin_id, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
             FROM pk GROUP BY lang, bin_id)
    SELECT * FROM (
      SELECT 1 AS stage, 'input' AS label,
             CAST(count(*) AS BIGINT) AS docs,
             CAST(coalesce(sum(len(tk)), 0) AS BIGINT) AS tokens,
             CAST(coalesce(sum(chars_raw), 0) AS BIGINT) AS chars,
             (SELECT n FROM r12) AS removed_docs,
             CAST(0 AS BIGINT) AS added_docs,
             CAST(0 AS BIGINT) AS changed_docs
      FROM train_n
      UNION ALL
      SELECT 2, 'normalize', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len(tk)), 0) AS BIGINT),
             CAST(coalesce(sum(chars_norm), 0) AS BIGINT),
             (SELECT n FROM r12), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM train_n
      UNION ALL
      SELECT 3, 'exact_dedup', a.docs, a.tokens, a.chars,
             c.r34, c.a34, c.c3
      FROM (SELECT CAST(count(*) AS BIGINT) AS docs,
                   CAST(coalesce(sum(n_tok_norm), 0) AS BIGINT) AS tokens,
                   CAST(coalesce(sum(chars_norm), 0) AS BIGINT) AS chars
            FROM docd_n) a, certs c
      UNION ALL
      SELECT 4, 'span_cut', a.docs, a.tokens, a.chars,
             c.r34, c.a34, c.c4
      FROM (SELECT CAST(count(*) AS BIGINT) AS docs,
                   CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tokens,
                   CAST(coalesce(sum(chars_cut), 0) AS BIGINT) AS chars
            FROM docd_n) a, certs c
      UNION ALL
      SELECT 5, 'decontaminate', a.docs, a.tokens, a.chars,
             c.r5, c.a5, c.c5
      FROM (SELECT CAST(count(*) AS BIGINT) AS docs,
                   CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tokens,
                   CAST(coalesce(sum(chars_cut), 0) AS BIGINT) AS chars
            FROM docd_n WHERE NOT contam) a, certs c
      UNION ALL
      SELECT 6, 'quality_filter', a.docs, a.tokens, a.chars,
             c.r6, c.a6, c.r6c
      FROM (SELECT CAST(count(*) AS BIGINT) AS docs,
                   CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tokens,
                   CAST(coalesce(sum(chars_cut), 0) AS BIGINT) AS chars
            FROM docd_n WHERE NOT contam AND q_i >= 350000000) a, certs c
      UNION ALL
      SELECT 7, 'budget_select', a.docs, a.tokens, a.chars,
             c.r7, c.a7, c.c7
      FROM (SELECT CAST(count(*) AS BIGINT) AS docs,
                   CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS tokens,
                   CAST(coalesce(sum(chars_cut), 0) AS BIGINT) AS chars
            FROM docd_n WHERE insel) a, certs c
      UNION ALL
      SELECT 8, 'pack', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(bin_tokens), 0) AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT)
      FROM bins
    ) ORDER BY stage
"""
)


def build_deletion_state(train_slim, bench_keys):
    """Scratch-build the artifact state the DELETION fold maintains:
    the (h, doc_id) hash map over every train doc (bare distinct hashes
    cannot resurrect a shadowed duplicate), the occurrence-grain
    `span_occurrence_index`, and the text-free doc-grain metadata.
    `train_slim` carries `_FUNNEL_INPUT_COLS`; `bench_keys` is the
    stored benchmark shingle index."""
    hash_map = _at_rest(
        train_slim.select("doc_id", F.sha2(F.col("ntext"), 256).alias("h"))
    )
    dd0 = _at_rest(
        train_slim.withColumn("h", F.sha2(F.col("ntext"), 256))
        .withColumn("rn", F.row_number().over(_w_hash()))
        .where(F.col("rn") == 1)
        .drop("rn", "h")
    )
    # min_count=1 STORAGE (every occurrence, the suffix-array-at-rest
    # contract): cut == (rk >= 2) stays exact — a rank-2 occurrence
    # implies count >= 2 — and unlike the cnt>=2-filtered form the index
    # is APPEND-maintainable: a batch occurrence of a gram the corpus
    # held once must cut (corpus count reaches 2), which requires the
    # surviving rank-1 occurrence to already be stored (fold_append
    # never re-reads base docs). Deletion folding is unchanged.
    occ_idx = _at_rest(
        span_occurrence_index(dd0, k=CUT_K, min_count=1, text_col="ntext")
    )
    cut0 = _at_rest(
        cut_duplicated_spans(dd0, k=CUT_K, min_count=2, text_col="ntext")
    )
    contam0 = contaminated_ids(cut0, benchmark_keys=bench_keys, k=DECON_K)
    meta0 = _at_rest(_doc_meta(cut0, contam0, is_delta=False))
    return {"hash_map": hash_map, "occ_idx": occ_idx, "meta": meta0}


def fold_deletion(state, train_slim, bench_keys, del_ids):
    """Fold a tombstone batch through the deletion-fold artifacts —
    O(touched) work, never a corpus re-scan (`train_slim` is only
    probed by doc_id for the affected/resurrected slices, a pruned
    read of the corpus at rest). Returns ``(new_state, extras)`` with
    extras = {"res": resurrected doc_ids, "aff": re-written doc_ids}.
    Mechanics documented on q197; correctness certified by the planted
    differentials in tests/test_round14_ops.py and q197's
    delete-then-recompute oracle."""
    # 1. resurrection: re-run keep-first ONLY over hash groups that
    #    contain a tombstoned doc (O(touched groups))
    hash_map = state["hash_map"]
    del_h = (
        hash_map.join(del_ids, "doc_id", "left_semi").select("h").distinct()
    )
    grp = hash_map.join(del_h, "h", "left_semi")
    keeper_deleted_h = (
        grp.withColumn("rn", F.row_number().over(_w_hash()))
        .where(F.col("rn") == 1)
        .join(del_ids, "doc_id", "left_semi")
        .select("h")
    )
    res = _at_rest(
        grp.join(del_ids, "doc_id", "left_anti")
        .join(keeper_deleted_h, "h", "left_semi")
        .withColumn("rn", F.row_number().over(_w_hash()))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    res_docs = _at_rest(train_slim.join(res, "doc_id", "left_semi"))

    # 2. occurrence-index delta: every occurrence of a TOUCHED gram
    #    recomputes (cnt, rk) over the merged survivor set; untouched
    #    rows provably keep their stored cut flags
    occ_idx = state["occ_idx"]
    occ_del = occ_idx.join(del_ids, "doc_id", "left_semi")
    res_occ = gram_occurrences(res_docs, k=CUT_K, text_col="ntext")
    touched = _at_rest(
        occ_del.select("gh").unionByName(res_occ.select("gh")).distinct()
    )
    keep_occ = occ_idx.join(del_ids, "doc_id", "left_anti")
    t_all = (
        keep_occ.join(touched, "gh", "left_semi")
        .select("gh", "doc_id", "pos")
        .unionByName(res_occ.select("gh", "doc_id", "pos"))
    )
    w_first = Window.partitionBy("gh").orderBy("doc_id", "pos")
    # every surviving occurrence is stored back (min_count=1 storage);
    # cut == rk >= 2 (rank 2 implies count 2 — no cnt column needed)
    new_t = _at_rest(
        t_all.withColumn("rk", F.row_number().over(w_first))
        .select("gh", "doc_id", "pos", (F.col("rk") >= 2).alias("cut"))
    )
    keep_untouched = keep_occ.join(touched, "gh", "left_anti")
    occ_idx_new = _at_rest(keep_untouched.unionByName(new_t))

    # 3. rewrite ONLY affected docs (touched-gram holders + resurrected)
    aff = _at_rest(
        keep_occ.join(touched, "gh", "left_semi")
        .select("doc_id")
        .unionByName(res.select("doc_id"))
        .distinct()
    )
    cutpos_aff = (
        new_t.where(F.col("cut"))
        .select("doc_id", "pos")
        .unionByName(
            keep_untouched.where(F.col("cut"))
            .join(aff, "doc_id", "left_semi")
            .select("doc_id", "pos")
        )
    )
    aff_tok = train_slim.join(aff, "doc_id", "left_semi").select(
        "doc_id",
        "lang",
        "n_tok_norm",
        "chars_norm",
        F.col("ntext").alias("_orig"),
        F.filter(
            T.whitespace_tokens(F.col("ntext")), lambda x: x != ""
        ).alias("tk"),
    )
    cut_aff = _at_rest(
        rewrite_cut_positions(
            aff_tok, cutpos_aff, CUT_K, ["lang", "n_tok_norm", "chars_norm"]
        )
    )
    contam_aff = contaminated_ids(
        cut_aff, benchmark_keys=bench_keys, k=DECON_K
    )
    meta_aff = _doc_meta(cut_aff, contam_aff, is_delta=True)

    # 4. metadata-grain merge (selection/pack recompute globally on it)
    meta_new = _at_rest(
        state["meta"]
        .join(del_ids, "doc_id", "left_anti")
        .join(aff, "doc_id", "left_anti")
        .unionByName(meta_aff)
    )
    new_state = {
        "hash_map": _at_rest(hash_map.join(del_ids, "doc_id", "left_anti")),
        "occ_idx": occ_idx_new,
        "meta": meta_new,
    }
    return new_state, {"res": res, "aff": aff}


def fold_deletion_append(state, new_train, bench_keys):
    """APPEND fold for the deletion-artifact family — the missing
    direction that makes {build, append, delete} a closed lifecycle
    over ONE artifact set (q200). O(batch) against the at-rest tables:

    - hash map: batch rows union in; batch dedup anti-joins the stored
      hashes (keepers have the smallest ids, so any stored hash
      shadows a batch duplicate), keep-first within the batch;
    - occurrence index: append NEVER changes a stored row — an old
      occurrence's rank among its gram's occurrences is invariant
      under additions with larger doc_ids, and cut == (rk >= 2)
      doesn't read the count — so the fold only computes the BATCH
      rows' global ranks: rank-within-batch plus the stored occurrence
      count of the gram (an O(touched-grams) probe aggregate). This is
      exactly why the index stores min_count=1: a gram the corpus held
      once must cut its second (batch) occurrence, which needs the
      stored rank-1 row to exist without re-reading the base doc;
    - metadata: base rows carry over verbatim (base text provably
      un-re-cut at min_count=2; the benchmark is fixed across the
      lifecycle, so base contamination is unchanged too); batch rows
      rewrite via the same `rewrite_cut_positions` kernel from the
      batch rows' cut flags and probe the stored benchmark keys."""
    batch = new_train.select(*_FUNNEL_INPUT_COLS)
    hashed = batch.withColumn("h", F.sha2(F.col("ntext"), 256))
    new_dd = _at_rest(
        hashed.join(
            state["hash_map"].select("h").distinct(), "h", "left_anti"
        )
        .withColumn("rn", F.row_number().over(_w_hash()))
        .where(F.col("rn") == 1)
        .drop("rn", "h")
    )
    new_occ = gram_occurrences(new_dd, k=CUT_K, text_col="ntext")
    # stored occurrence count per TOUCHED gram (O(touched) aggregate)
    old_cnt = (
        state["occ_idx"]
        .join(new_occ.select("gh").distinct(), "gh", "left_semi")
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("base_occ"))
    )
    w_first = Window.partitionBy("gh").orderBy("doc_id", "pos")
    new_rows = _at_rest(
        new_occ.join(old_cnt, "gh", "left")
        .withColumn("rkb", F.row_number().over(w_first))
        .select(
            "gh",
            "doc_id",
            "pos",
            (F.coalesce(F.col("base_occ"), F.lit(0)) + F.col("rkb") >= 2)
            .alias("cut"),
        )
    )
    batch_tok = new_dd.select(
        "doc_id",
        "lang",
        "n_tok_norm",
        "chars_norm",
        F.col("ntext").alias("_orig"),
        F.filter(
            T.whitespace_tokens(F.col("ntext")), lambda x: x != ""
        ).alias("tk"),
    )
    cut_b = _at_rest(
        rewrite_cut_positions(
            batch_tok,
            new_rows.where(F.col("cut")).select("doc_id", "pos"),
            CUT_K,
            ["lang", "n_tok_norm", "chars_norm"],
        )
    )
    contam_b = contaminated_ids(cut_b, benchmark_keys=bench_keys, k=DECON_K)
    return {
        "hash_map": _at_rest(
            state["hash_map"].unionByName(hashed.select("doc_id", "h"))
        ),
        "occ_idx": _at_rest(state["occ_idx"].unionByName(new_rows)),
        "meta": _at_rest(
            state["meta"].unionByName(
                _doc_meta(cut_b, contam_b, is_delta=True)
            )
        ),
    }


def _deletion_report(train, keep_pred, del_ids, meta0, sel0,
                     meta_new, sel_new):
    """The q197 certificate + accounting tail, shared with q200:
    one doc-grain full-outer diff of (pre-delete, post-delete)
    metadata/selection derives every removed/added/changed
    certificate; the 8 stage rows aggregate the post-delete
    state."""
    # ---- certificates: one doc-grain full-outer diff ----
    def _side(meta, sel, p):
        return meta.select(
            "doc_id",
            F.col("n_tok_norm").alias(f"{p}_ntok"),
            F.col("chars_norm").alias(f"{p}_nchr"),
            F.col("tokens_after").alias(f"{p}_tok"),
            F.col("chars_cut").alias(f"{p}_chr"),
            F.col("q_i").alias(f"{p}_q"),
            F.col("contam").alias(f"{p}_con"),
        ).join(
            sel.select("doc_id").withColumn(f"{p}_sel", F.lit(True)),
            "doc_id",
            "left",
        )

    cmp = _side(meta0, sel0, "o").join(
        _side(meta_new, sel_new, "n"), "doc_id", "full_outer"
    )
    o_in = F.col("o_ntok").isNotNull()
    n_in = F.col("n_ntok").isNotNull()
    o5 = o_in & ~F.col("o_con")
    n5 = n_in & ~F.col("n_con")
    o6 = o5 & (F.col("o_q") >= QUALITY_MIN_I)
    n6 = n5 & (F.col("n_q") >= QUALITY_MIN_I)
    o7 = F.coalesce(F.col("o_sel"), F.lit(False))
    n7 = F.coalesce(F.col("n_sel"), F.lit(False))
    vdiff = (F.col("o_tok") != F.col("n_tok")) | (
        F.col("o_chr") != F.col("n_chr")
    )
    ndiff = (F.col("o_ntok") != F.col("n_ntok")) | (
        F.col("o_nchr") != F.col("n_nchr")
    )

    def _cnt(cond, name):
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias(name)

    certs = cmp.agg(
        _cnt(o_in & ~n_in, "r34"),
        _cnt(n_in & ~o_in, "a34"),
        _cnt(o_in & n_in & ndiff, "c3"),
        _cnt(o_in & n_in & vdiff, "c4"),
        _cnt(o5 & ~n5, "r5"),
        _cnt(n5 & ~o5, "a5"),
        _cnt(o5 & n5 & vdiff, "c5"),
        _cnt(o6 & ~n6, "r6"),
        _cnt(n6 & ~o6, "a6"),
        _cnt(o6 & n6 & vdiff, "c6"),
        _cnt(o7 & ~n7, "r7"),
        _cnt(n7 & ~o7, "a7"),
        _cnt(o7 & n7 & vdiff, "c7"),
    )
    n_del = del_ids.agg(F.count(F.lit(1)).cast("long").alias("n"))
    certs = _at_rest(certs.crossJoin(n_del))

    train_new = train.where(keep_pred)

    def srow(stage, label, df, tokens_col, chars_col, rc, ac, cc):
        def col_of(x):
            return F.col(x) if isinstance(x, str) else x

        return (
            df.agg(
                F.count(F.lit(1)).cast("long").alias("docs"),
                F.coalesce(F.sum(tokens_col), F.lit(0))
                .cast("long")
                .alias("tokens"),
                F.coalesce(F.sum(chars_col), F.lit(0))
                .cast("long")
                .alias("chars"),
            )
            .crossJoin(F.broadcast(certs))
            .select(
                F.lit(stage).cast("long").alias("stage"),
                F.lit(label).alias("label"),
                "docs",
                "tokens",
                "chars",
                col_of(rc).cast("long").alias("removed_docs"),
                col_of(ac).cast("long").alias("added_docs"),
                col_of(cc).cast("long").alias("changed_docs"),
            )
        )

    zero = F.lit(0)
    m5 = meta_new.where(~F.col("contam"))
    m6 = m5.where(F.col("q_i") >= QUALITY_MIN_I)
    bins = (
        pack_sequences(
            sel_new,
            F.col("tokens_after"),
            budget=PACK_BUDGET,
            shard_col="lang",
            order_col="doc_id",
        )
        .groupBy("lang", "bin_id")
        .agg(F.sum("tokens_after").cast("long").alias("bin_tokens"))
    )
    funnel = (
        srow(1, "input", train_new, "n_tok_norm", "chars_raw", "n", zero, zero)
        .unionByName(
            srow(
                2, "normalize", train_new, "n_tok_norm", "chars_norm",
                "n", zero, zero,
            )
        )
        .unionByName(
            srow(
                3, "exact_dedup", meta_new, "n_tok_norm", "chars_norm",
                "r34", F.col("a34"), F.col("c3"),
            )
        )
        .unionByName(
            srow(
                4, "span_cut", meta_new, "tokens_after", "chars_cut",
                "r34", F.col("a34"), F.col("c4"),
            )
        )
        .unionByName(
            srow(
                5, "decontaminate", m5, "tokens_after", "chars_cut",
                "r5", F.col("a5"), F.col("c5"),
            )
        )
        .unionByName(
            srow(
                6, "quality_filter", m6, "tokens_after", "chars_cut",
                "r6", F.col("a6"), F.col("c6"),
            )
        )
        .unionByName(
            srow(
                7, "budget_select", sel_new, "tokens_after", "chars_cut",
                "r7", F.col("a7"), F.col("c7"),
            )
        )
        .unionByName(
            bins.agg(
                F.count(F.lit(1)).cast("long").alias("docs"),
                F.coalesce(F.sum("bin_tokens"), F.lit(0))
                .cast("long")
                .alias("tokens"),
            ).select(
                F.lit(8).cast("long").alias("stage"),
                F.lit("pack").alias("label"),
                "docs",
                "tokens",
                F.lit(0).cast("long").alias("chars"),
                F.lit(0).cast("long").alias("removed_docs"),
                F.lit(0).cast("long").alias("added_docs"),
                F.lit(0).cast("long").alias("changed_docs"),
            )
        )
    )
    return funnel.transform(presentation_sort, "stage")


@query("q197_deletion_fold", oracle=_DELETE_SQL)
def q197(spark, sf_dir):
    """DELETION folding through the curation artifacts (VERDICT r13
    item 2) — the right-to-be-forgotten pass a 100 TB pipeline runs
    daily, and the one operation an append-only design cannot express.
    Tombstones: train docs with doc_id % 7 == 3. Yesterday's artifacts
    (full-corpus funnel state, each a materialized leaf): the
    (h, doc_id) HASH MAP (q63's dedup-index shape — bare distinct
    hashes cannot resurrect), the occurrence-grain
    `span_occurrence_index` (gh, doc_id, pos, cut), the benchmark
    shingle index, and the text-free doc-grain metadata.

    The fold, each step O(touched), never a corpus re-scan:
      1. RESURRECTION — hash groups whose keeper was deleted re-run
         keep-first over the surviving (h, doc_id) rows only;
      2. UN-CUT — deleted keepers' occurrence rows leave the index,
         resurrected duplicates' occurrences (re-derived from their own
         text, O(resurrected)) enter; every occurrence of a TOUCHED
         gram recomputes (cnt, rk) over the merged survivor set —
         deletions lower counts below min_count and shift
         first-occurrence ranks, both flipping cut -> uncut (and a
         resurrected copy with a larger doc_id can flip a third doc's
         occurrence either way through rank order). Untouched grams
         keep their stored cut flags: no occurrence of theirs was
         added or removed, so (cnt, rk) are provably unchanged;
      3. REWRITE — only AFFECTED docs (holders of a touched gram, plus
         resurrections) re-derive text via `rewrite_cut_positions` from
         (recomputed touched flags) ∪ (stored untouched flags); their
         quality/diversity/contamination recompute from the new text
         (grown-back spans can newly contaminate — restored shingles);
      4. RE-SELECT/RE-PACK at metadata grain over (kept metadata minus
         deleted minus affected) ∪ (fresh affected rows).

    Output: the 8 stage rows over the SURVIVING corpus plus per-stage
    certificates — removed_docs (in the stage before, gone now),
    added_docs (absent before: resurrections at 3+, boundary moves at
    7), changed_docs (in both, with different token/char values: the
    un-cut propagation). The DuckDB oracle recomputes the funnel from
    scratch TWICE (with and without the tombstones) and derives every
    certificate from the two per-doc cascades — a hash match IS the
    incremental-delete == delete-then-recompute differential.

    Scale shape: the occurrence index is O(corpus tokens) but text-free
    (15-byte hash + two ints + a flag — the same at-rest budget as Lee
    et al.'s suffix array); the daily fold shuffles only deleted/
    resurrected/touched rows; the global re-select is the usual
    ~40 bytes/doc metadata pass through the distributed prefix-sum
    kernel."""
    base_all, _max_id = _funnel_input(spark, sf_dir)
    train = base_all.where(~F.col("is_bench"))
    bench = base_all.where(F.col("is_bench"))
    slim = train.select(*_FUNNEL_INPUT_COLS)
    del_ids = train.where(F.col("doc_id") % 7 == 3).select("doc_id")

    bench_keys = _at_rest(
        shingle_keys(bench.select(F.col("ntext").alias("text")), k=DECON_K)
    )
    # yesterday's artifacts over the FULL corpus, then the delete fold
    state = build_deletion_state(slim, bench_keys)
    meta0 = state["meta"]
    sel0 = _budget_select(meta0)
    new_state, _extras = fold_deletion(state, slim, bench_keys, del_ids)
    meta_new = new_state["meta"]
    sel_new = _budget_select(meta_new)

    return _deletion_report(
        train, F.col("doc_id") % 7 != 3, del_ids, meta0, sel0,
        meta_new, sel_new,
    )


@query("q200_lifecycle_fold", oracle=_DELETE_SQL)
def q200(spark, sf_dir):
    """ARTIFACT LIFECYCLE closure — build, APPEND, then DELETE, all
    through ONE at-rest artifact family, against one scratch oracle.
    q197 certifies the delete fold from scratch-built artifacts; a
    real pipeline deletes from artifacts that accumulated through
    APPENDS. If the append fold leaves the occurrence index, hash map,
    or metadata in a subtly different shape than a scratch build
    (missing rank-1 occurrences, wrong batch ranks, stale flags), the
    NEXT delete silently diverges — exactly the q196/q199 closure bug
    class, now across operation TYPES rather than ticks.

    Path: `build_deletion_state` on the bottom 90% of doc_ids →
    `fold_deletion_append` for the top 10% (the state now claims to
    equal a scratch build over the FULL corpus) → `fold_deletion` of
    the tombstones (train doc_id % 7 == 3) → q197's report. The
    oracle is q197's delete-then-recompute SQL VERBATIM: its
    pre-delete cascade is the full corpus — which the Spark side only
    reaches THROUGH the append fold — and its post-delete cascade is
    the survivors, reached through append-then-delete. A hash match
    therefore proves fold_delete(fold_append(build(base), b)) ==
    scratch(full ∖ tombstones) with every certificate intact.
    tests/test_round14_ops.py adds q200 == q197 row-for-row and a
    planted append-then-delete differential exercising both
    cross-operation paths: deleting a BASE doc resurrects its BATCH
    duplicate, and un-cuts a BATCH row whose cut had been caused by
    the base doc's stored rank-1 occurrence.

    Scale shape: identical per fold to q197/q192 — the append is
    O(batch) probes (the occurrence-index append touches only the
    batch's grams: stored rows are rank-invariant under larger-id
    additions), the delete is O(touched), and base text is read only
    for affected/resurrected doc_ids."""
    base_all, max_id = _funnel_input(spark, sf_dir)
    cut_id = (max_id * 9) // 10
    train = base_all.where(~F.col("is_bench"))
    bench = base_all.where(F.col("is_bench"))
    slim = train.select(*_FUNNEL_INPUT_COLS)
    del_ids = train.where(F.col("doc_id") % 7 == 3).select("doc_id")

    # the benchmark is FIXED across the lifecycle (q197's oracle shape:
    # bgr is the full bench split; deletes target train docs only)
    bench_keys = _at_rest(
        shingle_keys(bench.select(F.col("ntext").alias("text")), k=DECON_K)
    )
    state0 = build_deletion_state(
        slim.where(F.col("doc_id") <= F.lit(cut_id)), bench_keys
    )
    state1 = fold_deletion_append(
        state0, slim.where(F.col("doc_id") > F.lit(cut_id)), bench_keys
    )
    meta0 = state1["meta"]  # the pre-delete FULL-corpus state
    sel0 = _budget_select(meta0)
    state2, _extras = fold_deletion(state1, slim, bench_keys, del_ids)
    meta_new = state2["meta"]
    sel_new = _budget_select(meta_new)
    return _deletion_report(
        train, F.col("doc_id") % 7 != 3, del_ids, meta0, sel0,
        meta_new, sel_new,
    )
