"""North-star LLM-pipeline queries: Q19-Q22 (SURVEY.md §2.12) plus the
extended dedup / text-analysis / similarity surface over the `documents` and
`embeddings` fixtures. Approximate operators are approximate by DESIGN but
deterministic by CONSTRUCTION (seed-fixed planes / hash-derived signatures /
integer-grid trainers), so every one carries an exact DuckDB oracle that
replays the algorithm (brute-force where the Spark plan prunes — bench.py's
gt_oracles set); `tests/` additionally pin recall floors against brute force
on planted-duplicate fixtures.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.catalog import load_tables, session_memo
from eurostat_energy_etl_pipeline_spark.functions import (
    ordered_output,
    portable_round,
    portable_round_sql,
    presentation_sort,
    widen_if_narrow,
)
from eurostat_energy_etl_pipeline_spark.operators import dedup as D
from eurostat_energy_etl_pipeline_spark.operators import similarity as S
from eurostat_energy_etl_pipeline_spark.operators import text as T
from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    media_table,
)
from eurostat_energy_etl_pipeline_spark.plans import pin, query


@query(
    "q19_dedup_exact",
    oracle="""
    SELECT count(*) AS total, count(DISTINCT text) AS distinct_texts FROM documents
    """,
)
def q19(spark, sf_dir):
    """Exact text dedup accounting (north star; A5 generalized)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("text").alias("distinct_texts"),
    )


@query(
    "q20_text_stats",
    oracle="""
    SELECT lang, count(*) AS docs,
           floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4 AS avg_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q20(spark, sf_dir):
    """Per-language doc stats (exact integer sum -> deterministic mean)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            portable_round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_chars"),
        )
        .transform(presentation_sort, "lang")
    )


@query(
    "q21_word_count",
    oracle="""
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
    ) GROUP BY token ORDER BY cnt DESC, token LIMIT 20
    """,
)
def q21(spark, sf_dir):
    """Tokenize + explode word count (split on single space per the declared
    contract; both engines emit '' for runs of spaces identically)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(20)
    )


@query(
    "q22_embedding_topk",
    oracle="""
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[])), 4) AS dot
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY dot DESC, vec_id LIMIT 5
    """,
)
def q22(spark, sf_dir):
    """Embedding dot-product top-k vs vec_id=0 (broadcast 1-row side)."""
    t = load_tables(spark, sf_dir)
    return S.dot_topk_by_id(t["embeddings"], query_id=0, k=5)


# --- extended dedup --------------------------------------------------------

@query(
    "q23_dedup_hash_groups",
    oracle="""
    SELECT count(*) AS n_groups, CAST(sum(n_docs) AS BIGINT) AS total_docs,
           CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups
    FROM (SELECT sha256(text) AS h, count(*) AS n_docs FROM documents GROUP BY 1)
    """,
)
def q23(spark, sf_dir):
    """sha2-based exact dedup groups: shuffle a 32-byte key, not the text."""
    t = load_tables(spark, sf_dir)
    groups = D.hash_dup_groups(t["documents"])
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_docs").alias("total_docs"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("dup_groups"),
    )


@query(
    "q24_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 2),
                       i -> array_to_string(toks[i:i+2], ' ')) END) AS shingles
      FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           floor((CASE WHEN len(a.shingles) + len(b.shingles)
                           - len(list_intersect(a.shingles, b.shingles)) > 0
                 THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                      / (len(a.shingles) + len(b.shingles)
                         - len(list_intersect(a.shingles, b.shingles)))
                 ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS jacc
    FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id
    ORDER BY id_a
    """,
)
def q24(spark, sf_dir):
    """Exact 3-token-shingle Jaccard on consecutive-id pairs — the
    deterministic, oracle-checkable core of near-dup verification (pair
    *generation* at scale is LSH's job, see q25)."""
    t = load_tables(spark, sf_dir)
    # r15: ordered_output — the bare orderBy's range sampler re-executed
    # the shingle+Jaccard child once per action in the AQE-off regime
    # (guide §7.2); same rows, same total order (id_a unique).
    return ordered_output(D.ngram_jaccard_pairs(t["documents"], k=3), "id_a")


@query(
    "q25_minhash_lsh_pairs",
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
    ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, jacc FROM (
      SELECT c.id_a, c.id_b,
             floor((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / (len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles)))) * 1e6 + 0.5) / 1e6 AS jacc
      FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
    ) WHERE jacc >= 0.5 ORDER BY id_a, id_b
    """,
)
def q25(spark, sf_dir):
    """MinHash(32)+LSH(16 bands) near-dup pairs, exact-Jaccard verified at
    >=0.5. The oracle is exhaustive ground truth at the same threshold via
    an inverted shingle index: any pair at J>=0.5 shares at least one
    shingle, so the shingle equi-join enumerates a provable superset of
    qualifying pairs and exact Jaccard filters it — the same answer as
    all-pairs brute force without the O(n^2) wall. The hash compare
    therefore certifies 100% recall AND precision of the LSH path on this
    corpus (16 bands x 2 rows puts the S-curve knee at ~0.25, so J>=0.5
    pairs collide w.h.p.; the exact-Jaccard verification pass removes every
    false candidate). Spark computes Jaccard over 31-bit hashed shingles,
    the oracle over shingle strings — the equality also witnesses that the
    numeric-shingle space is collision-free here. Probabilistic-recall
    planted-pair tests stay in tests/test_dedup.py."""
    t = load_tables(spark, sf_dir)
    return D.minhash_lsh_pairs(t["documents"], threshold=0.5)


# DuckDB recomputation of the portable 60-bit SimHash: per-bit majority
# vote as 60 conditional sums, generated here (the same construction the
# lang-ID oracle uses for its marker scores).
_SIMHASH_VOTE_SQL = ",\n".join(
    f"         sum((h >> {b}) & 1) AS s{b}" for b in range(D.PORTABLE_SIMHASH_BITS)
)
_SIMHASH_SIG_SQL = "\n           + ".join(
    f"(CASE WHEN 2 * s{b} > n THEN (1::BIGINT << {b}) ELSE 0 END)"
    for b in range(D.PORTABLE_SIMHASH_BITS)
)


@query(
    "q26_simhash_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
      FROM documents
    ),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    v AS (
      SELECT doc_id, count(*) AS n,
{_SIMHASH_VOTE_SQL}
      FROM h GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             {_SIMHASH_SIG_SQL} AS sig
      FROM v
    ),
    bands AS (
      SELECT doc_id, sig, b, (sig >> (b * 15)) & 32767 AS key
      FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
             bit_count(xor(a.sig, b2.sig)) AS hamming
      FROM bands a JOIN bands b2
        ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    ORDER BY id_a, id_b
    """,
)
def q26(spark, sf_dir):
    """SimHash near-dup candidates at hamming<=3 via 15-bit band
    pigeonhole, in PORTABLE mode: the 60-bit md5-derived token hash
    (operators/dedup.portable_token_hash) is computable bit-for-bit in
    DuckDB, so the oracle independently recomputes signatures, bands and
    hamming distances in SQL and the driver hash-compares the full pair
    set — no cross-engine hash gap. The xxhash64 default stays the
    production path (faster); both run the identical vote/band/verify
    plan."""
    t = load_tables(spark, sf_dir)
    return D.simhash_near_dup_pairs(t["documents"], band_bits=15, portable=True)


@query(
    "q27_fingerprint",
    oracle="""
    SELECT count(*) AS total, count(DISTINCT fp) AS distinct_fp FROM (
      SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    )
    """,
)
def q27(spark, sf_dir):
    """Normalization-fingerprint dedup (case/whitespace-insensitive md5)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(T.fingerprint(F.col("text")).alias("fp"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.countDistinct("fp").alias("distinct_fp"),
        )
    )


# --- text analysis ---------------------------------------------------------

_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    for lang, markers in T.LANG_MARKERS.items()
}

_LANG_SCORE_SQL = ",\n".join(
    f"      len(list_filter(toks, t -> list_contains({_MARKER_SQL[lang]}, t))) AS s_{lang}"
    for lang in T.LANG_MARKERS
)


@query(
    "q28_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
{_LANG_SCORE_SQL}
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    )
    SELECT CASE
        WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) <= 0 THEN 'und'
        WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
        WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
        WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
        WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
        ELSE 'zh' END AS lang_pred,
      count(*) AS docs
    FROM scored GROUP BY 1 ORDER BY lang_pred
    """,
)
def q28(spark, sf_dir):
    """Marker-stopword language ID distribution (deterministic argmax with
    fixed tie-break order)."""
    t = load_tables(spark, sf_dir)
    return (
        widen_if_narrow(t["documents"])
        .select(T.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("docs"))
        .transform(presentation_sort, "lang_pred")
    )


@query(
    "q29_token_stats",
    oracle="""
    SELECT lang,
           CAST(sum(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END)
             AS BIGINT) AS total_tokens,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))
             AS BIGINT) AS total_bpe_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def q29(spark, sf_dir):
    """Token accounting per language: whitespace tokens + BPE-ish regex
    tokens (LLM token budgeting)."""
    t = load_tables(spark, sf_dir)
    c = F.col("text")
    return (
        widen_if_narrow(t["documents"])
        .select("lang", T.token_count(c).alias("nt"), T.bpe_ish_token_count(c).alias("nb"))
        .groupBy("lang")
        .agg(
            F.sum("nt").alias("total_tokens"),
            F.sum("nb").alias("total_bpe_tokens"),
        )
        .transform(presentation_sort, "lang")
    )


@query(
    "q30_quality_buckets",
    oracle="""
    WITH q AS (
      SELECT CASE WHEN len(text) > 0
               THEN CAST(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                    / len(text) ELSE 0.0 END AS pr,
             CASE WHEN trim(text) = '' THEN 0.0
               ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    t -> list_contains(['the','and','of','is','to','in','that','with',
                                        'a','an','for','on','as','are','it'], t))) AS DOUBLE)
                    / len(string_split_regex(trim(lower(text)), '\\s+')) END AS sr,
             CAST(len(text) AS DOUBLE) AS n
      FROM documents
    )
    SELECT round(CAST(floor(
             (least(n / 500.0, 1.0) * 0.5
              + least(sr * 4.0, 1.0) * 0.3
              + (1.0 - least(pr * 5.0, 1.0)) * 0.2) * 10) AS DOUBLE) / 10, 1) AS bucket,
           count(*) AS docs
    FROM q GROUP BY 1 ORDER BY bucket
    """,
)
def q30(spark, sf_dir):
    """Quality-score histogram (0.1-wide buckets) over the composite
    length/punctuation/stopword heuristic."""
    t = load_tables(spark, sf_dir)
    score = T.quality_score(F.col("text"))
    return (
        widen_if_narrow(t["documents"])
        .select(
            F.round(F.floor(score * 10).cast("double") / 10, 1).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("docs"))
        .transform(presentation_sort, "bucket")
    )


# --- similarity ------------------------------------------------------------

@query(
    "q31_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
    ORDER BY id_a
    """,
)
def q31(spark, sf_dir):
    """Exact cosine on consecutive-id embedding pairs — the deterministic
    verification kernel of embedding near-dup (pair generation at scale:
    q32/LSH)."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    return (
        a.join(b, F.col("id_a") + 1 == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(S.cosine(F.col("v_a"), F.col("v_b")), 6).alias("cos"),
        )
        .transform(ordered_output, "id_a")  # r15: no range-sample re-exec
    )


def _query_vec(e, query_id: int = 0) -> list[float]:
    """The query embedding as a driver-side literal (one k-float row)."""
    return [
        r[0]
        for r in e.where(F.col("vec_id") == query_id)
        .select(F.explode("embedding"))
        .collect()
    ]


def _bucket_sql(vcol: str, planes) -> str:
    """DuckDB expression for the signed-projection LSH bucket of `vcol`
    under the given hyperplane matrix — the plane rows inlined as DOUBLE[]
    literals exactly as `bucket_of` inlines them for Catalyst.
    list_dot_product is bit-identical to the sequential fold both engines
    execute (verified empirically), and a sign bit could only diverge if a
    projection landed within ~dim ulps of zero — measure-zero for
    continuous data."""
    terms = []
    for b, row in enumerate(planes):
        lit = "[" + ", ".join(repr(float(x)) for x in row) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vcol}, {lit}) >= 0"
            f" THEN {1 << b} ELSE 0 END)"
        )
    return "(" + "\n           + ".join(terms) + ")"


def _lsh_ann_oracle_sql(
    dim: int = 64,
    bits: int = 8,
    seed: int = 42,
    num_tables: int = 3,
    radius: int = 2,
    k: int = 5,
) -> str:
    """Exact DuckDB replay of q32's LSH probe (VERDICT r9 item 1):
    recompute every corpus row's bucket in each hash table from the same
    hyperplane literals, admit rows within hamming `radius` of the
    query's bucket in ANY table — probing all buckets at hamming <= r of
    qb admits precisely the rows whose bucket xor qb has popcount <= r,
    so the multiprobe IN-list and this popcount predicate are the same
    set — then the identical round-6 cosine rerank. The oracle is
    deliberately brute-force (buckets for all rows, no pruning); the
    Spark plan is the pruned one, so the pair is listed in bench.py's
    gt_oracles."""
    bsel, qsel, conds = [], [], []
    for t in range(num_tables):
        planes = S.hyperplanes(dim, bits, seed + t)
        bsel.append(f"{_bucket_sql('v', planes)} AS b{t}")
        qsel.append(f"{_bucket_sql('qv', planes)} AS qb{t}")
        conds.append(
            f"bit_count(xor(CAST(b{t} AS BIGINT), CAST(qb{t} AS BIGINT)))"
            f" <= {radius}"
        )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
               WHERE vec_id = 0),
         eb AS (SELECT vec_id, v, {", ".join(bsel)} FROM e),
         qb AS (SELECT qv, {", ".join(qsel)} FROM q),
         cand AS (SELECT eb.vec_id, eb.v, qb.qv FROM eb CROSS JOIN qb
                  WHERE {" OR ".join(conds)})
    SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cos
    FROM cand ORDER BY cos DESC, vec_id LIMIT {k}
    """


@query("q32_lsh_ann", oracle=_lsh_ann_oracle_sql())
def q32(spark, sf_dir):
    """Approximate NN: random-hyperplane LSH probe (3 independent tables,
    hamming<=2 multiprobe — ~40% of the corpus scanned; the fixture's
    embeddings are near-uniform, the hardest case for LSH, so the recall
    lever is set deeper than a clustered corpus would need) + exact
    rerank against the vec_id=0 query. Approximate by DESIGN but
    deterministic by CONSTRUCTION (seed-fixed hyperplanes, exact rerank),
    so the DuckDB oracle recomputes buckets, candidate admission, and the
    rerank bit-for-bit and the driver hash-compares the result rows —
    replacing the r5-r9 in-plan self-certification, which could only
    sample. Recall-vs-bruteforce floors stay pinned in
    tests/test_similarity.py."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    qvec = _query_vec(e)
    return S.lsh_topk(e, qvec, k=5, num_tables=3)


def _ivf_oracle_sql(
    nlist: int = 16,
    n_iter: int = 2,
    nprobe: int = 4,
    k: int = 5,
    dim: int = 64,
    sample_size: int = 4096,
    salt: str = "ivf",
    sq8: bool = False,
    g_cte: str | None = None,
    train_cte: str | None = None,
    train_src: str = "g",
) -> str:
    """Exact DuckDB replay of the WHOLE IVF pipeline — trainer included
    (the q127 unrolled-CTE recipe applied to k-means, VERDICT r9 item 1).
    `similarity.train_ivf_centroids` is deterministic and integer-exact by
    construction (md5-ordered sample, hash-Forgy init, 1e-6-gridded
    components, |c|^2 - 2<v,c> scores and floor((2s+n)/2n) mean updates —
    all int64 arithmetic far below 2^53, hence order-independent and
    bit-equal in any engine), so the oracle unrolls the `n_iter` Lloyd
    rounds as CTE ladders, re-derives probe cells and corpus cell
    assignment with the same integer scores, and reranks with the same
    round-6 cosine. With `sq8` the rerank first replays the symmetric
    int8 quantize/dequantize (the q79-audited arithmetic). Deliberately
    brute-force (full cross joins per Lloyd round) -> bench.py
    gt_oracles."""
    score = "list_dot_product(c.c, c.c) - 2 * list_dot_product({v}, c.c)"
    ctes = [
        g_cte
        or """g AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> floor(x * 1e6 + 0.5)) AS vi
      FROM embeddings)""",
    ]
    if train_cte is not None:
        ctes.append(train_cte)
    ctes += [
        f"""ordd AS (
      SELECT vec_id, vi,
             row_number() OVER (
               ORDER BY md5('{salt}:' || CAST(vec_id AS STRING)), vec_id)
               AS rn
      FROM {train_src})""",
        f"samp AS (SELECT vec_id, vi FROM ordd WHERE rn <= {sample_size})",
        f"""c0 AS (SELECT CAST(rn - 1 AS INT) AS cell, vi AS c
               FROM ordd WHERE rn <= {nlist})""",
    ]
    for i in range(1, n_iter + 1):
        prev = f"c{i - 1}"
        ctes.append(f"""a{i} AS (
      SELECT vec_id, vi, cell FROM (
        SELECT s.vec_id, s.vi, c.cell,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY {score.format(v="s.vi")}, c.cell) AS rk
        FROM samp s CROSS JOIN {prev} c) t WHERE rk = 1)""")
        ctes.append(f"""m{i} AS (
      SELECT cell, i AS pos,
             floor((2 * sum(vi[i]) + count(*)) / (2.0 * count(*))) AS cm
      FROM a{i} CROSS JOIN generate_series(1, {dim}) AS g_(i)
      GROUP BY cell, i)""")
        ctes.append(f"""c{i} AS (
      SELECT p.cell, coalesce(n.c, p.c) AS c
      FROM {prev} p LEFT JOIN (SELECT cell, list(cm ORDER BY pos) AS c
                               FROM m{i} GROUP BY cell) n
        ON p.cell = n.cell)""")
    fin = f"c{n_iter}"
    ctes.append("qq AS (SELECT v AS qv, vi AS qi FROM g WHERE vec_id = 0)")
    ctes.append(f"""probes AS (
      SELECT cell FROM (
        SELECT c.cell, row_number() OVER (
          ORDER BY {score.format(v="q.qi")}, c.cell) AS rk
        FROM {fin} c CROSS JOIN qq q) t WHERE rk <= {nprobe})""")
    ctes.append(f"""asg AS (
      SELECT vec_id, v, cell FROM (
        SELECT g.vec_id, g.v, c.cell,
               row_number() OVER (PARTITION BY g.vec_id
                 ORDER BY {score.format(v="g.vi")}, c.cell) AS rk
        FROM g CROSS JOIN {fin} c) t WHERE rk = 1)""")
    if sq8:
        ctes.append("""mx AS (
      SELECT a.vec_id, a.v,
             list_aggregate(list_transform(a.v, y -> abs(y)), 'max') AS emax
      FROM asg a JOIN probes p ON a.cell = p.cell)""")
        ctes.append("""cand AS (
      SELECT vec_id,
             list_transform(v, x -> round(x * 127.0 / emax)
                                    / (127.0 / emax)) AS dv
      FROM mx WHERE emax > 0)""")
        vexpr = "d.dv"
    else:
        ctes.append("""cand AS (
      SELECT a.vec_id, a.v FROM asg a JOIN probes p ON a.cell = p.cell)""")
        vexpr = "d.v"
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT d.vec_id, round(list_cosine_similarity({vexpr}, q.qv), 6) AS cos
    FROM cand d CROSS JOIN qq q ORDER BY cos DESC, vec_id LIMIT {k}"""
    )


# At-rest IVF index memo per (session, sf_dir): built once by
# write_ivf_index (cell-partitioned corpus + stored centroids), probed by
# every later q37 call — the build-once-probe-many shape of q63.
_IVF_INDEX: dict[tuple[str, str], str] = {}
# Trained coarse quantizer per (session, corpus): the float (q37) and SQ8
# (q80) layouts share it — training is deterministic, so this only skips
# the duplicate sample scan + Lloyd's pass on the second index write.
_IVF_CENTROIDS: dict = {}


def _ivf_centroids(spark, sf_dir: str):
    return session_memo(
        _IVF_CENTROIDS,
        spark,
        sf_dir,
        lambda: S.train_ivf_centroids(
            load_tables(spark, sf_dir)["embeddings"], nlist=16
        ),
    )


def _ivf_index_path(spark, sf_dir: str) -> str:
    def build(path):
        S.write_ivf_index(
            load_tables(spark, sf_dir)["embeddings"],
            path,
            nlist=16,
            centroids=_ivf_centroids(spark, sf_dir),
        )

    return session_memo(_IVF_INDEX, spark, sf_dir, build, artifact="ivf_index")


@query("q37_ivf_ann", oracle=_ivf_oracle_sql())
def q37(spark, sf_dir):
    """IVF approximate NN against the AT-REST index: `write_ivf_index`
    builds the cell-partitioned corpus + stored centroid matrix once per
    (session, corpus); the query is then a partition-pruned probe of the
    nprobe nearest cells with exact rerank (`ivf_index_topk`) — reading
    ~nprobe/nlist of the data, the same build-once-probe-many shape as
    the q63 dedup index. Approximate by DESIGN (cell pruning) but — with
    the r10 auditable trainer (md5 sample, hash init, integer-grid Lloyd
    rounds; `similarity.train_ivf_centroids`) — deterministic and
    integer-exact end to end, so the DuckDB oracle retrains the
    quantizer, re-derives cells and probes, and hash-matches the rows
    (`_ivf_oracle_sql`), replacing the r5-r9 sampled
    self-certification. Recall floors vs brute force stay pinned in
    tests/test_similarity.py."""
    idx = _ivf_index_path(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    qvec = _query_vec(e)
    return S.ivf_index_topk(spark, idx, qvec, k=5, nprobe=4)


@query(
    "q33_multimodal_features",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS INT) AS width,
           CAST(octet_length(encode(text)) % 480 AS INT) AS height
    FROM documents ORDER BY media_id
    """,
)
def q33(spark, sf_dir):
    """Multimodal plumbing: binary payload table -> mapInPandas feature
    extraction. The decode step is the documented deterministic stub
    (width/height derived from payload length — operators/multimodal.py),
    so the whole mapInPandas path has a closed-form oracle: the driver now
    hash-checks that the Arrow batch plumbing preserves ids, types and
    byte counts exactly. Batch-shape invariants stay in
    tests/test_multimodal.py."""
    t = load_tables(spark, sf_dir)
    feats = extract_features(media_table(t["documents"]))
    # No final global sort: a corpus-grain result is consumed as a SET
    # (the driver's hash canonicalizes order), and a total-order sort
    # costs a full range exchange PLUS a boundary-sampling job that
    # re-executes the upstream — for kernel plans, a second full run of
    # the Python stage. At 100 TB nobody globally sorts a per-item table
    # for presentation; dimension-bounded results keep their
    # presentation_sort.
    return feats.select(
        "media_id", "media_type", "n_bytes", "width", "height"
    )


@query(
    "q34_media_meta",
    oracle="""
    SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           count(*) AS n, CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1 ORDER BY media_type
    """,
)
def q34(spark, sf_dir):
    """Typed-metadata accounting over the opaque binary payload column."""
    t = load_tables(spark, sf_dir)
    return (
        media_table(t["documents"])
        .groupBy("media_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_bytes").alias("total_bytes"))
        .transform(presentation_sort, "media_type")
    )


@query(
    "q39_frame_sample",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(greatest(CAST(floor(octet_length(encode(text)) / 64) AS INT) - 1, 0) + 1
                AS BIGINT) AS n_frames,
           CAST((greatest(CAST(floor(octet_length(encode(text)) / 64) AS INT) - 1, 0))
                * 64 AS BIGINT) AS max_offset
    FROM documents ORDER BY media_id
    """,
)
def q39(spark, sf_dir):
    """Frame-sampling plumbing (video-style fixed-stride chunking): the
    exploded per-frame offsets aggregated back per media item and checked
    against the closed-form frame count — proving the explode grid is
    exactly the stride arithmetic. Payloads are only sliced scan-side,
    never shuffled (the aggregate carries media_id + offsets)."""
    t = load_tables(spark, sf_dir)
    frames = frame_sample(media_table(t["documents"]), every_n_bytes=64)
    return (
        frames.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("byte_offset").cast("long").alias("max_offset"),
        )
        .orderBy("media_id")
    )


@query(
    "q45_dedup_clusters",
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
    )
    SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS cluster_id
    FROM grp ORDER BY doc_id
    """,
)
def q45(spark, sf_dir):
    """Near-dup clustering: canonical document per duplicate cluster — the
    step every dedup pipeline runs after pair generation (keep one doc per
    connected component of the near-dup graph). The Spark side runs the
    GENERAL `connected_components` operator (alternating star contraction,
    works on any pair set — LSH output included); the oracle exploits that
    this query's edges are consecutive-id Jaccard pairs, so the expected
    clustering is expressible as a gaps-and-islands window in plain SQL.
    The differential therefore checks the generic graph algorithm against
    an independently-derived closed form."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # Production near-dup threshold is ~0.5; the synthetic corpus has no
    # true near-dups, so the declared query clusters at the fixture's
    # observed similarity floor (0.005 keeps ~10% of consecutive pairs) —
    # otherwise the differential would only ever see singleton components
    # and the contraction path would go untested.
    edges = D.ngram_jaccard_pairs(docs, k=3).where(F.col("jacc") >= 0.005)
    cc = D.connected_components(
        edges, "id_a", "id_b", nodes=docs.select("doc_id")
    )
    return cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


@query(
    "q47_hash_sample",
    oracle="""
    SELECT doc_id FROM documents
    WHERE substr(md5(text), 1, 4) < '3333'
    ORDER BY doc_id
    """,
)
def q47(spark, sf_dir):
    """Deterministic ~20% corpus sample by content hash — the reproducible
    subset primitive (same documents selected on any cluster/partitioning;
    monotone in the rate for scaling ablations). Pure scan-side predicate:
    no shuffle, no seed, and the oracle runs the identical hex-prefix
    compare, so the check is exact set equality, not a rate tolerance."""
    from eurostat_energy_etl_pipeline_spark.operators.sampling import hash_sample

    t = load_tables(spark, sf_dir)
    return hash_sample(t["documents"], "text", 0.2).select("doc_id").orderBy("doc_id")


@query(
    "q48_stratified_cap",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                  ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rn
      FROM documents) t
    WHERE rn <= 30 ORDER BY doc_id
    """,
)
def q48(spark, sf_dir):
    """Stratified cap: at most 30 documents per language, selected by a
    stable hash order — the balance-the-languages step of corpus
    construction. One window pass partitioned by the stratum; the kept set
    is reproducible on any engine, which the oracle checks exactly."""
    from eurostat_energy_etl_pipeline_spark.operators.sampling import stratified_cap

    t = load_tables(spark, sf_dir)
    return (
        stratified_cap(t["documents"], "lang", "doc_id", cap=30)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "q49_sequence_pack",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END AS nt
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, nt,
             COALESCE(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM tok
    )
    SELECT lang, CAST(floor(prev / 2048.0) AS BIGINT) AS bin_id,
           count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS bin_tokens
    FROM c GROUP BY lang, bin_id ORDER BY lang, bin_id
    """,
)
def q49(spark, sf_dir):
    """Sequence packing: per-language greedy fill of 2048-token training
    bins (`operators/packing.pack_sequences` — running-sum window
    partitioned by the shard, so no global sort), rolled up to per-bin
    document/token counts. The oracle recomputes the same greedy fill as a
    windowed cumsum, so bin assignment is checked exactly."""
    from eurostat_energy_etl_pipeline_spark.operators.packing import pack_sequences

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "lang", T.token_count(F.col("text")).alias("nt"))
    packed = pack_sequences(docs, F.col("nt"), budget=2048, shard_col="lang", order_col="doc_id")
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("bin_tokens"),
        )
        .transform(presentation_sort, "lang", "bin_id")
    )


@query(
    "q67_cluster_canonical",
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
      SELECT d.doc_id, d.n_chars,
             CASE WHEN p.jacc >= 0.005 THEN 0 ELSE 1 END AS is_start
      FROM documents d LEFT JOIN pairs p ON p.id_b = d.doc_id
    ),
    grp AS (
      SELECT doc_id, n_chars, sum(is_start) OVER (ORDER BY doc_id) AS g
      FROM flags
    ),
    clustered AS (
      SELECT doc_id, n_chars, min(doc_id) OVER (PARTITION BY g) AS cluster_id
      FROM grp
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM clustered
    )
    SELECT cluster_id, doc_id AS kept_id, CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE rn = 1 ORDER BY cluster_id
    """,
)
def q67(spark, sf_dir):
    """End-to-end dedup keep-policy: connected components over the near-dup
    graph (q45's edges), then ONE representative per cluster — the longest
    member, ties to the smallest id ("keep the most complete copy"). This
    is the step that actually shrinks a training corpus; the output is the
    keep-list manifest (cluster, kept doc, members, dropped). Same
    independent-oracle trick as q45: the generic star-contraction + window
    rank on the Spark side vs a gaps-and-islands closed form in SQL."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    edges = D.ngram_jaccard_pairs(docs, k=3).where(F.col("jacc") >= 0.005)
    cc = D.connected_components(edges, "id_a", "id_b", nodes=docs.select("doc_id"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster_id")
    members = cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    ).join(docs.select("doc_id", "n_chars"), "doc_id")
    ranked = members.select(
        "cluster_id",
        "doc_id",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_id"),
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


@query(
    "q79_quantize_audit",
    oracle="""
    WITH m AS (
      SELECT label, embedding,
             list_aggregate(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), 'max') AS emax
      FROM embeddings
    ),
    q AS (
      SELECT label,
             127.0 / emax AS scale,
             list_aggregate(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)
                          - round(CAST(x AS DOUBLE) * (127.0 / emax))
                            / (127.0 / emax))), 'max') AS err
      FROM m WHERE emax > 0
    )
    SELECT label, count(*) AS n_vecs,
           round(avg(scale), 4) AS avg_scale,
           round(avg(err), 6) AS avg_err,
           round(max(err), 6) AS max_err
    FROM q GROUP BY label ORDER BY label
    """,
)
def q79(spark, sf_dir):
    """Int8 quantization audit (operators/quantize.py): per label, the
    per-vector symmetric-int8 scale and worst-case reconstruction error
    |x - dq(q(x))|, rolled up as avg/max — the go/no-go report before an
    embedding store switches its ANN tier to int8 (4x memory; see
    SCALE.md). Pure higher-order Catalyst expressions over the embedding
    arrays: one narrow map stage then a label-keyed hash aggregate —
    vectors never shuffle, only (label, 2 doubles) rows do. The DuckDB
    oracle recomputes the identical scheme with list_transform /
    list_aggregate, certifying the quantizer's arithmetic cross-engine."""
    from eurostat_energy_etl_pipeline_spark.operators.quantize import (
        _max_abs,
        reconstruction_error,
    )

    t = load_tables(spark, sf_dir)
    emb = widen_if_narrow(t["embeddings"])
    emax = _max_abs(F.col("embedding"))
    scale = F.lit(127.0) / emax
    per_vec = emb.where(emax > 0).select(
        "label",
        scale.alias("scale"),
        reconstruction_error(F.col("embedding"), scale).alias("err"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("scale"), 4).alias("avg_scale"),
            F.round(F.avg("err"), 6).alias("avg_err"),
            F.round(F.max("err"), 6).alias("max_err"),
        )
        .transform(presentation_sort, "label")
    )


_IVF_SQ8_INDEX: dict = {}


def _ivf_sq8_index_path(spark, sf_dir: str) -> str:
    def build(path):
        S.write_ivf_index(
            load_tables(spark, sf_dir)["embeddings"],
            path,
            nlist=16,
            quantize=True,
            centroids=_ivf_centroids(spark, sf_dir),
        )

    return session_memo(
        _IVF_SQ8_INDEX, spark, sf_dir, build, artifact="ivf_sq8_index"
    )


@query("q80_ivf_sq8_ann", oracle=_ivf_oracle_sql(sq8=True))
def q80(spark, sf_dir):
    """IVF+SQ8 approximate NN: q37's build-once-probe-many shape, but the
    at-rest index stores symmetric-int8 vectors + per-vector scale
    (`write_ivf_index(quantize=True)` — the FAISS IVF+SQ8 layout, 4x less
    vector bytes per probe partition; see q79 for the cross-engine audit
    of the quantizer's arithmetic). The probe dequantizes inline in the
    codegen'd rerank. Approximate twice over (cell pruning + int8
    rounding) yet fully deterministic, so the DuckDB oracle retrains the
    quantizer (`_ivf_oracle_sql`, shared with q37), replays the
    quantize/dequantize arithmetic, and hash-matches the rows — replacing
    the r5-r9 sampled self-certification."""
    idx = _ivf_sq8_index_path(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    qvec = _query_vec(e)
    return S.ivf_index_topk(spark, idx, qvec, k=5, nprobe=4)


@query(
    "q83_crossmodal_audit",
    oracle="""
    SELECT e.label, d.lang, count(*) AS n_docs,
           floor((avg(CAST(d.n_chars AS DOUBLE))) * 1e2 + 0.5) / 1e2 AS avg_chars,
           round(avg(sqrt(list_aggregate(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4)
             AS avg_norm,
           round(corr(CAST(d.n_chars AS DOUBLE),
                 sqrt(list_aggregate(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4)
             AS chars_norm_corr
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY e.label, d.lang ORDER BY e.label, d.lang
    """,
)
def q83(spark, sf_dir):
    """Cross-modal consistency audit: join the text table to its embedding
    table (doc_id = vec_id — the id contract every paired-modality corpus
    carries) and report, per (cluster label, language), document counts,
    mean length, mean embedding L2 norm, and the length↔norm correlation —
    the drift probe that catches an embedding run made against a stale
    text snapshot. The norm is a scan-side higher-order aggregate (no
    UDF); the join is key-keyed (AQE picks broadcast vs sort-merge from
    runtime sizes) and only (label, lang, 2 doubles) rows reach the
    rollup. The oracle recomputes the identical arithmetic with DuckDB
    list functions."""
    t = load_tables(spark, sf_dir)
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda a, x: a + x.cast("double") * x.cast("double"),
        )
    )
    joined = t["documents"].join(
        t["embeddings"], F.col("doc_id") == F.col("vec_id")
    )
    return (
        joined.select(
            "label", "lang", F.col("n_chars").cast("double").alias("nc"), norm.alias("nrm")
        )
        .groupBy("label", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            portable_round(F.avg("nc"), 2).alias("avg_chars"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.corr("nc", "nrm"), 4).alias("chars_norm_corr"),
        )
        .transform(presentation_sort, "label", "lang")
    )


@query(
    "q87_knn_join_exact",
    oracle="""
    WITH l AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 2 = 0),
         r AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings WHERE vec_id % 2 = 1),
         s AS (SELECT qid, nid,
                      floor(list_cosine_similarity(qv, nv) * 1e6 + 0.5) / 1e6
                        AS cos
               FROM l CROSS JOIN r),
         rk AS (SELECT qid, nid, cos,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, nid) AS rk
                FROM s)
    SELECT qid, nid, cos, CAST(rk AS INT) AS rk
    FROM rk WHERE rk <= 3 ORDER BY qid, rk
    """,
)
def q87(spark, sf_dir):
    """Exact cosine kNN JOIN (`operators/similarity.knn_join_exact`):
    every even-id embedding paired with its 3 nearest odd-id embeddings —
    the retrieval-pairing / cross-corpus-dedup operator, distinct from
    the point-query top-k (q22/q32/q37 take ONE literal vector; this
    joins two tables). Executes as an Arrow-batched BLAS kernel: query
    batches matmul against the broadcast neighbor matrix inside
    mapInPandas (the sharded brute-force ANN shape — no join node at
    all), ranking on the 1e-6-gridded portable cosine with nid tiebreak
    so both engines order identically. The bucketed scale path for
    corpus x corpus sizes is q88."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return ordered_output(
        S.knn_join_exact(
            e.where(F.col("vec_id") % 2 == 0),
            e.where(F.col("vec_id") % 2 == 1),
            k=3,
        ),
        "qid",
        "rk",
    )


def _knn_join_lsh_oracle_sql(
    dim: int = 64,
    bits: int = 6,
    seed: int = 42,
    num_tables: int = 3,
    radius: int = 2,
    k: int = 3,
) -> str:
    """Exact DuckDB replay of q88's LSH kNN join: bucket both corpora
    with the same hyperplane literals, admit a pair iff its buckets sit
    within hamming `radius` in ANY table (set-identical to the multiprobe
    equi-join: exploding the query into its hamming<=r probe set and
    equi-joining on the neighbor's exact bucket admits exactly the pairs
    with popcount(xor) <= r), score with the 1e-6-gridded cosine (the
    fold-order kernel is bit-equal to list_cosine_similarity), and rank
    per query. Deliberately brute-force (cross join + popcount filter) ->
    bench.py gt_oracles; the Spark plan is the co-grouped bucketed one."""
    lsel, rsel, conds = [], [], []
    for t in range(num_tables):
        planes = S.hyperplanes(dim, bits, seed + t)
        lsel.append(f"{_bucket_sql('qv', planes)} AS lb{t}")
        rsel.append(f"{_bucket_sql('nv', planes)} AS rb{t}")
        conds.append(
            f"bit_count(xor(CAST(lb{t} AS BIGINT), CAST(rb{t} AS BIGINT)))"
            f" <= {radius}"
        )
    return f"""
    WITH l AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 2 = 0),
         r AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings WHERE vec_id % 2 = 1),
         lb AS (SELECT qid, qv, {", ".join(lsel)} FROM l),
         rb AS (SELECT nid, nv, {", ".join(rsel)} FROM r),
         cand AS (SELECT qid, nid,
                         floor(list_cosine_similarity(qv, nv) * 1e6 + 0.5)
                           / 1e6 AS cos
                  FROM lb CROSS JOIN rb WHERE {" OR ".join(conds)}),
         rk AS (SELECT qid, nid, cos,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, nid) AS rk
                FROM cand)
    SELECT qid, nid, cos, CAST(rk AS INT) AS rk
    FROM rk WHERE rk <= {k} ORDER BY qid, rk
    """


@query("q88_knn_join_lsh", oracle=_knn_join_lsh_oracle_sql())
def q88(spark, sf_dir):
    """Approximate kNN JOIN (`operators/similarity.knn_join_lsh`): both
    corpora LSH-bucketed with shared per-table hyperplane matrices,
    queries exploded into their hamming<=2 multiprobe set in each of 3
    independent tables, candidates produced by an EQUI-join on the
    (table, bucket) key (shuffle-by-key, AQE skew-split-able — never a
    cross product), exact per-query rerank over the deduped union.
    Approximate by DESIGN but deterministic by CONSTRUCTION: since r10
    the cell kernel folds dimensions left-to-right (bit-equal to DuckDB's
    sequential list fold), so the DuckDB oracle recomputes buckets, the
    candidate pair set, gridded cosines, and ranks, and the driver
    hash-compares all (qid, nid, cos, rk) rows — replacing the r4-r9
    hash-sampled `in_exact_topk` self-certification (the full-corpus
    exact differential also stays in
    tests/test_similarity.py::test_knn_join_lsh_recall_floor_and_no_dupes).
    At rest the neighbor side is written bucket-partitioned
    (write_ann_index) so probes prune partitions; candidate volume is sum
    of probed-bucket products, not |L| x |R|. Corpus-grain output ships
    unsorted (the q33 contract)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    left = e.where(F.col("vec_id") % 2 == 0)
    right = e.where(F.col("vec_id") % 2 == 1)
    return S.knn_join_lsh(
        left, right, k=3, bits=6, probe_radius=2, num_tables=3
    )


@query(
    "q91_kmeans_update",
    oracle="""
    WITH c AS (SELECT CAST(vec_id AS INT) AS cid,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 8),
         p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS pv
               FROM embeddings),
         d AS (SELECT vec_id, pv, cid,
                      floor(list_sum(list_transform(
                          generate_series(1, 64),
                          i -> (pv[i] - cv[i]) * (pv[i] - cv[i])
                      )) * 1e6 + 0.5) / 1e6 AS d2r
               FROM p CROSS JOIN c),
         asg AS (SELECT vec_id, pv, d2r, cid,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d2r, cid) AS rk
                 FROM d),
         e AS (SELECT cid, CAST(i AS INT) AS pos,
                      CAST(floor(pv[i] * 1e6 + 0.5) / 1e6
                           AS DECIMAL(18,6)) AS v,
                      CAST(d2r AS DECIMAL(18,6)) AS dd
               FROM asg CROSS JOIN generate_series(1, 64) AS g(i)
               WHERE rk = 1)
    SELECT cid, pos,
           floor(CAST(sum(v) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
             AS mean_val,
           CAST(count(*) AS BIGINT) AS n_points,
           floor(CAST(sum(dd) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
             AS avg_d2
    FROM e GROUP BY cid, pos ORDER BY cid, pos
    """,
)
def q91(spark, sf_dir):
    """One FULL-CORPUS Lloyd iteration (`operators/clustering.lloyd_update`)
    from deterministic seed centroids (the first 8 vectors): every point
    assigned scan-side to its nearest centroid via constant-folded
    literal-array distances + `array_min` over (distance, cid) structs —
    zero shuffle, no Python — then the updated k x dim centroid matrix and
    per-cluster inertia computed by ONE map-side-combined (cid, pos)
    aggregate (shuffle volume O(partitions*k*dim), corpus-size
    independent). Complements `train_ivf_centroids`' O(sample) driver
    recipe when IVF cells must re-center against the full corpus. Every
    mean is an exact decimal sum (order-independent) and distances are
    1e-6-gridded before the argmin with cid tiebreak, so the DuckDB
    differential is exact despite float arithmetic on both sides."""
    from eurostat_energy_etl_pipeline_spark.operators.clustering import (
        lloyd_update,
    )

    e = widen_if_narrow(load_tables(spark, sf_dir)["embeddings"])
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    return lloyd_update(e, cents).orderBy("cid", "pos")


@query(
    "q97_semantic_dedup",
    oracle="""
    WITH c AS (SELECT CAST(vec_id AS INT) AS ccid,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 8),
         p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS pv
               FROM embeddings),
         d AS (SELECT vec_id, pv, ccid,
                      floor(list_sum(list_transform(
                          generate_series(1, 64),
                          i -> (pv[i] - cv[i]) * (pv[i] - cv[i])
                      )) * 1e6 + 0.5) / 1e6 AS d2r
               FROM p CROSS JOIN c),
         asg AS (SELECT vec_id, pv, ccid,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY d2r, ccid) AS rk
                 FROM d),
         m AS (SELECT vec_id, pv, ccid AS cid FROM asg WHERE rk = 1),
         pairs AS (SELECT a.vec_id AS hi, b.vec_id AS lo
                   FROM m a JOIN m b
                     ON a.cid = b.cid AND b.vec_id < a.vec_id
                   WHERE floor(list_cosine_similarity(a.pv, b.pv) * 1e6
                               + 0.5) / 1e6 >= 0.30),
         dups AS (SELECT hi, min(lo) AS dup_of FROM pairs GROUP BY hi)
    SELECT m.vec_id, CAST(m.cid AS INT) AS cid,
           CASE WHEN d.hi IS NULL THEN 1 ELSE 0 END AS keep,
           CAST(coalesce(d.dup_of, -1) AS BIGINT) AS dup_of
    FROM m LEFT JOIN dups d ON m.vec_id = d.hi
    ORDER BY m.vec_id
    """,
)
def q97(spark, sf_dir):
    """SemDeDup semantic dedup keep-list (`operators/semdedup.
    semantic_dedup_keep_list`): embeddings are assigned scan-side to IVF
    cells (deterministic seed quantizer — the first 8 vectors, the q91
    convention), candidate pairs come from ONE equi-join on the cell id
    (pair stream bounded by sum(|cell|^2), never |corpus|^2 — the no
    all-pairs contract), and a vector is dropped iff a lower-id
    cell-mate sits within gridded cosine eps, keeping the lowest such id
    as `dup_of`. eps=0.30 on these near-uniform random fixtures plays
    the role 0.95+ plays on real (anisotropic) embedding corpora — the
    fixture's cosine mass tops out ~0.51, so a production threshold
    would test nothing. Exact DuckDB differential: assignment, pair
    generation, and keep rule replayed relationally; cosines/distances
    gridded before every comparison so the boundary can never flip."""
    from eurostat_energy_etl_pipeline_spark.operators.semdedup import (
        semantic_dedup_keep_list,
    )

    e = widen_if_narrow(load_tables(spark, sf_dir)["embeddings"])
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    # corpus-grain: unordered by design (see q33's sort note)
    return semantic_dedup_keep_list(e, cents, eps=0.30)


@query(
    "q92_dup_span_coverage",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      FROM documents
    ),
    base AS (SELECT doc_id, len(tk) AS n_tokens, tk FROM tok),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
                 generate_series(1, len(tk) - 7),
                 i -> {'pos': i,
                       'gram': array_to_string(list_slice(tk, i, i + 7), ' ')}
             )) AS u
      FROM base WHERE n_tokens >= 8
    ),
    gg AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g),
    dup AS (SELECT gram FROM gg GROUP BY gram
            HAVING count(DISTINCT doc_id) >= 2),
    spans AS (
      SELECT doc_id, pos, pos + 8 AS e
      FROM gg WHERE gram IN (SELECT gram FROM dup)
    ),
    isl AS (
      SELECT doc_id, pos, e,
             sum(CASE WHEN prev_e IS NULL OR pos > prev_e THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM (SELECT doc_id, pos, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_e
            FROM spans) s
    ),
    per_island AS (
      SELECT doc_id, island, count(*) AS gr, max(e) - min(pos) AS cov
      FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, sum(gr) AS n_dup_grams, count(*) AS n_spans,
             sum(cov) AS covered_tokens
      FROM per_island GROUP BY doc_id
    )
    SELECT b.doc_id AS id, CAST(b.n_tokens AS INT) AS n_tokens,
           CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           floor(CAST(coalesce(p.covered_tokens, 0) AS DOUBLE)
                 / CAST(b.n_tokens AS DOUBLE) * 1e4 + 0.5) / 1e4
             AS dup_coverage
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    ORDER BY id
    """,
)
def q92(spark, sf_dir):
    """Exact substring-duplication span coverage
    (`operators/dedup.dup_span_coverage`, k=8): per document, the token
    fraction covered by 8-gram spans that also occur in ANOTHER document —
    the Lee-et-al. span-level dedup signal that localizes boilerplate
    (licence headers, templated paragraphs) instead of scoring whole
    documents. Grams build scan-side (linear zip_with shingles +
    posexplode), duplicate detection aggregates on the sha2-256 gram key
    (text never shuffles; two DISTINCT doc_ids required), interval union
    runs gaps-and-islands under a doc-keyed window (high-cardinality
    partitioning, pure integer arithmetic — the DuckDB differential is
    exact), clean docs rejoin with coverage 0."""
    t = load_tables(spark, sf_dir)
    return ordered_output(
        D.dup_span_coverage(widen_if_narrow(t["documents"]), k=8), "id"
    )


@query(
    "q107_prefix_jaccard_join",
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
    ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, jacc FROM (
      SELECT c.id_a, c.id_b,
             floor((CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / (len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles)))) * 1e6 + 0.5) / 1e6 AS jacc
      FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
    ) WHERE jacc >= 0.8 ORDER BY id_a, id_b
    """,
)
def q107(spark, sf_dir):
    """EXACT Jaccard similarity join at >= 0.8 (the production near-dup
    bar) via prefix filtering (operators/dedup.prefix_jaccard_join) — the
    zero-false-negative alternative to q25's MinHash+LSH over the SAME
    ground-truth pair set: LSH certifies recall probabilistically; prefix
    filtering is exact by construction and prunes candidates with the
    rarity-ordered prefix lemma instead of banding. The oracle is the
    same exhaustive token-bucket ground truth as q25's, so the driver
    hash certifies both that no qualifying pair is missed AND that no
    sub-threshold pair leaks through. The corpus's hottest shingles are
    pushed out of every prefix by the (doc-frequency, shingle) global
    order — the skew-bucket blow-up a naive token join pays at 100 TB is
    pruned before the join, not split after it. Unsorted pair-list output
    (corpus-grain: a coalesce(1) presentation sort would serialize the
    whole verify stage into one task — measured 49 s vs 2.5 s at sf0.1;
    the driver compare canonicalizes row order itself)."""
    t = load_tables(spark, sf_dir)
    return D.prefix_jaccard_join(t["documents"], threshold=0.8, k=3)


def _gd_oracle_sql(n_iter: int = 3, eta: float = 0.5) -> str:
    """Unrolled DuckDB oracle for q108 (the q99 unrolling recipe): every
    per-row residual and gradient contribution is gridded to 1e-12 and
    summed as DECIMAL(30,12) (order-independent), weight updates repeat
    the identical IEEE double expression tree, so three full GD
    iterations stay bit-equal across engines."""
    r_expr = (
        "floor((((w.a + w.b * xq) + w.c * xd) - y) * 1e12 + 0.5) / 1e12"
    )
    ctes = [
        "s AS (SELECT max(l_quantity) AS qm, max(l_extendedprice) AS ym,"
        " CAST(count(*) AS DOUBLE) AS n FROM lineitem)",
        "b AS (SELECT l_quantity / s.qm AS xq, l_discount AS xd,"
        " l_extendedprice / s.ym AS y FROM lineitem CROSS JOIN s)",
        "w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c)",
    ]
    for i in range(n_iter):
        ctes.append(
            f"r{i} AS (SELECT xq, xd, {r_expr} AS r"
            f" FROM b CROSS JOIN w{i} w)"
        )
        ctes.append(
            f"g{i} AS (SELECT"
            " CAST(sum(CAST(floor(r * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12))) AS DOUBLE) AS g0,"
            " CAST(sum(CAST(floor(r * xq * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12))) AS DOUBLE) AS g1,"
            " CAST(sum(CAST(floor(r * xd * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12))) AS DOUBLE) AS g2"
            f" FROM r{i})"
        )
        ctes.append(
            f"w{i + 1} AS (SELECT"
            f" floor((w.a - {eta!r} * (g.g0 / s.n)) * 1e12 + 0.5) / 1e12 AS a,"
            f" floor((w.b - {eta!r} * (g.g1 / s.n)) * 1e12 + 0.5) / 1e12 AS b,"
            f" floor((w.c - {eta!r} * (g.g2 / s.n)) * 1e12 + 0.5) / 1e12 AS c"
            f" FROM w{i} w CROSS JOIN g{i} g CROSS JOIN s)"
        )
    ctes.append(
        f"rf AS (SELECT {r_expr} AS r FROM b CROSS JOIN w{n_iter} w)"
    )
    ctes.append(
        "m AS (SELECT CAST(sum(CAST(floor(r * r * 1e12 + 0.5) / 1e12"
        " AS DECIMAL(30,12))) AS DOUBLE) AS sse FROM rf)"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT floor(w.a * 1e6 + 0.5) / 1e6 AS w_intercept,\n"
        "       floor(w.b * 1e6 + 0.5) / 1e6 AS w_quantity,\n"
        "       floor(w.c * 1e6 + 0.5) / 1e6 AS w_discount,\n"
        "       floor(m.sse / s.n * 1e9 + 0.5) / 1e9 AS mse,\n"
        "       CAST(s.n AS BIGINT) AS n\n"
        f"FROM w{n_iter} w CROSS JOIN m CROSS JOIN s"
    )


@query("q108_linear_gd", oracle=_gd_oracle_sql())
def q108(spark, sf_dir):
    """Distributed full-batch gradient descent — the iterative-optimizer
    shape (the fifth driver-coordinated iteration class after star
    contraction/Lloyd/BPE/PageRank): a linear model
    y^ = w0 + w1*(l_quantity/max) + w2*l_discount of normalized
    l_extendedprice, three exact GD steps from w = 0.

    Scale shape: one pass per iteration — a map-side-combined aggregate
    of three gridded DECIMAL(30,12) gradient sums over the cached
    feature projection; the driver holds only the O(#features) weight
    vector per step (the q91 Lloyd contract). Nothing else moves: no
    per-row weight join, no window, no shuffle beyond the aggregate's.

    Cross-engine exactness (the q99 recipe): residuals and gradient
    contributions grid to 1e-12 BEFORE the order-independent decimal
    sum; weight updates replay the identical IEEE expression tree in
    python (driver), Spark Columns, and the unrolled oracle CTEs, so
    the hash compare certifies all three iterations bit-for-bit. Pure
    +,-,*,/ arithmetic only — no libm calls whose last ulp could differ
    per engine (the reason this is a LINEAR probability-style model and
    not a logistic one)."""
    import math as _math

    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    qm, ym, n = (
        li.agg(
            F.max("l_quantity"),
            F.max("l_extendedprice"),
            F.count(F.lit(1)),
        ).collect()[0]
    )
    nf = float(n)
    base = pin(
        widen_if_narrow(li).select(
            (F.col("l_quantity") / F.lit(float(qm))).alias("xq"),
            F.col("l_discount").alias("xd"),
            (F.col("l_extendedprice") / F.lit(float(ym))).alias("y"),
        )
    )

    def _g12(c):
        return F.floor(c * 1e12 + 0.5) / 1e12

    def _p12(x: float) -> float:
        return _math.floor(x * 1e12 + 0.5) / 1e12

    dec = "decimal(30,12)"
    w = (0.0, 0.0, 0.0)
    eta = 0.5
    for _ in range(3):
        r = _g12(
            (F.lit(w[0]) + F.lit(w[1]) * F.col("xq"))
            + F.lit(w[2]) * F.col("xd")
            - F.col("y")
        )
        g0, g1, g2 = base.agg(
            F.sum(_g12(r).cast(dec)).cast("double"),
            F.sum(_g12(r * F.col("xq")).cast(dec)).cast("double"),
            F.sum(_g12(r * F.col("xd")).cast(dec)).cast("double"),
        ).collect()[0]
        w = (
            _p12(w[0] - eta * (g0 / nf)),
            _p12(w[1] - eta * (g1 / nf)),
            _p12(w[2] - eta * (g2 / nf)),
        )
    rf = _g12(
        (F.lit(w[0]) + F.lit(w[1]) * F.col("xq"))
        + F.lit(w[2]) * F.col("xd")
        - F.col("y")
    )
    return base.agg(
        F.sum(_g12(rf * rf).cast(dec)).cast("double").alias("_sse")
    ).select(
        (F.floor(F.lit(w[0]) * 1e6 + 0.5) / 1e6).alias("w_intercept"),
        (F.floor(F.lit(w[1]) * 1e6 + 0.5) / 1e6).alias("w_quantity"),
        (F.floor(F.lit(w[2]) * 1e6 + 0.5) / 1e6).alias("w_discount"),
        (F.floor(F.col("_sse") / nf * 1e9 + 0.5) / 1e9).alias("mse"),
        F.lit(int(n)).cast("long").alias("n"),
    )


@query(
    "q114_edit_distance_join",
    oracle="""
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    ORDER BY id_a, id_b
    """,
)
def q114(spark, sf_dir):
    """EXACT edit-distance self-join at d<=1 over supplier names — the
    entity-resolution similarity-join family (typo-tolerant record
    linkage) alongside q107's set-similarity join: sets prune with
    prefix filtering, strings prune with PassJoin-style pigeonhole
    segments (operators/dedup.edit_distance_join — a qualifying pair
    must agree exactly on the first-4 or last-4 characters, so
    candidates come from two bounded equi-joins, never an all-pairs
    levenshtein). The oracle IS the brute-force all-pairs join, so the
    driver hash certifies zero false negatives of the segment filter
    AND zero false positives of the verify stage on every row. Unordered
    pair-list output (corpus-grain; the compare canonicalizes order)."""
    t = load_tables(spark, sf_dir)
    return D.edit_distance_join(
        t["supplier"], max_dist=1, seg_len=4, id_col="s_suppkey", text_col="s_name"
    )


@query(
    "q120_negative_sampling",
    oracle="""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    probes AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label, g.i,
             CAST((a.vec_id + g.i * 104729) % nn.n AS BIGINT) AS cand_id
      FROM embeddings a CROSS JOIN nn
      CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8)) AS g(i)
    ),
    cands AS (
      SELECT p.anchor_id, p.i, p.cand_id, c.label AS cand_label
      FROM probes p JOIN embeddings c ON c.vec_id = p.cand_id
      WHERE c.label <> p.anchor_label AND p.cand_id <> p.anchor_id
    ),
    ranked AS (
      SELECT anchor_id, cand_id AS neg_id, cand_label AS neg_label,
             row_number() OVER (PARTITION BY anchor_id ORDER BY i) AS neg_rank
      FROM cands
    )
    SELECT anchor_id, CAST(neg_rank AS INT) AS neg_rank, neg_id, neg_label
    FROM ranked WHERE neg_rank <= 4
    ORDER BY anchor_id, neg_rank
    """,
)
def q120(spark, sf_dir):
    """Deterministic NEGATIVE SAMPLING for contrastive training — per
    anchor embedding, up to 4 negatives with a different label, drawn by
    a seedless fixed-stride probe sequence (cand_i = (anchor + i*104729)
    mod N): the reproducible replacement for random negative draws, so
    the same corpus yields the same training pairs on any cluster or
    partitioning (the q100/q47 determinism contract applied to pair
    construction). Shape: the probe list is generated scan-side
    (sequence + transform, 8 rows per anchor), resolved with ONE
    id-keyed equi-join against the embedding table (at rest this is a
    partition-prunable point-lookup join, never a corpus cross join),
    filtered on label mismatch, and cut to the first 4 by probe index
    with one anchor-keyed window."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    n = e.count()
    probes = e.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.explode(F.sequence(F.lit(1), F.lit(8))).alias("i"),
    ).select(
        "anchor_id",
        "anchor_label",
        "i",
        F.pmod(F.col("anchor_id") + F.col("i") * 104729, F.lit(n))
        .cast("long")
        .alias("cand_id"),
    )
    cands = (
        probes.join(
            e.select(
                F.col("vec_id").alias("cand_id"),
                F.col("label").alias("cand_label"),
            ),
            "cand_id",
        )
        .where(
            (F.col("cand_label") != F.col("anchor_label"))
            & (F.col("cand_id") != F.col("anchor_id"))
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("anchor_id").orderBy("i")
    return (
        cands.select(
            "anchor_id",
            F.row_number().over(w).cast("int").alias("neg_rank"),
            F.col("cand_id").alias("neg_id"),
            F.col("cand_label").alias("neg_label"),
        )
        .where(F.col("neg_rank") <= 4)
    )


@query(
    "q126_centroid_similarity",
    oracle="""
    WITH e AS (
      SELECT label,
             unnest(generate_series(1, len(embedding))) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    c AS (
      SELECT label, pos,
             CAST(sum(CAST(floor(val * 1e9 + 0.5) / 1e9 AS DECIMAL(30,12)))
                  AS DOUBLE) / count(*) AS cv
      FROM e GROUP BY label, pos
    ),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(sum(CAST(floor(a.cv * b.cv * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS DOUBLE) AS dot,
             sqrt(CAST(sum(CAST(floor(a.cv * a.cv * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS DOUBLE)) AS na,
             sqrt(CAST(sum(CAST(floor(b.cv * b.cv * 1e12 + 0.5) / 1e12
                           AS DECIMAL(30,12))) AS DOUBLE)) AS nb
      FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           floor(dot / (na * nb) * 1e6 + 0.5) / 1e6 AS cos
    FROM p ORDER BY label_a, label_b
    """,
)
def q126(spark, sf_dir):
    """Inter-cluster centroid similarity MATRIX — the label-taxonomy audit
    that complements q55's within-label cohesion: the pairwise cosine
    between every pair of label centroids. Two labels whose centroids
    sit at cos ~1 are candidates for merging (redundant classes /
    leaked duplicates); a near-orthogonal matrix certifies the
    partition separates. The same readout drives IVF cell auditing
    (q37) and SemDeDup cell sizing (q97).

    Scale shape: everything happens in exploded (label, pos) space —
    one (label, pos)-keyed aggregate (cardinality |labels| x dim, tiny)
    builds the centroids; the pairwise stage is a pos-keyed self-join
    of that dimension-bounded table, never of the corpus. Vectors are
    never shuffled whole (the q55 contract).

    Exactness: per-position values grid to 1e-9 and sum as exact
    decimals (order-independent — label_cohesion's plain avg is fine
    for its 1e-4 readout, a pairwise cosine ranked at 1e-6 is not);
    centroid products grid to 1e-12 before the decimal fold, norms and
    the final division are single IEEE ops."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    e = widen_if_narrow(emb).select(
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("pos", "val"),
    )
    dec = "decimal(30,12)"
    c = e.groupBy("label", "pos").agg(
        (
            F.sum((F.floor(F.col("val") * 1e9 + 0.5) / 1e9).cast(dec)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("cv")
    )
    a = c.select(
        F.col("label").alias("label_a"), "pos", F.col("cv").alias("ca")
    )
    b = c.select(
        F.col("label").alias("label_b"), "pos", F.col("cv").alias("cb")
    )

    def _g12(col):
        return (F.floor(col * 1e12 + 0.5) / 1e12).cast(dec)

    p = (
        a.join(b, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(_g12(F.col("ca") * F.col("cb"))).cast("double").alias("dot"),
            F.sqrt(
                F.sum(_g12(F.col("ca") * F.col("ca"))).cast("double")
            ).alias("na"),
            F.sqrt(
                F.sum(_g12(F.col("cb") * F.col("cb"))).cast("double")
            ).alias("nb"),
        )
    )
    return p.select(
        "label_a",
        "label_b",
        (
            F.floor(F.col("dot") / (F.col("na") * F.col("nb")) * 1e6 + 0.5)
            / 1e6
        ).alias("cos"),
    ).transform(presentation_sort, "label_a", "label_b")


def _pca_oracle_sql(n_iter: int = 3) -> str:
    """Unrolled DuckDB oracle for q127 (the q108 unrolling recipe): the
    gramian accumulates gridded-1e-12 products as DECIMAL(30,12)
    (order-independent), each power-iteration matvec re-grids its
    products before the decimal fold, and normalization is one sqrt +
    one division per component — all single IEEE ops both engines
    execute identically."""
    g12 = "CAST(floor(({x}) * 1e12 + 0.5) / 1e12 AS DECIMAL(30,12))"
    ctes = [
        # flattened within-row outer product: k in 0..d*d-1 maps to
        # (i, j) = (k // d, k % d)
        """d AS (SELECT max(len(embedding)) AS d FROM embeddings)""",
        """flat AS (
      SELECT unnest(generate_series(0, d.d * d.d - 1)) AS k,
             CAST(unnest(flatten(list_transform(embedding,
                  x -> list_transform(embedding,
                       y -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)))))
                  AS DOUBLE) AS p
      FROM embeddings CROSS JOIN d)""",
        f"""gram AS (
      SELECT CAST(k // (SELECT d FROM d) AS INT) AS i,
             CAST(k % (SELECT d FROM d) AS INT) AS j,
             CAST(sum({g12.format(x='p')}) AS DOUBLE) AS g
      FROM flat GROUP BY 1, 2)""",
        """v0 AS (
      SELECT i AS pos,
             floor(1.0 / sqrt(CAST((SELECT d FROM d) AS DOUBLE))
                   * 1e12 + 0.5) / 1e12 AS val
      FROM (SELECT DISTINCT i FROM gram))""",
    ]
    for it in range(n_iter):
        ctes.append(
            f"""x{it} AS (
      SELECT g.i AS pos,
             CAST(sum({g12.format(x='g.g * v.val')}) AS DOUBLE) AS x
      FROM gram g JOIN v{it} v ON g.j = v.pos GROUP BY g.i)"""
        )
        ctes.append(
            f"""n{it} AS (
      SELECT sqrt(CAST(sum({g12.format(x='x * x')}) AS DOUBLE)) AS nrm
      FROM x{it})"""
        )
        ctes.append(
            f"""v{it + 1} AS (
      SELECT pos, floor(x / nrm * 1e12 + 0.5) / 1e12 AS val
      FROM x{it} CROSS JOIN n{it})"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT v.pos, floor(v.val * 1e6 + 0.5) / 1e6 AS loading,
           floor(n.nrm * 1e4 + 0.5) / 1e4 AS eigenvalue
    FROM v{n_iter} v CROSS JOIN n{n_iter - 1} n ORDER BY v.pos"""
    )


@query("q127_pca_power", oracle=_pca_oracle_sql())
def q127(spark, sf_dir):
    """Distributed PCA — the top principal direction of the embedding
    gramian X'X via three power iterations: the whitening / anisotropy
    audit of an embedding corpus (a dominant eigenvalue means the
    common-direction bias that all-but-the-top removal fixes in
    retrieval pipelines) and the sixth driver-coordinated iteration
    class after star contraction / Lloyd / BPE / PageRank / GD (q108).

    Scale shape: ONE pass over the corpus builds the d x d gramian — the
    within-row outer product flattens to d^2 gridded products per vector
    and map-side-combines into d^2 = 4096 keyed sums, so nothing but
    O(d^2) aggregate state ever moves (the X'X trick: n never appears in
    the shuffle). The d^2-row gramian collects to the driver (the q91
    Lloyd / q108 contract — O(model), not O(data)) and each power step
    is driver-local integer arithmetic on the 1e-12 grid; the corpus is
    never touched again.

    Exactness (the q108 recipe): products grid to 1e-12 before exact
    DECIMAL(30,12) folds; the python matvec sums the SAME grid as
    integers; normalization is one sqrt + one division per component —
    replayed identically by the unrolled oracle CTEs, so the driver hash
    certifies all three iterations bit-for-bit."""
    import math as _math

    emb = load_tables(spark, sf_dir)["embeddings"]
    d = emb.agg(F.max(F.size("embedding"))).collect()[0][0]
    dec = "decimal(30,12)"
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    flat = widen_if_narrow(emb).select(
        F.posexplode(
            F.flatten(
                F.transform(
                    vd,
                    lambda x: F.transform(
                        vd, lambda y: F.floor(x * y * 1e12 + 0.5) / 1e12
                    ),
                )
            )
        ).alias("k", "p")
    )
    gram_rows = (
        flat.groupBy("k")
        .agg(F.sum(F.col("p").cast(dec)).cast("double").alias("g"))
        .collect()
    )
    G: dict[tuple[int, int], float] = {
        (r["k"] // d, r["k"] % d): r["g"] for r in gram_rows
    }

    def _i12(x: float) -> int:
        return int(_math.floor(x * 1e12 + 0.5))

    v = [_math.floor(1.0 / _math.sqrt(float(d)) * 1e12 + 0.5) / 1e12] * d
    nrm = 0.0
    for _ in range(3):
        x = [
            sum(_i12(G.get((i, j), 0.0) * v[j]) for j in range(d)) / 1e12
            for i in range(d)
        ]
        nrm = _math.sqrt(sum(_i12(xi * xi) for xi in x) / 1e12)
        v = [_math.floor(xi / nrm * 1e12 + 0.5) / 1e12 for xi in x]

    import pandas as pd

    out = pd.DataFrame(
        {
            "pos": list(range(d)),
            "loading": [_math.floor(vi * 1e6 + 0.5) / 1e6 for vi in v],
            "eigenvalue": [_math.floor(nrm * 1e4 + 0.5) / 1e4] * d,
        }
    )
    return (
        spark.createDataFrame(out.astype({"pos": "int32"}))
        .select("pos", "loading", "eigenvalue")
        .orderBy("pos")
    )


@query(
    "q132_sorted_neighborhood",
    oracle="""
    WITH base AS (
      SELECT s_suppkey AS id, s_name AS nm, lower(s_name) AS key
      FROM supplier
    ),
    ranked AS (
      SELECT id, nm, row_number() OVER (ORDER BY key, id) AS r FROM base
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
    FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + 5
    WHERE levenshtein(a.nm, b.nm) <= 2
    ORDER BY id_a, id_b
    """,
)
def q132(spark, sf_dir):
    """Sorted-neighborhood entity resolution (Hernandez-Stolfo) — the
    third blocking family after q114's pigeonhole segments and q107's
    prefix filter: records sort by a normalized key and only pairs
    within a w=5 rank window are compared (levenshtein <= 2 verify).
    The method of record for dirty keys where token/segment blocking
    misses transpositions that SORT adjacently.

    Scale shape: the global rank comes from the distributed ranking
    kernel (operators/ranking.global_row_number — deterministic
    boundaries, never a single-partition window); the neighborhood
    self-join is an EQUI-join on floor(rank/w) blocks with the right
    side exploding to {block, block-1} (a pair at rank distance <= w
    spans at most two blocks, so each candidate is matched exactly
    once — no distinct). Candidates are O(w * n), never n^2; the
    inequality filter and the levenshtein verify run on that bounded
    stream. The oracle is the textbook rank-window formulation."""
    from eurostat_energy_etl_pipeline_spark.operators.ranking import (
        global_row_number,
    )

    w = 5
    sup = load_tables(spark, sf_dir)["supplier"]
    base = sup.select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("nm"),
        F.lower(F.col("s_name")).alias("key"),
    )
    ranked = global_row_number(base, ["key", "id"], out_col="r").select(
        "id", "nm", "r", F.floor((F.col("r") - 1) / w).alias("blk")
    )
    left = ranked.select(
        F.col("id").alias("id_a"),
        F.col("nm").alias("nm_a"),
        F.col("r").alias("ra"),
        F.col("blk").alias("jb"),
    )
    right = ranked.select(
        F.col("id").alias("id_b"),
        F.col("nm").alias("nm_b"),
        F.col("r").alias("rb"),
        F.explode(F.array(F.col("blk"), F.col("blk") - 1)).alias("jb"),
    )
    return (
        left.join(right, "jb")
        .where(
            (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + w)
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein("nm_a", "nm_b").cast("int").alias("dist"),
        )
        .where(F.col("dist") <= 2)
    )


@query(
    "q137_truncation_audit",
    oracle="""
    WITH per AS (
      SELECT b.d,
             floor(sqrt(
               list_aggregate(list_transform(e.embedding[1:b.d],
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')
               / list_aggregate(list_transform(e.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')
             ) * 1e9 + 0.5) / 1e9 AS ratio
      FROM embeddings e
      CROSS JOIN (VALUES (8), (16), (32), (64)) AS b(d)
    )
    SELECT d,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(CAST(sum(CAST(ratio AS DECIMAL(20,9))) AS DOUBLE)
                 / count(*) * 1e6 + 0.5) / 1e6 AS mean_energy,
           floor(min(ratio) * 1e6 + 0.5) / 1e6 AS min_energy
    FROM per GROUP BY d ORDER BY d
    """,
)
def q137(spark, sf_dir):
    """Matryoshka truncation audit — how much of each embedding's L2
    energy the first d dimensions retain, for the dim budgets an MRL /
    tiered-retrieval deployment would serve (8/16/32/64): mean and
    worst-case energy ratio per budget. Because cos(v, v[:d] zero-padded)
    = ||v[:d]|| / ||v||, this IS the retrieval-fidelity curve of
    prefix-truncated vectors — the audit that decides which budget a
    cheap first-pass index can use (q80's SQ8 quantization audit is the
    width analog; this is the depth one).

    Scale shape: entirely scan-side row arithmetic (array slice +
    fold per vector, the q79/q83 list-kernel contract) exploded over a
    4-row literal budget spine; the only aggregate is the 4-group
    rollup. Per-row ratios grid to 1e-9 before the decimal-fold mean so
    the cross-row sum is order-independent."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    budgets = F.array([F.lit(d) for d in (8, 16, 32, 64)])
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    energy = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per = (
        widen_if_narrow(emb)
        .select(vd.alias("v"), F.explode(budgets).alias("d"))
        .select(
            "d",
            (
                F.floor(
                    F.sqrt(
                        energy(F.slice(F.col("v"), 1, F.col("d")))
                        / energy(F.col("v"))
                    )
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("ratio"),
        )
    )
    return (
        per.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (
                F.floor(
                    F.sum(F.col("ratio").cast("decimal(20,9)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("mean_energy"),
            (F.floor(F.min("ratio") * 1e6 + 0.5) / 1e6).alias("min_energy"),
        )
        .transform(presentation_sort, "d")
    )


@query(
    "q150_classifier_eval",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS actual,
{_LANG_SCORE_SQL}
      FROM (SELECT doc_id, lang,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents)
    ),
    pred AS (
      SELECT actual, CASE
        WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) <= 0 THEN 'und'
        WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
        WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
        WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
        WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
        ELSE 'zh' END AS predicted
      FROM scored
    ),
    cells AS (SELECT actual, predicted, count(*) AS c FROM pred GROUP BY 1, 2),
    cls AS (SELECT DISTINCT actual AS cls FROM cells),
    m AS (
      SELECT cls,
             CAST(coalesce(sum(CASE WHEN actual = cls AND predicted = cls
                                    THEN c END), 0) AS BIGINT) AS tp,
             CAST(coalesce(sum(CASE WHEN predicted = cls AND actual <> cls
                                    THEN c END), 0) AS BIGINT) AS fp,
             CAST(coalesce(sum(CASE WHEN actual = cls AND predicted <> cls
                                    THEN c END), 0) AS BIGINT) AS fn
      FROM cls CROSS JOIN cells GROUP BY cls
    )
    SELECT cls, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE floor(CAST(tp AS DOUBLE) / (tp + fp) * 1e6 + 0.5) / 1e6
           END AS precision_,
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE floor(CAST(tp AS DOUBLE) / (tp + fn) * 1e6 + 0.5) / 1e6
           END AS recall_,
           CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                ELSE floor(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
                           * 1e6 + 0.5) / 1e6
           END AS f1
    FROM m ORDER BY cls
    """,
)
def q150(spark, sf_dir):
    """CLASSIFIER EVALUATION — per-class precision / recall / F1 of the
    deterministic marker-stopword language identifier (q28) against the
    labeled `lang` column: the confusion-matrix rollup every model-eval
    pipeline computes, expressed as the engine operator it is. F1 uses
    the exact-integer identity 2tp/(2tp+fp+fn), so every metric is a
    single division of exact counts, gridded at 1e-6.

    Scale shape: prediction is scan-side arithmetic (no UDF); the stream
    collapses to |classes|^2 confusion cells in one map-side-combined
    aggregate; metrics are computed on the domain-bounded cell table."""
    t = load_tables(spark, sf_dir)
    pred = widen_if_narrow(t["documents"]).select(
        F.col("lang").alias("actual"),
        T.lang_id(F.col("text")).alias("predicted"),
    )
    cells = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("c")
    )
    cls = cells.select(F.col("actual").alias("cls")).distinct()
    m = (
        cls.join(F.broadcast(cells))
        .groupBy("cls")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("actual") == F.col("cls"))
                        & (F.col("predicted") == F.col("cls")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("predicted") == F.col("cls"))
                        & (F.col("actual") != F.col("cls")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("fp"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("actual") == F.col("cls"))
                        & (F.col("predicted") != F.col("cls")),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("fn"),
        )
    )

    def ratio(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            F.floor(num.cast("double") / den * 1e6 + 0.5) / 1e6
        )

    return m.select(
        "cls",
        "tp",
        "fp",
        "fn",
        ratio(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision_"),
        ratio(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall_"),
        ratio(
            F.lit(2) * F.col("tp"),
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"),
        ).alias("f1"),
    ).transform(presentation_sort, "cls")


# Shared oracle CTE ladder replaying the perceptual-hash stub decode
# (operators/multimodal.ahash_dhash_kernel) byte-for-byte in DuckDB:
# bytes from the hex rendering of the payload, chunk j of (1-based)
# byte i = (i*60 - 1) // L (the fake_decode edge grid inverted), aHash
# bits by cross-multiplied mean comparison, dHash bits by adjacent-chunk
# gradient over a dense 0..59 spine (empty chunks sum/len 0).
_MEDIA_SIG_CTES = r"""
    WITH b AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS L,
             hex(encode(text)) AS h,
             -- duckdb sha256 is VARCHAR-only; hashing the string hashes
             -- its UTF-8 bytes, which ARE the payload (encode(text))
             sha256(text) AS bh
      FROM documents
    ),
    bytes AS (
      SELECT media_id, L, i,
             (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
           + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS v,
             (i*60 - 1) // L AS j
      FROM (SELECT media_id, L, h, unnest(generate_series(1, L)) AS i
            FROM b WHERE L >= 1)
    ),
    chunks AS (SELECT media_id, L, j, sum(v) AS cs, count(*) AS cl
               FROM bytes GROUP BY media_id, L, j),
    tots AS (SELECT media_id, sum(cs) AS ts FROM chunks GROUP BY media_id),
    spine AS (SELECT media_id, L, unnest(generate_series(0, 59)) AS j
              FROM b),
    dense AS (SELECT s.media_id, s.L, s.j,
                     coalesce(c.cs, 0) AS cs, coalesce(c.cl, 0) AS cl
              FROM spine s LEFT JOIN chunks c
                ON s.media_id = c.media_id AND s.j = c.j),
    abit AS (SELECT d.media_id, d.j,
                    CASE WHEN d.cs * d.L > t.ts * d.cl THEN 1 ELSE 0 END
                      AS bit
             FROM dense d JOIN tots t ON d.media_id = t.media_id),
    dbit AS (SELECT media_id, j,
                    CASE WHEN cs * lead(cl) OVER w > lead(cs) OVER w * cl
                         THEN 1 ELSE 0 END AS bit
             FROM dense WINDOW w AS (PARTITION BY media_id ORDER BY j)),
    asig AS (SELECT media_id,
                    sum(CASE WHEN bit = 1
                             THEN CAST(1 AS BIGINT) << CAST(j AS INT)
                             ELSE 0 END) AS ahash
             FROM abit GROUP BY media_id),
    dsig AS (SELECT media_id,
                    sum(CASE WHEN bit = 1
                             THEN CAST(1 AS BIGINT) << CAST(j AS INT)
                             ELSE 0 END) AS dhash
             FROM dbit WHERE j <= 58 GROUP BY media_id),
    sig AS (SELECT b.media_id, b.media_type, b.L, b.bh,
                   coalesce(a.ahash, 0) AS ahash,
                   coalesce(d.dhash, 0) AS dhash
            FROM b LEFT JOIN asig a ON b.media_id = a.media_id
                   LEFT JOIN dsig d ON b.media_id = d.media_id)
"""


@query(
    "q158_media_signatures",
    oracle=_MEDIA_SIG_CTES
    + r"""
    SELECT media_id, media_type, CAST(L AS BIGINT) AS n_bytes,
           CAST(ahash AS BIGINT) AS ahash, CAST(dhash AS BIGINT) AS dhash
    FROM sig ORDER BY media_id
    """,
)
def q158(spark, sf_dir):
    """PERCEPTUAL signatures for the multimodal binary column
    (`operators/multimodal.media_signatures`): 60-bit aHash (chunk mean
    vs payload mean) + 59-bit dHash (adjacent-chunk gradient) over the
    deterministic stub decode, per media item. Pure integer arithmetic
    (cross-multiplied comparisons, no division), so the DuckDB oracle
    rebuilds every signature bit-for-bit from the payload's hex
    rendering — certifying the whole Arrow-batched kernel, not just its
    plumbing. A real image corpus swaps the stub for a PIL decode + 8x8
    downsample behind the same signature contract (the q33 env-gate).

    Scale shape: one narrow mapInPandas over the payload column — binary
    bytes never cross a shuffle; only (media_id, 2 x int64) leaves the
    scan. Corpus-grain output ships unsorted (q33 contract)."""
    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        media_signatures,
        media_table,
    )

    t = load_tables(spark, sf_dir)
    return media_signatures(media_table(t["documents"]))


@query(
    "q159_media_dedup",
    oracle=_MEDIA_SIG_CTES
    + r""",
    bands AS (
      SELECT media_id, media_type, ahash, k, (ahash >> (k*15)) & 32767
               AS key
      FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    ),
    pairs AS (
      SELECT DISTINCT x.media_type, x.media_id AS id_a, y.media_id AS id_b,
             bit_count(xor(x.ahash, y.ahash)) AS hamming
      FROM bands x JOIN bands y
        ON x.k = y.k AND x.key = y.key
       AND x.media_type = y.media_type AND x.media_id < y.media_id
    ),
    pstat AS (
      SELECT media_type, count(*) AS cand_pairs,
             sum(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) AS near_pairs
      FROM pairs GROUP BY media_type
    ),
    exg AS (
      SELECT media_type, count(*) AS exact_groups,
             sum(n - 1) AS exact_extra
      FROM (SELECT media_type, bh, count(*) AS n
            FROM sig GROUP BY media_type, bh) g
      WHERE n >= 2 GROUP BY media_type
    ),
    basec AS (SELECT media_type, count(*) AS n_media FROM sig
              GROUP BY media_type)
    SELECT basec.media_type,
           CAST(n_media AS BIGINT) AS n_media,
           CAST(coalesce(exact_groups, 0) AS BIGINT) AS exact_groups,
           CAST(coalesce(exact_extra, 0) AS BIGINT) AS exact_extra,
           CAST(coalesce(cand_pairs, 0) AS BIGINT) AS cand_pairs,
           CAST(coalesce(near_pairs, 0) AS BIGINT) AS near_pairs
    FROM basec LEFT JOIN exg ON basec.media_type = exg.media_type
               LEFT JOIN pstat ON basec.media_type = pstat.media_type
    ORDER BY basec.media_type
    """,
)
def q159(spark, sf_dir):
    """BINARY-CONTENT dedup for the multimodal columns — the tier the
    text-dedup family cannot see (it reads `text`; this reads payload
    bytes). Two tiers, audited per media_type:

    - EXACT: sha2-256 over the raw payload, groups with >= 2 members
      (byte-identical files — the first pass of every media dedup);
    - NEAR: banded-hamming pairing (`dedup.hamming_band_pairs`, the
      q26 pigeonhole machinery reused) over the 60-bit aHash from q158,
      candidates restricted WITHIN media_type (images pair with images),
      confirmed at hamming <= 3.

    Output: per media_type — n_media, exact groups/extra copies,
    candidate pairs (band collisions), near pairs (hamming <= 3). On
    this synthetic fixture the near tier finds 0 confirmed pairs at
    sf0.01 (all texts distinct, byte stats well separated) — the
    candidate counts prove the band join runs; the planted-duplicate
    unit tests pin recall.

    Scale shape: signatures from one narrow kernel pass; the self-join
    is keyed on (media_type, band_idx, band_key) — never all-pairs; the
    exact tier is one sha-keyed aggregate. Payload bytes never shuffle:
    the sha and the signature are both computed scan-side."""
    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        PERCEPTUAL_HASH_BITS,
        media_signatures,
        media_table,
    )

    t = load_tables(spark, sf_dir)
    media = media_table(t["documents"])
    # r14: the signature table feeds BOTH sides of the band self-join —
    # unpinned, the Arrow signature kernel (the query's dominant cost,
    # ~0.7 s of the 1.2 s wall at sf0.1) ran once per side. Narrow
    # (id, type, n_bytes, 2 x int64) rows; payloads stay scan-side.
    sigs = pin(media_signatures(media))
    base = media.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media")
    )
    ex_stats = (
        media.groupBy("media_type", F.sha2("payload", 256).alias("bh"))
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("exact_groups"),
            F.sum(F.col("n") - 1).alias("exact_extra"),
        )
    )
    pairs = D.hamming_band_pairs(
        sigs,
        id_col="media_id",
        sig_col="ahash",
        sig_bits=PERCEPTUAL_HASH_BITS,
        band_bits=15,
        key_cols=("media_type",),
    )
    pair_stats = pairs.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("cand_pairs"),
        F.sum((F.col("hamming") <= 3).cast("long")).alias("near_pairs"),
    )
    return (
        base.join(F.broadcast(ex_stats), "media_type", "left")
        .join(F.broadcast(pair_stats), "media_type", "left")
        .select(
            "media_type",
            "n_media",
            F.coalesce("exact_groups", F.lit(0)).alias("exact_groups"),
            F.coalesce("exact_extra", F.lit(0)).alias("exact_extra"),
            F.coalesce("cand_pairs", F.lit(0)).alias("cand_pairs"),
            F.coalesce("near_pairs", F.lit(0)).alias("near_pairs"),
        )
        .transform(presentation_sort, "media_type")
    )


# Maintained IVF index memo per (session, sf_dir): base index trained and
# written on ~2/3 of the embeddings, then ONE merge_into_ivf_index batch
# (adds + deterministically-transformed updates + tombstones) — q160
# probes the POST-maintenance index, so its oracle certifies the
# maintenance end-to-end (the q111 pattern on the vector side).
_MAINT_IVF: dict = {}


def _maintained_ivf_path(spark, sf_dir: str) -> str:
    def build(path):
        e = load_tables(spark, sf_dir)["embeddings"]
        base = e.where(F.col("vec_id") % 3 != 2)
        S.write_ivf_index(base, path, nlist=16)
        adds = e.where(F.col("vec_id") % 3 == 2).select("vec_id", "embedding")
        upd = e.where(
            (F.col("vec_id") % 3 != 2) & (F.col("vec_id") % 23 == 5)
        ).select("vec_id", F.reverse("embedding").alias("embedding"))
        tomb = e.where(F.col("vec_id") % 17 == 3).select("vec_id")
        S.merge_into_ivf_index(
            spark, path, upserts=adds.unionByName(upd), tombstone_ids=tomb
        )

    return session_memo(_MAINT_IVF, spark, sf_dir, build, artifact="ivf_maint")


# Oracle corpus CTEs for q160: the trainer saw the BASE subset's original
# vectors (training happened before the merge); probes run against the
# POST-merge effective corpus (tombstones removed, update ids carrying
# the reversed vectors, adds present).
_IVF_MERGE_G = """g AS (
      SELECT vec_id, v, list_transform(v, x -> floor(x * 1e6 + 0.5)) AS vi
      FROM (SELECT vec_id,
                   CASE WHEN vec_id % 3 <> 2 AND vec_id % 23 = 5
                        THEN list_reverse(CAST(embedding AS DOUBLE[]))
                        ELSE CAST(embedding AS DOUBLE[]) END AS v
            FROM embeddings WHERE vec_id % 17 <> 3))"""
_IVF_MERGE_GT = """gt AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> floor(x * 1e6 + 0.5)) AS vi
      FROM embeddings WHERE vec_id % 3 <> 2)"""


@query(
    "q160_ivf_merge_probe",
    oracle=_ivf_oracle_sql(
        g_cte=_IVF_MERGE_G, train_cte=_IVF_MERGE_GT, train_src="gt"
    ),
)
def q160(spark, sf_dir):
    """Incremental IVF index MAINTENANCE, certified by probing (VERDICT
    r10 item 5; `similarity.merge_into_ivf_index` — the vector twin of
    q111's MinHash MERGE): the at-rest index is built on 2/3 of the
    corpus, then one merge batch applies adds (vec_id%3==2), updates
    (vec_id%23==5 re-embedded as the reversed vector) and tombstones
    (vec_id%17==3, winning over upserts), touching ONLY the cell
    partitions holding affected ids (located via the pmod-bucketed
    {path}_ids sidecar — never a corpus scan) plus the new assignments'
    cells. The query probes the maintained index; the oracle re-derives
    the trainer on the base subset (the q37 unrolled CTE ladder) and the
    effective post-merge corpus independently, so a hash match certifies
    merge == scratch-rebuild bit-for-bit. The quantizer is NOT retrained
    (the FAISS maintenance reality); the optional drift re-center is
    unit-tested in tests/test_similarity.py."""
    path = _maintained_ivf_path(spark, sf_dir)
    e = load_tables(spark, sf_dir)["embeddings"]
    qvec = _query_vec(e)
    return S.ivf_index_topk(spark, path, qvec, k=5, nprobe=4)


@query(
    "q161_media_quality",
    oracle=rf"""
    WITH b AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS L,
             hex(encode(text)) AS h
      FROM documents
    ),
    bytes AS (
      SELECT media_id, L,
             (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
           + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS v
      FROM (SELECT media_id, L, h, unnest(generate_series(1, L)) AS i
            FROM b WHERE L >= 1)
    ),
    e AS (
      SELECT media_id, entropy(v) AS ent, count(DISTINCT v) AS db,
             sum(CASE WHEN v BETWEEN 32 AND 126 THEN 1 ELSE 0 END) AS pr
      FROM bytes GROUP BY media_id
    )
    SELECT b.media_id, b.media_type, CAST(b.L AS BIGINT) AS n_bytes,
           {{e4}} AS byte_entropy,
           CAST(coalesce(e.db, 0) AS INT) AS distinct_bytes,
           CASE WHEN b.L = 0 THEN 0.0
                ELSE floor(CAST(e.pr AS DOUBLE) / b.L * 1e6 + 0.5) / 1e6
           END AS printable_ratio,
           CASE WHEN {{e4}} > 6.0
                  OR (b.L > 0 AND CASE WHEN b.L = 0 THEN 0.0
                        ELSE floor(CAST(e.pr AS DOUBLE) / b.L * 1e6 + 0.5)
                             / 1e6 END < 0.6)
                THEN 1 ELSE 0 END AS binary_like
    FROM b LEFT JOIN e ON b.media_id = e.media_id
    ORDER BY b.media_id
    """.format(e4=portable_round_sql("coalesce(e.ent, 0)", 4)),
)
def q161(spark, sf_dir):
    """BYTE-QUALITY triage for the multimodal binary column
    (`operators/multimodal.media_byte_quality`, the q94 entropy-kernel
    recipe on raw bytes): per media item — Shannon byte entropy (bits),
    distinct byte count, printable-ASCII ratio, and the binary-vs-text
    flag (entropy > 6 bits or printables < 60%) every ingest runs before
    routing payloads to decoders: compressed/encrypted media sits near 8
    bits, text near 4-5, repeated-byte padding near 0. Flag cuts on the
    GRID-ROUNDED values on both engines so the boundary can never flip.

    Scale shape: one narrow Arrow-batched mapInPandas; the whole batch
    reduces through ONE np.unique over packed (row << 8 | byte) keys;
    payload bytes never cross a shuffle. Corpus-grain output ships
    unsorted (q33 contract)."""
    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        media_byte_quality,
        media_table,
    )

    t = load_tables(spark, sf_dir)
    q = media_byte_quality(media_table(t["documents"]))
    ent_r = portable_round("byte_entropy", 4)
    pr_r = portable_round("printable_ratio", 6)
    return q.select(
        "media_id",
        "media_type",
        "n_bytes",
        ent_r.alias("byte_entropy"),
        "distinct_bytes",
        pr_r.alias("printable_ratio"),
        F.when(
            (ent_r > 6.0) | ((F.col("n_bytes") > 0) & (pr_r < 0.6)),
            1,
        )
        .otherwise(0)
        .alias("binary_like"),
    )


_KW_STOP_SQL = (
    "[" + ", ".join(f"'{s}'" for s in sorted(T.ENGLISH_STOPWORDS)) + "]"
)


@query(
    "q162_tfidf_keywords",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'),
             x -> x <> '' AND NOT list_contains({_KW_STOP_SQL}, x)) AS tk
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
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm FROM wv GROUP BY doc_id),
    ranked AS (
      SELECT wv.doc_id, wv.term, wv.w / n.norm AS uw,
             row_number() OVER (PARTITION BY wv.doc_id
                                ORDER BY wv.w DESC, wv.term) AS rk
      FROM wv JOIN norms n USING (doc_id)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rk AS INT) AS rk, term,
           round(uw, 6) AS weight
    FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk
    """,
)
def q162(spark, sf_dir):
    """Per-document TF-IDF KEYWORD extraction — the topic-tagging /
    labeling pass every corpus catalog runs (the T2 weighting turned
    inward: instead of ranking documents for a query, rank each
    document's own terms). Top-3 terms per document by sklearn-parity
    weight (tf * smoothed-idf), unit-normalized by the document's L2
    norm, tie-broken by term. Reuses the CACHED posting-list index (the
    T4 build-once contract shared with q36) — the extraction itself is
    one per-doc window over existing postings, no new corpus scan when
    the index is warm.

    Scale shape: postings are (doc, term) grain; the ranking window
    partitions by doc_id (bounded by per-doc vocabulary, never a
    corpus-global key). Weight doubles are identical expressions in both
    engines (same tf/df integers through the same ln), so ordering and
    the 6dp-rounded outputs hash-match."""
    from pyspark.sql.window import Window as W

    from eurostat_energy_etl_pipeline_spark.rag.tfidf import documents_index

    index = documents_index(spark, sf_dir)
    w = W.partitionBy("id").orderBy(F.desc("w"), F.asc("term"))
    return (
        index.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.col("id").alias("doc_id"),
            F.col("rk").cast("int").alias("rk"),
            "term",
            F.round(F.col("w") / F.col("norm"), 6).alias("weight"),
        )
        .transform(presentation_sort, "doc_id", "rk")
    )


@query(
    "q163_media_dedup_apply",
    oracle=_MEDIA_SIG_CTES
    + r""",
    ex AS (
      SELECT s.media_id FROM sig s
      WHERE EXISTS (SELECT 1 FROM sig s2
                    WHERE s2.bh = s.bh AND s2.media_id < s.media_id)
    ),
    surv AS (SELECT * FROM sig
             WHERE media_id NOT IN (SELECT media_id FROM ex)),
    bands AS (
      SELECT media_id, media_type, ahash, k, (ahash >> (k*15)) & 32767
               AS key
      FROM surv CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    ),
    nd AS (
      SELECT DISTINCT y.media_id
      FROM bands x JOIN bands y
        ON x.k = y.k AND x.key = y.key
       AND x.media_type = y.media_type AND x.media_id < y.media_id
      WHERE bit_count(xor(x.ahash, y.ahash)) <= 3
    ),
    cls AS (
      SELECT s.media_id, s.media_type, s.L,
             CASE WHEN e.media_id IS NOT NULL THEN 'exact'
                  WHEN n.media_id IS NOT NULL THEN 'near'
                  ELSE 'kept' END AS fate
      FROM sig s LEFT JOIN ex e ON s.media_id = e.media_id
                 LEFT JOIN nd n ON s.media_id = n.media_id
    )
    SELECT media_type,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(CASE WHEN fate = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
             AS kept,
           CAST(sum(CASE WHEN fate = 'exact' THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_exact,
           CAST(sum(CASE WHEN fate = 'near' THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_near,
           CAST(sum(L) AS BIGINT) AS bytes_before,
           CAST(sum(CASE WHEN fate = 'kept' THEN L ELSE 0 END) AS BIGINT)
             AS bytes_after
    FROM cls GROUP BY media_type ORDER BY media_type
    """,
)
def q163(spark, sf_dir):
    """Media-dedup APPLY — the act stage over q159's measurements (the
    q110/q156 discipline at binary grain): per media item, a
    deterministic keep-first fate —

    - 'exact': a byte-identical (sha2-256) item with a smaller id exists;
    - 'near': among exact survivors, a confirmed aHash neighbor
      (within-type banded pairing, hamming <= 3) with a smaller id
      exists — pair-grain keep-first, the SemDeDup-style policy (a chain
      a~b~c keeps only a; over-deletes vs connected components by design,
      stated contract);
    - 'kept': survives both tiers.

    Output: per media_type survivor accounting with byte before/after —
    what a multimodal ingest actually reports after a dedup pass.

    Scale shape: sha tier is one bh-keyed window (min-id per group); the
    near tier reuses `hamming_band_pairs` on the survivor signatures —
    never all-pairs; payload bytes never shuffle (sha and signatures are
    scan-side)."""
    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        PERCEPTUAL_HASH_BITS,
        media_signatures,
        media_table,
    )
    from pyspark.sql.window import Window as W

    t = load_tables(spark, sf_dir)
    media = media_table(t["documents"])
    sigs = media_signatures(media).join(
        media.select(
            "media_id", F.sha2("payload", 256).alias("bh")
        ),
        "media_id",
    )
    w_bh = W.partitionBy("bh")
    sigs = sigs.withColumn(
        "exact_drop", F.min("media_id").over(w_bh) < F.col("media_id")
    )
    surv = sigs.where(~F.col("exact_drop"))
    nd = (
        D.hamming_band_pairs(
            surv,
            id_col="media_id",
            sig_col="ahash",
            sig_bits=PERCEPTUAL_HASH_BITS,
            band_bits=15,
            max_hamming=3,
            key_cols=("media_type",),
        )
        .select(F.col("id_b").alias("media_id"), F.lit(True).alias("_near"))
        .distinct()
    )
    cls = sigs.join(F.broadcast(nd), "media_id", "left").select(
        "media_type",
        "n_bytes",
        F.when(F.col("exact_drop"), F.lit("exact"))
        .when(F.col("_near"), F.lit("near"))
        .otherwise(F.lit("kept"))
        .alias("fate"),
    )
    return (
        cls.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum((F.col("fate") == "kept").cast("long")).alias("kept"),
            F.sum((F.col("fate") == "exact").cast("long")).alias(
                "dropped_exact"
            ),
            F.sum((F.col("fate") == "near").cast("long")).alias(
                "dropped_near"
            ),
            F.sum("n_bytes").alias("bytes_before"),
            F.sum(
                F.when(F.col("fate") == "kept", F.col("n_bytes")).otherwise(
                    0
                )
            ).alias("bytes_after"),
        )
        .transform(presentation_sort, "media_type")
    )


@query(
    "q186_media_clusters",
    oracle=_MEDIA_SIG_CTES.replace("WITH b AS", "WITH RECURSIVE b AS", 1)
    + r""",
    bands AS (
      SELECT media_id, media_type, ahash, k, (ahash >> (k*15)) & 32767
               AS key
      FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    ),
    npairs AS (
      SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
      FROM bands x JOIN bands y
        ON x.k = y.k AND x.key = y.key
       AND x.media_type = y.media_type AND x.media_id < y.media_id
      WHERE bit_count(xor(x.ahash, y.ahash)) <= 3
    ),
    ex AS (
      SELECT media_id,
             min(media_id) OVER (PARTITION BY media_type, bh) AS gmin
      FROM sig
    ),
    edges AS (
      SELECT gmin AS id_a, media_id AS id_b FROM ex WHERE media_id <> gmin
      UNION
      SELECT id_a, id_b FROM npairs
    ),
    und AS (
      SELECT id_a AS s, id_b AS d FROM edges
      UNION SELECT id_b, id_a FROM edges
    ),
    nodesx AS (SELECT DISTINCT s AS id FROM und),
    walk(id, reach) AS (
      SELECT id, id FROM nodesx
      UNION
      SELECT w.id, u.d FROM walk w JOIN und u ON u.s = w.reach
    ),
    comp AS (SELECT id AS media_id, min(reach) AS cluster_id
             FROM walk GROUP BY id),
    memb AS (
      SELECT c.media_id, c.cluster_id, s.media_type, s.L
      FROM comp c JOIN sig s ON c.media_id = s.media_id
    ),
    rankedc AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY L DESC, media_id) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM memb
    )
    SELECT media_type, cluster_id, media_id AS kept_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM rankedc WHERE rn = 1 ORDER BY cluster_id
    """,
)
def q186(spark, sf_dir):
    """MEDIA NEAR-DUP CLUSTERING + CANONICAL KEEP (VERDICT r11 item 4)
    — the media-grain twin of the text family's q45/q61/q67: q159 emits
    the binary dup PAIR graph (exact sha-256 groups within media_type +
    banded-hamming aHash pairs confirmed at <= 3) and q163 applies a
    pairwise keep-list, but a transitive chain (A~B, B~C, A!~C) needs
    CONNECTED COMPONENTS to keep exactly one member per cluster. Edges:
    exact groups star-linked to their min id plus hamming<=3 perceptual
    pairs; components via the library's star-contraction kernel
    (`operators/dedup.connected_components`, O(log^2 n) shuffle
    rounds); the canonical keep is the q67 policy at media grain —
    largest payload wins, ties to the smallest id ("keep the most
    complete copy"). Output: one keep-list row per multi-member
    cluster-or-singleton touched by an edge.

    The oracle recomputes the whole thing independently: signatures
    from the payload's hex rendering (the q158 bit-exact CTEs), the
    same edge derivation, components via a WITH RECURSIVE transitive
    closure (min reachable id == the star-contraction label, so the
    hash match certifies the iterative kernel against a closed form),
    and the same keep rank. The stock sf0.01 fixture has NO media dup
    edges (q159 precedent) — empty == empty is the correct answer
    there; sf0.1 carries real clusters and the planted-duplicate test
    pins chain semantics.

    Scale shape: payload bytes never shuffle (sha + signature are
    scan-side); the pair join is banded within media_type; components
    shuffle only 8-byte node keys; the keep rank windows over
    cluster-grain members."""
    from pyspark.sql.window import Window as W

    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        PERCEPTUAL_HASH_BITS,
        media_signatures,
        media_table,
    )

    t = load_tables(spark, sf_dir)
    media = media_table(t["documents"])
    # ONE signature-kernel pass + sha serves every consumer (both edge
    # tiers, the CC iteration's input, and the member-info join): the
    # kernel decodes every payload, so recomputing it per branch would
    # multiply the scan 10+x (caught by the plan gate). The CC kernel
    # registers its plan-lifetime checkpoint blocks (plans.at_rest), so
    # the pin gate releases this pin and tolerates exactly those blocks.
    sigs = pin(
        media_signatures(media).join(
            media.select("media_id", F.sha2("payload", 256).alias("bh")),
            "media_id",
        )
    )
    w_bh = W.partitionBy("media_type", "bh")
    exact_edges = (
        sigs.withColumn("gmin", F.min("media_id").over(w_bh))
        .where(F.col("media_id") != F.col("gmin"))
        .select(
            F.col("gmin").alias("id_a"), F.col("media_id").alias("id_b")
        )
    )
    near_edges = D.hamming_band_pairs(
        sigs,
        id_col="media_id",
        sig_col="ahash",
        sig_bits=PERCEPTUAL_HASH_BITS,
        band_bits=15,
        max_hamming=3,
        key_cols=("media_type",),
    ).select("id_a", "id_b")
    edges = exact_edges.unionByName(near_edges)
    cc = D.connected_components(edges, "id_a", "id_b")
    # cc covers only edge-touched nodes (tiny next to the corpus) —
    # broadcast it into the member-info join rather than shuffling sigs
    members = sigs.select("media_id", "media_type", "n_bytes").join(
        F.broadcast(
            cc.select(
                F.col("id").alias("media_id"),
                F.col("component").alias("cluster_id"),
            )
        ),
        "media_id",
    )
    wc = W.partitionBy("cluster_id")
    ranked = members.select(
        "media_type",
        "cluster_id",
        "media_id",
        F.row_number()
        .over(wc.orderBy(F.desc("n_bytes"), "media_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n_members"),
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "media_type",
            "cluster_id",
            F.col("media_id").alias("kept_id"),
            F.col("n_members").cast("long").alias("n_members"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
        .transform(presentation_sort, "cluster_id")
    )


_MEDIA_FUNNEL_CTES = r""",
    e AS MATERIALIZED (
      SELECT media_id, entropy(v) AS ent FROM bytes GROUP BY media_id
    ),
    qual AS MATERIALIZED (
      SELECT b.media_id, b.media_type, b.L, b.bh,
             floor(coalesce(e.ent, 0) * 1e4 + 0.5) / 1e4 AS ent4
      FROM b LEFT JOIN e ON b.media_id = e.media_id
    ),
    q2 AS MATERIALIZED (SELECT * FROM qual WHERE ent4 >= 4.0 AND L >= 64),
    ddm AS MATERIALIZED (

    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY media_type, bh
                                     ORDER BY media_id) AS rn
        FROM q2) WHERE rn = 1
    ),
    sig3 AS MATERIALIZED (
      SELECT d.media_id, d.media_type, d.L, s.ahash
      FROM ddm d JOIN sig s ON d.media_id = s.media_id
    ),
    bands3 AS (
      SELECT media_id, media_type, ahash, k, (ahash >> (k*15)) & 32767
               AS key
      FROM sig3 CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    ),
    npairs3 AS MATERIALIZED (
      SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
      FROM bands3 x JOIN bands3 y
        ON x.k = y.k AND x.key = y.key
       AND x.media_type = y.media_type AND x.media_id < y.media_id
      WHERE bit_count(xor(x.ahash, y.ahash)) <= 3
    ),
    und3 AS (SELECT id_a AS s, id_b AS d FROM npairs3
             UNION SELECT id_b, id_a FROM npairs3),
    nodes3 AS (SELECT DISTINCT s AS id FROM und3),
    walk3(id, reach) AS (
      SELECT id, id FROM nodes3
      UNION
      SELECT w.id, u.d FROM walk3 w JOIN und3 u ON u.s = w.reach
    ),
    comp3 AS MATERIALIZED (SELECT id AS media_id, min(reach) AS cluster_id
                           FROM walk3 GROUP BY id),
    keepr AS MATERIALIZED (
      SELECT s.media_id,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY s.L DESC, s.media_id) AS krn
      FROM sig3 s JOIN comp3 c ON s.media_id = c.media_id
    ),
    nd AS MATERIALIZED (
      SELECT d.* FROM ddm d LEFT JOIN keepr k
        ON d.media_id = k.media_id AND k.krn >= 2
      WHERE k.media_id IS NULL
    ),
    pk3 AS (
      SELECT media_type,
             CAST(floor(coalesce(sum(L) OVER (PARTITION BY media_type
                    ORDER BY media_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) / 65536.0) AS BIGINT) AS bin_id,
             L
      FROM nd
    ),
    bins3 AS (SELECT media_type, bin_id, CAST(sum(L) AS BIGINT) AS bin_bytes
              FROM pk3 GROUP BY media_type, bin_id)
"""

_MEDIA_FUNNEL_SELECT = r"""
    SELECT * FROM (
      SELECT 1 AS stage, 'input' AS label,
             CAST(count(*) AS BIGINT) AS items,
             CAST(coalesce(sum(L), 0) AS BIGINT) AS bytes
      FROM b
      UNION ALL
      SELECT 2, 'byte_quality', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(L), 0) AS BIGINT)
      FROM q2
      UNION ALL
      SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(L), 0) AS BIGINT)
      FROM ddm
      UNION ALL
      SELECT 4, 'near_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(L), 0) AS BIGINT)
      FROM nd
      UNION ALL
      SELECT 5, 'shard_pack', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(bin_bytes), 0) AS BIGINT)
      FROM bins3
    ) ORDER BY stage
"""

#: q193 stage-2 gate: payloads routed to decoders must look like real
#: media — gridded byte entropy >= 4.0 bits and at least 64 bytes.
#: Integer-exact cross-engine (the q161 1e-4 grid on both sides).
MEDIA_MIN_ENT4 = 4.0
MEDIA_MIN_BYTES = 64
MEDIA_PACK_BYTES = 65536


@query(
    "q193_media_funnel",
    oracle=_MEDIA_SIG_CTES.replace("WITH b AS", "WITH RECURSIVE b AS", 1)
    + _MEDIA_FUNNEL_CTES
    + _MEDIA_FUNNEL_SELECT,
)
def q193(spark, sf_dir):
    """MEDIA CURATION FUNNEL (VERDICT r12 item 3) — q185's recipe at
    media grain, composing the family's certified kernels as ONE plan
    with per-stage item/byte accounting:

      1 input         every media item, payload bytes
      2 byte_quality  route-to-decoder gate (q161 kernel): gridded byte
                      entropy >= 4.0 bits AND >= 64 bytes — drops
                      padding-like and truncated payloads
      3 exact_dedup   keep-first per sha2(payload) within media_type
                      (q159's exact tier)
      4 near_dedup    hamming<=3 aHash pairs among stage-3 survivors ->
                      connected components -> keep the largest payload
                      per cluster, ties to smallest id (q186's policy)
      5 shard_pack    greedy 64 KiB training shards per media_type
                      (q49's packing kernel on bytes); items = shard
                      count, bytes = packed bytes (must equal stage 4)

    The q186 lesson is baked in: ONE pinned signature+quality+sha stats
    table feeds every stage (the payload-decoding kernels run exactly
    once; recomputing them per branch multiplied the scan 10+x). The
    DuckDB oracle recomputes the full cascade from the payload's hex
    rendering — the q158 bit-exact signature ladder, the q161 entropy
    grid, a WITH RECURSIVE closure for the clusters — so the hash match
    certifies the composition end to end. Stock sf0.01 has no media
    dups (stages 3-4 pass-through, q159 precedent); sf0.1 carries real
    clusters and the planted chain test pins the transitive-keep
    accounting.

    Scale shape: payload bytes never shuffle (kernels and sha are
    scan-side over the pinned media table); every downstream stage
    reads the narrow stats pin; the pair join is banded within
    media_type; components shuffle 8-byte node keys; packing windows
    per media_type (never SinglePartition)."""
    from pyspark.sql.window import Window as W

    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        PERCEPTUAL_HASH_BITS,
        media_byte_quality,
        media_signatures,
    )
    from eurostat_energy_etl_pipeline_spark.operators.packing import (
        pack_sequences,
    )

    t = load_tables(spark, sf_dir)
    # ONE documents scan; payloads cached for the two kernels + sha
    media = pin(media_table(t["documents"]))
    stats = pin(  # narrow per-item stats — feeds every stage below
        media_signatures(media)
        .select("media_id", "media_type", "n_bytes", "ahash")
        .join(
            media_byte_quality(media).select(
                "media_id",
                portable_round("byte_entropy", 4).alias("ent4"),
            ),
            "media_id",
        )
        .join(
            media.select(
                "media_id", F.sha2("payload", 256).alias("bh")
            ),
            "media_id",
        )
    )
    q2 = stats.where(
        (F.col("ent4") >= MEDIA_MIN_ENT4)
        & (F.col("n_bytes") >= MEDIA_MIN_BYTES)
    )
    w_ex = W.partitionBy("media_type", "bh").orderBy("media_id")
    dd = pin(
        q2.withColumn("rn", F.row_number().over(w_ex))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    pairs = D.hamming_band_pairs(
        dd,
        id_col="media_id",
        sig_col="ahash",
        sig_bits=PERCEPTUAL_HASH_BITS,
        band_bits=15,
        max_hamming=3,
        key_cols=("media_type",),
    ).select("id_a", "id_b")
    cc = D.connected_components(pairs, "id_a", "id_b")
    members = dd.select("media_id", "media_type", "n_bytes").join(
        F.broadcast(
            cc.select(
                F.col("id").alias("media_id"),
                F.col("component").alias("cluster_id"),
            )
        ),
        "media_id",
    )
    wc = W.partitionBy("cluster_id").orderBy(F.desc("n_bytes"), "media_id")
    drops = (
        members.withColumn("krn", F.row_number().over(wc))
        .where(F.col("krn") >= 2)
        .select("media_id")
    )
    nd = pin(dd.join(F.broadcast(drops), "media_id", "left_anti"))
    bins = (
        pack_sequences(
            nd,
            F.col("n_bytes"),
            budget=MEDIA_PACK_BYTES,
            shard_col="media_type",
            order_col="media_id",
        )
        .groupBy("media_type", "bin_id")
        .agg(F.sum("n_bytes").cast("long").alias("bin_bytes"))
    )

    def mrow(stage, label, df, bytes_col="n_bytes"):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("items"),
            F.coalesce(F.sum(bytes_col), F.lit(0))
            .cast("long")
            .alias("bytes"),
        ).select(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(label).alias("label"),
            "items",
            "bytes",
        )

    funnel = (
        mrow(1, "input", media)
        .unionByName(mrow(2, "byte_quality", q2))
        .unionByName(mrow(3, "exact_dedup", dd))
        .unionByName(mrow(4, "near_dedup", nd))
        .unionByName(mrow(5, "shard_pack", bins, bytes_col="bin_bytes"))
    )
    return funnel.transform(presentation_sort, "stage")


# Maintained at-rest BM25 posting index memo per (session, sf_dir): base
# index on ~2/3 of the documents, then ONE merge batch (adds + text
# updates + tombstones) — q164 searches the POST-maintenance index, so
# its oracle certifies the generational-delete maintenance end-to-end
# (the q111/q160 pattern on the retrieval side; all three at-rest index
# families now carry a MERGE path).
_MAINT_POSTINGS: dict = {}
_POSTINGS_UPDATE_SUFFIX = " merged update token"


def _maintained_postings_path(spark, sf_dir: str) -> str:
    from eurostat_energy_etl_pipeline_spark.rag import bm25 as BM

    def build(path):
        docs = load_tables(spark, sf_dir)["documents"]
        base = docs.where(F.col("doc_id") % 3 != 2)
        BM.write_postings_index(base, path)
        adds = docs.where(F.col("doc_id") % 3 == 2).select("doc_id", "text")
        upd = base.where(F.col("doc_id") % 23 == 5).select(
            "doc_id",
            F.concat(
                "text", F.lit(_POSTINGS_UPDATE_SUFFIX)
            ).alias("text"),
        )
        tomb = docs.where(F.col("doc_id") % 17 == 3).select("doc_id")
        BM.merge_into_postings_index(
            spark, path, upserts=adds.unionByName(upd), tombstone_ids=tomb
        )

    return session_memo(
        _MAINT_POSTINGS, spark, sf_dir, build, artifact="postings"
    )


def _q164_oracle() -> str:
    from eurostat_energy_etl_pipeline_spark.rag.bm25 import bm25_oracle_sql

    return bm25_oracle_sql(
        text_expr=(
            "CASE WHEN doc_id % 3 <> 2 AND doc_id % 23 = 5 "
            f"THEN text || '{_POSTINGS_UPDATE_SUFFIX}' ELSE text END"
        ),
        where_sql=" WHERE doc_id % 17 <> 3",
    )


@query("q164_postings_merge_probe", oracle=_q164_oracle())
def q164(spark, sf_dir):
    """Incremental POSTING-INDEX maintenance, certified by searching
    (`rag/bm25.merge_into_postings_index` — the retrieval twin of q111's
    MinHash MERGE and q160's IVF MERGE; with it, every at-rest index in
    this engine has an incremental maintenance path): the BM25 index is
    built on 2/3 of the corpus, then one merge batch applies adds
    (doc_id%3==2), text updates (doc_id%23==5) and tombstones
    (doc_id%17==3, winning over upserts) as ONE appended generation plus
    tombstone rows — the Lucene segment model: the base postings are
    never read (an upsert's old terms are unknowable without its old
    text), queries apply the delete mask, and compaction folds it in.
    The query searches the maintained index with query-time statistics
    (N/avgdl from the live docs sidecar, df from the pruned live
    postings); the oracle recomputes BM25 over the effective post-merge
    corpus independently, so a hash match certifies maintenance ==
    scratch-rebuild. Scratch/compaction differentials are pinned in
    tests/test_bm25.py.

    Scale shape: MERGE is O(batch) appends — no index-size term at all;
    a search prunes postings to the query terms' hash buckets
    (planning-time partition filter) and the mask join broadcasts
    O(deleted ids)."""
    from eurostat_energy_etl_pipeline_spark.rag import bm25 as BM

    path = _maintained_postings_path(spark, sf_dir)
    return BM.bm25_index_search(spark, path, BM.SEARCH_QUERY, k=5).select(
        "id", F.round("score", 4).alias("score")
    )


# Fellegi-Sunter conditional match probabilities (m): fixed published-style
# priors — u-probabilities are ESTIMATED FROM THE DATA (value-frequency
# rationals), m's are the reviewer-supplied error model. Shared literals so
# the engine and the oracle compute identical weights.
_FS_M_SEG = 0.9
_FS_M_BAL = 0.8


@query(
    "q173_fs_linkage",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey AS id, c_nationkey AS nat, c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal
      FROM customer
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nrec FROM c),
    useg AS (
      SELECT CAST(sum(k * (k - 1)) AS DOUBLE)
             / (CAST(max(nrec) AS DOUBLE) * (max(nrec) - 1)) AS u
      FROM (SELECT count(*) AS k FROM c GROUP BY seg) CROSS JOIN n
    ),
    ubal AS (
      SELECT CAST(sum(k * (k - 1)) AS DOUBLE)
             / (CAST(max(nrec) AS DOUBLE) * (max(nrec) - 1)) AS u
      FROM (SELECT count(*) AS k FROM c GROUP BY bal) CROSS JOIN n
    ),
    w AS (
      SELECT floor(log2({_FS_M_SEG} / useg.u) * 1e12 + 0.5) / 1e12 AS wsa,
             floor(log2((1.0 - {_FS_M_SEG}) / (1.0 - useg.u)) * 1e12 + 0.5)
               / 1e12 AS wsd,
             floor(log2({_FS_M_BAL} / ubal.u) * 1e12 + 0.5) / 1e12 AS wba,
             floor(log2((1.0 - {_FS_M_BAL}) / (1.0 - ubal.u)) * 1e12 + 0.5)
               / 1e12 AS wbd
      FROM useg CROSS JOIN ubal
    ),
    pairs AS (
      SELECT CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS seg_agree,
             CASE WHEN a.bal = b.bal THEN 1 ELSE 0 END AS bal_agree
      FROM c a JOIN c b ON a.nat = b.nat AND a.id < b.id
    )
    SELECT seg_agree, bal_agree,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(((CASE WHEN seg_agree = 1 THEN w.wsa ELSE w.wsd END)
                  + (CASE WHEN bal_agree = 1 THEN w.wba ELSE w.wbd END))
                 * 1e9 + 0.5) / 1e9 AS fs_score,
           CASE WHEN ((CASE WHEN seg_agree = 1 THEN w.wsa ELSE w.wsd END)
                      + (CASE WHEN bal_agree = 1 THEN w.wba ELSE w.wbd END))
                     >= 2.0 THEN 'link'
                WHEN ((CASE WHEN seg_agree = 1 THEN w.wsa ELSE w.wsd END)
                      + (CASE WHEN bal_agree = 1 THEN w.wba ELSE w.wbd END))
                     <= -2.0 THEN 'non_link'
                ELSE 'review' END AS decision
    FROM pairs CROSS JOIN w
    GROUP BY seg_agree, bal_agree, fs_score, decision
    ORDER BY seg_agree, bal_agree
    """,
)
def q173(spark, sf_dir):
    """FELLEGI-SUNTER probabilistic record-linkage scoring (JASA 1969) —
    the decision-theoretic layer on top of the library's blocking
    families (q132 sorted-neighborhood, q114 pigeonhole, q107 prefix):
    candidate pairs (customers blocked on nation) are scored by
    sum of per-field log2(m/u) agreement weights, with the U
    PROBABILITIES ESTIMATED FROM THE DATA as exact value-frequency
    rationals — u_f = sum_v k_v(k_v-1) / (N(N-1)), the chance-agreement
    rate of a random pair — and fixed m priors; scores cut into
    link / review / non-link at +-2 bits.

    Scale shape: u estimation is two value-grain aggregates; the pair
    stream stays at BLOCK grain (nation equi-join, never n^2) and
    collapses immediately to the 4-cell agreement-pattern rollup — at
    100 TB the pattern census is what an ER pipeline tunes thresholds
    on before emitting pairs. Exactness: u is an integer-count rational
    divided once; log2 weights grid at 1e-12 (the q94 transcendental
    recipe); the 2-term score sums in fixed order and grids at 1e-9."""
    # the projected customer table feeds FIVE consumers (both pair
    # sides, both u-estimates, the record count) — pin it so the scan
    # runs once (harness releases via the r10 lifetime contract)
    c = pin(
        load_tables(spark, sf_dir)["customer"].select(
            F.col("c_custkey").alias("id"),
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal"),
        )
    )
    n = c.agg(F.count(F.lit(1)).cast("long").alias("nrec"))
    g12 = lambda col: F.floor(col * 1e12 + 0.5) / 1e12

    def u_of(field):
        k = c.groupBy(field).agg(F.count(F.lit(1)).alias("k"))
        return k.crossJoin(F.broadcast(n)).agg(
            (
                F.sum(F.col("k") * (F.col("k") - 1)).cast("double")
                / (
                    F.max("nrec").cast("double")
                    * (F.max("nrec") - 1)
                )
            ).alias("u")
        )

    useg = u_of("seg").select(F.col("u").alias("u_seg"))
    ubal = u_of("bal").select(F.col("u").alias("u_bal"))
    w = (
        useg.crossJoin(ubal)
        .select(
            g12(F.log2(F.lit(_FS_M_SEG) / F.col("u_seg"))).alias("wsa"),
            g12(
                F.log2(F.lit(1.0 - _FS_M_SEG) / (F.lit(1.0) - F.col("u_seg")))
            ).alias("wsd"),
            g12(F.log2(F.lit(_FS_M_BAL) / F.col("u_bal"))).alias("wba"),
            g12(
                F.log2(F.lit(1.0 - _FS_M_BAL) / (F.lit(1.0) - F.col("u_bal")))
            ).alias("wbd"),
        )
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nat") == F.col("b.nat")) & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.when(F.col("a.seg") == F.col("b.seg"), 1).otherwise(0).alias(
            "seg_agree"
        ),
        F.when(F.col("a.bal") == F.col("b.bal"), 1).otherwise(0).alias(
            "bal_agree"
        ),
    )
    score = F.when(F.col("seg_agree") == 1, F.col("wsa")).otherwise(
        F.col("wsd")
    ) + F.when(F.col("bal_agree") == 1, F.col("wba")).otherwise(F.col("wbd"))
    return (
        pairs.groupBy("seg_agree", "bal_agree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .crossJoin(F.broadcast(w))
        .select(
            "seg_agree",
            "bal_agree",
            "n_pairs",
            (F.floor(score * 1e9 + 0.5) / 1e9).alias("fs_score"),
            F.when(score >= 2.0, "link")
            .when(score <= -2.0, "non_link")
            .otherwise("review")
            .alias("decision"),
        )
        .transform(presentation_sort, "seg_agree", "bal_agree")
    )


@query(
    "q174_pii_redact",
    oracle=r"""
    WITH r AS (
      SELECT event_id, event_type, props,
             regexp_replace(regexp_replace(regexp_replace(props,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g'),
                 'https?://[^\s]+', '[URL]', 'g'),
                 '[0-9]{2,}', '[NUM]', 'g') AS rprops
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN rprops <> props THEN 1 ELSE 0 END) AS BIGINT)
             AS n_redacted,
           CAST(sum(len(props) - len(rprops)) AS BIGINT) AS chars_removed,
           md5(string_agg(rprops, chr(31) ORDER BY event_id))
             AS corpus_md5
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def q174(spark, sf_dir):
    """PII REDACTION apply stage — the ACT twin of q51's scan (q156/q163
    pattern: every measure family gets its rewrite stage): event payloads
    are scrubbed (emails -> [EMAIL], URLs -> [URL], digit runs -> [NUM],
    in that order — `operators/text.redact_pii`), and the REWRITTEN
    CORPUS itself is certified cross-engine: per event type, an
    order-canonical md5 over all redacted payloads (event_id-sorted,
    0x1f-joined) plus exact redaction accounting. The md5-of-sorted-
    concat makes the certificate corpus-complete — any single divergent
    byte in any redacted payload flips the hash — while the output stays
    at type grain.

    Scale shape: the redaction is scan-side codegen regex (the portable
    Java-RE2 subset, q51's contract); the certificate is ONE type-keyed
    aggregate. The string_agg-in-order is bounded per group by the
    payload volume of one event type — at 100 TB you'd certify per
    (type, day) partition instead; the per-partition md5 recipe is
    unchanged."""
    ev = widen_if_narrow(load_tables(spark, sf_dir)["events"])
    r = ev.select(
        "event_id",
        "event_type",
        "props",
        T.redact_pii(F.col("props")).alias("rprops"),
    )
    return (
        r.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("rprops") != F.col("props"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_redacted"),
            F.sum(F.length("props") - F.length("rprops"))
            .cast("long")
            .alias("chars_removed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("event_id"), F.col("rprops")
                                )
                            )
                        ),
                        lambda s: s["rprops"],
                    ),
                    "\x1f",
                )
            ).alias("corpus_md5"),
        )
        .transform(presentation_sort, "event_type")
    )


_MEDIA_INCR_CTES = r""",
    co AS (SELECT (max(doc_id) * 9) // 10 AS cut FROM documents),
    sigb AS MATERIALIZED (
      SELECT s.* FROM sig3 s, co WHERE s.media_id <= co.cut
    ),
    bandsb AS (
      SELECT media_id, media_type, ahash, k, (ahash >> (k*15)) & 32767
               AS key
      FROM sigb CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    ),
    npairsb AS MATERIALIZED (
      SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
      FROM bandsb x JOIN bandsb y
        ON x.k = y.k AND x.key = y.key
       AND x.media_type = y.media_type AND x.media_id < y.media_id
      WHERE bit_count(xor(x.ahash, y.ahash)) <= 3
    ),
    undb AS (SELECT id_a AS s, id_b AS d FROM npairsb
             UNION SELECT id_b, id_a FROM npairsb),
    nodesb AS (SELECT DISTINCT s AS id FROM undb),
    walkb(id, reach) AS (
      SELECT id, id FROM nodesb
      UNION
      SELECT w.id, u.d FROM walkb w JOIN undb u ON u.s = w.reach
    ),
    compb AS MATERIALIZED (SELECT id AS media_id, min(reach) AS cluster_id
                           FROM walkb GROUP BY id),
    keeprb AS MATERIALIZED (
      SELECT s.media_id,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY s.L DESC, s.media_id) AS krn
      FROM sigb s JOIN compb c ON s.media_id = c.media_id
    ),
    ndb AS MATERIALIZED (
      SELECT d.* FROM ddm d LEFT JOIN keeprb k
        ON d.media_id = k.media_id AND k.krn >= 2
      WHERE k.media_id IS NULL AND d.media_id <= (SELECT cut FROM co)
    ),
    flip4 AS (
      SELECT count(*) AS n FROM (
        SELECT media_id FROM (
          SELECT media_id FROM ndb
          UNION ALL
          SELECT n.media_id FROM nd n, co WHERE n.media_id <= co.cut
        ) GROUP BY media_id HAVING count(*) = 1)
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'input' AS label,
             CAST(count(*) AS BIGINT) AS items,
             CAST(coalesce(sum(L), 0) AS BIGINT) AS bytes,
             CAST(coalesce(sum(CASE WHEN t.media_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS delta_items,
             CAST(0 AS BIGINT) AS old_flipped
      FROM b t, co
      UNION ALL
      SELECT 2, 'byte_quality', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(L), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.media_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM q2 t, co
      UNION ALL
      SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(L), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.media_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST(0 AS BIGINT)
      FROM ddm t, co
      UNION ALL
      SELECT 4, 'near_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(L), 0) AS BIGINT),
             CAST(coalesce(sum(CASE WHEN t.media_id > co.cut
                                    THEN 1 ELSE 0 END), 0) AS BIGINT),
             CAST((SELECT n FROM flip4) AS BIGINT)
      FROM nd t, co
      UNION ALL
      SELECT 5, 'shard_pack', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(bin_bytes), 0) AS BIGINT),
             CAST(0 AS BIGINT),
             CAST(0 AS BIGINT)
      FROM bins3
    ) ORDER BY stage
"""


def _media_stats(m):
    """M1: per-item stats — signatures + byte quality + sha — the
    expensive payload decode, paid exactly once per ingest tick."""
    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        media_byte_quality,
        media_signatures,
    )

    return (
        media_signatures(m)
        .select("media_id", "media_type", "n_bytes", "ahash")
        .join(
            media_byte_quality(m).select(
                "media_id",
                portable_round("byte_entropy", 4).alias("ent4"),
            ),
            "media_id",
        )
        .join(
            m.select("media_id", F.sha2("payload", 256).alias("bh")),
            "media_id",
        )
    )


def _media_quality(s):
    return s.where(
        (F.col("ent4") >= MEDIA_MIN_ENT4)
        & (F.col("n_bytes") >= MEDIA_MIN_BYTES)
    )


_W_MEDIA_EXACT = None  # built lazily (Window needs an active session)


def _w_media_exact():
    from pyspark.sql.window import Window as W

    return W.partitionBy("media_type", "bh").orderBy("media_id")


def build_media_state(media_slice):
    """Scratch-build the media curation pipeline's at-rest artifact
    state: M1 per-item stats, the deduped keeper table, M2 hamming band
    index, M3 confirmed pair list — each a materialized leaf standing
    in for a stored table. The keep-list (M4) is derived per state by
    :func:`media_keep`."""
    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        PERCEPTUAL_HASH_BITS,
    )
    from eurostat_energy_etl_pipeline_spark.plans import at_rest

    stats = at_rest(_media_stats(media_slice))  # M1
    dd = at_rest(
        _media_quality(stats)
        .withColumn("rn", F.row_number().over(_w_media_exact()))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    bands = at_rest(  # M2
        D.hamming_bands(
            dd,
            id_col="media_id",
            sig_col="ahash",
            sig_bits=PERCEPTUAL_HASH_BITS,
            band_bits=15,
            key_cols=("media_type",),
        )
    )
    pairs = at_rest(  # M3
        D.hamming_band_pairs(
            dd,
            id_col="media_id",
            sig_col="ahash",
            sig_bits=PERCEPTUAL_HASH_BITS,
            band_bits=15,
            max_hamming=3,
            key_cols=("media_type",),
        ).select("id_a", "id_b")
    )
    return {"stats": stats, "dd": dd, "bands": bands, "pairs": pairs}


def fold_media_batch(state, media_batch):
    """Fold one ingest tick into the media artifact state: decode ONLY
    the batch payloads, probe the stored exact/band indexes, reuse
    old-old edges verbatim (an edge is pairwise — provably unchanged by
    appends), and materialize the merged artifacts as leaves (they ARE
    tomorrow's stored tables — the r13 steady-state lesson)."""
    from eurostat_energy_etl_pipeline_spark.operators.multimodal import (
        PERCEPTUAL_HASH_BITS,
    )
    from eurostat_energy_etl_pipeline_spark.plans import at_rest

    d_stats = at_rest(_media_stats(media_batch))
    ddn = at_rest(
        _media_quality(d_stats)
        .join(
            state["dd"].select("media_type", "bh"),
            ["media_type", "bh"],
            "left_anti",
        )
        .withColumn("rn", F.row_number().over(_w_media_exact()))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    kw = dict(
        id_col="media_id",
        sig_col="ahash",
        sig_bits=PERCEPTUAL_HASH_BITS,
        band_bits=15,
        key_cols=("media_type",),
    )
    cross = D.hamming_probe_pairs(
        state["bands"], ddn, max_hamming=3, **kw
    ).select("id_a", "id_b")
    self_new = D.hamming_band_pairs(ddn, max_hamming=3, **kw).select(
        "id_a", "id_b"
    )
    return {
        "stats": at_rest(state["stats"].unionByName(d_stats)),
        "dd": at_rest(state["dd"].unionByName(ddn)),
        "bands": at_rest(state["bands"].unionByName(D.hamming_bands(ddn, **kw))),
        "pairs": at_rest(
            state["pairs"].unionByName(cross).unionByName(self_new)
        ),
    }


def media_keep(state):
    """M4 for a state: near-dup survivors — components over the stored
    pair list (edge grain, 8-byte ids), biggest-payload keeper per
    cluster (media_id tiebreak), isolated items kept."""
    from pyspark.sql.window import Window as W

    cc = D.connected_components(state["pairs"], "id_a", "id_b")
    members = state["dd"].select("media_id", "n_bytes").join(
        F.broadcast(
            cc.select(
                F.col("id").alias("media_id"),
                F.col("component").alias("cluster_id"),
            )
        ),
        "media_id",
    )
    wc = W.partitionBy("cluster_id").orderBy(F.desc("n_bytes"), "media_id")
    drops = (
        members.withColumn("krn", F.row_number().over(wc))
        .where(F.col("krn") >= 2)
        .select("media_id")
    )
    return state["dd"].join(F.broadcast(drops), "media_id", "left_anti")


def _media_report(media, cut_id, state_prev, state_cur):
    """q193's 5 accounting rows over the corpus as folded into
    `state_cur`, plus delta_items (latest-tick survivors) and
    old_flipped at stage 4 (|prev keep-list Δ (current keep ∩ old)| —
    the displacement/bridge census)."""
    from eurostat_energy_etl_pipeline_spark.operators.packing import (
        pack_sequences,
    )
    from eurostat_energy_etl_pipeline_spark.plans import at_rest

    is_old = F.col("media_id") <= F.lit(cut_id)
    is_new = F.col("media_id") > F.lit(cut_id)
    a_keep = at_rest(media_keep(state_prev).select("media_id"))  # M4
    nd = at_rest(media_keep(state_cur))
    flip4 = (
        a_keep.unionAll(nd.where(is_old).select("media_id"))
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") == 1)
        .agg(F.count(F.lit(1)).cast("long").alias("old_flipped"))
    )
    bins = (
        pack_sequences(
            nd,
            F.col("n_bytes"),
            budget=MEDIA_PACK_BYTES,
            shard_col="media_type",
            order_col="media_id",
        )
        .groupBy("media_type", "bin_id")
        .agg(F.sum("n_bytes").cast("long").alias("bin_bytes"))
    )

    def mrow(stage, label, df, flipped=None, bytes_col="n_bytes",
             delta_cond=None):
        row = df.agg(
            F.count(F.lit(1)).cast("long").alias("items"),
            F.coalesce(F.sum(bytes_col), F.lit(0))
            .cast("long")
            .alias("bytes"),
            F.coalesce(
                F.sum(
                    F.when(
                        delta_cond if delta_cond is not None else is_new,
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("delta_items"),
        ).select(
            F.lit(stage).cast("long").alias("stage"),
            F.lit(label).alias("label"),
            "items",
            "bytes",
            "delta_items",
        )
        if flipped is None:
            return row.withColumn("old_flipped", F.lit(0).cast("long"))
        return row.crossJoin(F.broadcast(flipped))

    funnel = (
        mrow(1, "input", media)
        .unionByName(mrow(2, "byte_quality", _media_quality(state_cur["stats"])))
        .unionByName(mrow(3, "exact_dedup", state_cur["dd"]))
        .unionByName(mrow(4, "near_dedup", nd, flipped=flip4))
        .unionByName(
            mrow(
                5,
                "shard_pack",
                bins,
                bytes_col="bin_bytes",
                delta_cond=F.lit(False),
            )
        )
    )
    return funnel.transform(presentation_sort, "stage")


@query(
    "q195_incremental_media",
    oracle=_MEDIA_SIG_CTES.replace("WITH b AS", "WITH RECURSIVE b AS", 1)
    + _MEDIA_FUNNEL_CTES
    + _MEDIA_INCR_CTES,
)
def q195(spark, sf_dir):
    """INCREMENTAL MEDIA CURATION — q192's contract at media grain,
    the delta twin of q193: yesterday's pipeline curated the base
    corpus (media_id <= cutoff, bottom 90%) and left FOUR artifacts at
    rest, each a materialized leaf standing in for a stored table:

      M1 per-item stats      signatures + byte quality + sha for base
                             payloads (the expensive decode, paid once)
      M2 hamming band index  `hamming_bands` of the base deduped sigs —
                             the at-rest LSH index (q88's shape for
                             perceptual signatures)
      M3 pair list           yesterday's confirmed hamming<=3 edges
      M4 keep-list           yesterday's near-dedup survivors

    Today's batch (top 10%) folds in WITHOUT re-decoding the base:
    the delta kernels run on batch payloads only; batch sha probes the
    base exact index; batch bands BROADCAST against M2 for cross pairs
    (old-old edges are provably unchanged — an edge is pairwise — so
    M3 is reused verbatim); connected components re-run over
    M3 ∪ cross ∪ batch-self edges (edge grain, tiny next to payloads);
    the keep rank and shard packing recompute at metadata grain.

    Monotonicity at media grain: stages 2-3 never change base items
    (per-item gate; keep-first with larger batch ids). Stage 4 CAN —
    a bigger batch payload displaces an old keeper, and a batch item
    can BRIDGE two old clusters — and flips are one-directional
    (kept -> dropped: a merged cluster contains every member that
    outranked an item before). `old_flipped` at stage 4 counts
    |M4 Δ (today's survivors ∩ base)|; the planted test stages both a
    displacement and a bridge.

    The DuckDB oracle recomputes the ENTIRE funnel from scratch over
    the full corpus plus the base-only cluster chain — the hash match
    is the merge-equals-recompute differential (q152/q178/q192
    contract). Scale shape: payloads never shuffle and the base
    payloads are never re-read; every probe joins fixed-width keys;
    both component runs shuffle 8-byte node ids."""
    t = load_tables(spark, sf_dir)
    media = pin(media_table(t["documents"]))  # the ONE documents scan
    max_id = media.agg(F.max("media_id")).first()[0]
    cut_id = (max_id * 9) // 10 if max_id is not None else -1
    is_old = F.col("media_id") <= F.lit(cut_id)
    state0 = build_media_state(media.where(is_old))
    state1 = fold_media_batch(state0, media.where(~is_old))
    return _media_report(media, cut_id, state0, state1)


@query(
    "q199_multitick_media",
    oracle=_MEDIA_SIG_CTES.replace("WITH b AS", "WITH RECURSIVE b AS", 1)
    + _MEDIA_FUNNEL_CTES
    + _MEDIA_INCR_CTES,
)
def q199(spark, sf_dir):
    """MULTI-TICK CLOSURE at MEDIA grain (VERDICT r13 item 1, "same
    question for q195"): certify fold(fold(base, b1), b2) == scratch
    for the media curation fold. The corpus splits 80/10/10 by
    media_id: `build_media_state` on the bottom 80%, `fold_media_batch`
    for (80%, 90%], the SAME fold again for (90%, max] — tick 2 decodes
    only its own payloads and consumes ONLY tick 1's merged leaves
    (stats, keeper table, band index, pair list), exactly as tomorrow's
    pipeline consumes today's stored tables. The closure risk this
    kills at media grain: a tick-2 item whose bands probe the MERGED
    index must find tick-1 neighbors (a band-merge bug silently loses
    cross-tick near-dups), and old-old edges reused across two merges
    must still produce the exact component set.

    Output contract == q195's (the shared `_media_report` with cut =
    the 90% boundary) and the oracle is q195's scratch-recompute SQL
    VERBATIM, so the driver hash match proves the two-tick path lands
    bit-identically on the same ground truth — with q195's own check,
    fold(fold(base, b1), b2) == fold(base, b1 ∪ b2) == scratch
    (tests/test_round14_ops.py also asserts the first equality
    DataFrame-to-DataFrame). Induction then gives day-N correctness.

    Scale shape: per tick identical to q195 — payloads never shuffle,
    base payloads never re-decode, probes join fixed-width keys,
    components run at edge grain."""
    t = load_tables(spark, sf_dir)
    media = pin(media_table(t["documents"]))  # the ONE documents scan
    max_id = media.agg(F.max("media_id")).first()[0]
    mx = max_id if max_id is not None else 0
    cut80 = (mx * 8) // 10
    cut90 = (mx * 9) // 10
    state0 = build_media_state(media.where(F.col("media_id") <= cut80))
    state1 = fold_media_batch(
        state0,
        media.where(
            (F.col("media_id") > cut80) & (F.col("media_id") <= cut90)
        ),
    )
    state2 = fold_media_batch(state1, media.where(F.col("media_id") > cut90))
    return _media_report(media, cut90, state1, state2)
