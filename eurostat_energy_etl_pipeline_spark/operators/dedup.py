"""Deduplication operators: exact, hash-exact, n-gram Jaccard, MinHash+LSH,
SimHash. Designed for the 100 TB shape:

- exact dedup shuffles a 32-byte sha2 key, never the full text;
- MinHash/SimHash signatures are computed scan-side (one projection, built-in
  xxhash64 inside higher-order functions — no Python);
- LSH candidate generation is a band-bucket self-join (shuffle on short band
  keys), so the quadratic pair space is never materialized; skewed buckets
  (boilerplate-heavy corpora) are handled by AQE skew-join splitting plus the
  `max_bucket` guard that drops degenerate buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.functions.numeric import portable_round
from eurostat_energy_etl_pipeline_spark.functions.parallelism import widen_if_narrow
from eurostat_energy_etl_pipeline_spark.operators.text import whitespace_tokens
from eurostat_energy_etl_pipeline_spark.plans import staged


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """A5: full-row (or subset) duplicate elimination
    (/root/reference/etl/main.py:132-135)."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def text_hash(col: Column) -> Column:
    """sha2-256 of raw text: the exact-dedup shuffle key. Hashing first means
    the wide text column is pruned before the exchange."""
    return F.sha2(col, 256)


def hash_dup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Group by content hash -> (hash, n_docs, min doc_id as canonical)."""
    return (
        df.select(F.col("doc_id"), text_hash(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
    )


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """k-token shingles from an already-tokenized array column; whole-doc
    shingle when the document is shorter than k tokens.

    Built as zip_with over k shifted slices, NOT `transform(sequence, i ->
    element_at(toks, i))`: a lambda-bound element_at re-evaluates the token
    expression per element (quadratic per doc — measured 10x slowdown on
    500-token docs); slices evaluate it once per row (linear)."""
    n = F.size(toks)
    m = n - (k - 1)  # shingle count when n >= k
    out = F.slice(toks, 1, m)
    for i in range(1, k):
        out = F.zip_with(
            out, F.slice(toks, i + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(n < k, F.array(F.array_join(toks, " "))).otherwise(out)


def token_shingles(col: Column, k: int = 3) -> Column:
    """k-token shingles as strings ('w1 w2 w3') from raw text (tokenizes
    with :func:`whitespace_tokens`; see :func:`shingles_from_tokens`)."""
    return shingles_from_tokens(whitespace_tokens(col), k)


def shingle_hashes(col: Column, k: int = 3) -> Column:
    """31-bit numeric k-shingle hashes (array<long>) — the MinHash input.

    Token hashes are combined arithmetically across k shifted slices
    (h = (h*B + tok_hash) mod 2^31-1) instead of materializing 'w1 w2 w3'
    strings: per-shingle string concat costs allocation + re-hashing of
    ~k*avg_token bytes, and measured ~2x slower at 2M shingles. Numeric
    shingles also shrink any shuffle that carries them. Whole-doc fallback
    for documents shorter than k tokens mirrors token_shingles."""
    toksh = F.transform(
        whitespace_tokens(col),
        lambda t: F.shiftrightunsigned(F.xxhash64(t), 33),
    )
    n = F.size(toksh)
    m = n - (k - 1)
    combine = lambda a, b: F.pmod(  # noqa: E731
        a * F.lit(1000003).cast("long") + b, F.lit(_MERSENNE_31).cast("long")
    )
    out = F.slice(toksh, 1, m)
    for i in range(1, k):
        out = F.zip_with(out, F.slice(toksh, i + 1, m), combine)
    whole = F.aggregate(toksh, F.lit(0).cast("long"), combine)
    return F.when(n < k, F.array(whole)).otherwise(out)


def minhash_signature_col(
    col: Column, num_hashes: int = 32, shingle_k: int = 3
) -> Column:
    """Per-ROW MinHash signature (array<long>) as one `aggregate` fold over
    the shingle-hash array — no explode, no shuffle, pure codegen.

    Same permutation family and output as `minhash_signatures` (asserted
    equal in tests), but computed entirely row-side: the fold carries all
    `num_hashes` running minima through one pass over the shingles, so the
    tokenize+shingle expression is evaluated exactly once per document.
    This is the formulation STREAMING paths need — a signature built by
    groupBy would be a stateful aggregate, and Spark forbids a second
    stateful operator downstream of it (the batch path keeps the explode +
    aggregate shape, whose partial mins combine map-side)."""
    coeffs = _perm_coeffs(num_hashes)
    m = F.lit(_MERSENNE_31).cast("long")
    init = F.array(*[m for _ in range(num_hashes)])

    def step(acc: Column, h: Column) -> Column:
        perms = F.array(
            *[
                F.pmod(F.lit(a).cast("long") * h + F.lit(b).cast("long"), m)
                for a, b in coeffs
            ]
        )
        return F.zip_with(acc, perms, lambda x, y: F.least(x, y))

    return F.aggregate(shingle_hashes(col, shingle_k), init, step)


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard over two string arrays (distinct-ified), as double:
    |A∩B| / (|A|+|B|-|A∩B|), with the intersection expression built once
    so codegen need not rely on subexpression elimination."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db)).cast("double")
    union = F.size(da) + F.size(db) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Exact shingle-Jaccard for *candidate* pairs produced upstream (LSH) —
    exposed directly for consecutive-id pairs in the declared query. The
    all-pairs version must never run at scale; pair generation is LSH's job.

    Shape: instead of a self-join (two exchanges + sorts, shingles computed
    per side), each doc is tagged into both pairs it belongs to — (id-1,id)
    as the right element, (id,id+1) as the left — and ONE hash aggregate on
    the pair key picks the two sides with min_by/max_by. Same bytes
    shuffled, half the stages; measured 27% faster at sf0.1."""
    sh = widen_if_narrow(df).select(
        F.col(id_col).alias("id"), token_shingles(F.col(text_col), k).alias("sh")
    )
    tagged = sh.select(
        F.explode(
            F.array(
                F.struct((F.col("id") + 1).alias("pk"), F.lit(0).alias("side"), F.col("sh")),
                F.struct(F.col("id").alias("pk"), F.lit(1).alias("side"), F.col("sh")),
            )
        ).alias("x")
    ).select("x.pk", "x.side", "x.sh")
    return (
        tagged.groupBy("pk")
        .agg(
            F.min_by("sh", "side").alias("sh_a"),
            F.max_by("sh", "side").alias("sh_b"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 2)  # drop the dangling first/last half-pairs
        .select(
            (F.col("pk") - 1).alias("id_a"),
            F.col("pk").alias("id_b"),
            portable_round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jacc"),
        )
    )


_MERSENNE_31 = (1 << 31) - 1  # prime modulus for the permutation family


def _perm_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, _MERSENNE_31)), int(rng.randint(0, _MERSENNE_31)))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    keep_shingles: bool = False,
) -> DataFrame:
    """(id, sig: array<long>[, shset: array<long>]) MinHash signatures.

    Shape: hash every shingle ONCE (numeric shingle hash, no string
    materialization), explode to rows, then ONE hash aggregate computing
    `num_hashes` mins of independent affine permutations
    pi_i(x) = (a_i*x + b_i) mod (2^31-1) — the standard permutation-family
    construction. The tokenize+shingle+hash expression runs exactly once per
    document (array-side `transform` per permutation would re-evaluate it
    num_hashes times), the mins combine map-side, and 31-bit values keep
    a_i*x below 2^62 (ANSI-safe). `keep_shingles` adds the distinct shingle
    set in the SAME aggregate (collect_set) so downstream exact-Jaccard
    verification needs no second tokenization pass over the corpus.

    Per-slot *independent* permutations matter: deriving slots from a shared
    hash pair (double hashing) correlates the argmin shingle across slots,
    making LSH bands collide for merely-similar docs and exploding the
    candidate set."""
    hs = widen_if_narrow(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingle_hashes(F.col(text_col), shingle_k)).alias("h"),
    )
    mins = [
        F.min(F.pmod(F.lit(a).cast("long") * F.col("h") + F.lit(b), F.lit(_MERSENNE_31))).alias(
            f"_m{i}"
        )
        for i, (a, b) in enumerate(_perm_coeffs(num_hashes))
    ]
    aggs = list(mins)
    if keep_shingles:
        aggs.append(F.collect_set("h").alias("shset"))
    agg = hs.groupBy("id").agg(*aggs)
    cols = ["id", F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig")]
    if keep_shingles:
        cols.append(F.col("shset"))
    return agg.select(*cols)


class _PersistedPlanCache:
    """LRU memo for persisted signature DataFrames. Bounded: evicting an
    entry unpersists it, so a long session probing many distinct corpora
    cannot grow executor storage without limit (the unbounded-dict version
    leaked one pinned table per distinct input). Keys include the schema
    string as a cheap plan fingerprint alongside the 32-bit semanticHash —
    a semanticHash collision between different inputs would otherwise
    silently serve another plan's signatures."""

    def __init__(self, maxsize: int = 8) -> None:
        from collections import OrderedDict

        self._d: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        self._maxsize = maxsize

    @staticmethod
    def key_of(df: DataFrame, *parts) -> tuple | None:
        try:
            return (
                df.sparkSession.sparkContext.applicationId,
                df.semanticHash(),
                df.schema.simpleString(),
                *parts,
            )
        except Exception:
            return None  # semanticHash unavailable -> caller runs uncached

    def get(self, key: tuple) -> DataFrame | None:
        hit = self._d.get(key)
        if hit is not None:
            self._d.move_to_end(key)
        return hit

    def put(self, key: tuple, df: DataFrame) -> None:
        self._d[key] = df
        self._d.move_to_end(key)
        while len(self._d) > self._maxsize:
            _, evicted = self._d.popitem(last=False)
            try:
                evicted.unpersist()
            except Exception:
                pass  # session already stopped; nothing to release


# Persisted-signature memo per (session, input plan, params): without it
# every direct minhash_lsh_pairs call pins a fresh copy of the signature
# table for the life of the session.
_SIG_CACHE = _PersistedPlanCache()


def _signature_table(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, shingle_k: int
) -> DataFrame:
    key = _PersistedPlanCache.key_of(df, text_col, id_col, num_hashes, shingle_k)
    if key is not None:
        hit = _SIG_CACHE.get(key)
        if hit is not None:
            return hit
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, keep_shingles=True
    ).persist()
    if key is not None:
        _SIG_CACHE.put(key, sig)
    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    shingle -> minhash (num_hashes) -> band into `bands` groups of
    num_hashes/bands rows -> bucket-join on (band_idx, band_hash) ->
    verify candidates with exact shingle Jaccard >= threshold.

    Band geometry: LSH's collision threshold is ~(1/bands)^(bands/num_hashes
    / ... ) — concretely (1/b)^(1/r) with r = num_hashes/bands. The default
    16 bands x 2 rows gives t ~= 0.25, safely below the 0.5 verification
    threshold, so true pairs at J >= 0.5 are caught with high probability
    and the exact-Jaccard pass discards the extra candidates. (8x4 puts the
    knee at ~0.59 — ABOVE the advertised threshold — and measurably drops
    planted near-dup pairs.)

    Scale notes: the only shuffles are (a) the band-bucket exchange on an
    8-byte hash and (b) the candidate join; `max_bucket` drops degenerate
    buckets (empty/boilerplate shingles) that would otherwise go quadratic.
    """
    rows = num_hashes // bands
    # The signature table (id, sig, distinct numeric shingle set) is
    # materialized ONCE (persisted): it feeds both candidate generation and
    # verification, and recomputing it per consumer would re-tokenize the
    # corpus twice. At warehouse scale this is the signature table you
    # would write to storage before the pair-join step; persist() is the
    # in-session equivalent (evictable, spills to disk). Memoized per
    # (session, input plan, params) so repeated direct calls reuse one
    # pinned table instead of accumulating storage.
    sig = _signature_table(df, text_col, id_col, num_hashes, shingle_k)
    # Band buckets carry only (id, band hash) — the shingle sets never
    # enter the explode/self-join shuffles; they are joined back by id for
    # the (much smaller) verification set only.
    banded = _band_table(sig, bands, rows)
    # Candidate enumeration: window-count FIRST (sort-based window, spills
    # to disk), THEN collect_list only for surviving buckets — so the
    # non-spillable aggregation buffer is bounded by max_bucket ids even
    # when a degenerate bucket (boilerplate/empty docs sharing a band hash)
    # holds millions of members. A bare collect_list-then-filter would
    # materialize the whole bucket in one task's memory before the size
    # guard could apply. The window and the aggregate share the
    # (band_idx, band_hash) partitioning, so this is still one exchange;
    # pairs are then enumerated row-side from the sorted array —
    # C(bucket,2) per bucket, identical candidates to a self-join without
    # its second sort/probe pass.
    from pyspark.sql.window import Window

    w_bucket = Window.partitionBy("band_idx", "band_hash")
    buckets = (
        banded.withColumn("_n", F.count(F.lit(1)).over(w_bucket))
        .where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .groupBy("band_idx", "band_hash")
        .agg(F.collect_list("id").alias("ids"))
        .select(F.array_sort("ids").alias("ids"))
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verification reads the persisted numeric shingle sets — no second
    # tokenization pass, and the joined arrays are compact int64 sets.
    sh = sig.select("id", F.col("shset").alias("sh"))
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            portable_round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jacc"),
        )
        .where(F.col("jacc") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _band_table(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(id, band_idx, band_hash) from a signature table: each band hashes
    `rows` adjacent signature slots into one 8-byte key."""
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("sig")[b * rows + r] for r in range(rows)])
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    num_buckets: int | None = None,
) -> None:
    """Materialize the at-rest near-dup index of a corpus: `{path}/bands`
    (id, band_idx, band_hash — the LSH probe side) and `{path}/shingles`
    (id, shset — the exact-Jaccard verification side).

    This is the amortization point of incremental dedup: the corpus is
    shingled/hashed ONCE at ingest; every later batch probes the stored
    index (`match_against_index`) without touching corpus text again. The
    two tables are exactly the intermediates `minhash_lsh_pairs` builds
    in-session, written with the same geometry so thresholds transfer.

    With ``num_buckets`` the layout is hash-partitioned on
    ``bucket = pmod(id, num_buckets)`` — the maintainable layout:
    `merge_into_minhash_index` then rewrites ONLY the buckets containing
    affected ids (partition-pruned on both the read and the overwrite),
    so nightly upsert/tombstone batches touch O(affected buckets) of a
    100 TB index instead of rewriting it. Probe reads are unchanged
    (partition discovery just adds the `bucket` column). Geometry is
    recorded in `{path}/_meta.json` so maintenance batches can never be
    signed with mismatched hash parameters."""
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, keep_shingles=True
    ).persist()
    try:
        bands_df = _band_table(sig, bands, rows)
        sh_df = sig.select("id", "shset")
        if num_buckets:
            bucket = F.pmod(F.col("id"), F.lit(num_buckets)).cast("int")
            (
                bands_df.withColumn("bucket", bucket)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(f"{path}/bands")
            )
            (
                sh_df.withColumn("bucket", bucket)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(f"{path}/shingles")
            )
        else:
            bands_df.write.mode("overwrite").parquet(f"{path}/bands")
            sh_df.write.mode("overwrite").parquet(f"{path}/shingles")
    finally:
        sig.unpersist()
    _write_index_meta(
        path,
        {
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_k": shingle_k,
            "num_buckets": num_buckets,
        },
        spark=df.sparkSession,
    )


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for `path` resolved through Spark's Hadoop conf —
    the filesystem the DATA writes go through, so meta/cleanup I/O lands on
    the same store (HDFS, s3a, local) instead of silently using the
    driver's local disk (ADVICE r8: driver-local os/open/shutil on an
    object-store index path reads/deletes the wrong filesystem)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _delete_absent_partitions(rows: DataFrame, path: str, col: str, touched):
    """Remove each ``{path}/{col}=v`` directory for a touched value ``v``
    that no longer occurs in ``rows``, the frame just written there with
    dynamic partition overwrite. That overwrite only replaces the
    partitions PRESENT in its output, so a partition whose every row was
    tombstoned would silently stay stale. The delete goes through the
    filesystem the data lives on (object-store-safe, ADVICE r8)."""
    spark = rows.sparkSession
    present = {r[col] for r in rows.select(col).distinct().collect()}
    fs, _ = _hadoop_fs(spark, path)
    for v in touched:
        if v not in present:
            vpath = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/{col}={v}")
            if fs.exists(vpath):
                fs.delete(vpath, True)


def _active_spark(spark=None):
    if spark is not None:
        return spark
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "index meta I/O needs a SparkSession (Hadoop FileSystem API); "
            "no active session found"
        )
    return s


def _write_index_meta(path: str, meta: dict, spark=None) -> None:
    import json

    spark = _active_spark(spark)
    fs, base = _hadoop_fs(spark, path)
    fs.mkdirs(base)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/_meta.json")
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()


def read_index_meta(path: str, spark=None) -> dict:
    import json

    spark = _active_spark(spark)
    fs, _ = _hadoop_fs(spark, path)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/_meta.json")
    stream = fs.open(jpath)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        chunks = []
        line = reader.readLine()
        while line is not None:
            chunks.append(line)
            line = reader.readLine()
    finally:
        stream.close()
    return json.loads("\n".join(chunks))


def merge_into_minhash_index(
    spark,
    path: str,
    upserts: DataFrame | None = None,
    tombstone_ids=None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Incrementally maintain an at-rest MinHash index written with
    ``num_buckets``: MERGE semantics on id — upsert rows replace any
    existing entry for the same id, tombstoned ids are removed, and
    tombstones win over upserts inside one batch (the convention of
    `etl/job.py`'s warehouse merge, where a delete marker beats a
    concurrent update). Returns an audit dict.

    Scale shape (the reason this exists, VERDICT r5 item 8): the batch is
    small by the q63 nightly-ingest contract, so
      1. affected ids broadcast into an anti-join against ONLY the bucket
         partitions they hash to (partition-pruned read: O(affected
         buckets) of the index, never a full scan);
      2. surviving old rows union the freshly signed upsert rows and are
         written back with dynamic partition overwrite — Spark replaces
         exactly the partitions present in the output;
      3. a bucket whose every id was tombstoned produces no output rows,
         which dynamic overwrite would silently leave stale — those
         partitions are deleted explicitly (the object-store delete of a
         production run).
    The old rows are staged (`plans.staged`: eagerly materialized, released
    after the write) so the write never reads the files it is replacing.
    Re-signing uses the geometry from `_meta.json`, so a maintenance batch
    can never mix hash parameters with the base index."""
    meta = read_index_meta(path, spark)
    nb = meta.get("num_buckets")
    if not nb:
        raise ValueError(
            "merge_into_minhash_index requires a bucketed index "
            "(write_minhash_index(..., num_buckets=N))"
        )
    rows = meta["num_hashes"] // meta["bands"]

    if tombstone_ids is None:
        # explicit schema: pandas empty-frame inference raises
        # CANNOT_INFER_EMPTY_SCHEMA on this pyspark
        tomb = spark.createDataFrame([], "id long")
    elif isinstance(tombstone_ids, DataFrame):
        tomb = tombstone_ids.select(F.col(tombstone_ids.columns[0]).alias("id"))
    else:
        tomb = spark.createDataFrame(
            __import__("pandas").DataFrame({"id": list(tombstone_ids)}).astype(
                {"id": "int64"}
            )
        )
    ups_ids = (
        upserts.select(F.col(id_col).alias("id"))
        if upserts is not None
        else tomb.limit(0)
    )
    affected = ups_ids.unionByName(tomb).distinct().persist()
    buckets = sorted(
        r["b"]
        for r in affected.select(
            F.pmod(F.col("id"), F.lit(nb)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    )
    n_tomb = tomb.count()

    # Tombstones win inside the batch: effective upserts are anti-joined.
    eff_ups = None
    if upserts is not None:
        eff_ups = upserts.join(
            F.broadcast(tomb), upserts[id_col] == tomb["id"], "left_anti"
        )
        sig = minhash_signatures(
            eff_ups,
            text_col,
            id_col,
            meta["num_hashes"],
            meta["shingle_k"],
            keep_shingles=True,
        ).persist()
        new_bands = _band_table(sig, meta["bands"], rows)
        new_sh = sig.select("id", "shset")
    else:
        sig = None
        new_bands = new_sh = None

    audit = {
        "n_tombstones": n_tomb,
        "buckets_touched": len(buckets),
        "num_buckets": nb,
    }
    bucket_of = F.pmod(F.col("id"), F.lit(nb)).cast("int")
    for table, new_rows in (("bands", new_bands), ("shingles", new_sh)):
        tpath = f"{path}/{table}"
        old = (
            spark.read.parquet(tpath)
            .where(F.col("bucket").isin(buckets))
            .drop("bucket")
            .join(F.broadcast(affected), "id", "left_anti")
        )
        out = old if new_rows is None else old.unionByName(new_rows)
        with staged(out.withColumn("bucket", bucket_of)) as rows:
            rows.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("bucket").parquet(tpath)
            _delete_absent_partitions(rows, tpath, "bucket", buckets)
            audit[f"{table}_rows_written"] = rows.count()
    if sig is not None:
        audit["n_upserts"] = eff_ups.count()
        sig.unpersist()
    else:
        audit["n_upserts"] = 0
    affected.unpersist()
    return audit


def match_against_index(
    spark,
    new_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    broadcast_new: bool = True,
) -> DataFrame:
    """Near-dup matches of an incoming batch against a stored corpus index:
    (new_id, corpus_id, jacc >= threshold).

    The nightly-ingest shape: the increment is small relative to the
    corpus, so its banded signatures are BROADCAST against the at-rest
    bands table — the big side streams through a broadcast-hash join with
    no shuffle and no corpus re-shingling. Verification joins the (tiny)
    candidate list back to the stored shingle sets by id. For a bulk
    backfill where the increment rivals the corpus, pass
    broadcast_new=False and AQE plans a regular shuffle join instead."""
    rows = num_hashes // bands
    new_sig = minhash_signatures(
        new_df, text_col, id_col, num_hashes, shingle_k, keep_shingles=True
    ).persist()
    new_banded = _band_table(new_sig, bands, rows).select(
        F.col("id").alias("new_id"), "band_idx", "band_hash"
    )
    if broadcast_new:
        new_banded = F.broadcast(new_banded)
    idx_bands = spark.read.parquet(f"{path}/bands").select(
        F.col("id").alias("corpus_id"), "band_idx", "band_hash"
    )
    cand = (
        idx_bands.join(new_banded, ["band_idx", "band_hash"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    corpus_sh = spark.read.parquet(f"{path}/shingles").select(
        F.col("id").alias("corpus_id"), F.col("shset").alias("sh_c")
    )
    new_sh = new_sig.select(F.col("id").alias("new_id"), F.col("shset").alias("sh_n"))
    if broadcast_new:
        new_sh = F.broadcast(new_sh)
    return (
        cand.join(corpus_sh, "corpus_id")
        .join(new_sh, "new_id")
        .select(
            "new_id",
            "corpus_id",
            portable_round(jaccard(F.col("sh_n"), F.col("sh_c")), 6).alias("jacc"),
        )
        .where(F.col("jacc") >= threshold)
        .orderBy("new_id", "corpus_id")
    )


PORTABLE_SIMHASH_BITS = 60


def portable_token_hash(t: Column) -> Column:
    """60-bit token hash both engines can compute identically: the first 15
    hex chars of md5, parsed base-16 (Spark `conv`; DuckDB
    `('0x' || substr(md5(t),1,15))::BIGINT`). 60 bits keeps the value
    positive in a signed int64 on both sides. Used by the portable SimHash
    so the declared query has a cross-engine oracle; the default path keeps
    xxhash64 (faster, JVM-native) for production corpora."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash(col: Column, bits: int = 64, portable: bool = False) -> Column:
    """SimHash over whitespace tokens, as a long (64-bit default; 60-bit
    md5-derived when `portable` — see `portable_token_hash`).

    Hybrid split for speed: token hashing stays JVM-side (`xxhash64` or
    md5+conv inside `transform` — codegen), then the per-bit majority vote
    runs in a vectorized pandas_udf over the hash arrays (numpy bit
    arithmetic on the Arrow batch). A pure-expression formulation (64 whens
    per token) works but compiles a multi-MB codegen unit that dominates
    runtime; the bit math is exactly what numpy is fast at, and the Arrow
    transfer carries only the int64 hash arrays, never the text."""
    toks = whitespace_tokens(col)
    if portable:
        bits = PORTABLE_SIMHASH_BITS
        hashes = F.transform(toks, portable_token_hash)
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

    @F.pandas_udf("long")
    def _vote(hash_arrays: pd.Series) -> pd.Series:
        out = np.empty(len(hash_arrays), dtype=np.int64)
        shifts = np.arange(bits, dtype=np.uint64)
        for i, arr in enumerate(hash_arrays):
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            ones = ((h[:, None] >> shifts) & 1).sum(axis=0)  # per-bit 1-votes
            sig = np.where(2 * ones > len(h), np.uint64(1), np.uint64(0))
            out[i] = (sig << shifts).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return _vote(hashes)


# SimHash signature memo per (session, input plan, columns) — the signature
# feeds BOTH sides of the band self-join, and an unpersisted plan would
# re-tokenize and re-vote the whole corpus once per side (measured ~2x the
# query's runtime at sf0.1). Mirrors _SIG_CACHE (bounded, unpersists on
# eviction).
_SIMHASH_CACHE = _PersistedPlanCache()


def _simhash_table(
    df: DataFrame, text_col: str, id_col: str, portable: bool = False
) -> DataFrame:
    key = _PersistedPlanCache.key_of(df, text_col, id_col, portable)
    if key is not None:
        hit = _SIMHASH_CACHE.get(key)
        if hit is not None:
            return hit
    sigs = (
        widen_if_narrow(df)
        .select(F.col(id_col), simhash(F.col(text_col), portable=portable).alias("sig"))
        .persist()
    )
    if key is not None:
        _SIMHASH_CACHE.put(key, sigs)
    return sigs


def hamming_bands(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    sig_bits: int,
    band_bits: int,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Banded signature table (*key_cols, id, sig, band_idx, band_key) —
    one row per (item, band). THIS is the at-rest hamming LSH INDEX a
    pipeline stores next to its perceptual signatures: tomorrow's batch
    probes the stored bands (:func:`hamming_probe_pairs`) instead of
    re-banding — or re-decoding — the corpus. Scan-side posexplode of
    the shifted band keys; nothing shuffles here."""
    n_bands = sig_bits // band_bits
    return sigs.select(
        *key_cols,
        id_col,
        F.col(sig_col).alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), i * band_bits).bitwiseAND(
                        F.lit((1 << band_bits) - 1).cast("long")
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def hamming_probe_pairs(
    index_bands: DataFrame,
    new_sigs: DataFrame,
    id_col: str,
    sig_col: str,
    sig_bits: int,
    band_bits: int,
    max_hamming: int | None = None,
    key_cols: tuple[str, ...] = (),
    broadcast_new: bool = True,
) -> DataFrame:
    """Hamming candidates of an incoming batch AGAINST a stored band
    index (:func:`hamming_bands` at rest): the nightly-ingest shape —
    the batch's bands broadcast against the big index table, so the
    at-rest side streams through a broadcast-hash join with no shuffle,
    no corpus re-banding, and no payload re-decode. Returns
    (*key_cols, id_a=index id, id_b=batch id, hamming), deduplicated
    and hamming-verified. The id sets must be disjoint (ingest ids are
    new by construction). Bulk backfills pass broadcast_new=False and
    AQE plans a regular shuffle join."""
    keys = list(key_cols)
    nb = hamming_bands(
        new_sigs, id_col, sig_col, sig_bits, band_bits, key_cols=key_cols
    ).select(
        *keys, "band_idx", "band_key",
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
    )
    if broadcast_new:
        nb = F.broadcast(nb)
    out = (
        index_bands.select(
            *keys, "band_idx", "band_key",
            F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
        )
        .join(nb, keys + ["band_idx", "band_key"])
        .select(
            *keys,
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias(
                "hamming"
            ),
        )
        .dropDuplicates(keys + ["id_a", "id_b"])
    )
    if max_hamming is not None:
        out = out.where(F.col("hamming") <= max_hamming)
    return out


def hamming_band_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    sig_bits: int,
    band_bits: int,
    max_hamming: int | None = None,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Generic banded-hamming candidate pairing over an integer signature
    column (shared by SimHash text dedup and the multimodal perceptual-
    hash dedup): split the signature into `sig_bits/band_bits` bands; any
    pair within hamming distance `n_bands-1` shares at least one exact
    band (pigeonhole). Bucket-join per band, verify the true hamming
    distance with bit_count(xor), optionally filter to `max_hamming`.
    `key_cols` restrict pairing to rows sharing those columns (e.g.
    media_type — images only pair with images).

    Returns (*key_cols, id_a, id_b, hamming), deduplicated. Scale shape:
    the self-join is keyed on (band_idx, band_key[, key_cols]) — never
    all-pairs; candidate volume is bounded by per-bucket collision
    counts, the standard LSH contract."""
    keys = list(key_cols)
    banded = hamming_bands(
        sigs, id_col, sig_col, sig_bits, band_bits, key_cols=key_cols
    )
    a = banded.select(
        *keys, "band_idx", "band_key",
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
    )
    b = banded.select(
        *keys, "band_idx", "band_key",
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
    )
    out = (
        a.join(b, keys + ["band_idx", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            *keys,
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias(
                "hamming"
            ),
        )
        .dropDuplicates(keys + ["id_a", "id_b"])
    )
    if max_hamming is not None:
        out = out.where(F.col("hamming") <= max_hamming)
    return out


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_bits: int = 16,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup candidates: banded pigeonhole pairing
    (:func:`hamming_band_pairs`) over the per-document signature.
    `portable=True` switches to the 60-bit md5-derived signature (4x15-bit
    bands) that DuckDB can recompute — the declared query's oracle mode."""
    sig_bits = PORTABLE_SIMHASH_BITS if portable else 64
    sigs = _simhash_table(df, text_col, id_col, portable=portable)
    return hamming_band_pairs(
        sigs,
        id_col=id_col,
        sig_col="sig",
        sig_bits=sig_bits,
        band_bits=band_bits,
        max_hamming=max_hamming,
    ).orderBy("id_a", "id_b")


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node's strictly-larger neighbors are
    re-pointed at the minimum of its closed neighborhood."""
    und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = und.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node and its smaller-or-equal neighbors
    are re-pointed at the neighborhood minimum."""
    canon = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = canon.groupBy("u").agg(F.min("v").alias("m"))
    return (
        canon.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    nodes: DataFrame | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """(id, component) labeling of the undirected pair graph; the component
    label is the minimum node id in the component — the canonical document
    every near-dup cluster keeps.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    standard shuffle-on-key formulation that converges in O(log^2 n) rounds
    w.h.p. and needs no vertex-indexed state. Naive min-label propagation
    is O(diameter) rounds, which on chain-shaped near-dup runs (consecutive
    ids) means hundreds of shuffles; star contraction collapses chains
    exponentially. The driver-side loop is the fixpoint control only — each
    round is two shuffles on the (8-byte) node key; `localCheckpoint`
    truncates the lineage so round N's plan does not replay rounds 1..N-1.

    `nodes` (one column named like ``src_col``'s values, default: both
    endpoint sets) adds isolated vertices, labeled as their own component.

    Convergence is detected with an order-insensitive edge checksum
    (count + bit_xor of xxhash64) — stable checksum twice in a row = star
    graphs reached. Raises RuntimeError if max_iter rounds do not converge
    (a correctness guard: returning a half-contracted labeling would
    silently split clusters).
    """
    edges = (
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def _checksum(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).first()
        return (row["n"], row["x"])

    # the per-round checkpoints live as long as the returned plan —
    # declare them so lifetime gates don't read them as pin leaks
    from eurostat_energy_etl_pipeline_spark import plans as _plans

    edges = _plans.at_rest(edges)
    prev = _checksum(edges)
    converged = False
    for _ in range(max_iter):
        edges = _plans.at_rest(_small_star(_large_star(edges)))
        cur = _checksum(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # At the fixpoint the edge set is a union of stars (u -> component min);
    # group defensively in case a node carries edges to several labels.
    stars = edges.groupBy("u").agg(F.min("v").alias("component"))
    if nodes is None:
        nodes = (
            pairs.select(F.col(src_col).alias("id"))
            .union(pairs.select(F.col(dst_col).alias("id")))
            .distinct()
        )
    else:
        nodes = nodes.toDF("id").distinct()
    return nodes.join(stars.withColumnRenamed("u", "id"), "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def shingle_keys(
    df: DataFrame, k: int = 4, text_col: str = "text"
) -> DataFrame:
    """DISTINCT 64-bit k-token shingle keys (`_g`, 16-hex md5 prefix —
    the exact key :func:`contaminated_ids` joins on) of a text corpus.
    This is the at-rest BENCHMARK SHINGLE INDEX a decontamination
    pipeline stores: tomorrow's batch probes the stored keys instead of
    re-shingling the benchmark (pass to ``benchmark_keys``)."""
    gram_key = F.substring(F.md5(F.col("_gram")), 1, 16)
    return (
        df.select(
            F.explode(
                F.array_distinct(token_shingles(F.col(text_col), k))
            ).alias("_gram")
        )
        .select(gram_key.alias("_g"))
        .distinct()
    )


def doc_shingle_keys(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, _g) INVERTED doc-shingle index — per-document distinct
    k-token shingle keys on the :func:`contaminated_ids` key contract.
    Stored at rest, it answers the REVERSE decontamination probe: when a
    NEW benchmark document arrives, which already-released corpus
    documents does it contaminate? (join the new benchmark's
    :func:`shingle_keys` against this index — O(new shingles), never a
    corpus re-scan). Keys are distinct within a document (row-local
    array_distinct — no shuffle spent on global dedup; semi-join probes
    are idempotent across documents anyway)."""
    gram_key = F.substring(F.md5(F.col("_gram")), 1, 16)
    return df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(token_shingles(F.col(text_col), k))
        ).alias("_gram"),
    ).select(id_col, gram_key.alias("_g"))


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    broadcast_benchmark: bool = True,
    benchmark_keys: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: ids of corpus documents sharing at least
    one k-token shingle with any benchmark document — the standard
    eval-set-overlap filter run before training-corpus release.

    Shape at scale: both sides reduce to DISTINCT 64-bit shingle keys
    (md5 prefix — engine-portable, so the oracle can mirror it) BEFORE the
    join, so the join carries |distinct grams|, never |docs x grams|; the
    benchmark side (eval sets are small) is broadcast by default, making the
    whole check a scan + broadcast semi-join with a final distinct on ids.
    With a large benchmark, set broadcast_benchmark=False and AQE plans the
    distinct-key equi-join as a regular shuffle join.

    ``benchmark_keys`` replaces the benchmark-text side with an already
    materialized :func:`shingle_keys` table (`_g` column) — the
    incremental shape: the stored benchmark shingle index is probed
    directly, no benchmark re-shingling (q192). Exactly one of
    ``benchmark`` / ``benchmark_keys`` must be provided.
    """
    if (benchmark is None) == (benchmark_keys is None):
        raise ValueError(
            "contaminated_ids: pass exactly one of benchmark / benchmark_keys"
        )
    gram_key = F.substring(F.md5(F.col("_gram")), 1, 16)
    # No per-doc gram dedup before the join: a left-semi probe emits each
    # left row at most once and the final distinct() reduces to ids, so a
    # dropDuplicates([id, gram]) here would add a full shuffle of the gram
    # stream for nothing. array_distinct BEFORE the explode trims repeated
    # grams row-locally (free, no shuffle).
    corpus_grams = widen_if_narrow(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(token_shingles(F.col(text_col), k))).alias("_gram"),
    ).select(id_col, gram_key.alias("_g"))
    if benchmark_keys is not None:
        bench_grams = benchmark_keys.select("_g")
    else:
        bench_grams = (
            benchmark.select(
                F.explode(
                    F.array_distinct(token_shingles(F.col(text_col), k))
                ).alias("_gram")
            )
            .select(gram_key.alias("_g"))
            .distinct()
        )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    return (
        corpus_grams.join(bench_grams, "_g", "left_semi")
        .select(id_col)
        .distinct()
    )


def dup_span_coverage(
    df: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact substring-duplication coverage (the span-level dedup signal of
    Lee et al., "Deduplicating Training Data Makes Language Models Better"):
    for every document, the fraction of its tokens covered by at least one
    k-token gram that also appears in ANOTHER document.

    Distinct from the document-level operators above: MinHash/SimHash score
    whole-doc similarity; this localizes WHICH spans are boilerplate
    (licence headers, templated paragraphs) so a filter can cut spans, not
    documents. Shape, stage by stage, each 100 TB-safe:

    1. grams: `token_shingles` (linear zip_with build) + posexplode —
       scan-side, no shuffle. Docs shorter than k tokens have no k-span
       and drop out here (they rejoin with coverage 0 at step 4).
    2. cross-doc duplicated grams: aggregate on the sha2-256 gram key
       (`text_hash` contract — the wide gram string is pruned before the
       exchange; map-side combine collapses per-partition repeats), with
       two distinct doc_ids required so within-doc repetition alone never
       marks a span. The duplicated-key table then re-joins the gram
       stream on the same hash — an equi-join AQE can skew-split; at
       typical boilerplate rates it lands a broadcast.
    3. interval union per doc: duplicated spans [pos, pos+k) merge via
       gaps-and-islands — running max(end) over a window partitioned by
       the HIGH-CARDINALITY doc key (bounded rows per task), cumulative
       new-island sum, then covered = max(end)-min(pos) per island.
       Pure integer arithmetic: the DuckDB differential is exact.
    4. left join back to (doc, n_tokens) so clean documents report 0.

    Returns (id, n_tokens, n_dup_grams, n_spans, covered_tokens,
    dup_coverage) — dup_coverage on the 1e-4 grid via portable_round.
    """
    from pyspark.sql.window import Window

    from eurostat_energy_etl_pipeline_spark.functions.numeric import portable_round
    from eurostat_energy_etl_pipeline_spark.operators.text import whitespace_tokens

    base = df.select(
        F.col(id_col).alias("id"),
        whitespace_tokens(F.col(text_col)).alias("tk"),
    ).select("id", F.size("tk").alias("n_tokens"), "tk")

    from eurostat_energy_etl_pipeline_spark import plans as _plans

    # r14: the gram stream feeds TWO consumers (the duplicated-key
    # aggregate and the join probe) and each replayed the tokenize +
    # shingle + sha2 build from the scan — the r11 exchange-reuse attempt
    # failed on pruning mismatch (BENCHNOTES), but a pin of the hashed,
    # text-free (id, pos, gh) stream shares the build directly.
    grams = _plans.pin(
        base.where(F.col("n_tokens") >= k)
        .select(
            "id",
            F.posexplode(shingles_from_tokens(F.col("tk"), k)).alias("pos0", "gram"),
        )
        .select("id", (F.col("pos0") + 1).alias("pos"), text_hash(F.col("gram")).alias("gh"))
    )
    # ">= 2 distinct docs" as min(id) != max(id): countDistinct would
    # expand to a two-level aggregate (partial-distinct exchange + count
    # exchange); min/max is ONE map-side-combined exchange and the exact
    # same predicate for any orderable id.
    dup = (
        grams.groupBy("gh")
        .agg(F.min("id").alias("_lo"), F.max("id").alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("gh")
    )
    spans = grams.join(dup, "gh").select("id", "pos", (F.col("pos") + k).alias("end"))

    w = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    island = F.sum(
        (prev_end.isNull() | (F.col("pos") > prev_end)).cast("int")
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    per_doc = (
        spans.withColumn("island", island)
        .groupBy("id", "island")
        .agg(
            F.count(F.lit(1)).alias("g"),
            (F.max("end") - F.min("pos")).alias("cov"),
        )
        .groupBy("id")
        .agg(
            F.sum("g").alias("n_dup_grams"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("cov").alias("covered_tokens"),
        )
    )
    return base.select("id", "n_tokens").join(per_doc, "id", "left").select(
        "id",
        "n_tokens",
        F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias("covered_tokens"),
        portable_round(
            F.coalesce("covered_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double"),
            4,
        ).alias("dup_coverage"),
    )


def prefix_jaccard_join(
    df: DataFrame,
    threshold: float = 0.6,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT Jaccard similarity self-join (all pairs with J >= threshold)
    via prefix filtering (PPJoin-family; Chaudhuri et al. "A Primitive
    Operator for Similarity Joins") — the no-false-negative counterpart
    of the MinHash+LSH pipeline (q25): LSH trades recall for speed;
    prefix filtering keeps exactness and prunes candidates instead.

    Principle: order every document's shingle set by ONE global total
    order (here: (corpus doc-frequency, shingle) — rarest first). If
    J(A,B) >= t, the pair must agree on at least one shingle inside each
    side's PREFIX (the first |S| - ceil(t*|S|) + 1 shingles in that
    order); so candidate generation joins only on prefix shingles.
    Rarity-first ordering makes prefix buckets small by construction —
    the corpus's hottest shingles (the skew that melts a naive
    token-bucket join at 100 TB) are precisely the ones pushed OUT of
    every prefix. Candidates then verify with the exact Jaccard.

    Stages, all shuffle-keyed on bounded-cardinality keys:
      1. (doc, shingle-hash) explode + doc-frequency aggregate — shingles
         are xxhash64-hashed ONCE at the scan, so every later shuffle,
         sort, and intersection moves 8-byte longs, never shingle text
         (measured 2x on the verify stage at sf0.1; a 64-bit collision
         would have to fall inside one candidate pair's two sets to
         perturb a result, ~2^-64-scale per corpus);
      2. per-doc rarity-sorted shingle ranking (one doc-keyed aggregate;
         the sort is per-row array sort, no window);
      3. prefix explode -> self equi-join on the hash, with the PPJoin
         LENGTH filter inline (J >= t requires min(|A|,|B|) >=
         t*max(|A|,|B|) — exact integer arithmetic on the 1e-6 grid) ->
         distinct candidate pairs;
      4. verify: candidates join the per-doc hash sets (doc-keyed) and
         the exact jaccard() filter keeps J >= t.

    Returns (id_a, id_b, jacc) with jacc on the 1e-6 grid, id_a < id_b,
    UNORDERED (a pair list is corpus-grain; callers needing a
    presentation order sort the small filtered result themselves).

    r14 optimization (guide §1.2/§5): the hashed-shingle-set table feeds
    FOUR consumers in one plan (the df_ aggregate, the rarity ranking,
    and both verify sides) and the prefix table feeds both sides of the
    candidate self-join — unpinned, Spark replayed the tokenize+shingle+
    xxhash subtree for each consumer (the single most expensive scan in
    the whole bench). Pinning both (text-free, fixed-width hash arrays —
    bounded metadata, the same contract as q186's one pinned stats
    table) measured 3.33 s -> 0.98 s at sf0.1/local[32] with identical
    output. At cluster scale the pins spill MEMORY_AND_DISK and degrade
    to the recompute they replace.
    """
    from eurostat_energy_etl_pipeline_spark import plans as _plans

    sets = _plans.pin(
        widen_if_narrow(df).select(
            F.col(id_col).alias("id"),
            F.transform(
                F.array_distinct(token_shingles(F.col(text_col), k)),
                lambda x: F.xxhash64(x),
            ).alias("s"),
        )
    )
    toks = sets.select("id", F.explode("s").alias("tk"))
    freq = toks.groupBy("tk").agg(F.count(F.lit(1)).alias("df_"))
    # Rarity order per doc: sort (df_, tk) structs row-side; prefix length
    # p = n - ceil(t*n) + 1. ceil over exact integer arithmetic (no float
    # ceil: ceil(t*n) = floor((num*n + den - 1)/den) with t = num/den on
    # the 1e-6 grid) so both engines agree for every n.
    num = int(round(threshold * 1_000_000))
    den = 1_000_000
    n_ = F.size(F.col("order"))
    p = n_ - F.floor((F.lit(num) * n_ + den - 1) / den).cast("int") + 1
    ranked = (
        toks.join(freq, "tk")
        .groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df_"), F.col("tk")))
            ).alias("order")
        )
    )
    prefix = _plans.pin(
        ranked.select(
            "id",
            F.size("order").alias("n"),
            F.explode(F.slice(F.col("order"), 1, p)).alias("o"),
        ).select("id", "n", F.col("o.tk").alias("tk"))
    )
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cands = (
        pa.join(
            pb,
            (F.col("pa.tk") == F.col("pb.tk"))
            & (F.col("pa.id") < F.col("pb.id"))
            & (
                F.least(F.col("pa.n"), F.col("pb.n")) * den
                >= F.lit(num) * F.greatest(F.col("pa.n"), F.col("pb.n"))
            ),
        )
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    jc = portable_round(jaccard(F.col("s_a"), F.col("s_b")), 6)
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jc.alias("jacc"))
        .where(F.col("jacc") >= threshold)
    )


def edit_distance_join(
    df: DataFrame,
    max_dist: int = 1,
    seg_len: int = 4,
    id_col: str = "id",
    text_col: str = "name",
) -> DataFrame:
    """EXACT edit-distance self-join (all pairs with levenshtein <= d) via
    pigeonhole segment filtering (PassJoin-family, Li et al. VLDB'11) —
    the entity-resolution counterpart of `prefix_jaccard_join`: sets use
    prefix filtering, strings use segment pigeonholes.

    Principle for d=1 with two probe keys: a single edit (substitution,
    insert, or delete) can touch the first `seg_len` characters or the
    last `seg_len` characters (aligned FROM THE END, so an indel before
    the suffix never shifts it), but not both, provided the string has
    length >= 2*seg_len + 1 — so every qualifying pair agrees exactly on
    the prefix key OR the suffix key. Candidates come from two
    equi-joins on those keys (the generalization to any d is d+1
    disjoint segments); verification is the exact levenshtein filter.

    Strings too short for the segment guarantee (len < 2*seg_len + 1)
    emit a shared '#SHORT' key instead, and strings within `max_dist` of
    that boundary (len < 2*seg_len + 1 + max_dist) emit it IN ADDITION
    to their segment keys — a cross-boundary pair always shares the
    short bucket, so the pigeonhole stays airtight at the length seam.
    Short strings are pairwise candidates within their one bucket; at
    corpus scale that bucket is bounded by how many sub-(2c+1)-char
    strings exist, and `seg_len` is the lever that moves the boundary.

    Returns (id_a, id_b, dist) with id_a < id_b, unordered (pair lists
    are corpus-grain; the compare canonicalizes order)."""
    if max_dist != 1:
        raise ValueError(
            "edit_distance_join's two-segment pigeonhole (prefix OR "
            "suffix key) is only exact for max_dist=1; d>=2 edits can "
            "touch both segments, so candidates would be silently "
            "missed. Generalizing needs d+1 disjoint segments "
            "(PassJoin, Li et al. VLDB'11), which is not implemented."
        )
    boundary = 2 * seg_len + 1
    base = widen_if_narrow(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    )
    n = F.length("t")
    seg_keys = F.when(
        n >= boundary,
        F.array(
            F.concat(F.lit("P:"), F.substring("t", 1, seg_len)),
            F.concat(F.lit("S:"), F.substring("t", -seg_len, seg_len)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    short_key = F.when(
        n < boundary + max_dist, F.array(F.lit("#SHORT"))
    ).otherwise(F.array().cast("array<string>"))
    keyed = base.select(
        "id", F.explode(F.concat(seg_keys, short_key)).alias("kq")
    )
    ka, kb = keyed.alias("ka"), keyed.alias("kb")
    cands = (
        ka.join(
            kb,
            (F.col("ka.kq") == F.col("kb.kq"))
            & (F.col("ka.id") < F.col("kb.id")),
        )
        .select(F.col("ka.id").alias("id_a"), F.col("kb.id").alias("id_b"))
        .distinct()
    )
    ta = base.select(F.col("id").alias("id_a"), F.col("t").alias("t_a"))
    tb = base.select(F.col("id").alias("id_b"), F.col("t").alias("t_b"))
    return (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("t_a", "t_b").cast("int").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )
