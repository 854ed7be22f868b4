"""Similarity search over embedding columns (array<float>).

Two tiers, per the standard ANN playbook:
- `cosine_topk`: exact brute force — broadcast the query vector, one scan,
  TakeOrderedAndProject. The correctness baseline and the right answer
  whenever the corpus side fits a scan budget.
- `lsh_topk` / `hyperplane_buckets`: random-hyperplane LSH (signed projection
  signature). Buckets are computed scan-side from a seed-deterministic
  hyperplane matrix broadcast as a literal; search probes the query's bucket
  (plus hamming-1 neighbors), then exactly reranks the candidates. At 100 TB
  the bucketed table is written partitioned by `bucket`, so a query touches
  only its probe partitions (partition pruning), ~1/2^bits of the corpus.

An IVF variant (k-means coarse quantizer) would slot in identically —
replace bucket assignment with nearest-centroid; LSH is chosen here because
it is deterministic with no training step.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.functions.parallelism import widen_if_narrow
from eurostat_energy_etl_pipeline_spark.plans import pin, scope, staged


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate — sequential fold, deterministic
    order, all inside codegen."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector: one scan, no
    shuffle, ordered-limit (TakeOrderedAndProject)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def dot_topk_by_id(
    df: DataFrame,
    query_id: int = 0,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Q22 shape: dot-product top-k against the corpus row with the given
    id — 1-row side broadcast, then exact scan."""
    q = df.where(F.col(id_col) == query_id).select(F.col(vec_col).alias("qv"))
    return (
        df.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(dot(F.col(vec_col), F.col("qv")), 4).alias("dot"),
        )
        .orderBy(F.desc("dot"), id_col)
        .limit(k)
    )


def hyperplanes(dim: int, bits: int = 8, seed: int = 42) -> np.ndarray:
    """Seed-deterministic random hyperplane matrix (bits x dim)."""
    return np.random.RandomState(seed).standard_normal((bits, dim))


def bucket_of(vec_col: Column, planes: np.ndarray) -> Column:
    """Signed-projection LSH bucket id (int): bit b = 1 iff <v, h_b> >= 0.
    The plane matrix is inlined as literals — tiny, constant-folded, no
    Python in the executor path."""
    v = _as_double(vec_col)
    bits = []
    for b, row in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(x)) for x in row]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << b)).otherwise(F.lit(0)))
    out = bits[0]
    for c in bits[1:]:
        out = out + c
    return out.cast("int")


# Inferred-dim memo per (session, input plan, column): the LIMIT-1 probe is
# cheap but it IS a job; don't re-run it for every bucket/top-k call on the
# same corpus.
_DIM_CACHE: dict[tuple, int] = {}


def embedding_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Embedding width, read from one row (a LIMIT-1 scan, not a full pass).
    Raises on an empty corpus rather than guessing."""
    try:
        key = (df.sparkSession.sparkContext.applicationId, df.semanticHash(), vec_col)
    except Exception:
        key = None
    if key is not None and key in _DIM_CACHE:
        return _DIM_CACHE[key]
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer embedding dim from column {vec_col!r}")
    if key is not None:
        _DIM_CACHE[key] = int(row["d"])
    return int(row["d"])


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Attach the LSH bucket column. `dim` is inferred from the data when
    not given; when given it is validated — a mismatched plane width would
    otherwise zip_with-pad with nulls and silently zero the affected bits,
    producing wrong buckets with no error."""
    if dim is None:
        dim = embedding_dim(df, vec_col)
    else:
        actual = embedding_dim(df, vec_col)
        if actual != dim:
            raise ValueError(
                f"embedding dim mismatch: column {vec_col!r} has {actual}, "
                f"hyperplanes configured for {dim}"
            )
    return df.withColumn("bucket", bucket_of(F.col(vec_col), hyperplanes(dim, bits, seed)))


def _query_bucket(query_vec: list[float], planes: np.ndarray) -> int:
    qb = 0
    for b, row in enumerate(planes):
        if float(np.dot(row, np.asarray(query_vec, dtype=float))) >= 0:
            qb |= 1 << b
    return qb


def _probe_set(qb: int, bits: int, radius: int) -> list[int]:
    """All buckets within hamming distance `radius` of the query bucket —
    driver-side, O(bits^radius) ints, becomes an IN-list literal."""
    probes = {qb}
    frontier = {qb}
    for _ in range(radius):
        frontier = {p ^ (1 << b) for p in frontier for b in range(bits)}
        probes |= frontier
    return sorted(probes)


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    seed: int = 42,
    probe_radius: int = 2,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: probe every bucket within hamming distance
    `probe_radius` of the query's bucket, in each of `num_tables`
    independent hash tables; exact-rerank the candidate union.

    Recall levers (standard LSH playbook): raise `probe_radius` (more
    buckets per table, one scan) or `num_tables` (independent planes,
    OR-of-IN-lists predicate). Candidate fraction per table is
    ~ sum_{d<=r} C(bits,d) / 2^bits. At rest the table is written
    partitioned by the table-0 bucket, so the first IN-list prunes
    partitions; extra tables filter within the scanned partitions."""
    actual = embedding_dim(df, vec_col)
    if actual != len(query_vec):
        raise ValueError(
            f"embedding dim mismatch: corpus {vec_col!r} has {actual}, "
            f"query vector has {len(query_vec)}"
        )
    table_conds = []
    out = df
    for t in range(num_tables):
        planes = hyperplanes(len(query_vec), bits, seed + t)
        qb = _query_bucket(query_vec, planes)
        probes = _probe_set(qb, bits, probe_radius)
        bcol = f"_bucket_{t}"
        out = out.withColumn(bcol, bucket_of(F.col(vec_col), planes))
        table_conds.append(F.col(bcol).isin(probes))
    cond = table_conds[0]
    for c in table_conds[1:]:
        cond = cond | c
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        out.where(cond)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def write_ann_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> None:
    """Materialize the LSH-bucketed corpus partitioned by bucket — the
    at-rest layout that makes probes partition-pruned scans. A query's
    hamming-radius IN-list touches ~|probes|/2^bits of the directory; the
    pruning is visible as PartitionFilters in the scan node (pinned in
    tests/test_similarity.py)."""
    (
        with_lsh_bucket(df, vec_col, bits, seed, dim)
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def ann_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    seed: int = 42,
    probe_radius: int = 2,
) -> DataFrame:
    """Top-k against a written ANN index: the bucket IN-list prunes
    partitions at planning time, then exact rerank inside the probed
    buckets."""
    planes = hyperplanes(len(query_vec), bits, seed)
    probes = _probe_set(_query_bucket(query_vec, planes), bits, probe_radius)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        spark.read.parquet(path)
        .where(F.col("bucket").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


IVF_GRID = 1_000_000  # 1e-6 component grid for the auditable trainer


def grid_int_col(vec_col: Column) -> Column:
    """Component-wise 1e-6 grid as integers (array<long>): the portable
    `floor(x * 1e6 + 0.5)` formula both engines execute identically on
    doubles, after which EVERY downstream distance/score is exact integer
    arithmetic — order-independent, bit-equal across engines by
    construction (all magnitudes stay far below 2^53)."""
    return F.transform(
        _as_double(vec_col), lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5))
    )


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    nlist: int = 16,
    id_col: str = "vec_id",
    sample_size: int = 4096,
    n_iter: int = 2,
    salt: str = "ivf",
) -> np.ndarray:
    """IVF coarse quantizer: Lloyd's k-means on a DETERMINISTIC corpus
    sample, returning the (nlist x dim) centroid matrix on the 1e-6
    INTEGER grid (int64).

    This is the standard IVF training recipe (FAISS trains its quantizer
    on ~a few hundred vectors per cell, not the corpus), restated so every
    step is exactly reproducible by a SQL engine (the q127 power-iteration
    recipe applied to k-means — VERDICT r9 item 1):

    - sample = the `sample_size` rows smallest by md5(salt + ':' + id) —
      one TakeOrderedAndProject scan, identical on any partitioning, and
      recomputable as ORDER BY md5(...) LIMIT n in any engine;
    - init = the first `nlist` sample vectors in that same md5 order
      (hash-random Forgy init — no RNG anywhere);
    - components live on the 1e-6 integer grid, so assignment scores
      (|c|^2 - 2<v,c>) and the half-up mean update
      floor((2*sum + n) / (2n)) are EXACT int64 arithmetic — a fixed
      `n_iter` Lloyd rounds with lowest-cell tie-breaks and
      keep-previous-centroid on empty cells (deterministic, no reseeding).

    Training cost is O(sample), not O(corpus), which is what makes
    retraining viable at 100 TB; a distributed KMeans over the full corpus
    (the pyspark.ml route) pays tens of scheduler jobs to average numbers
    a sample already pins down. The fixed small iteration count is also
    standard (coarse quantizers need rough Voronoi cells, not converged
    ones) and is what lets a DuckDB oracle unroll training as a CTE
    ladder (plans/northstar._ivf_oracle_sql)."""
    sid = F.col(id_col).cast("string")
    rows = (
        df.select(F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.concat(F.lit(salt + ":"), sid)), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    xf = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(xf) < nlist:
        raise ValueError(f"corpus smaller than nlist ({len(xf)} < {nlist})")
    x = np.floor(xf * 1e6 + 0.5).astype(np.int64)
    cents = x[:nlist].copy()
    for _ in range(n_iter):
        # score = |c|^2 - 2<v,c> (the |v|^2 term cancels in the argmin);
        # argmin's first-occurrence rule IS the lowest-cell tiebreak.
        cc = (cents * cents).sum(axis=1)
        assign = (cc[None, :] - 2 * (x @ cents.T)).argmin(axis=1)
        for c in range(nlist):
            members = x[assign == c]
            if len(members):
                s = members.sum(axis=0)
                n = len(members)
                # round-half-up mean on the grid: floor((2s + n) / 2n),
                # floor-division toward -inf exactly like SQL floor()
                cents[c] = np.floor_divide(2 * s + n, 2 * n)
            # empty cell: keep the previous centroid (deterministic)
    return cents


def ivf_cell_of(vec_col: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid cell id as a column expression (codegen, no
    Python): argmin ||v-c||^2 via the exact integer score
    |c|^2 - 2<v_grid, c> over the 1e-6-gridded components. `centroids`
    is the int64 grid matrix from :func:`train_ivf_centroids`, inlined
    as literals like the LSH planes; `array_position(arr, array_min)`
    returns the FIRST minimum = the lowest-cell tiebreak, matching both
    the trainer's argmin and the oracle's row_number ordering. All
    arithmetic is int64-exact, so cell assignment is bit-identical in
    any engine."""
    vi = grid_int_col(vec_col)
    scores = []
    for c in centroids:
        dot_c = F.aggregate(
            F.zip_with(
                vi,
                F.array(*[F.lit(int(x)) for x in c]),
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scores.append(F.lit(int(np.dot(c, c))) - F.lit(2) * dot_c)
    arr = F.array(*scores)
    return (F.array_position(arr, F.array_min(arr)) - 1).cast("int")


def ivf_probe_cells(
    query_vec: list[float], centroids: np.ndarray, nprobe: int
) -> list[int]:
    """The `nprobe` cells nearest the query under the same exact integer
    score the trainer and `ivf_cell_of` use, lowest-cell tiebreak."""
    qi = np.floor(np.asarray(query_vec, dtype=np.float64) * 1e6 + 0.5).astype(
        np.int64
    )
    scores = (centroids * centroids).sum(axis=1) - 2 * (centroids @ qi)
    order = np.lexsort((np.arange(len(centroids)), scores))
    return [int(i) for i in order[:nprobe]]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: scan only the `nprobe` cells whose centroids
    are nearest the query, exact-rerank inside them. At rest the corpus is
    written partitioned by cell, so the IN-list predicate prunes partitions
    — reading ~nprobe/nlist of the data. Data-adapted cells beat LSH's
    data-oblivious buckets on clustered corpora; LSH needs no training.
    Both share the exact-rerank tail."""
    probes = ivf_probe_cells(query_vec, centroids, nprobe)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.withColumn("_cell", ivf_cell_of(F.col(vec_col), centroids))
        .where(F.col("_cell").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qcol), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: only pairs
    sharing a bucket are compared exactly (plus nothing else — by design a
    recall/cost tradeoff; raise `bits` for precision, add multiprobe bands
    for recall)."""
    bucketed = with_lsh_bucket(df, vec_col, bits, seed).select(
        "bucket", F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    a = bucketed.select(
        "bucket", F.col("id").alias("id_a"), F.col("v").alias("v_a")
    )
    b = bucketed.select(
        "bucket", F.col("id").alias("id_b"), F.col("v").alias("v_b")
    )
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cos"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("cos") >= threshold)
        .orderBy("id_a", "id_b")
    )


def label_cohesion(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label embedding-cluster statistics: member count, mean L2 norm,
    and mean cosine of each member to its label centroid — the
    cluster-quality / outlier-rate readout of an embedding-partitioned
    corpus (IVF cell balance, label purity audits).

    Shape at scale: everything runs in exploded (label, dim) space — one
    shuffle keyed by (label, pos) to average the centroid (cardinality =
    |labels| x dim, tiny), broadcast the centroids back, then one shuffle
    keyed by id for the per-vector dot/norm partial aggregation and a final
    per-label rollup. The vectors themselves are never shuffled whole; only
    (id, label, pos, val) tuples move, so skewed labels spread across
    partitions instead of hot-keying one reducer.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("_rid"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "val"),
    )
    centroids = exploded.groupBy("label", "pos").agg(F.avg("val").alias("c"))
    per_vec = (
        exploded.join(F.broadcast(centroids), ["label", "pos"])
        .groupBy("label", "_rid")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dot_c"),
            F.sum(F.col("val") * F.col("val")).alias("n2"),
            F.sum(F.col("c") * F.col("c")).alias("c2"),
        )
    )
    cos = F.when(
        (F.col("n2") > 0) & (F.col("c2") > 0),
        F.col("dot_c") / (F.sqrt("n2") * F.sqrt("c2")),
    ).otherwise(F.lit(0.0))
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.sqrt("n2")).alias("avg_norm"),
            F.avg(cos).alias("avg_cos_centroid"),
        )
    )


def write_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nlist: int = 16,
    quantize: bool = False,
    centroids: np.ndarray | None = None,
    num_id_buckets: int = 16,
) -> np.ndarray:
    """Materialize the IVF index at rest: corpus rows written
    `partitionBy(cell)` (probes become partition-pruned scans, exactly
    like the LSH index) plus the trained centroid matrix stored alongside
    as a tiny parquet (`{path}_centroids`) so ANY later session can probe
    without retraining or recomputing cells. Returns the centroids.

    With `quantize=True` the stored vectors are symmetric int8
    (`operators/quantize.py`: array<tinyint> `qvec` + per-vector `scale`
    instead of the float array) — the FAISS IVF+SQ8 layout. The cells and
    centroids are still computed from the full-precision vectors, so
    quantization affects only the in-cell rerank; probes dequantize
    inline (`ivf_index_topk` detects the layout from the schema). At
    1024-dim float32 this is the difference between a 4 KB and a 1 KB
    row — 4x more corpus per probe-partition byte.

    Pass `centroids` to reuse an already-trained quantizer (e.g. when
    writing a float and an SQ8 layout of the same corpus — training is
    deterministic, so retraining would reproduce them anyway; skipping it
    saves the sample scan + Lloyd's pass)."""
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(df, vec_col, nlist, id_col=id_col)
    )
    assigned = df.withColumn("cell", ivf_cell_of(F.col(vec_col), cents))
    if quantize:
        from eurostat_energy_etl_pipeline_spark.operators.quantize import _max_abs

        emax = _max_abs(F.col(vec_col))
        scale = F.when(emax > 0, F.lit(127.0) / emax)
        # Inline expressions, not a quantize+join: the cell assignment and
        # the int8 encoding stay one narrow projection over the same scan.
        assigned = assigned.select(
            F.col(id_col),
            F.col("cell"),
            scale.alias("scale"),
            F.when(
                emax > 0,
                F.transform(
                    F.col(vec_col),
                    lambda x: F.round(
                        x.cast("double") * F.lit(127.0) / emax
                    ).cast("tinyint"),
                ),
            ).alias("qvec"),
        )
    (
        assigned.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    spark = df.sparkSession
    rows = pd.DataFrame(
        {
            "cell": range(len(cents)),
            # int64 grid values — the trainer's exact representation, so a
            # cold session (or a SQL oracle) probes with identical integer
            # arithmetic
            "centroid": [[int(x) for x in c] for c in cents],
        }
    )
    # pandas -> LocalTableScan (no python-RDD partitions; the q93 lesson)
    spark.createDataFrame(rows, "cell int, centroid array<long>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}_centroids")
    # id -> cell sidecar, partitioned by an id-hash bucket (the FAISS
    # IDMap role): maintenance (`merge_into_ivf_index`) prunes it by
    # pmod(id) to find which CELLS contain the ids of a merge batch —
    # without it a delete/update would need a corpus-wide scan to locate
    # its victim's partition. Same bucketing contract as the q63 MinHash
    # index.
    # derived by reading the written index back (a column-pruned scan of
    # id + the cell partition value — no recompute of the assignment)
    (
        spark.read.parquet(path)
        .select(
            F.col(id_col).alias("id"),
            F.col("cell").cast("int").alias("cell"),
            F.pmod(F.col(id_col), F.lit(num_id_buckets))
            .cast("int")
            .alias("idb"),
        )
        .repartition("idb")
        .write.mode("overwrite")
        .partitionBy("idb")
        .parquet(f"{path}_ids")
    )
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        _write_index_meta,
    )

    _write_index_meta(
        path,
        {
            "nlist": int(nlist),
            "num_id_buckets": int(num_id_buckets),
            "quantize": bool(quantize),
            "id_col": id_col,
            "vec_col": vec_col,
        },
        spark=spark,
    )
    return cents


def ivf_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k against a written IVF index from a cold session: load the
    stored centroid matrix (nlist rows — a driver-side read of metadata
    scale), pick the `nprobe` nearest cells, and scan only those
    partitions with an exact cosine rerank inside. The cell IN-list is a
    planning-time partition filter; ~nprobe/nlist of the corpus is read."""
    cent_rows = (
        spark.read.parquet(f"{path}_centroids").orderBy("cell").collect()
    )
    cents = np.array([r.centroid for r in cent_rows], dtype=np.int64)
    probes = ivf_probe_cells(query_vec, cents, nprobe)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scan = spark.read.parquet(path).where(F.col("cell").isin(probes))
    if "qvec" in scan.columns:
        # Int8 layout (write_ivf_index(quantize=True)): dequantize inline
        # in the rerank expression — still whole-stage codegen, and the
        # scan reads 1/4 the vector bytes. NULL qvec = unrepresentable
        # all-zero vector; its cosine is 0 by the cosine() guard anyway,
        # so it can never enter a top-k over positive scores.
        vec = F.transform(F.col("qvec"), lambda v: v.cast("double") / F.col("scale"))
        scan = scan.where(F.col("qvec").isNotNull())
    else:
        vec = F.col(vec_col)
    return (
        scan.select(
            F.col(id_col),
            F.round(cosine(vec, qcol), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def merge_into_ivf_index(
    spark,
    path: str,
    upserts: DataFrame | None = None,
    tombstone_ids=None,
    recenter_threshold: int | None = None,
) -> dict:
    """Incrementally maintain an at-rest IVF index written by
    :func:`write_ivf_index` — the vector-side twin of
    `dedup.merge_into_minhash_index` (VERDICT r10 item 5). MERGE
    semantics on id: upserts replace any existing entry, tombstoned ids
    are removed, tombstones win over upserts inside one batch. The coarse
    quantizer is NOT retrained (the FAISS maintenance reality: new
    vectors are assigned to the EXISTING cells), so a maintained index is
    bit-identical to a scratch rebuild of the effective corpus with the
    same centroids — the differential the tests pin.

    Scale shape:
      1. the batch's ids prune the `{path}_ids` sidecar by pmod(id) to
         find which CELLS currently hold them (O(affected id-buckets)
         read, never a corpus scan);
      2. touched cells = those old cells ∪ the new assignments' cells;
         only those partitions of the index are read, anti-joined against
         the batch ids, unioned with the freshly-assigned upserts, and
         written back with dynamic partition overwrite (emptied cell
         dirs deleted explicitly, the object-store contract);
      3. the sidecar's affected id-buckets are rewritten the same way.

    `recenter_threshold` (optional, int — squared L2 distance on the 1e-6
    integer grid): after the rewrite, each touched cell's post-merge mean
    is recomputed with the trainer's exact half-up Lloyd update
    floor((2s+n)/2n); a centroid whose mean drifted past the threshold is
    moved there and `{path}_centroids` rewritten (nlist rows — metadata
    scale). Re-centering moves PROBE targets only; existing assignments
    keep their cells (the standard IVF maintenance tradeoff — drift is
    corrected where queries see it, without an O(corpus) reassignment).

    Float layout only: an SQ8 index's per-vector scale makes an upsert's
    encoding depend on data this function must not re-derive — rebuild
    quantized indexes from the maintained float one."""
    from eurostat_energy_etl_pipeline_spark.operators.dedup import (
        _delete_absent_partitions,
        read_index_meta,
    )

    meta = read_index_meta(path, spark)
    if meta.get("quantize"):
        raise ValueError(
            "merge_into_ivf_index maintains the float layout; rebuild the "
            "SQ8 index from the maintained float index instead"
        )
    id_col = meta["id_col"]
    vec_col = meta["vec_col"]
    nb = meta["num_id_buckets"]
    cent_rows = (
        spark.read.parquet(f"{path}_centroids").orderBy("cell").collect()
    )
    cents = np.array([r.centroid for r in cent_rows], dtype=np.int64)

    if tombstone_ids is None:
        tomb = spark.createDataFrame([], "id long")
    elif isinstance(tombstone_ids, DataFrame):
        tomb = tombstone_ids.select(
            F.col(tombstone_ids.columns[0]).alias("id")
        )
    else:
        tomb = spark.createDataFrame(
            pd.DataFrame({"id": list(tombstone_ids)}).astype({"id": "int64"})
        )
    ups_ids = (
        upserts.select(F.col(id_col).alias("id"))
        if upserts is not None
        else tomb.limit(0)
    )
    with scope():
        affected = pin(ups_ids.unionByName(tomb).distinct())
        idbs = sorted(
            r["b"]
            for r in affected.select(
                F.pmod(F.col("id"), F.lit(nb)).cast("int").alias("b")
            )
            .distinct()
            .collect()
        )
        # cells currently holding affected ids: partition-pruned sidecar read
        old_cells = {
            r["cell"]
            for r in spark.read.parquet(f"{path}_ids")
            .where(F.col("idb").isin(idbs))
            .join(F.broadcast(affected), "id", "left_semi")
            .select("cell")
            .distinct()
            .collect()
        }

        eff_ups = None
        if upserts is not None:
            eff_ups = pin(
                upserts.join(
                    F.broadcast(tomb), upserts[id_col] == tomb["id"], "left_anti"
                ).select(
                    F.col(id_col),
                    F.col(vec_col),
                    ivf_cell_of(F.col(vec_col), cents).alias("cell"),
                )
            )
            new_cells = {
                r["cell"]
                for r in eff_ups.select("cell").distinct().collect()
            }
        else:
            new_cells = set()
        touched = sorted(old_cells | new_cells)
        audit = {
            "n_tombstones": tomb.count(),
            "n_upserts": eff_ups.count() if eff_ups is not None else 0,
            "cells_touched": len(touched),
            "recentered": [],
        }

        # rewrite the touched index partitions
        old = (
            spark.read.parquet(path)
            .where(F.col("cell").isin(touched))
            .select(id_col, vec_col, "cell")
            .join(
                F.broadcast(affected),
                F.col(id_col) == F.col("id"),
                "left_anti",
            )
        )
        out = old if eff_ups is None else old.unionByName(eff_ups)
        with staged(out) as out:
            if recenter_threshold is not None and touched:
                # post-merge per-cell mean on the integer grid — the
                # trainer's exact floor((2s+n)/2n) Lloyd update, computed from
                # O(nlist*dim) aggregated rows, never per-vector driver data
                stats = (
                    out.select(
                        "cell",
                        F.posexplode(grid_int_col(F.col(vec_col))).alias(
                            "pos", "g"
                        ),
                    )
                    .groupBy("cell", "pos")
                    .agg(F.sum("g").alias("s"), F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                dim = cents.shape[1]
                sums = {}
                for r in stats:
                    sums.setdefault(
                        r["cell"], np.zeros((dim, 2), dtype=np.int64)
                    )[r["pos"]] = (r["s"], r["n"])
                moved = False
                for cell, sn in sums.items():
                    n = int(sn[0, 1])
                    if n == 0:
                        continue
                    mean = np.floor_divide(2 * sn[:, 0] + n, 2 * n)
                    drift = int(((mean - cents[cell]) ** 2).sum())
                    if drift > recenter_threshold:
                        cents[cell] = mean
                        audit["recentered"].append(int(cell))
                        moved = True
                if moved:
                    rows = pd.DataFrame(
                        {
                            "cell": range(len(cents)),
                            "centroid": [[int(x) for x in c] for c in cents],
                        }
                    )
                    spark.createDataFrame(
                        rows, "cell int, centroid array<long>"
                    ).coalesce(1).write.mode("overwrite").parquet(
                        f"{path}_centroids"
                    )

            out.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("cell").parquet(path)
            _delete_absent_partitions(out, path, "cell", touched)
            # sidecar: rewrite the affected id-buckets from the post-merge
            # membership of the touched cells
            side_old = (
                spark.read.parquet(f"{path}_ids")
                .where(F.col("idb").isin(idbs))
                .join(F.broadcast(affected), "id", "left_anti")
            )
            side_new = out.select(
                F.col(id_col).alias("id"),
                F.col("cell").cast("int").alias("cell"),
            ).join(F.broadcast(affected), "id", "left_semi")
            with staged(
                side_old.select("id", "cell")
                .unionByName(side_new)
                .withColumn("idb", F.pmod(F.col("id"), F.lit(nb)).cast("int"))
            ) as side:
                side.write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("idb").parquet(f"{path}_ids")
                _delete_absent_partitions(side, f"{path}_ids", "idb", idbs)
    return audit


# ---------------------------------------------------------------------------
# kNN JOIN: every row of a query corpus against a neighbor corpus.
# The operator behind retrieval pairing, cross-version dedup, and
# train/eval contamination checks — distinct from the point-query topk
# above (those take ONE literal vector; this joins two tables).
# ---------------------------------------------------------------------------


def knn_join_exact(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
) -> DataFrame:
    """Exact cosine kNN join: for every left row, the k nearest right rows.

    Exact kNN is inherently all-pairs, and the scale-correct brute force
    is NOT a row-at-a-time pair stream: it is a vectorized batch kernel of
    each query batch against the broadcast neighbor matrix — exactly how sharded
    brute-force ANN runs in production (queries partition across
    executors; each Arrow batch computes `Q @ M.T` for the whole corpus
    at once). The first cut here planned a BroadcastNestedLoopJoin with
    per-pair higher-order-function cosines and measured 130x slower than
    DuckDB's vectorized cross join at sf0.1 (20.7 s vs 0.16 s): HOF
    lambdas evaluate per element per pair, so the 6.25M-pair stream paid
    ~400M interpreted closure calls for what one vectorized numpy pass does
    in milliseconds (the kernel folds dimensions left-to-right rather than
    calling dgemm, trading a small constant for bit-parity with the SQL
    oracle's sequential fold). mapInPandas keeps the whole kernel in numpy, O(batch x
    |R|) memory, zero shuffle (the only exchange is the caller's
    presentation sort).

    The neighbor corpus is collected once on the driver (same O(|R| x
    dim) footprint the broadcast build would pay — the operator's
    contract is a broadcast-able right side; corpus x corpus sizes go to
    :func:`knn_join_lsh`). Ranking is by the 1e-6-gridded cosine
    (portable IEEE floor formula, same as the DuckDB oracle) with the
    neighbor id as tiebreak; grid ties at rank k are resolved by an exact
    candidate sort, so results are deterministic and
    partitioning-invariant. Zero-norm vectors score 0, matching
    :func:`cosine`.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType
    from pyspark.sql.types import DoubleType

    # r14: the query side's per-batch matmul is the kernel's whole cost;
    # a single-row-group parquet scan would run it on ONE core (guide
    # §2.5 input skew / §6 split size). widen_if_narrow spreads it across
    # the executor at test scale and is a no-op once the scan is already
    # wide (cluster scale).
    left = widen_if_narrow(left)
    rows = right.select(F.col(right_id), F.col(vec_col)).collect()
    nids = [r[0] for r in rows]
    M = np.array([r[1] for r in rows], dtype=np.float64)
    # left-to-right fold for the norms too (np.sum is pairwise — see the
    # kernel comment below)
    n2 = np.zeros(len(M))
    for j in range(M.shape[1] if len(M) else 0):
        n2 += M[:, j] * M[:, j]
    nrm = np.sqrt(n2)
    spark = left.sparkSession
    bc = spark.sparkContext.broadcast((nids, M, nrm))

    out_schema = StructType(
        [
            StructField("qid", left.schema[left_id].dataType),
            StructField("nid", right.schema[right_id].dataType),
            StructField("cos", DoubleType()),
            StructField("rk", IntegerType()),
        ]
    )

    def run(batches):
        import pandas as pd

        nids_l, M_l, nrm_l = bc.value
        n = len(nids_l)
        kk = min(k, n)
        nid_arr = np.asarray(nids_l)
        Mt = M_l.T
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["_qv"].to_numpy()).astype(np.float64)
            # dim-at-a-time left-to-right accumulation == the sequential
            # fold DuckDB's list functions and Catalyst's F.aggregate
            # execute (verified bit-identical), so the 1e-6 grid can never
            # straddle differently across engines; dgemm's pairwise
            # summation places the last ulp elsewhere (cosine_batch_fold's
            # lesson), which a permanent hash oracle can't tolerate.
            dots = np.zeros((len(Q), len(nid_arr)))
            qn2 = np.zeros(len(Q))
            for j in range(Q.shape[1]):
                dots += Q[:, j, None] * Mt[j][None, :]
                qn2 += Q[:, j] * Q[:, j]
            denom = np.sqrt(qn2)[:, None] * nrm_l[None, :]
            cos = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
            cosr = np.floor(cos * 1e6 + 0.5) / 1e6
            qids, onids, ocos, orks = [], [], [], []
            for i, qid in enumerate(pdf["qid"].to_numpy()):
                row = cosr[i]
                # threshold at the kth largest, keep ALL grid ties, then
                # exact (cos desc, nid asc) order over that candidate set
                thr = np.partition(row, n - kk)[n - kk]
                cand = np.flatnonzero(row >= thr)
                order = cand[np.lexsort((nid_arr[cand], -row[cand]))][:kk]
                qids.extend([qid] * kk)
                onids.extend(nid_arr[order].tolist())
                ocos.extend(row[order].tolist())
                orks.extend(range(1, kk + 1))
            yield pd.DataFrame(
                {"qid": qids, "nid": onids, "cos": ocos, "rk": orks}
            )

    a = left.select(F.col(left_id).alias("qid"), F.col(vec_col).alias("_qv"))
    return a.mapInPandas(run, out_schema)


def cosine_batch(a: Column, b: Column) -> Column:
    """Arrow-vectorized rowwise cosine on the 1e-6 portable grid — the
    rerank kernel for candidate PAIR streams (post-equi-join), where the
    two vectors arrive as columns of the same row. numpy einsum does the
    whole batch's dots in one vectorized pass; the per-element HOF
    :func:`cosine` costs two interpreted closure calls per dimension per
    pair, which measured ~20x slower on multi-million-candidate reranks.
    Exact paths that hash-compare against a SQL oracle keep the HOF fold
    (deterministic summation order); candidate reranks tolerate the
    last-ulp pairwise-summation delta because scores land on the 1e-6
    grid before any ordering."""

    @F.pandas_udf("double")
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        if not len(av):
            return pd.Series([], dtype="float64")
        A = np.stack(av.to_numpy()).astype(np.float64)
        B = np.stack(bv.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", A, B)
        denom = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        cos = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
        return pd.Series(np.floor(cos * 1e6 + 0.5) / 1e6)

    return _cos(a, b)


def cosine_batch_fold(a: Column, b: Column) -> Column:
    """Arrow-vectorized rowwise cosine that is BIT-IDENTICAL to the
    Catalyst HOF fold (:func:`cosine` + ``portable_round(.., 6)``): the
    accumulation loops dimensions left-to-right exactly like
    ``F.aggregate``'s sequential fold (and DuckDB's list arithmetic),
    with the per-dimension work vectorized ACROSS the batch — so
    exact-oracle pair streams get the ~20x kernel speedup of
    :func:`cosine_batch` without giving up the deterministic summation
    order the hash compare depends on. (einsum/matmul use pairwise/dgemm
    summation whose last-ulp placement differs from a fold; a
    grid-straddling ulp would flip a 6th decimal between engines.)"""

    @F.pandas_udf("double")
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        if not len(av):
            return pd.Series([], dtype="float64")
        A = np.stack(av.to_numpy()).astype(np.float64)
        B = np.stack(bv.to_numpy()).astype(np.float64)
        dots = np.zeros(len(A))
        na = np.zeros(len(A))
        nb = np.zeros(len(A))
        for j in range(A.shape[1]):  # left-to-right fold, dim-at-a-time
            x, y = A[:, j], B[:, j]
            dots += x * y
            na += x * x
            nb += y * y
        denom = np.sqrt(na) * np.sqrt(nb)
        cos = np.divide(dots, denom, out=np.zeros_like(dots), where=denom > 0)
        return pd.Series(np.floor(cos * 1e6 + 0.5) / 1e6)

    return _cos(a, b)


def probe_buckets_col(bucket: Column, bits: int, radius: int = 1) -> Column:
    """Array of all bucket ids within hamming distance `radius` of
    `bucket`, built with bitwise column ops (1 + bits + bits*(bits-1)/2
    literals for radius 2 — constant-folded, no Python per row)."""
    probes = [bucket]
    if radius >= 1:
        probes += [bucket.bitwiseXOR(F.lit(1 << i)) for i in range(bits)]
    if radius >= 2:
        probes += [
            bucket.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(bits)
            for j in range(i + 1, bits)
        ]
    return F.array(*probes)


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    bits: int = 8,
    seed: int = 42,
    probe_radius: int = 1,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate kNN join: LSH-bucket both corpora with shared
    hyperplane matrices (one per hash table), explode each query into its
    multiprobe bucket set in every table, CO-GROUP the two sides on the
    (table, bucket) key, score each cell with one vectorized fold kernel, and
    exactly rerank the deduped per-query candidate union.

    This replaces the exact join's |L| x |R| pair stream with
    sum over probed buckets of |L_bucket| x |R_bucket|, and — the round-5
    revision — never MATERIALIZES that pair stream either: the
    pairs-as-rows equi-join shape paid Arrow transfer of two vectors per
    CANDIDATE PAIR (~1 GB at sf0.1; measured 3.3 s), where the co-group
    ships each vector once per PROBE (O(P x |L| + T x |R|) rows), does
    the cell's |L_b| x |R_b| scoring as one vectorized kernel, and emits only
    each query's per-cell top-k — a lossless truncation, since rank
    within a subset lower-bounds rank within the union, so anything
    outside every cell top-k is outside the global top-k. The dedup
    exchange then carries (qid, nid, cos) 24-byte rows, vectors never.
    Scores are computed with a dim-at-a-time left-to-right fold (not
    dgemm), so every instance of a pair is bit-identical regardless of
    which (table, probe) cell scored it AND matches the sequential fold a
    SQL engine executes — the property the q88 hash oracle stands on; the
    max(cos) dedup is then exact by construction.

    Skew contract: a co-grouped cell is one task (grouped kernels cannot
    be AQE-split), so degenerate buckets — the hyperplane analogue of
    dedup.py's ``max_bucket`` guard — are bounded by sizing ``bits`` so
    E[|R_bucket|] stays in the thousands; at rest the neighbor side is
    written bucket-partitioned (`write_ann_index`) and probes prune
    partitions. Independent tables raise recall as 1-(1-p)^T for the
    per-table hit rate p.
    """
    from pyspark.sql.window import Window

    dim = embedding_dim(right, vec_col)
    # All T hyperplane tables evaluated in ONE Arrow kernel per side (a
    # single scan + posexplode), replacing T unioned scans each paying
    # bits x dim interpreted HOF-fold closures per row (measured ~0.9 s
    # of the sf0.1 wall just building probes). The projection loops
    # dimensions left-to-right, so each bit is bit-identical to
    # `bucket_of`'s Catalyst fold.
    planes_all = np.stack(
        [hyperplanes(dim, bits, seed + t) for t in range(num_tables)]
    )  # T x bits x dim

    @F.pandas_udf("array<int>")
    def _buckets_all_tables(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        V = np.stack(v.to_numpy()).astype(np.float64)  # n x dim
        n = len(V)
        proj = np.zeros((n, num_tables, bits))
        for j in range(dim):  # left-to-right fold == the Catalyst fold
            proj += V[:, j, None, None] * planes_all[None, :, :, j]
        weights = (1 << np.arange(bits, dtype=np.int64))[None, None, :]
        out = ((proj >= 0) * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(out))

    a = left.select(
        F.col(left_id).alias("qid"),
        F.col(vec_col).alias("_qv"),
        F.posexplode(_buckets_all_tables(F.col(vec_col))).alias("tbl", "_qb"),
    ).select(
        "qid",
        "_qv",
        "tbl",
        F.explode(
            probe_buckets_col(F.col("_qb"), bits, probe_radius)
        ).alias("bucket"),
    )
    b = right.select(
        F.col(right_id).alias("nid"),
        F.col(vec_col).alias("_nv"),
        F.posexplode(_buckets_all_tables(F.col(vec_col))).alias(
            "tbl", "bucket"
        ),
    )

    def _score_cell(qdf: pd.DataFrame, ndf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"qid": [], "nid": [], "cos": []})
        if not len(qdf) or not len(ndf):
            return empty
        A = np.stack(qdf["_qv"].to_numpy()).astype(np.float64)
        B = np.stack(ndf["_nv"].to_numpy()).astype(np.float64)
        nids = ndf["nid"].to_numpy()
        order = np.argsort(nids, kind="stable")  # nid-asc tiebreak below
        B, nids = B[order], nids[order]
        # dim-at-a-time left-to-right accumulation: bit-identical to the
        # sequential fold DuckDB / Catalyst execute, so every instance of
        # a (qid, nid) pair — whichever cell scored it — lands on the
        # same 1e-6 grid value and the max() dedup is exact (dgemm's
        # shape-dependent last ulp made instances diverge pre-r10).
        dots = np.zeros((len(A), len(B)))
        na2 = np.zeros(len(A))
        nb2 = np.zeros(len(B))
        for j in range(A.shape[1]):
            dots += A[:, j, None] * B[None, :, j]
            na2 += A[:, j] * A[:, j]
            nb2 += B[:, j] * B[:, j]
        denom = np.outer(np.sqrt(na2), np.sqrt(nb2))
        cos = np.divide(
            dots, denom, out=np.zeros((len(A), len(nids))), where=denom > 0
        )
        cos = np.floor(cos * 1e6 + 0.5) / 1e6
        kk = min(k, len(nids))
        # stable argsort over -cos with nid-sorted columns = per-query
        # (cos DESC, nid ASC) — the exact rerank order.
        idx = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
        return pd.DataFrame(
            {
                "qid": np.repeat(qdf["qid"].to_numpy(), kk),
                "nid": nids[idx].ravel(),
                "cos": np.take_along_axis(cos, idx, axis=1).ravel(),
            }
        )

    # r15 (guide §2.5 / forecast_all's recipe): the co-grouped scoring
    # kernel is CPU-bound (one |L_b| x |R_b| fold-matmul per cell), but
    # the cogroup exchanges inherit the byte-sized static shuffle width
    # (4 at interactive scale), so a handful of Python workers score all
    # ~T*2^bits cells. Pre-partitioning BOTH sides on the exact cell key
    # at compute width satisfies the ClusteredDistribution requirement —
    # same exchange count, wider kernels; warehouse plans unchanged.
    from eurostat_energy_etl_pipeline_spark.functions.parallelism import (
        keyed_compute_width,
    )

    n_parts = keyed_compute_width(a)
    cand = (
        a.repartition(n_parts, "tbl", "bucket")
        .groupby("tbl", "bucket")
        .cogroup(b.repartition(n_parts, "tbl", "bucket").groupby("tbl", "bucket"))
        .applyInPandas(_score_cell, "qid long, nid long, cos double")
    )
    # Instances of the same (qid,nid) pair are bit-identical across cells
    # (fold-order kernel), so max(cos) is exactly the pair's one score —
    # still preferred over dropDuplicates, which would keep a
    # partition-order-dependent instance if the kernel ever regressed.
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "nid")
    return (
        cand.groupBy("qid", "nid")
        .agg(F.max("cos").alias("cos"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= k)
    )
