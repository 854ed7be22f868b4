"""Training-shard export: the last mile of the corpus pipeline.

After dedup / filtering / splitting (operators/{dedup,sampling,text}),
the training set leaves the warehouse as fixed-size shards with a
manifest — the layout data loaders consume (WebDataset/Mosaic-style:
deterministic shard membership, per-shard stats, content checksums).

Design for 100 TB:
- Shard membership comes from a *content-hash global order*
  (`ranking.global_row_number` over xxhash64(text) — range partition +
  per-partition offsets, never a single-partition window), so it is
  deterministic and partitioning-invariant: re-running the export on a
  differently-partitioned copy of the same corpus yields byte-identical
  shard assignments. The hash order also acts as the standard
  pre-training shuffle (documents from one source scatter uniformly
  across shards instead of arriving in ingest order).
- The write is one `partitionBy(shard_id)` pass; rows stay sorted by
  rank inside each shard so loaders see a stable in-shard order.
- The manifest is a second, O(#shards) aggregate over the ranked rows
  (count, token sum, rank span, xor-of-hashes checksum) written next to
  the shards. Checksum is order-insensitive (xor) so it can be verified
  with a shuffle-free scan of any shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eurostat_energy_etl_pipeline_spark.operators.ranking import global_row_number
from eurostat_energy_etl_pipeline_spark.operators.text import token_count
from eurostat_energy_etl_pipeline_spark.plans import pin, scope


def export_training_shards(
    df: DataFrame,
    out_dir: str,
    docs_per_shard: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Write `{out_dir}/shards` (partitionBy shard_id) and
    `{out_dir}/manifest` (one row per shard); returns the manifest.

    Shard k holds ranks [k*docs_per_shard, (k+1)*docs_per_shard) of the
    content-hash global order — every shard except the last is exactly
    `docs_per_shard` documents."""
    hashed = df.withColumn("__h", F.xxhash64(F.col(text_col)))
    # (hash, id) is a unique total order even across exact-duplicate texts.
    ranked = global_row_number(hashed, ["__h", id_col], out_col="rank")
    with scope():
        sharded = pin(
            ranked.withColumn(
                "shard_id",
                ((F.col("rank") - 1) / F.lit(docs_per_shard)).cast("long"),
            ).withColumn("n_tokens", token_count(F.col(text_col)))
        )
        (
            sharded.drop("__h")
            .repartition("shard_id")
            .sortWithinPartitions("rank")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(f"{out_dir}/shards")
        )
        manifest = (
            sharded.groupBy("shard_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.min("rank").alias("rank_lo"),
                F.max("rank").alias("rank_hi"),
                # order-insensitive content checksum: xor of doc hashes
                # (native bit_xor aggregate — streaming, no collect_list
                # buffer, map-side combinable)
                F.expr("bit_xor(__h)").alias("checksum"),
            )
            .orderBy("shard_id")
        )
        manifest.write.mode("overwrite").parquet(f"{out_dir}/manifest")
    return manifest


def verify_shards(
    spark: SparkSession, out_dir: str, text_col: str = "text"
) -> DataFrame:
    """Recompute every manifest row from the written shards and return
    rows that DISAGREE (empty result = export verified). ``text_col``
    must match the column the export hashed (the checksum is
    bit_xor(xxhash64(text_col))); `rank` and `n_tokens` are columns the
    export itself wrote, so they need no mirroring. Shuffle profile:
    one shard-keyed aggregate over the shard scan + a broadcast-sized
    join against the manifest."""
    shards = spark.read.parquet(f"{out_dir}/shards")
    manifest = spark.read.parquet(f"{out_dir}/manifest")
    recomputed = shards.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs2"),
        F.sum("n_tokens").alias("n_tokens2"),
        F.min("rank").alias("rank_lo2"),
        F.max("rank").alias("rank_hi2"),
        F.expr(f"bit_xor(xxhash64({text_col}))").alias("checksum2"),
    )
    joined = manifest.join(recomputed, "shard_id", "full_outer")
    return joined.where(
        ~(
            F.col("n_docs").eqNullSafe(F.col("n_docs2"))
            & F.col("n_tokens").eqNullSafe(F.col("n_tokens2"))
            & F.col("rank_lo").eqNullSafe(F.col("rank_lo2"))
            & F.col("rank_hi").eqNullSafe(F.col("rank_hi2"))
            & F.col("checksum").eqNullSafe(F.col("checksum2"))
        )
    )
