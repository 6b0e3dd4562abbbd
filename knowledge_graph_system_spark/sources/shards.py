"""Training-shard writer: the LAST step of a corpus pipeline — turn a
packed corpus into size-balanced, deterministically-assigned shards
with an exact manifest, which is what a training dataloader actually
consumes (shards to stripe across workers, a manifest to size epochs
and seed samplers without scanning data).

The reference has no training-sink surface; this completes the
pipeline family the way the selection/packing operators do
(`pipelines/curate.py` ends at deterministic epoch order — this is
the step after it).

Design, Spark-first:

- ASSIGNMENT is the repo's engine-portable md5 bucket
  (`sampling.hash_bucket` idiom), row-local and a pure function of
  the sequence key + salt — re-running the writer on the same corpus
  reproduces byte-identical shard membership, and the DuckDB oracle
  can restate it exactly (no xxhash64: DuckDB lacks it).
- The WRITE is ONE shuffle: repartition on (shard, file-slot) then
  partitionBy(shard, slot) — one file per non-empty (shard, slot)
  directory BY CONSTRUCTION (partitionBy separates combos even when
  the repartition hashes two of them into one task — ADVICE r16), so
  a shard holds exactly `files_per_shard` parquet files regardless of
  input partitioning (no tiny-files explosion at 100 TB, no single
  giant file either; size file slots so a file is a few hundred MB).
- The MANIFEST is a tiny groupBy(shard) aggregate written next to the
  data; it exactly accounts for every row and token the writer emitted
  (the accounting test reads the SHARD FILES back and re-derives it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import hash_bucket

_BUCKETS = 10_000  # hash_bucket's range (sampling._BUCKETS)


def shard_assign(
    df: DataFrame,
    n_shards: int,
    key: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Add a deterministic `shard` column in [0, n_shards): the md5
    bucket of (key, salt) folded onto n_shards. Row-local, engine-
    portable, reproducible."""
    if not 0 < n_shards <= _BUCKETS:
        raise ValueError(f"n_shards must be in (0, {_BUCKETS}]: {n_shards}")
    return df.withColumn(
        "shard", (hash_bucket(F.col(key), salt) % n_shards).cast("bigint")
    )


def manifest_of(sharded: DataFrame, tokens_col: str = "n_tokens") -> DataFrame:
    """(shard, n_seqs, n_tokens): the exact per-shard accounting — one
    tiny aggregate, the frame a dataloader reads instead of listing
    data files."""
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
        F.sum(tokens_col).cast("bigint").alias("n_tokens"),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key: str = "doc_id",
    tokens_col: str = "n_tokens",
    files_per_shard: int = 1,
    salt: str = "shard",
    mode: str = "overwrite",
    shard_col: str | None = None,
) -> DataFrame:
    """Write `df` as `path`/data/shard=N/slot=M/... with exactly one
    parquet file per non-empty (shard, slot) — i.e. exactly
    `files_per_shard` files per shard whenever every slot drew at
    least one row (always, in practice, once rows-per-shard >>
    files_per_shard; at most `files_per_shard` in general), plus
    `path`/manifest. Returns the manifest frame (read back from disk,
    so the caller holds what a consumer would see).

    ONE shuffle: repartition on (shard, file slot) — the file slot is
    the md5 bucket of (key, salt#file) folded onto files_per_shard, so
    file membership is as deterministic as shard membership. The write
    partitions by BOTH columns (ADVICE r16): partitionBy splits each
    task's rows into their own (shard, slot) directory, so the
    one-file-per-slot contract holds even when the repartition hashes
    two (shard, slot) combos into one task — file layout is a pure
    function of the data, never of partitioner collisions.

    `shard_col` (r17, the curate_corpus chaining): when the caller has
    ALREADY assigned shard membership — `sampling.epoch_order`'s
    (shard, pos) is the trainer-facing order — pass its column name
    and the writer materializes THAT layout instead of re-hashing;
    membership semantics stay with the assigner, the writer owns only
    files and the manifest."""
    if shard_col is None:
        sharded = shard_assign(df, n_shards, key, salt)
    else:
        if not 0 < n_shards <= _BUCKETS:
            raise ValueError(f"n_shards must be in (0, {_BUCKETS}]: {n_shards}")
        sharded = df.withColumn("shard", F.col(shard_col).cast("bigint"))
    slot = (hash_bucket(F.col(key), salt + "#file") % files_per_shard).cast(
        "bigint"
    )
    (
        sharded.withColumn("slot", slot)
        .repartition(n_shards * files_per_shard, F.col("shard"), F.col("slot"))
        .write.mode(mode)
        .partitionBy("shard", "slot")
        .parquet(f"{path}/data")
    )
    manifest_of(sharded, tokens_col).write.mode(mode).parquet(f"{path}/manifest")
    return read_manifest(df.sparkSession, path)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/manifest")
