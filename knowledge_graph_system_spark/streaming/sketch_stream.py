"""Incremental HLL maintenance over a stream: sketch state per batch.

The point of a mergeable sketch (operators/sketches.py) is that a feed
can maintain it incrementally: per micro-batch, build registers for
the BATCH only and max-merge them into a tiny persisted register
table. State is |groups| x 256 rows regardless of how much data has
flowed — the canonical "bounded state for an unbounded stream" shape,
and the batch/stream parity is EXACT (register max is associative and
commutative, so arrival order cannot change the final state; pinned by
tests/test_sketch_stream.py against the batch operator bit-for-bit).

At 100 TB-scale feeds the register table is still tiny; the only
per-batch cost is the batch scan + a groupBy over (group, bucket).
The same foreachBatch transaction pattern as streaming/dedup_stream.py
applies: state is parquet in object storage, restart-safe next to the
stream checkpoint and readable by the batch estimator at any time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.fs import parquet_state_exists
from ..operators.sketches import hll_estimate, hll_merge, hll_registers
from .landing import replay


def merge_batch_registers(
    batch_df: DataFrame,
    value: str,
    group: list[str],
    state_dir: str,
) -> None:
    """One micro-batch: batch registers max-merged into the persisted
    state (read tiny state → merge → atomic overwrite)."""
    regs_new = hll_registers(batch_df, value, group)
    spark = batch_df.sparkSession
    # Hadoop-FS probe, not os.path (functions/fs.py — see dedup_stream)
    have_state = parquet_state_exists(spark, state_dir)
    if have_state:
        old = spark.read.parquet(state_dir)
        merged = hll_merge(old, regs_new)
    else:
        merged = regs_new
    # materialize BEFORE the overwrite — the merge plan still reads the
    # state files the write is about to replace
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(state_dir)


def streaming_distinct_estimate(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 3,
) -> DataFrame:
    """Feed the documents table through an availableNow stream in
    `n_batches` micro-batches, maintaining per-source distinct-word
    HLL registers incrementally; return the final per-source
    estimates. Register state (and therefore the estimate) is
    bit-identical to the batch operator run on the whole corpus."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def handle(batch_df: DataFrame, batch_id: int, tmp: str) -> None:
        words = batch_df.select("source", F.explode(F.split("text", " ")).alias("w"))
        merge_batch_registers(words, "w", ["source"], os.path.join(tmp, "registers"))

    parts = [docs.filter(F.col("doc_id") % n_batches == i) for i in range(n_batches)]
    return replay(
        parts,
        handle,
        lambda tmp: hll_estimate(
            spark.read.parquet(os.path.join(tmp, "registers")), ["source"]
        ),
    )


def merge_batch_cms(
    batch_df: DataFrame,
    value: str,
    group: list[str],
    state_dir: str,
) -> None:
    """Count-min twin of merge_batch_registers: per batch, sketch the
    BATCH and sum-merge into the persisted state — counts ADD across
    shards/batches, so the final sketch is bit-identical to one built
    over the whole corpus regardless of batching (pinned by test)."""
    from ..operators.cms import cms_merge, cms_sketch

    sk_new = cms_sketch(batch_df, value, group)
    spark = batch_df.sparkSession
    # Hadoop-FS probe, not os.path (functions/fs.py — see dedup_stream)
    have_state = parquet_state_exists(spark, state_dir)
    merged = cms_merge(spark.read.parquet(state_dir), sk_new) if have_state else sk_new
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(state_dir)


# ---------------------------------------------------------------------------
# Prepared r9 registry candidate (prepared-plan discipline; r9 plan in
# registry.py), registered r9 at the module tail below.
# ---------------------------------------------------------------------------


def st_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 candidate: the streaming sketch-maintenance path as a driver
    row — documents fed through an availableNow file stream in 3
    micro-batches, per-source distinct-word registers max-merged per
    batch, final estimates returned. Register max-merge is associative
    and commutative, so the streamed state is bit-identical to the
    batch operator (pinned in tests/test_sketch_stream.py), whose
    exact SQL twin is the oracle — the driver therefore grades the
    STREAMING path hash-exact against static DuckDB SQL."""
    return streaming_distinct_estimate(spark, sf_dir, n_batches=3)


def st_hll_stream_oracle() -> str:
    from ..operators.sketches import hll_distinct_sql

    return hll_distinct_sql(
        "(SELECT source, u.w AS w FROM (SELECT source, string_split(text, ' ') AS ws "
        "FROM documents) d, unnest(ws) AS u(w))",
        "w",
        ["source"],
    )


def streaming_cms_estimate(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 3,
) -> DataFrame:
    """Count-min twin of `streaming_distinct_estimate`: the documents
    word feed in `n_batches` micro-batches, per-batch sketches
    sum-merged into persisted counter state; returns the top-20 exact
    corpus words (computed batch-side — the deterministic probe set)
    beside the STREAMED sketch's estimates. Counter sum-merge is
    associative and commutative, so the streamed state is bit-identical
    to one whole-corpus build."""
    from ..operators.cms import cms_estimate

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def handle(batch_df: DataFrame, batch_id: int, tmp: str) -> None:
        words = batch_df.select(F.explode(F.split("text", " ")).alias("w"))
        merge_batch_cms(words, "w", None, os.path.join(tmp, "counters"))

    def result(tmp: str) -> DataFrame:
        words = docs.select(F.explode(F.split("text", " ")).alias("w"))
        top = (
            words.groupBy("w")
            .agg(F.count("*").alias("exact_count"))
            .orderBy(F.col("exact_count").desc(), F.col("w"))
            .limit(20)
        )
        sketch = spark.read.parquet(os.path.join(tmp, "counters"))
        est = cms_estimate(sketch, top.select(F.col("w").alias("item")), "item")
        return top.join(est, top["w"] == est["item"]).select(
            "w", "exact_count", "est_count"
        )

    parts = [docs.filter(F.col("doc_id") % n_batches == i) for i in range(n_batches)]
    return replay(parts, handle, result)


def st_cms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 candidate: the streaming count-min maintenance path as a
    driver row — same output contract as the registered t_cms_words
    (top-20 exact + estimates), so its exact all-integer SQL twin IS
    the oracle, and the driver grades the STREAMING path hash-exact."""
    return streaming_cms_estimate(spark, sf_dir, n_batches=3)


def st_cms_stream_oracle() -> str:
    from ..operators.cms import t_cms_words_oracle

    return t_cms_words_oracle()


# Registered r9: the prepared-candidate plan in registry.py, executed.
from ..registry import query as _query  # noqa: E402  (module tail)

_query("st_hll_stream", oracle=st_hll_stream_oracle())(st_hll_stream)
_query("st_cms_stream", oracle=st_cms_stream_oracle())(st_cms_stream)
