"""Streaming exact duplicated-span dedup: rewrite ARRIVING documents
against the accumulated gram-first-occurrence index, so a span already
seen in corpus history is removed from every later arrival while the
canonical first occurrence ships untouched (the streaming form of
`operators/curation.py::span_dedup_apply`, Lee et al. 2022 semantics).

Incremental contract: the index stores ONE row per distinct gram — its
globally-first (doc_id, start) occurrence. Per batch, the store is
pruned to the batch's gram keys with one broadcast semi-join (the
`dedup_stream` discipline: per-batch state touched is O(batch ∩
index), not history), the batch's occurrences are judged against the
min-merged first (history beats batch; within the batch the min
(doc_id, start) wins), rewritten docs are appended, and only
NEW grams' firsts are admitted into the store.

Parity: when batches arrive in ascending doc_id ranges (the natural
ingest order — and how `streaming_span_dedup` replays), a gram's
global first occurrence is in the earliest batch that contains the
gram, so every rewrite decision is final when made and the streamed
output equals the batch operator on the full corpus EXACTLY (pinned by
tests/test_span_stream.py against cur_span_dedup's static SQL oracle).
Out-of-order arrival yields the honest online semantics: the earliest-
SEEN occurrence is canonical, never retracted.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.fs import parquet_state_exists
from .landing import range_parts, replay


def _positioned_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, start, gram) — same construction as span_dedup_apply."""
    return (
        docs.withColumn("__ws", F.split("text", " "))
        .filter(F.size("__ws") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(__ws) - {n}), i -> "
                    f"struct(i AS start, concat_ws(' ', slice(__ws, i + 1, {n})) AS gram))"
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))
    )


def _rebuild(docs: DataFrame, dead_pos: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_kept, n_removed) — same rebuild fold as
    span_dedup_apply (anti-join on (doc, pos), per-doc sorted fold)."""
    ws = docs.select("doc_id", F.split("text", " ").alias("__ws"))
    wp = ws.select("doc_id", F.posexplode("__ws").alias("pos", "word"))
    rebuilt = (
        wp.join(dead_pos, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list(struct(pos, word))),"
                " s -> s.word))"
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        ws.select("doc_id", F.size("__ws").cast("bigint").alias("__n_words"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("__n_words") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def process_span_batch(
    batch_docs: DataFrame, gram_dir: str, out_dir: str, n: int = 8
) -> None:
    """One micro-batch: judge the batch's gram occurrences against
    (history ∪ batch) firsts, rewrite, append, admit new grams."""
    spark = batch_docs.sparkSession
    # (a fan_out of the micro-batch was measured here and REVERTED —
    # r17: unlike the minhash twin's md5-heavy signature stage, span
    # work is groupBy-dominated and already parallel past the explode;
    # the extra per-trigger text exchange cost more than the single
    # scan split saved: 6.7 → 8.7 s at sf0.1)
    docs = batch_docs.select("doc_id", "text").localCheckpoint(eager=True)
    grams_new = _positioned_grams(docs, n).localCheckpoint(eager=True)
    batch_first = grams_new.groupBy("gram").agg(
        F.min(F.struct("doc_id", "start")).alias("bf")
    )

    # Hadoop-FS probe, not os.path (functions/fs.py — see dedup_stream)
    have_index = parquet_state_exists(spark, gram_dir)
    if have_index:
        # prune the store to the batch's gram keys FIRST — per-batch
        # state read is O(batch ∩ index) regardless of history size
        old_rel = (
            spark.read.parquet(gram_dir)
            .join(
                F.broadcast(batch_first.select("gram").distinct()),
                "gram",
                "left_semi",
            )
            .select("gram", F.struct("doc_id", "start").alias("of"))
        )
        comb = batch_first.join(old_rel, "gram", "left").select(
            "gram",
            F.when(F.col("of").isNotNull() & (F.col("of") < F.col("bf")), F.col("of"))
            .otherwise(F.col("bf"))
            .alias("first"),
        )
        new_firsts = batch_first.join(old_rel.select("gram"), "gram", "left_anti")
    else:
        comb = batch_first.select("gram", F.col("bf").alias("first"))
        new_firsts = batch_first

    dead_pos = (
        grams_new.join(comb, "gram")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("start") != F.col("first.start"))
        )
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(start, start + {n - 1})")).alias("pos"),
        )
        .distinct()
    )
    _rebuild(docs, dead_pos).write.mode("append").parquet(out_dir)
    new_firsts.select(
        "gram", F.col("bf.doc_id").alias("doc_id"), F.col("bf.start").alias("start")
    ).write.mode("append").parquet(gram_dir)


def streaming_span_dedup(
    spark: SparkSession, sf_dir: str, n_batches: int = 2, n: int = 8
) -> DataFrame:
    """Replay the documents table as an availableNow file stream in
    `n_batches` ASCENDING doc_id ranges (one micro-batch per file) and
    return every doc's (doc_id, clean_text, n_kept, n_removed).

    Range (not modulo) batching is load-bearing: ascending ranges make
    every first-occurrence decision final when made, so the streamed
    result equals `span_dedup_apply` over the full corpus exactly."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def handle(batch_df: DataFrame, batch_id: int, tmp: str) -> None:
        process_span_batch(
            batch_df, os.path.join(tmp, "grams"), os.path.join(tmp, "out"), n
        )

    return replay(
        range_parts(docs, "doc_id", n_batches),
        handle,
        lambda tmp: spark.read.parquet(os.path.join(tmp, "out")),
    )


def st_spandedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 candidate: the streaming span-dedup path graded hash-exact
    against cur_span_dedup's static SQL oracle — ascending-range
    replay makes stream == batch exact, so the driver would grade the
    real foreachBatch execution path against static DuckDB SQL."""
    return streaming_span_dedup(spark, sf_dir, n_batches=2)


def st_spandedup_stream_oracle() -> str:
    from ..operators.curation import cur_span_dedup_oracle

    return cur_span_dedup_oracle()


# Registered r11: the prepared-candidate plan in registry.py, executed.
from ..registry import query as _query  # noqa: E402  (module tail)

_query("st_spandedup_stream", oracle=st_spandedup_stream_oracle())(
    st_spandedup_stream
)
