"""Streaming decontamination: flag ARRIVING training documents that
share word n-grams with a static evaluation set — the streaming form
of `operators/curation.py::contamination_check`, and the deployment
shape a continuously-ingesting corpus actually runs (every new crawl
batch is checked against the frozen eval suite before admission).

Stream-static join contract: the eval n-gram index is computed ONCE
(eval sets are thousands of prompts — broadcast-sized by construction,
the same bound the batch operator documents) and every micro-batch
joins against it statelessly. Because a document's contamination
verdict depends only on that document and the static eval set, the
streamed union over ANY batch partitioning equals the batch operator
on the full corpus EXACTLY — no ordering precondition at all, unlike
the span-dedup stream whose parity needs ascending replay. That makes
this the strongest stream==batch parity in the family: the oracle is
`cur_contamination`'s registered static SQL, verbatim.

Per-batch cost: explode the batch's n-grams (|batch_words| rows),
one broadcast join, one per-doc aggregation — O(batch), no state
store, no shuffle of history. At 100 TB/day of arrivals the plan is
unchanged; only executor count scales.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import word_ngrams
from ..registry import query
from .landing import range_parts, replay


def process_contamination_batch(
    batch_docs: DataFrame,
    ev_grams: DataFrame,
    out_dir: str,
    n: int = 8,
    min_hits: int = 1,
    n_ev: int | None = None,
) -> None:
    """One micro-batch: the batch's exploded n-grams against the static
    eval-gram frame — the same guarded-broadcast-join + per-doc
    aggregation shape as `contamination_check`, restated here against
    the pre-built eval side (the batch operator derives its own). The
    eval side broadcasts only while counted under the shared
    EVAL_GRAM_BROADCAST_MAX bound (pass `n_ev` from the harness so the
    count is paid once per RUN, not per batch). Appended to the
    output log."""
    from ..functions.scale import fan_out, maybe_broadcast
    from ..operators.curation import EVAL_GRAM_BROADCAST_MAX

    # fan_out (r17, the dedup-stream lesson): the single-file micro-batch
    # otherwise explodes its n-grams on one scan split
    tr = fan_out(batch_docs).select(
        "doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("gram")
    )
    flagged = (
        tr.join(maybe_broadcast(ev_grams, EVAL_GRAM_BROADCAST_MAX, n_ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_eval_ngrams"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
        )
        .filter(F.col("n_eval_ngrams") >= min_hits)
    )
    flagged.write.mode("append").parquet(out_dir)


def streaming_contamination(
    spark: SparkSession, sf_dir: str, n_batches: int = 3, n: int = 8
) -> DataFrame:
    """Replay the training split (doc_id % 25 != 0, matching
    cur_contamination) as an availableNow file stream in `n_batches`
    ascending doc_id ranges; the eval split (doc_id % 25 == 0) is the
    static side. Returns the accumulated per-contaminated-doc counts —
    equal to the batch operator over the full corpus exactly.

    The landing, checkpoint and output dirs live in `replay`'s
    driver-local working dir; a real deployment points the stream at
    an object-store landing zone and checkpoint (the ann_ivf_lifecycle
    note). The state probe side is stateless
    here (eval grams are a static broadcast-side frame), so no
    Hadoop-FS probe is needed."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    tr = docs.filter(F.col("doc_id") % 25 != 0)

    # static eval-gram index, built once for the whole run (the
    # stream-static discipline); localCheckpoint so every micro-batch
    # reuses the materialization instead of re-deriving it
    ev_grams = (
        ev.select(
            F.col("doc_id").alias("eval_id"),
            F.explode(word_ngrams(F.col("text"), n)).alias("gram"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    n_ev = ev_grams.count()  # guard count paid once per run

    def handle(batch_df: DataFrame, batch_id: int, tmp: str) -> None:
        process_contamination_batch(
            batch_df, ev_grams, os.path.join(tmp, "out"), n, n_ev=n_ev
        )

    return replay(
        range_parts(tr, "doc_id", n_batches),
        handle,
        lambda tmp: spark.read.parquet(os.path.join(tmp, "out")),
    )


def st_contamination_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 candidate: the streaming decontamination path graded
    hash-exact against cur_contamination's registered static oracle —
    the real foreachBatch/availableNow execution path, order-free
    stream==batch parity."""
    return streaming_contamination(spark, sf_dir, n_batches=3)


def st_contamination_stream_oracle() -> str:
    from ..operators.curation import cur_contamination_oracle

    return cur_contamination_oracle()


# The oracle is the SAME static SQL as the batch row's —
# stream==batch parity is the claim being graded.
query(
    "st_contamination_stream", oracle=st_contamination_stream_oracle()
)(st_contamination_stream)
