"""Streaming fixed-grid quantile telemetry: maintain per-group
length-distribution quantiles over an ARRIVING corpus — the streaming
form of `operators/sampling.py::grid_quantiles`, and the telemetry a
continuously-ingesting curation pipeline watches per domain (is this
crawl's p99 document length drifting?).

This is the family's easiest batch+stream symmetry BY CONSTRUCTION:
the grid histogram is `bins` plain-sum counters per group, so each
micro-batch appends its own tiny (group, bucket, count) frame and the
accumulated state is a re-aggregation of a log bounded by epochs x
groups x bins — there is no other state, no doc re-scan, and no
ordering precondition of any kind (sums commute), so the streamed
result over ANY batch partitioning equals the batch operator on the
full corpus EXACTLY. The per-epoch emission is the merged quantile
frame itself: unlike the budget stream's non-monotone kept set, a
quantile is always well-defined on what has arrived, so every epoch's
answer is an exact snapshot of the corpus so far.

Per-batch cost: one bins-bounded hash aggregate over the batch + one
append; the epoch snapshot re-aggregates the bounded hist log. At
100 TB/day of arrivals the plan is unchanged; only executor count
scales (the contamination-stream argument).

Reference parity: no streaming-telemetry surface in the reference;
extends the ingestion dataflow like the other st_* legs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import Ctx
from .landing import range_parts, replay

# the smp_grid_quantiles grid (shared so stream==batch parity is
# against the registered row's exact contract)
_QS = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
_LO, _HI, _BINS = 0, 4096, 256


def batch_hist(batch_docs: DataFrame, group: str = "source") -> DataFrame:
    """(group, __b, __c): the batch's grid histogram — the ONLY state
    the stream keeps, bounded by groups x bins regardless of batch
    size."""
    clamped = batch_docs.select(
        group,
        F.greatest(F.lit(_LO), F.least(F.col("n_chars"), F.lit(_HI - 1)))
        .cast("bigint")
        .alias("__x"),
    )
    return (
        clamped.selectExpr(group, f"((__x - {_LO}) * {_BINS}) DIV {_HI - _LO} AS __b")
        .groupBy(group, "__b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )


def quantiles_from_hist(hist_log: DataFrame, group: str = "source") -> DataFrame:
    """(group, q, gq): merge the accumulated hist log (plain sums) and
    answer the grid quantiles — identical arithmetic to
    `grid_quantiles`, restated over pre-bucketed counters."""
    from pyspark.sql import Window

    spark = hist_log.sparkSession
    hist = hist_log.groupBy(group, "__b").agg(
        F.sum("__c").cast("bigint").alias("__c")
    )
    w = Window.partitionBy(group).orderBy("__b")
    wn = Window.partitionBy(group)
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(wn)
    )
    from ..functions.scale import local_df

    qf = local_df(spark, _QS, "q string, frac double")
    return (
        cum.join(F.broadcast(qf))
        .filter(F.col("__cum") >= F.ceil(F.col("frac") * F.col("__n")))
        .groupBy(group, "q")
        .agg(F.min("__b").alias("__b"))
        .select(
            group,
            "q",
            (F.lit(_LO) + F.expr(f"(__b * {_HI - _LO}) DIV {_BINS}")).alias("gq"),
        )
    )


def streaming_grid_quantiles(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 3,
    stats: list | None = None,
) -> DataFrame:
    """Replay the documents table as an availableNow file stream in
    `n_batches` ascending doc_id ranges; each trigger appends its
    bins-bounded histogram, and (when `stats` is given) the epoch's
    exact quantile snapshot of everything arrived so far is recorded.
    The final answer re-aggregates the hist log — equal to
    `smp_grid_quantiles` on the full corpus exactly."""
    docs = Ctx.get(spark, sf_dir).tables["documents"]

    def handle(batch_df: DataFrame, batch_id: int, tmp: str) -> None:
        hist_dir = os.path.join(tmp, "hist")
        batch_hist(batch_df).write.mode("append").parquet(hist_dir)
        if stats is not None:
            snap = quantiles_from_hist(spark.read.parquet(hist_dir)).collect()
            stats.append(
                {
                    "epoch": int(batch_id),
                    "quantiles": {(r["source"], r["q"]): r["gq"] for r in snap},
                }
            )

    return replay(
        range_parts(docs, "doc_id", n_batches),
        handle,
        lambda tmp: quantiles_from_hist(spark.read.parquet(os.path.join(tmp, "hist"))),
    )


def st_grid_quantiles_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r17 candidate: the streaming telemetry path graded hash-exact
    against smp_grid_quantiles' registered static oracle — the real
    foreachBatch/availableNow execution path, order-free stream==batch
    parity (plain-sum counters commute)."""
    return streaming_grid_quantiles(spark, sf_dir, n_batches=3)


def st_grid_quantiles_stream_oracle() -> str:
    from ..operators.sampling import smp_grid_quantiles_oracle

    return smp_grid_quantiles_oracle()


from ..registry import query  # noqa: E402

query("st_grid_quantiles_stream", oracle=st_grid_quantiles_stream_oracle())(
    st_grid_quantiles_stream
)
