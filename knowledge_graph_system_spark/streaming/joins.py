"""Stream-stream joins (SURVEY.md §2.10 family — beyond the reference,
which has no stream processing at all; this is the event-correlation
operator a 100 TB pipeline needs for attribution/sessionization).

Spark buffers both sides in watermark-bounded state: the time-range
condition lets the engine evict rows once the watermark passes
`click.ts + window`, so state is O(rate × window), not O(history).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .landing import replay


def stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Inner join: each purchase matched to same-user clicks in the
    preceding `window`. Both sides watermarked so the join state is
    bounded and evictable."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        F.expr(
            f"c_user = p_user AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {window}"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "amount",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_at"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_at"),
    )


def stream_enrich_static(
    events_stream: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: each micro-batch joins against a
    batch-side dimension — stateless (nothing buffered across
    triggers; the dim is re-resolved per batch, so a dim refresh is
    picked up without restarting the query).

    Scale: no broadcast hint — a hint would override the size
    threshold and force even a huge dimension through the driver, so
    the planner decides per batch via autoBroadcastJoinThreshold:
    small dims (the common case) broadcast, an oversized dim falls
    back to a per-batch shuffle join, still stateless. The stream side
    must keep its watermark column if a windowed aggregate follows
    (enrichment is a projection, not a stateful op)."""
    return events_stream.join(dim, key, how)


# ---------------------------------------------------------------------------
# Prepared r9 registry candidate (prepared-plan discipline; r9 plan in
# registry.py), registered r9 at the module tail below.
# ---------------------------------------------------------------------------


def st_enrich_stream(spark, sf_dir: str) -> DataFrame:
    """r9 candidate: stream-static enrichment end-to-end as a driver
    row. The events feed replays as an availableNow file stream in 3
    micro-batches; each micro-batch left-joins the static customer
    dimension via `stream_enrich_static` (planner-decided broadcast,
    stateless) and appends the enriched rows; the final frame is the
    per-segment rollup. The oracle is the equivalent static
    join+aggregate — per-batch enrichment of a partitioned replay is
    row-identical to enriching the whole table at once, which is the
    statelessness contract this row grades."""
    from ..registry import Ctx

    ctx = Ctx.get(spark, sf_dir)
    events = ctx.tables["events"]
    dim = ctx.tables["customer"].select(
        F.col("c_custkey").alias("user_id"),
        "c_mktsegment",
    )

    def handle(batch_df: DataFrame, batch_id: int, tmp: str) -> None:
        batch = batch_df.select("event_id", "user_id", "event_type", "value")
        enriched = stream_enrich_static(batch, dim, key="user_id", how="left")
        enriched.write.mode("append").parquet(os.path.join(tmp, "enriched"))

    return replay(
        [events.filter(F.col("event_id") % 3 == i) for i in range(3)],
        handle,
        lambda tmp: spark.read.parquet(os.path.join(tmp, "enriched"))
        .groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        ),
    )


def st_enrich_stream_oracle() -> str:
    return """
SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2) AS total_value
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1
"""


# Registered r9: the prepared-candidate plan in registry.py, executed.
from ..registry import query as _query  # noqa: E402  (module tail)

_query("st_enrich_stream", oracle=st_enrich_stream_oracle())(st_enrich_stream)
