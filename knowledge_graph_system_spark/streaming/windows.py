"""Streaming/windowed operators over the events feed (SURVEY.md §2.10).

The reference has no true stream processing — its "streaming" is epoch
bookkeeping driving cache invalidation (`/root/reference/api/app/lib/
age_client/ingestion.py:31-152`; see streaming/epochs.py). ST4 requires
demonstrating real windowed semantics on the driver's events table:

- tumbling / sliding windows: `F.window(ts, size[, slide])`
- session windows: `F.session_window(ts, gap)` (30 min gap)
- watermark + late-data handling: `stream_hourly_counts` builds the
  streaming version of the tumbling agg with `withWatermark` — driven
  end-to-end in tests/test_streaming.py with an availableNow trigger.

The batch registrations below share the exact aggregation expressions
with the streaming form, so the oracle checks pin the window semantics
that the stream then inherits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import Ctx, query

_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "st_tumbling_window",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def st_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window per event type (window start is the
    epoch-aligned hour — identical to date_trunc)."""
    ctx = Ctx.get(spark, sf_dir)
    return (
        ctx.tables["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "st_sliding_window",
    oracle="""
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM (
  SELECT u.ws, value FROM events,
       unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS u(ws)
)
GROUP BY ws
""",
)
def st_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour: every event lands in two
    windows (starts floor(ts,1h) and floor(ts,1h)−1h). Sum not avg:
    avg of 2-dp values over a power-of-two count is an exact 7-decimal
    midpoint (e.g. x/32 → …x5), where cross-engine 6-dp rounding
    disagrees; the sum stays on the 2-dp grid."""
    ctx = Ctx.get(spark, sf_dir)
    return (
        ctx.tables["events"]
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"), "n_events", "total_value"
        )
    )


@query(
    "st_session_window",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM sessions
GROUP BY user_id, session_id
""",
)
def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user (`F.session_window`); the
    oracle is the gaps-and-islands formulation — a session breaks when
    the gap is ≥ the 30 min timeout (Spark's half-open merge rule)."""
    ctx = Ctx.get(spark, sf_dir)
    return (
        ctx.tables["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def stream_hourly_counts(events_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Structured Streaming twin of st_tumbling_window with late-data
    handling: rows later than `watermark` behind max(ts) are dropped and
    their windows finalized. Drive it with an append-mode sink and an
    availableNow trigger."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "st_rollup",
    oracle="""
SELECT coalesce(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
       coalesce(event_type, 'ALL') AS event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY GROUPING SETS ((date_trunc('day', ts), event_type), (date_trunc('day', ts)), ())
""",
)
def st_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup in ONE pass: (day ×
    type), (day), and grand total via ROLLUP — the partial aggregates
    are shared across levels, so the 100 TB feed is scanned once for
    every granularity a dashboard needs."""
    ctx = Ctx.get(spark, sf_dir)
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    return (
        ctx.tables["events"]
        .select(day.alias("_day"), "event_type", "value")
        .rollup("_day", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.coalesce("_day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
            "total_value",
        )
    )


@query(
    "st_json_props",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type
""",
)
def st_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic JSON property access — the agtype/JSON property-map
    pattern of the reference's graph (`api/app/lib/age_client/base.py:
    291-316`) applied to the events feed: `get_json_object` stays inside
    codegen, so schema-on-read costs one string parse per row, no UDF."""
    ctx = Ctx.get(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ctx.tables["events"]
        .withColumn("k", k)
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("k_total"),
            F.max("k").alias("k_max"),
        )
    )
