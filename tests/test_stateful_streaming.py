"""Streaming joins (streaming/joins.py): the stateful stream-stream
interval join and the stateless stream-static enrichment."""

from __future__ import annotations

import os
import uuid

_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(path)


def _stream(spark, src):
    return (
        spark.readStream.schema(_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src + "/b=*")
    )


def test_stream_stream_interval_join(spark, tmp_path):
    import datetime as dt
    from pyspark.sql import functions as F
    from knowledge_graph_system_spark.streaming.joins import stream_interval_join

    t = dt.datetime(2024, 6, 1)
    src = str(tmp_path / "s3")
    os.makedirs(src)
    rows = [
        (1, t, 7, "click", 0.0, "{}"),                                  # click u7
        (2, t + dt.timedelta(minutes=10), 7, "purchase", 42.0, "{}"),   # within 30m → joins to 1
        (3, t + dt.timedelta(hours=2), 7, "purchase", 9.0, "{}"),       # outside window → no join
        (4, t + dt.timedelta(minutes=5), 8, "purchase", 5.0, "{}"),     # other user, no click
        (5, t + dt.timedelta(minutes=20), 7, "click", 0.0, "{}"),
        (6, t + dt.timedelta(minutes=25), 7, "purchase", 11.0, "{}"),   # joins clicks 1 AND 5
    ]
    _write_batch(spark, src + "/b=0", rows)

    stream = _stream(spark, src)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    sink = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        stream_interval_join(clicks, purchases)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["click_id"], r["purchase_id"]) for r in spark.sql(f"SELECT * FROM {sink}").collect()
    }
    assert got == {(1, 2), (1, 6), (5, 6)}


def test_stream_static_enrichment(spark, tmp_path):
    """Per-batch join against a static dim: matched rows enriched,
    unmatched keep NULL (left join), processing stays stateless
    (no stateOperators in progress)."""
    import datetime as dt

    from knowledge_graph_system_spark.streaming.joins import stream_enrich_static

    t = dt.datetime(2024, 6, 1)
    src = str(tmp_path / "enrich_src")
    os.makedirs(src)
    _write_batch(spark, src + "/b=0", [
        (1, t, 7, "view", 1.0, "{}"),
        (2, t, 8, "view", 2.0, "{}"),
        (3, t, 9, "view", 3.0, "{}"),   # no dim row
    ])

    dim = spark.createDataFrame(
        [(7, "gold"), (8, "silver")], "user_id long, tier string"
    )
    sink = f"en_{uuid.uuid4().hex[:8]}"
    q = (
        stream_enrich_static(_stream(spark, src), dim)
        .select("event_id", "user_id", "tier")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["event_id"]: r["tier"] for r in spark.sql(f"SELECT * FROM {sink}").collect()}
    assert rows == {1: "gold", 2: "silver", 3: None}
    assert all(not p.get("stateOperators") for p in q.recentProgress)
