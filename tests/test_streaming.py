"""Structured Streaming: watermark + late-data handling (ST4).

Drives `stream_hourly_counts` end-to-end: two parquet micro-batches
through a file stream with maxFilesPerTrigger=1. APPEND mode is used
because that is where the watermark actually FILTERS late input — in
update mode Spark only evicts state at end-of-batch and still folds a
late row into restored state (verified empirically on 4.1: the
numRowsDroppedByWatermark counter stays 0 in update mode)."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import uuid

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from knowledge_graph_system_spark.streaming.windows import stream_hourly_counts

T0 = dt.datetime(2024, 6, 1, 0, 0, 0)


def _mk_events(spark, rows):
    return spark.createDataFrame(
        [(i, ts, 1, "click", 1.0, "{}") for i, ts in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    # batch 0: three on-time events in hour T0, one at T0+10h (advances
    # the watermark to T0+9h once the batch commits). The filter for
    # batch N uses batch N−1's committed watermark — one batch of lag —
    # so an intermediate batch 1 lets the advanced watermark take effect
    # before the late row arrives in batch 2.
    _mk_events(
        spark, [T0, T0 + dt.timedelta(minutes=5), T0 + dt.timedelta(minutes=10), T0 + dt.timedelta(hours=10)]
    ).coalesce(1).write.parquet(src + "/b=0")
    time.sleep(1.1)
    _mk_events(spark, [T0 + dt.timedelta(hours=10, minutes=2)], ).coalesce(1).write.parquet(src + "/b=1")
    time.sleep(1.1)
    # batch 2: one event 9h LATE back in hour T0 (far behind the T0+9h
    # watermark → filtered) and one fresh event at T0+10h05
    _mk_events(spark, [T0 + dt.timedelta(minutes=20), T0 + dt.timedelta(hours=10, minutes=5)]).coalesce(
        1
    ).write.parquet(src + "/b=2")

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b=*")
    )
    sink = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        stream_hourly_counts(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        r["window_start"]: r["n_events"] for r in spark.sql(f"SELECT * FROM {sink}").collect()
    }
    # append mode: the hour-T0 window finalized when the watermark passed
    # its end, with exactly the 3 on-time events — the late 4th dropped
    assert out.get("2024-06-01 00:00:00") == 3, out
    # the hour-10 window is still open (watermark < its end) → not emitted
    assert "2024-06-01 10:00:00" not in out, out


def test_streaming_ingest_epoch_gate(spark):
    """ST1 end-to-end: the availableNow ingest stream lands three epochs
    but the committed snapshot only exposes the two COMPLETED ones — the
    recorded-but-never-completed retry epoch is invisible."""
    from pyspark.sql import functions as F

    from knowledge_graph_system_spark.streaming.ingest_stream import streaming_ingest
    from tests.conftest import SF_DIR

    snap = streaming_ingest(spark, SF_DIR, doc_limit=12)
    epochs = {r["epoch"] for r in snap.select("epoch").distinct().collect()}
    assert epochs == {0, 1}, epochs

    # epoch 0 ingests against the empty graph: pure inserts
    acts0 = {
        r["action"]
        for r in snap.filter(F.col("epoch") == 0).select("action").distinct().collect()
    }
    assert acts0 == {"insert"}

    # every epoch-1 merge resolves to an epoch-0 concept id
    e0_ids = {r["concept_id"] for r in snap.filter(F.col("epoch") == 0).collect()}
    merges = snap.filter((F.col("epoch") == 1) & (F.col("action") == "merge"))
    bad = {r["resolved_id"] for r in merges.collect()} - e0_ids
    assert not bad, bad


def test_streaming_ingest_retry_reuse_is_deterministic(spark):
    """r18 (VERDICT r17 'what's wrong' #5 / next #7): the stream's epoch-2
    retry re-stamps epoch 0's checkpointed frame instead of re-running
    chunk→extract→embed. That reuse is sound ONLY while the ingest path
    is deterministic — pin the assumption: (a) two independent runs of
    the ingest path over the same even-doc slice emit identical rows
    (embeddings included), and (b) the stream's epoch-0 sink rows equal
    a genuine fresh run, so the re-stamped epoch 2 equals what a real
    retry would have produced. If extraction ever becomes
    non-deterministic, (a) fails and the reuse must be reverted."""
    from pyspark.sql import functions as F

    from knowledge_graph_system_spark.registry import Ctx
    from knowledge_graph_system_spark.sources.ingest import ingest_documents
    from knowledge_graph_system_spark.streaming.ingest_stream import streaming_ingest
    from tests.conftest import SF_DIR

    evens = (
        Ctx.get(spark, SF_DIR)
        .tables["documents"]
        .filter((F.col("doc_id") < 12) & (F.col("doc_id") % 2 == 0))
        .select("doc_id", "text")
    )
    cols = ["doc_id", "chunk_index", "concept_id", "term", "resolved_id", "action"]

    def run_fresh(with_emb: bool):
        out = ingest_documents(evens)
        sel = cols + (["embedding"] if with_emb else [])
        return sorted(tuple(r) for r in out.select(*sel).collect())

    assert run_fresh(True) == run_fresh(True)  # (a) determinism, embeddings too

    snap = streaming_ingest(spark, SF_DIR, doc_limit=12)
    e0 = sorted(
        tuple(r)
        for r in snap.filter(F.col("epoch") == 0).select(*cols).collect()
    )
    assert e0 == run_fresh(False)  # (b) sink rows == genuine re-run


def test_r9_candidate_enrich_stream(spark):
    """Driver-style compare for the prepared st_enrich_stream row:
    per-micro-batch stream-static enrichment of a partitioned replay
    must aggregate identically to the static join (statelessness)."""
    import duckdb

    from knowledge_graph_system_spark.streaming.joins import (
        st_enrich_stream,
        st_enrich_stream_oracle,
    )
    from tests.conftest import SF_DIR

    got = sorted(map(tuple, st_enrich_stream(spark, SF_DIR).collect()))
    con = duckdb.connect()
    for t in ("events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    want = sorted(map(tuple, con.execute(st_enrich_stream_oracle()).fetchall()))
    con.close()
    assert len(got) > 0 and got == want


def test_replay_failure_cleans_up(spark):
    """A handler that raises stops the replay: `replay` re-raises, the
    batches after the failing one never run, and neither the working
    dir nor the stream outlives the call."""
    from knowledge_graph_system_spark.streaming.landing import replay

    parts = [spark.range(i * 2, i * 2 + 2).withColumnRenamed("id", "k") for i in range(3)]
    seen: list[int] = []
    tmps: list[str] = []

    def handle(batch_df, batch_id, tmp):
        seen.append(batch_id)
        tmps.append(tmp)
        if batch_id == 1:
            raise RuntimeError("handler failed on batch 1")

    with pytest.raises(StreamingQueryException, match="handler failed on batch 1"):
        replay(parts, handle, lambda tmp: spark.range(1))
    assert seen == [0, 1]
    assert tmps and not os.path.exists(tmps[0])
    assert spark.streams.active == []
