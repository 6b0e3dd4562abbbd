"""The replay harness: every st_* stream row replays a static table
through `replay`, the one place a stream is started.

`replay(parts, handle, result)` lands each part as one parquet file,
streams the landing dir back with availableNow and
maxFilesPerTrigger=1 (one micro-batch per part, in part order), calls
`handle(batch_df, batch_id, tmp)` per micro-batch, and returns
`result(tmp)` checkpointed before the working dir is removed. Callers
keep their state under `tmp`; the stream schema is the parts' own.

Part order is explicit: the file source orders files by modification
time, and back-to-back writes can share an mtime on coarse-granularity
filesystems (ADVICE r9), so each landing file is stamped with a
strictly increasing mtime. Ascending-range replays (span dedup) are
exact only in that order, and batch_id labels (dedup pairs) follow it.

This is DRIVER-LOCAL by design: it lands synthetic files in a local
tempdir; a real deployment's landing zone is populated by an upstream
producer whose arrival times are the order (nothing to stamp).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_cuts(cuts: list) -> list:
    """approxQuantile can return DUPLICATE cut values on small or
    skewed key distributions, which would make some replay batch
    ranges empty — a silent degenerate replay where the effective
    batch count is smaller than requested (ADVICE r10). Collapse to a
    strictly increasing list; callers derive the effective batch count
    from len(cuts) + 1 so every written batch is a non-degenerate
    range."""
    out: list = []
    for c in cuts:
        if not out or c > out[-1]:
            out.append(c)
    return out


def stamp_landing_mtimes(batch_dir: str, seq: int) -> None:
    """Stamp every file in `batch_dir` with mtime 1_000_000 + seq so
    the file source processes batch dirs in `seq` order."""
    for fname in os.listdir(batch_dir):
        os.utime(
            os.path.join(batch_dir, fname),
            (1_000_000 + seq, 1_000_000 + seq),
        )


def range_parts(df: DataFrame, key: str, n: int) -> list[DataFrame]:
    """`df` split into ascending `key` ranges at exact (rel_err=0)
    quantile cuts: at most `n` parts, fewer when cuts coincide."""
    probs = [i / n for i in range(1, n)]
    cuts = dedup_cuts(df.stat.approxQuantile(key, probs, 0.0)) if probs else []
    bounds = [None, *cuts, None]
    parts = []
    for lo, hi in zip(bounds, bounds[1:]):
        part = df if lo is None else df.filter(F.col(key) > lo)
        parts.append(part if hi is None else part.filter(F.col(key) <= hi))
    return parts


def replay(
    parts: list[DataFrame],
    handle: Callable[[DataFrame, int, str], None],
    result: Callable[[str], DataFrame],
) -> DataFrame:
    """Stream `parts` as one micro-batch each, in order, through
    `handle(batch_df, batch_id, tmp)`; return `result(tmp)`
    materialized. The working dir `tmp` is removed on every exit."""
    spark = parts[0].sparkSession
    tmp = tempfile.mkdtemp(prefix="kg_replay_")
    landing = os.path.join(tmp, "landing")
    q = None
    try:
        for i, part in enumerate(parts):
            bdir = os.path.join(landing, f"batch{i}")
            part.coalesce(1).write.parquet(bdir)
            stamp_landing_mtimes(bdir, i)
        q = (
            spark.readStream.schema(parts[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(landing, "batch*"))
            .writeStream.foreachBatch(lambda b, i: handle(b, i, tmp))
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.awaitTermination()
        return result(tmp).localCheckpoint(eager=True)
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)
