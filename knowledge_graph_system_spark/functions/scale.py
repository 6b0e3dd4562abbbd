"""Shared scale-shape guards.

`maybe_broadcast` is the counted-broadcast guard: hint a frame into a
broadcast join only when its measured row count is under the caller's
bound, else return it unhinted and let the planner (AQE) pick the join
strategy — past the bound the correct open-data plan is a shuffle
join, and a forced hint would blow the driver. This is the third
occurrence of the same defect class caught in three rounds (r8 IVF
tombstones, r9 LM count frames, r10 Cypher shortestPath frontier), so
the guard is now a shared util; the per-site thresholds stay local
constants because row width differs (ann.TOMBSTONE_BROADCAST_MAX and
lm.LM_COUNT_BROADCAST_MAX predate this util and keep their own guard
fns). The count is a real job: callers should localCheckpoint frames
whose lineage is expensive so the count and the join share
materialization.

`fan_out` is the parallelism floor for per-row-heavy stages that
inherit the scan's split count (explodes, Arrow mapInPandas decodes):
a small single-file probe input yields fewer splits than cores and
serializes the whole stage — the r9/r10 decade probes read the sf1
documents table as 2 splits, so the bigram explode (lm.py) and the
multimodal decode family each ran on 2 of 32 cores, measuring
near-linear (8.6x / 9.0x) where the plan itself is embarrassingly
parallel. When, and only when, input splits < defaultParallelism, one
round-robin repartition spreads the stage across the machine; at real
corpus scale (100 TB = tens of thousands of splits) the condition is
false and NO shuffle is added — the guard costs one partition-count
lookup, not a plan change.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def maybe_broadcast(
    df: DataFrame, max_rows: int, n_rows: int | None = None
) -> DataFrame:
    """Broadcast-hint `df` iff its row count is ≤ `max_rows`.

    Pass `n_rows` when the caller already knows the count (avoids the
    extra job); otherwise one count() is paid here.
    """
    if n_rows is None:
        n_rows = df.count()
    return F.broadcast(df) if n_rows <= max_rows else df


def fan_out(df: DataFrame) -> DataFrame:
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_df(spark, data, schema) -> DataFrame:
    """`createDataFrame` for SMALL driver-side lists, in ONE partition.

    `schema` is a DDL string. The rows become one Arrow table that Spark
    plans as `LocalTableScan`, a JVM local relation: collecting a 1-row
    frame launches no job, and broadcasting it runs one short JVM task
    with no Python worker. The row-list path (`createDataFrame` over a
    list or an RDD) is an ExistingRDD scan whose every action runs a
    `map(toInternal)` PythonRDD, a Python-worker round per partition
    (150-260 ms per 1-row seed broadcast or collect on a 4-core host,
    three of them in a depth-2 BFS). `LocalTableScan` splits into min(rows,
    defaultParallelism) partitions, so frames of more than one row are
    coalesced to one: a cartesian/BNLJ of two multi-row frames then
    schedules 1 task, not rows x rows (r17 measured 15.8 s for 32x32
    tasks of the 36-row vocab pair join at sf0.1). Callers own the
    smallness contract: this is for seed/stat/codebook/vocabulary
    frames, not data tables.
    """
    arrow = to_arrow_schema(StructType.fromDDL(schema))
    rows = list(data)
    df = arrow_df(
        spark,
        pa.Table.from_arrays(
            [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
            schema=arrow,
        ),
        schema,
    )
    return df.coalesce(1) if len(rows) > 1 else df


def arrow_df(spark, table: pa.Table, schema: str) -> DataFrame:
    """A driver-built Arrow table, whose columns already have the DDL
    `schema`'s types, as one `LocalTableScan`. Unlike `local_df` it is
    not coalesced, so `collect` reads it back with no job; callers that
    cross-join it should coalesce it themselves."""
    return spark.createDataFrame(table, StructType.fromDDL(schema))
