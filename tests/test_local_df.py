"""`functions.scale.local_df`: small Python row lists built as JVM
local relations. Schema and rows must match the row-list path
(`createDataFrame(rows, ddl)`) that local_df replaced; every non-empty
frame is one partition over a LocalTableScan, never an ExistingRDD scan."""

from __future__ import annotations

import pytest

from knowledge_graph_system_spark.functions.scale import local_df

SCALARS = "s string, i int, b bigint, d double"
ARRAYS = "a array<string>, aa array<array<double>>"

CASES = {
    "scalars": (SCALARS, [("a", 1, 2**40, 1.5), ("b", -2, -(2**40), -0.25)]),
    "nulls": (SCALARS, [(None, None, None, None), ("x", 3, None, 0.0)]),
    "arrays": (ARRAYS, [(["x", None, "y"], [[1.0, 2.5], [], None]), ([], None)]),
    "empty": ("s string, i int", []),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_df_matches_row_path(spark, case):
    schema, rows = CASES[case]
    got = local_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    # StructType equality covers field and element nullability
    assert got.schema == ref.schema
    assert got.collect() == ref.collect() == [tuple(r) for r in rows]


@pytest.mark.parametrize("case", ["scalars", "nulls", "arrays"])
def test_one_row_frame_is_one_partition_local_scan(spark, case):
    schema, rows = CASES[case]
    df = local_df(spark, rows[:1], schema)
    assert df.rdd.getNumPartitions() == 1
    plan = _plan(df)
    assert plan.strip().startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan


def test_multi_row_frame_is_one_partition(spark):
    """min(rows, defaultParallelism) splits are coalesced back to one, so
    a cross join of two multi-row frames stays a single task."""
    df = local_df(spark, [(i, f"n{i}") for i in range(9)], "i long, s string")
    assert df.rdd.getNumPartitions() == 1
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    pairs = df.crossJoin(df.toDF("j", "t"))
    assert pairs.rdd.getNumPartitions() == 1
    assert pairs.count() == 81

