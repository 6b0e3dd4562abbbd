"""Pins for the §2.6 job-overlap internals: the shared Ctx must stay
single-instance under concurrent builders, and the program executor's
concurrent pre-dispatch must keep sequential semantics."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    import sys

    sys.path.insert(0, "/root/repo")
    from knowledge_graph_system_spark.session import get_spark

    return get_spark("test-overlap", cpus=4, shuffle_partitions=4)


def test_ctx_single_instance_and_views_under_races(spark):
    """Concurrent Ctx.get / view access (what batch 21's builders do)
    must yield ONE context and ONE cached frame per view."""
    from knowledge_graph_system_spark.registry import Ctx

    Ctx._cache.pop((id(spark), SF), None)  # force a fresh race
    with ThreadPoolExecutor(max_workers=8) as pool:
        ctxs = list(pool.map(lambda _: Ctx.get(spark, SF), range(32)))
    assert len({id(c) for c in ctxs}) == 1

    ctx = ctxs[0]
    with ThreadPoolExecutor(max_workers=8) as pool:
        nodes = list(pool.map(lambda _: ctx.nodes, range(32)))
        edges = list(pool.map(lambda _: ctx.edges, range(32)))
    assert len({id(df) for df in nodes}) == 1
    assert len({id(df) for df in edges}) == 1


def test_program_predispatch_keeps_sequential_semantics(spark):
    """The executor pre-dispatches statement results concurrently; the
    fold must stay sequential — `!` abort after a `-` still sees the
    post-difference working graph, and conditionals still gate their
    branches on the materialized count."""
    from knowledge_graph_system_spark.plans.program import (
        Result, WorkingGraph, execute_program,
    )
    from pyspark.sql import functions as F

    nodes = spark.createDataFrame(
        [(f"N{i}",) for i in range(6)], "node_id string"
    )
    links = nodes.selectExpr(
        "node_id AS src", "node_id AS dst", "'T' AS rel_type"
    ).filter(F.lit(False))

    def dispatch(source):
        n = source["n"]
        return Result(nodes=nodes.filter(F.col("node_id") < f"N{n}"))

    w0 = WorkingGraph(nodes=nodes.filter(F.lit(False)), links=links)
    res = execute_program(
        [
            {"op": "+", "source": {"n": 6}},   # all six
            {"op": "-", "source": {"n": 3}},   # drop N0..N2
            {"if": {"cond": "count_gte", "value": 1}, "source": {"n": 1},
             "then": [{"op": "-", "source": {"n": 4}}]},  # drop N3
            {"op": "!", "source": {"n": 2}},   # non-empty: union N0, N1 back
        ],
        dispatch,
        w0,
    )
    assert not res.aborted
    got = sorted(r["node_id"] for r in res.working.nodes.collect())
    assert got == ["N0", "N1", "N4", "N5"]
    # and the `!` abort path still surfaces
    res2 = execute_program(
        [{"op": "!", "source": {"n": 0}}], dispatch, w0
    )
    assert res2.aborted and "empty" in res2.abort_reason
