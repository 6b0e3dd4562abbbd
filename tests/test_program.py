"""GraphProgram DSL unit tests — mirrors the reference's pure-operator
suite (`tests/unit/test_program_operators.py`, `test_program_executor.py`,
`test_program_validation.py` in /root/reference)."""

from __future__ import annotations

import pytest

from knowledge_graph_system_spark.plans.program import (
    ProgramValidationError,
    Result,
    WorkingGraph,
    execute_program,
    op_assert,
    op_difference,
    op_intersect,
    op_optional,
    op_union,
    validate_program,
)
from knowledge_graph_system_spark.plans.program import ProgramAborted


def _wg(spark, nodes, links):
    return WorkingGraph(
        nodes=spark.createDataFrame(nodes, "node_id string, weight double"),
        links=spark.createDataFrame(links, "src string, dst string, rel_type string"),
    )


def _r(spark, nodes, links=None):
    return Result(
        nodes=spark.createDataFrame(nodes, "node_id string, weight double"),
        links=spark.createDataFrame(links, "src string, dst string, rel_type string")
        if links is not None
        else None,
    )


@pytest.fixture
def w(spark):
    return _wg(
        spark,
        [("a", 1.0), ("b", 2.0), ("c", 3.0)],
        [("a", "b", "R"), ("b", "c", "R")],
    )


def test_union_dedups_and_w_wins(spark, w):
    r = _r(spark, [("c", 99.0), ("d", 4.0)])
    out = op_union(w, r)
    rows = {x["node_id"]: x["weight"] for x in out.nodes.collect()}
    assert rows == {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0}  # W's c wins


def test_difference_cascades_dangling_links(spark, w):
    out = op_difference(w, _r(spark, [("b", 2.0)]))
    assert {x["node_id"] for x in out.nodes.collect()} == {"a", "c"}
    assert out.links.count() == 0  # both links touched b


def test_intersect(spark, w):
    out = op_intersect(w, _r(spark, [("b", 0.0), ("c", 0.0), ("z", 0.0)]))
    assert {x["node_id"] for x in out.nodes.collect()} == {"b", "c"}
    assert [tuple(r) for r in out.links.select("src", "dst").collect()] == [("b", "c")]


def test_optional_noop_on_empty(spark, w):
    out = op_optional(w, _r(spark, []))
    assert out.nodes.count() == 3


def test_assert_aborts_on_empty(spark, w):
    with pytest.raises(ProgramAborted):
        op_assert(w, _r(spark, []))


def test_dangling_invariant_after_every_op(spark, w):
    """FIXTURES invariant: after any op, every link endpoint ∈ W nodes."""
    for op, r in [
        (op_union, _r(spark, [("d", 4.0)], [("c", "d", "R"), ("x", "y", "R")])),
        (op_difference, _r(spark, [("a", 0.0)])),
        (op_intersect, _r(spark, [("a", 0.0), ("b", 0.0)])),
    ]:
        out = op(w, r)
        ids = {x["node_id"] for x in out.nodes.collect()}
        for link in out.links.collect():
            assert link["src"] in ids and link["dst"] in ids


def test_validator_rejects_bad_programs():
    with pytest.raises(ProgramValidationError):
        validate_program([])
    with pytest.raises(ProgramValidationError):
        validate_program([{"op": "*", "source": {}}])
    with pytest.raises(ProgramValidationError):
        validate_program([{"op": "+"}])  # no source
    deep = [{"op": "+", "source": {}}]
    for _ in range(4):
        deep = [{"if": {"cond": "has_results"}, "source": {}, "then": deep}]
    with pytest.raises(ProgramValidationError):
        validate_program(deep)
    with pytest.raises(ProgramValidationError):
        validate_program([{"if": {"cond": "count_gte"}, "source": {}, "then": [{"op": "+", "source": {}}]}])


def test_executor_conditionals_and_log(spark, w):
    calls = []

    def dispatch(source):
        calls.append(source["name"])
        if source["name"] == "empty":
            return _r(spark, [])
        return _r(spark, [("d", 4.0)])

    program = [
        {"op": "+", "source": {"name": "d"}},
        {
            "if": {"cond": "empty"},
            "source": {"name": "empty"},
            "then": [{"op": "-", "source": {"name": "d"}}],
            "else": [{"op": "+", "source": {"name": "never"}}],
        },
    ]
    res = execute_program(program, dispatch, w)
    assert not res.aborted
    assert {x["node_id"] for x in res.working.nodes.collect()} == {"a", "b", "c"}
    assert [s.op for s in res.log] == ["+", "if:empty", "-"]
    # pre_dispatch runs a block's dispatches concurrently, so only the
    # multiset is fixed ("never" is not dispatched); strict call order
    # is pinned by test_executor_pre_dispatch_opt_out
    assert sorted(calls) == ["d", "d", "empty"]


def test_executor_abort_surfaces(spark, w):
    res = execute_program(
        [{"op": "!", "source": {"name": "empty"}}],
        lambda s: _r(spark, []),
        w,
    )
    assert res.aborted and "empty" in res.abort_reason


def test_executor_pre_dispatch_opt_out(spark, w):
    """r18 (ADVICE r17): pre_dispatch=False restores strictly
    sequential dispatch-at-fold semantics — same working graph and log
    ops as the default, dispatch calls in statement order from the fold
    thread, and NO speculative dispatch past an aborting statement."""
    import threading

    calls = []

    def dispatch(source):
        calls.append((source["name"], threading.current_thread().name))
        return _r(spark, [] if source["name"] == "empty" else [("d", 4.0)])

    program = [
        {"op": "+", "source": {"name": "d1"}},
        {"op": "!", "source": {"name": "empty"}},
        {"op": "+", "source": {"name": "after-abort"}},
    ]
    main = threading.current_thread().name
    res = execute_program(program, dispatch, w, pre_dispatch=False)
    assert res.aborted and "empty" in res.abort_reason
    # sequential: statement order, fold thread, nothing past the abort
    assert [c[0] for c in calls] == ["d1", "empty"]
    assert all(c[1] == main for c in calls)
    assert [s.op for s in res.log] == ["+"]
    # identical rows to the default path on a non-aborting program
    seq = execute_program(
        [{"op": "+", "source": {"name": "d1"}}, {"op": "+", "source": {"name": "d2"}}],
        lambda s: _r(spark, [("d", 4.0)]), w, pre_dispatch=False,
    )
    par = execute_program(
        [{"op": "+", "source": {"name": "d1"}}, {"op": "+", "source": {"name": "d2"}}],
        lambda s: _r(spark, [("d", 4.0)]), w,
    )
    assert sorted(r["node_id"] for r in seq.working.nodes.collect()) == sorted(
        r["node_id"] for r in par.working.nodes.collect()
    )
    # StepLog.ms is the dispatch+materialization cost (timed inside the
    # dispatch wrapper): non-negative on both paths
    assert all(s.ms >= 0 for s in seq.log + par.log)


def test_executor_abort_cancels_pre_dispatch_group(spark, w):
    """r18 (ADVICE r17): an aborting multi-statement block cancels its
    pre-dispatch job group; the session stays healthy for later jobs."""
    res = execute_program(
        [
            {"op": "!", "source": {"name": "empty"}},
            {"op": "+", "source": {"name": "spec1"}},
            {"op": "+", "source": {"name": "spec2"}},
        ],
        lambda s: _r(spark, [] if s["name"] == "empty" else [("d", 4.0)]),
        w,
    )
    assert res.aborted
    # the cancelJobGroup on the abort path must not poison the context
    assert spark.range(5).count() == 5


def test_dispatch_reference_kinds(spark):
    """The six reference API dispatch kinds resolve and obey their
    per-kind semantics (`program_dispatch.py:193-394` parameter names)."""
    from pyspark.sql import functions as F

    from knowledge_graph_system_spark.operators.setops import make_dispatch
    from knowledge_graph_system_spark.registry import Ctx
    from tests.conftest import SF_DIR

    ctx = Ctx.get(spark, SF_DIR)
    dispatch = make_dispatch(ctx)

    # concepts_batch: exact IN-list fetch
    r = dispatch({"kind": "concepts_batch", "concept_ids": ["C1", "P1"]})
    assert {x["node_id"] for x in r.nodes.collect()} == {"C1", "P1"}
    assert dispatch({"kind": "concepts_batch", "concept_ids": []}).nodes.isEmpty()

    # concepts_details: the node + out-edge endpoints, links = out-edges
    r = dispatch({"kind": "concepts_details", "concept_id": "C1"})
    got = {x["node_id"] for x in r.nodes.collect()}
    expect_dst = {
        x["dst"] for x in ctx.edges.filter(F.col("src") == "C1").collect()
    }
    assert got == {"C1"} | expect_dst
    assert {x["dst"] for x in r.links.collect()} == expect_dst

    # vocabulary_status: synthetic vocab:<name> nodes, filter applies
    r = dispatch({"kind": "vocabulary_status", "status_filter": "CONTRADICTORY"})
    rows = r.nodes.collect()
    assert {x["node_id"] for x in rows} == {"vocab:L1", "vocab:L3", "vocab:L5"}
    assert all(x["name"] == "CONTRADICTORY" for x in rows)
    one = dispatch(
        {"kind": "vocabulary_status", "relationship_type": "PLACED"}
    ).nodes.collect()
    assert [x["node_id"] for x in one] == ["vocab:PLACED"]

    # search_sources: every returned node is a Part linked to an Order
    r = dispatch({"kind": "search_sources", "query": "query:so",
                  "min_similarity": 0.3, "limit": 5})
    labels = {x["label"] for x in r.nodes.collect()}
    assert labels <= {"Part"}

    # concepts_related: matches the legacy neighborhood kind's node set
    new = dispatch({"kind": "concepts_related", "concept_id": "C1", "max_depth": 2})
    old = dispatch({"kind": "neighborhood", "start": "C1", "depth": 2})
    assert {x["node_id"] for x in new.nodes.collect()} == {
        x["node_id"] for x in old.nodes.collect()
    }


def test_r10_candidate_conditional_demo(spark):
    """Driver-style compare for the prepared so_conditional_demo row at
    BOTH gate scale factors: all four SO6 condition kinds through the
    real executor (has_results/empty/count_lte taken, count_gte not
    taken), hash-exact against the effective path's SQL — a wrong
    branch changes the result set, so branch selection is graded."""
    import duckdb

    from knowledge_graph_system_spark.operators.setops import (
        so_conditional_demo,
        so_conditional_demo_oracle,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, so_conditional_demo(spark, sf).collect()))
        con = duckdb.connect()
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf}/{t}.parquet')"
            )
        want = sorted(
            map(tuple, con.execute(so_conditional_demo_oracle()).fetchall())
        )
        con.close()
        assert len(got) > 0 and got == want
