"""Traversal invariants from FIXTURES.md's cheatsheet (the rules the
reference itself enforces, `graph-accel/docs/DESIGN.md:279-283`,
`benchmark-findings.md:171-208`)."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from knowledge_graph_system_spark.operators.traversal import (
    bfs,
    bfs_paths,
    degrees,
    directed_edges,
    enumerate_paths,
    shortest_path,
    shortest_path_length,
    subgraph,
)

START = "C1"


def test_depth1_equals_single_join(ctx):
    via_bfs = {
        r["node_id"]
        for r in bfs(ctx.edges, [START], 1).filter(F.col("dist") == 1).collect()
    }
    via_join = {
        r["dst"] for r in ctx.edges.filter(F.col("src") == START).select("dst").collect()
    }
    assert via_bfs == via_join


def test_out_union_in_equals_both(ctx):
    out_n = {r["node_id"] for r in bfs(ctx.edges, [START], 2, "out").collect()}
    in_n = {r["node_id"] for r in bfs(ctx.edges, [START], 2, "in").collect()}
    both = {r["node_id"] for r in bfs(ctx.edges, [START], 2, "both").collect()}
    # both-direction BFS can reach more (mixed-direction paths), never less
    assert (out_n | in_n) <= both


def test_confidence_filter_monotonic(ctx):
    lo = {r["node_id"] for r in bfs(ctx.edges, [START], 2, min_confidence=0.3).collect()}
    hi = {r["node_id"] for r in bfs(ctx.edges, [START], 2, min_confidence=0.9).collect()}
    assert hi <= lo


def test_null_confidence_passes(ctx):
    kept = directed_edges(ctx.edges, "out", min_confidence=0.99)
    assert kept.filter(F.col("src").isNull()).count() == 0
    nulls_before = ctx.edges.filter(F.col("confidence").isNull()).count()
    nulls_after = (
        ctx.edges.filter((F.col("confidence") >= 0.99) | F.col("confidence").isNull())
        .filter(F.col("confidence").isNull())
        .count()
    )
    assert nulls_before == nulls_after > 0


def test_shortest_path_matches_bfs_dist(ctx):
    sp = shortest_path_length(ctx.edges, START, "S1", max_hops=6).collect()
    via_bfs = (
        bfs(ctx.edges, [START], 6).filter(F.col("node_id") == "S1").collect()
    )
    assert sp and via_bfs and sp[0]["dist"] == via_bfs[0]["dist"]


def test_k_shortest_sorted_and_simple(ctx):
    paths = enumerate_paths(ctx.edges, START, "S1", max_hops=4, k=5).collect()
    assert paths
    hops = [p["hops"] for p in paths]
    assert hops == sorted(hops)
    for p in paths:
        seq = p["path"].split(">")
        assert len(seq) == len(set(seq)), "path must be simple (no repeated node)"
        assert seq[0] == START and seq[-1] == "S1"


def test_subgraph_endpoints_inside_node_set(ctx, spark):
    nset = bfs(ctx.edges, [START], 2)
    sub = subgraph(ctx.edges, nset, nset.count())
    ids = {r["node_id"] for r in nset.collect()}
    for e in sub.collect():
        assert e["src"] in ids and e["dst"] in ids


def test_degrees_sum_to_edge_count(ctx):
    d = degrees(ctx.edges)
    total = d.agg(F.sum("out_degree").alias("o"), F.sum("in_degree").alias("i")).collect()[0]
    n_edges = ctx.edges.count()
    assert total["o"] == n_edges == total["i"]


def test_shortest_path_reconstruction(ctx):
    from knowledge_graph_system_spark.operators.traversal import shortest_path

    path = shortest_path(ctx.edges, START, "S1", max_hops=6)
    assert path and path[0] == START and path[-1] == "S1"
    # every consecutive pair must be a real edge
    edge_set = {(r["src"], r["dst"]) for r in ctx.edges.select("src", "dst").collect()}
    for a, b in zip(path, path[1:]):
        assert (a, b) in edge_set
    # length consistent with the BFS distance
    dist = shortest_path_length(ctx.edges, START, "S1", max_hops=6).collect()[0]["dist"]
    assert len(path) == dist + 1
    # unreachable / nonexistent target → empty
    assert shortest_path(ctx.edges, START, "ZZ-missing", max_hops=3) == []


def test_yen_matches_bounded_enumeration(ctx):
    from knowledge_graph_system_spark.operators.traversal import yen_k_shortest

    yen = yen_k_shortest(ctx.edges, START, "S1", k=4, max_hops=4)
    enum = [
        p["path"].split(">")
        for p in enumerate_paths(ctx.edges, START, "S1", max_hops=4, k=4).collect()
    ]
    # identical length profile (the k-shortest guarantee); tie order among
    # equal-length paths is implementation-defined in Yen's, so exact path
    # equality only holds per length class, not positionally
    assert [len(p) for p in yen] == [len(p) for p in enum]
    # every Yen path is a real, simple path in the graph
    edge_set = {(r["src"], r["dst"]) for r in ctx.edges.select("src", "dst").collect()}
    assert len({tuple(p) for p in yen}) == len(yen)
    for p in yen:
        assert p[0] == START and p[-1] == "S1" and len(set(p)) == len(p)
        for a, b in zip(p, p[1:]):
            assert (a, b) in edge_set
    # the shortest path (unique length class of size guaranteed) agrees
    assert len(yen[0]) == len(enum[0])


def test_shortest_path_same_node_is_distance_zero(ctx):
    from knowledge_graph_system_spark.operators.traversal import (
        shortest_path,
        shortest_path_length,
    )

    rows = shortest_path_length(ctx.edges, "C1", "C1").collect()
    assert [(r["src"], r["dst"], r["dist"]) for r in rows] == [("C1", "C1", 0)]
    assert shortest_path(ctx.edges, "C1", "C1") == ["C1"]


def test_bfs_paths_deterministic_choice(spark):
    from knowledge_graph_system_spark.operators.traversal import bfs_paths

    edges = spark.createDataFrame(
        [
            ("A", "B", "r1", 0.9),
            ("A", "B", "r0", 0.5),   # parallel edge: r0 < r1 wins
            ("A", "C", "r2", 0.8),
            ("B", "D", "r3", 0.7),
            ("C", "D", "r4", 0.6),   # D reachable two ways: via-B key wins (r0 < r2)
            ("D", "E", "r5", 0.4),
            ("E", "A", "r9", 0.1),   # cycle back — must not revisit
        ],
        "src string, dst string, rel_type string, confidence double",
    )
    out = {
        r["node_id"]: (r["dist"], r["path_types"], r["path_dirs"])
        for r in bfs_paths(edges, ["A"], 4).collect()
    }
    assert out == {
        "A": (0, "", ""),
        "B": (1, "r0", "O"),
        "C": (1, "r2", "O"),
        "D": (2, "r0>r3", "OO"),
        "E": (3, "r0>r3>r5", "OOO"),
    }


def test_bfs_paths_dist_matches_bfs(ctx):
    from knowledge_graph_system_spark.operators.traversal import bfs, bfs_paths

    plain = {(r["node_id"], r["dist"]) for r in bfs(ctx.edges, [START], 3).collect()}
    with_paths = {
        (r["node_id"], r["dist"]) for r in bfs_paths(ctx.edges, [START], 3).collect()
    }
    assert plain == with_paths


def test_enumerate_paths_beam_bounded(ctx):
    from knowledge_graph_system_spark.operators.traversal import (
        _PATH_BEAM_CAP,
        enumerate_paths,
    )

    # fixture never hits the cap → registered g3 is exact vs its oracle
    counts = []
    full = enumerate_paths(
        ctx.edges, START, "S1", max_hops=4, k=5, level_counts=counts
    ).collect()
    assert counts and all(c < _PATH_BEAM_CAP for c in counts)

    # with a deliberately tiny cap, per-level growth is bounded by
    # cap × max-out-degree (no exponential blowup), and top-k still comes
    # back ordered
    tiny_counts = []
    tiny = enumerate_paths(
        ctx.edges, START, "S1", max_hops=4, k=5, per_level_cap=5,
        level_counts=tiny_counts,
    ).collect()
    maxdeg = (
        ctx.edges.groupBy("src").count().agg(F.max("count").alias("m")).collect()[0]["m"]
    )
    assert all(c <= 5 * maxdeg for c in tiny_counts)
    assert [r["hops"] for r in tiny] == sorted(r["hops"] for r in tiny)


def _python_fed_scans(df) -> list[str]:
    """RDD scans in `df`'s physical plan, broadcast sides included, whose
    RDD is computed by a Python worker (a `createDataFrame` over a
    Python RDD). Checkpointed levels are RDD scans too, so the plan
    string alone cannot tell the two apart; the RDD lineage can."""
    found, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name == "ReusedExchange":
            todo.append(node.child())
        elif name.startswith("Scan ExistingRDD") and "PythonRDD" in node.rdd().toDebugString():
            found.append(name)
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return found


def _run_in_group(sc, gid: str, fn):
    """Run `fn` with its Spark jobs in job group `gid` → (result, job ids)."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, sc.statusTracker().getJobIdsForGroup(gid)


def test_traversal_plans_have_no_python_fed_scan(ctx, monkeypatch, spark_step):
    """Seed, visited and result frames are JVM local relations
    (`local_df`): no level plan nor returned plan of bfs,
    shortest_path_length or enumerate_paths scans a Python-fed RDD."""
    DataFrame = type(ctx.edges)
    checkpoint = DataFrame.localCheckpoint
    bad: list[tuple[str, str]] = []

    def spy(self, *args, **kwargs):
        bad.extend(("level", s) for s in _python_fed_scans(self))
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    for name, df in (
        ("bfs", bfs(ctx.edges, [START], 2)),
        ("shortest_path_length", shortest_path_length(ctx.edges, START, "S1")),
        ("enumerate_paths", enumerate_paths(ctx.edges, START, "S1", max_hops=3)),
    ):
        bad.extend((name, s) for s in _python_fed_scans(df))
        assert df.collect()
    assert not bad, bad


def test_depth1_bfs_broadcasts_its_seed_once(ctx, spark_step):
    """A warm depth-1 bfs broadcasts its 1-row seed at most once: the
    frontier and visited sides are the same local relation, so the
    second broadcast is a ReusedExchange."""
    sc = ctx.spark.sparkContext
    run = lambda: bfs(ctx.edges, [START], 1).collect()  # noqa: E731
    run()
    rows, jobs = _run_in_group(sc, "test-bfs-depth1", run)
    assert rows
    st = sc.statusTracker()
    one_task = [
        j for j in jobs
        if [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds] == [1]
    ]
    assert len(one_task) <= 1, (jobs, one_task)


def test_path_to_same_node_runs_no_expansion(ctx, monkeypatch):
    """`bfs(stop_at=...)` with the target among the seeds returns the
    seeds (distance 0) without expanding a level: a path_to corridor
    from a node to itself runs no forward-wave job, and its rows equal
    those of the full forward wave."""
    from knowledge_graph_system_spark.operators import setops, traversal

    sc = ctx.spark.sparkContext
    real_bfs = traversal.bfs
    fwd_jobs: list[int] = []

    def probed(*args, **kwargs):
        if kwargs.get("stop_at") is None:
            return real_bfs(*args, **kwargs)
        out, jobs = _run_in_group(sc, "test-path-to-self-fwd", lambda: real_bfs(*args, **kwargs))
        fwd_jobs.extend(jobs)
        return out

    def full_wave(*args, stop_at=None, **kwargs):
        return real_bfs(*args, **kwargs)

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    dispatch = setops.make_dispatch(ctx)
    same = {"kind": "path_to", "from_id": START, "to_id": START}
    monkeypatch.setattr(traversal, "bfs", probed)
    fast = dispatch(same)
    assert fwd_jobs == []
    monkeypatch.setattr(traversal, "bfs", full_wave)
    full = dispatch(same)
    assert rows(fast.nodes) == rows(full.nodes)
    assert rows(fast.links) == rows(full.links)
    assert {r["node_id"] for r in fast.nodes.collect()} == {START}


def _dispatch_nodes(ctx, source: dict):
    from knowledge_graph_system_spark.operators import setops

    return setops.make_dispatch(ctx)(source).nodes


# (id, call, jobs of the per-loop traversal code this module replaced:
# warm call, own job group, sf0.001, local[8]; identical at sf0.01 on
# local[4]). These pin the Spark step (`spark_step`); the local step runs
# no job until its result is read (`test_local_step_job_ceiling`). Dispatch kinds are measured through `nodes.collect()`;
# their ceilings are two jobs lower since `subgraph` takes the node-set
# count its caller already holds instead of counting the set again.
_JOB_CEILINGS = [
    ("bfs-C1-out-d2", lambda c: bfs(c.edges, [START], 2), 8),
    ("bfs-P1-both-d1", lambda c: bfs(c.edges, ["P1"], 1, direction="both"), 3),
    ("bfs-C1-out-d3", lambda c: bfs(c.edges, [START], 3), 13),
    ("bfs-C1-out-d6", lambda c: bfs(c.edges, [START], 6), 19),
    ("bfs-C1-out-d6-stop-S1", lambda c: bfs(c.edges, [START], 6, stop_at="S1"), 15),
    ("bfs_paths-C1-out-d3", lambda c: bfs_paths(c.edges, [START], 3), 14),
    (
        "bfs_paths-S1-both-d2-conf",
        lambda c: bfs_paths(c.edges, ["S1"], 2, direction="both", min_confidence=0.5),
        9,
    ),
    ("spl-C1-S1-6", lambda c: shortest_path_length(c.edges, START, "S1", 6), 14),
    ("spl-C1-S1-2-miss", lambda c: shortest_path_length(c.edges, START, "S1", 2), 9),
    ("shortest_path-C1-S1", lambda c: shortest_path(c.edges, START, "S1"), 18),
    (
        "path_to-C1-S1",
        lambda c: _dispatch_nodes(c, {"kind": "path_to", "from_id": START, "to_id": "S1"}),
        41,
    ),
    (
        "neighborhood-C1-d2",
        lambda c: _dispatch_nodes(c, {"kind": "neighborhood", "start": START, "depth": 2}),
        12,
    ),
    (
        "concepts_related-C1-d2",
        lambda c: _dispatch_nodes(
            c, {"kind": "concepts_related", "concept_id": START, "max_depth": 2}
        ),
        12,
    ),
]


@pytest.mark.parametrize(
    "gid,call,ceiling", _JOB_CEILINGS, ids=[gid for gid, _, _ in _JOB_CEILINGS]
)
def test_traversal_job_count_ceiling(ctx, gid, call, ceiling, spark_step):
    """A warm traversal call runs no more Spark jobs than the hand-rolled
    level loops did before they shared `_expand`, and returns the same
    rows as its cold call."""

    def run():
        out = call(ctx)
        return out if isinstance(out, list) else sorted(map(tuple, out.collect()))

    cold = run()
    warm, jobs = _run_in_group(ctx.spark.sparkContext, f"test-jobs-{gid}", run)
    assert warm == cold
    assert len(jobs) <= ceiling, (len(jobs), jobs)


def test_target_at_exactly_max_hops(ctx, spark_step):
    """S1 is 3 hops from C1. shortest_path_length and shortest_path
    probe the level at exactly max_hops (in as many jobs as a wave with
    hops to spare), so they find S1 at max_hops=3 and nothing at 2; a
    `stop_at` on bfs's final level leaves its rows unchanged."""
    sc = ctx.spark.sparkContext
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(shortest_path_length(ctx.edges, START, "S1", 3)) == [(START, "S1", 3)]
    assert rows(shortest_path_length(ctx.edges, START, "S1", 2)) == []
    path3 = shortest_path(ctx.edges, START, "S1", 3)
    assert len(path3) == 4 and path3[0] == START and path3[-1] == "S1"
    assert shortest_path(ctx.edges, START, "S1", 2) == []
    _, jobs3 = _run_in_group(sc, "test-spl-hops3", lambda: shortest_path(ctx.edges, START, "S1", 3))
    _, jobs6 = _run_in_group(sc, "test-spl-hops6", lambda: shortest_path(ctx.edges, START, "S1", 6))
    assert len(jobs3) == len(jobs6)
    assert rows(bfs(ctx.edges, [START], 3, stop_at="S1")) == rows(bfs(ctx.edges, [START], 3))


def test_local_step_job_ceiling(ctx, local_step):
    """A warm depth-2 bfs on the driver-local CSR, collected, runs at most
    one Spark job: the levels are numpy, the result one LocalTableScan."""

    def run():
        return bfs(ctx.edges, [START], 2).collect()

    cold = run()
    warm, jobs = _run_in_group(ctx.spark.sparkContext, "test-jobs-local-bfs", run)
    assert sorted(map(tuple, warm)) == sorted(map(tuple, cold)) and len(warm) > 1
    assert len(jobs) <= 1, jobs


# (id, call, whether the local run has a local step) through both steps:
# every job-ceiling call, the max_hops edge shapes and the cases where
# the two steps could part: directions, filters, seeds and targets.
_MISSING = "ZZ-missing"
_PARITY = [(gid, call, not gid.startswith("bfs_paths")) for gid, call, _ in _JOB_CEILINGS] + [
    ("spl-C1-S1-3", lambda c: shortest_path_length(c.edges, START, "S1", 3), True),
    ("spl-C1-S1-2", lambda c: shortest_path_length(c.edges, START, "S1", 2), True),
    ("shortest_path-C1-S1-3", lambda c: shortest_path(c.edges, START, "S1", 3), True),
    ("shortest_path-C1-S1-2", lambda c: shortest_path(c.edges, START, "S1", 2), True),
    ("bfs-C1-out-d3-stop-S1", lambda c: bfs(c.edges, [START], 3, stop_at="S1"), True),
    ("bfs-C1-out-d3-stop-seed", lambda c: bfs(c.edges, [START], 3, stop_at=START), False),
    ("bfs-S1-in-d3", lambda c: bfs(c.edges, ["S1"], 3, direction="in"), True),
    ("bfs-P1-both-d2", lambda c: bfs(c.edges, ["P1"], 2, direction="both"), True),
    (
        "bfs-C1-both-d3-conf",
        lambda c: bfs(c.edges, [START], 3, direction="both", min_confidence=0.5),
        True,
    ),
    # only NULL-confidence edges pass 1.01
    ("bfs-S1-in-d2-null-conf", lambda c: bfs(c.edges, ["S1"], 2, "in", min_confidence=1.01), True),
    ("bfs-C1-rel-types", lambda c: bfs(c.edges, [START], 3, rel_types=["PLACED", "L1", "L4"]), True),
    ("bfs-C1-rel-types-none", lambda c: bfs(c.edges, [START], 3, rel_types=["NO_SUCH"]), True),
    ("bfs-duplicate-seeds", lambda c: bfs(c.edges, [START, START, "P1"], 2), True),
    ("bfs-missing-seed", lambda c: bfs(c.edges, [_MISSING, START], 2), True),
    ("bfs-missing-stop", lambda c: bfs(c.edges, [START], 2, stop_at=_MISSING), True),
    ("spl-missing-src", lambda c: shortest_path_length(c.edges, _MISSING, "S1", 3), True),
    ("shortest_path-missing-dst", lambda c: shortest_path(c.edges, START, _MISSING, 3), True),
    ("shortest_path-S1-C1-in", lambda c: shortest_path(c.edges, "S1", START, 6, "in"), True),
    ("shortest_path-P1-P2-both", lambda c: shortest_path(c.edges, "P1", "P2", 4, "both"), True),
]


def _run_steps(monkeypatch, call):
    """`call()` under the local bound and under the Spark one →
    {step: (rows, schema, wave classes `_expand` ran)}."""
    from knowledge_graph_system_spark.operators import traversal

    waves: list[str] = []
    expand = traversal._expand

    def spy(wave, *args, **kwargs):
        waves.append(type(wave).__name__)
        return expand(wave, *args, **kwargs)

    monkeypatch.setattr(traversal, "_expand", spy)
    out = {}
    for step, bytes_per_edge in (("local", 1), ("spark", 2**62)):
        monkeypatch.setattr(traversal, "_CSR_BYTES_PER_EDGE", bytes_per_edge)
        waves.clear()
        res = call()
        if isinstance(res, list):
            out[step] = (res, None, set(waves))
        else:
            rows = sorted((tuple(r) for r in res.collect()), key=repr)
            out[step] = (rows, res.schema, set(waves))
    return out


@pytest.mark.parametrize("gid,call,local", _PARITY, ids=[gid for gid, _, _ in _PARITY])
def test_steps_return_equal_rows(ctx, monkeypatch, gid, call, local):
    """The local and the Spark step return the same rows, with the same
    schema, for every traversal shape; the bound really picks the step."""
    out = _run_steps(monkeypatch, lambda: call(ctx))
    assert out["local"][:2] == out["spark"][:2]
    assert "_LocalWave" not in out["spark"][2]
    assert ("_LocalWave" in out["local"][2]) == local, out["local"][2]
    if gid == "bfs-S1-in-d2-null-conf":
        assert len(out["local"][0]) > 1  # NULL-confidence edges were followed


def test_shortest_path_parent_tie_in_string_order(spark, monkeypatch):
    """Z has two parents at depth 1; Spark's min(src) picks 'C10' (string
    order), not 'C9' (numeric order) nor the first-seen edge, and so does
    the local step's sorted dictionary."""
    from knowledge_graph_system_spark.registry import Ctx

    edges = spark.createDataFrame(
        [
            ("A", "C9", "r", 1.0),
            ("A", "C10", "r", 1.0),
            ("C9", "Z", "r", None),
            ("C10", "Z", "r", 0.5),
        ],
        "src string, dst string, rel_type string, confidence double",
    )
    ctx = Ctx.__new__(Ctx)
    ctx.spark, ctx._edges, ctx._view_lock = spark, edges, threading.Lock()
    monkeypatch.setitem(Ctx._cache, ("test-tie", id(edges)), ctx)
    out = _run_steps(monkeypatch, lambda: shortest_path(edges, "A", "Z", 3))
    assert out["local"][0] == out["spark"][0] == ["A", "C10", "Z"]
    assert out["local"][2] == {"_LocalWave"} and out["spark"][2] == {"_SparkWave"}


def test_concurrent_first_traversals_build_one_csr(spark, monkeypatch, local_step):
    """Program statements may traverse concurrently: racing first
    traversals of a fresh context build its CSR once and agree."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from knowledge_graph_system_spark.operators import traversal
    from knowledge_graph_system_spark.registry import Ctx
    from tests.conftest import SF_DIR

    ctx = Ctx(spark, SF_DIR)
    monkeypatch.setitem(Ctx._cache, ("test-race", SF_DIR), ctx)
    builds = []
    from_arrow = traversal.Csr.from_arrow.__func__

    def counted(cls, table):
        builds.append(1)
        return from_arrow(cls, table)

    monkeypatch.setattr(traversal.Csr, "from_arrow", classmethod(counted))
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(lambda: bfs(ctx.edges, [START], 2).collect()) for _ in range(8)]
            results = [sorted(map(tuple, f.result(timeout=300))) for f in futures]
    finally:
        sys.setswitchinterval(switch)
        ctx.edges.unpersist()
    assert builds == [1]
    assert all(r == results[0] for r in results) and len(results[0]) > 1
