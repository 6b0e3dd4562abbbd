"""Counted-broadcast guards (functions/scale.py:maybe_broadcast).

Three rounds each found one forced broadcast of a data-proportional
frame (r8 IVF tombstones, r9 LM count frames, r10 Cypher shortestPath
frontier), so r10 closed the class with a full-site audit (see
SCALE_NOTES): every remaining data-proportional site now counts before
hinting. Each test pins BOTH halves of the contract, the
tests/test_ann.py::test_tombstone_broadcast_guard pattern:
  1. hint-drop — past the threshold the analyzed plan loses the hint
     (the planner/AQE decides, which is the correct open-data plan);
  2. row identity — the fallback path returns exactly the hinted
     path's rows (the guard changes strategy, never semantics).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _rows(df):
    # key=repr: rows may carry NULLs (e.g. nullable confidence), which
    # plain tuple ordering cannot compare
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_maybe_broadcast_unit(spark):
    from knowledge_graph_system_spark.functions.scale import maybe_broadcast

    df = spark.range(5).toDF("k")
    probe = spark.range(5).toDF("k")
    hinted = probe.join(maybe_broadcast(df, max_rows=10), "k")
    bare = probe.join(maybe_broadcast(df, max_rows=2), "k")
    assert "broadcast" in _analyzed(hinted)
    assert "broadcast" not in _analyzed(bare)
    # a caller-supplied count skips the count job and is honored
    assert "broadcast" in _analyzed(maybe_broadcast(df, 10, n_rows=3))
    assert _rows(hinted) == _rows(bare)


def test_a14_idf_guard(spark, monkeypatch):
    from knowledge_graph_system_spark.operators import aggregates

    hinted = aggregates.a14_tfidf_naming(spark, SF_DIR)
    n_hints = _analyzed(hinted).count("broadcast")
    monkeypatch.setattr(aggregates, "IDF_BROADCAST_MAX", 0)
    bare = aggregates.a14_tfidf_naming(spark, SF_DIR)
    assert _analyzed(bare).count("broadcast") == n_hints - 1
    assert _rows(bare) == _rows(hinted)


def test_bpe_vocab_guard(spark, monkeypatch):
    from knowledge_graph_system_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "aa ab aa"), (2, "ab ba aa aa"), (3, "ba ba")],
        "doc_id long, text string",
    )
    merges = [("a", "a"), ("a", "b")]
    hinted = bpe.bpe_token_counts(docs, merges)
    assert "broadcast" in _analyzed(hinted)
    monkeypatch.setattr(bpe, "VOCAB_BROADCAST_MAX", 0)
    bare = bpe.bpe_token_counts(docs, merges)
    assert "broadcast" not in _analyzed(bare)
    assert _rows(bare) == _rows(hinted)


def test_range_join_band_guard(spark, monkeypatch):
    from knowledge_graph_system_spark.operators import asof

    left = spark.range(200).select((F.col("id") * 3.7).alias("v"))
    bands = spark.createDataFrame(
        [("lo", 0.0, 250.0), ("hi", 250.0, 740.0)], "band string, lo double, hi double"
    )
    hinted = asof.range_join(left, "v", bands, bucket_width=25.0)
    assert "broadcast" in _analyzed(hinted)
    monkeypatch.setattr(asof, "BAND_BROADCAST_MAX", 0)
    bare = asof.range_join(left, "v", bands, bucket_width=25.0)
    assert "broadcast" not in _analyzed(bare)
    assert _rows(bare) == _rows(hinted)


def test_shortest_path_frontier_guard(spark, monkeypatch, spark_step):
    """r11: the Class-C per-hop frontier broadcasts in
    shortest_path_length / shortest_path route through _frontier_side
    (counted, O(V)-worst-case frontier on hub graphs). The hint lives
    on loop-intermediate frames (the functions return materialized
    results), so the pin here is the semantic half: with the bound
    forced to 0 the unhinted path returns identical results, and
    _frontier_side's hint-drop itself is pinned below."""
    from knowledge_graph_system_spark.operators import traversal
    from knowledge_graph_system_spark.registry import Ctx

    edges = Ctx.get(spark, SF_DIR).edges
    hinted_len = _rows(traversal.shortest_path_length(edges, "C1", "S1"))
    hinted_path = traversal.shortest_path(edges, "C1", "S1")
    assert hinted_len and hinted_len[0][2] is not None  # reachable
    assert hinted_path and hinted_path[0] == "C1" and hinted_path[-1] == "S1"
    # hint-drop at the helper level: past the bound the frame is bare
    probe = spark.range(3).toDF("node_id")
    assert "broadcast" in _analyzed(
        probe.join(traversal._frontier_side(probe, 3), "node_id")
    )
    # r18: an UNCOUNTED frame (n=None) must take the shuffle path — the
    # fail-safe default; broadcasting a frame of unknown size is the
    # exact defect class the counted guard exists for
    assert "broadcast" not in _analyzed(
        probe.join(traversal._frontier_side(probe, None), "node_id")
    )
    monkeypatch.setattr(traversal, "_BROADCAST_FRONTIER_MAX", 0)
    assert "broadcast" not in _analyzed(
        probe.join(traversal._frontier_side(probe, 3), "node_id")
    )
    # row identity through the real loops on the fallback path
    assert _rows(traversal.shortest_path_length(edges, "C1", "S1")) == hinted_len
    assert traversal.shortest_path(edges, "C1", "S1") == hinted_path


def test_setops_reach_guards(spark, monkeypatch, spark_step):
    """r11: the path-corridor distance maps (fwd/bwd, O(reach)) and the
    neighborhood/concepts_related node sets go through maybe_broadcast.
    Hint-drop pinned on the returned plans, row identity on both."""
    from knowledge_graph_system_spark.operators import setops
    from knowledge_graph_system_spark.registry import Ctx

    dispatch = setops.make_dispatch(Ctx.get(spark, SF_DIR))
    corridor = {"kind": "path_to", "from_id": "C1", "to_id": "S1"}
    nbhd = {"kind": "neighborhood", "start": "C1", "depth": 2}
    rel = {"kind": "concepts_related", "concept_id": "C1", "max_depth": 2}

    h_cor, h_nb, h_rel = dispatch(corridor), dispatch(nbhd), dispatch(rel)
    counts = {
        "cor_nodes": _analyzed(h_cor.nodes).count("broadcast"),
        "cor_links": _analyzed(h_cor.links).count("broadcast"),
        "nb_nodes": _analyzed(h_nb.nodes).count("broadcast"),
        "rel_nodes": _analyzed(h_rel.nodes).count("broadcast"),
    }
    monkeypatch.setattr(setops, "_REACH_BROADCAST_MAX", 0)
    b_cor, b_nb, b_rel = dispatch(corridor), dispatch(nbhd), dispatch(rel)
    assert _analyzed(b_cor.nodes).count("broadcast") == counts["cor_nodes"] - 1
    assert _analyzed(b_cor.links).count("broadcast") == counts["cor_links"] - 2
    assert _analyzed(b_nb.nodes).count("broadcast") == counts["nb_nodes"] - 1
    assert _analyzed(b_rel.nodes).count("broadcast") == counts["rel_nodes"] - 1
    assert _rows(b_cor.nodes) == _rows(h_cor.nodes)
    assert _rows(b_cor.links) == _rows(h_cor.links)
    assert _rows(b_nb.nodes) == _rows(h_nb.nodes)
    assert _rows(b_rel.nodes) == _rows(h_rel.nodes)
    assert _rows(h_cor.nodes)  # the corridor is non-empty (C1 -> S1)


def test_lc_related_neighborhood_guard(spark, monkeypatch):
    """r11: lc_related's depth-3 BFS neighborhood broadcast is counted
    (same bound as the traversal frontier)."""
    from knowledge_graph_system_spark.operators import lifecycle

    hinted = lifecycle.lc_related(spark, SF_DIR)
    n_hints = _analyzed(hinted).count("broadcast")
    monkeypatch.setattr(lifecycle, "_BROADCAST_FRONTIER_MAX", 0)
    bare = lifecycle.lc_related(spark, SF_DIR)
    assert _analyzed(bare).count("broadcast") == n_hints - 1
    assert _rows(bare) == _rows(hinted)
    assert _rows(hinted)  # non-empty neighborhood


def test_subgraph_and_prune_dangling_guards(spark, monkeypatch, spark_step):
    """r11 sweep: subgraph()'s node-set semi-joins and WorkingGraph's
    dangling-prune semi-joins hint only while counted (node sets are
    O(reach)/O(result))."""
    from knowledge_graph_system_spark.operators import traversal
    from knowledge_graph_system_spark.plans.program import WorkingGraph
    from knowledge_graph_system_spark.registry import Ctx

    ctx = Ctx.get(spark, SF_DIR)
    # checkpointed, as every caller passes it: the plan then shows
    # subgraph's own hints, not the BFS levels' frontier hints
    nset = traversal.bfs(ctx.edges, ["C1"], 2).localCheckpoint(eager=False)
    n_ids = nset.count()
    hinted = traversal.subgraph(ctx.edges, nset, n_ids)
    assert _analyzed(hinted).count("broadcast") >= 2
    wg_h = WorkingGraph(ctx.nodes, ctx.edges)._prune_dangling()
    n_wg_hints = _analyzed(wg_h.links).count("broadcast")
    assert n_wg_hints >= 2
    monkeypatch.setattr(traversal, "_BROADCAST_FRONTIER_MAX", 0)
    bare = traversal.subgraph(ctx.edges, nset, n_ids)
    assert "broadcast" not in _analyzed(bare)
    wg_b = WorkingGraph(ctx.nodes, ctx.edges)._prune_dangling()
    assert _analyzed(wg_b.links).count("broadcast") == n_wg_hints - 2
    assert _rows(bare) == _rows(hinted) and _rows(bare)
    assert _rows(wg_b.links) == _rows(wg_h.links) and _rows(wg_b.links)


def test_hydrate_ids_node_guard(spark, monkeypatch):
    """r11 sweep: hydrate_ids broadcast the FULL node table (O(V), the
    build side of its left join) unconditionally — now counted."""
    from knowledge_graph_system_spark.operators import joins
    from knowledge_graph_system_spark.registry import Ctx

    ctx = Ctx.get(spark, SF_DIR)
    ids = spark.createDataFrame(
        [("C1",), ("P1",), ("nosuch",)], "node_id string"
    )
    hinted = joins.hydrate_ids(ctx.nodes, ids)
    assert "broadcast" in _analyzed(hinted)
    monkeypatch.setattr(joins, "NODE_HYDRATE_BROADCAST_MAX", 0)
    bare = joins.hydrate_ids(ctx.nodes, ids)
    assert "broadcast" not in _analyzed(bare)
    assert _rows(bare) == _rows(hinted)
    assert len(_rows(hinted)) == 3  # unresolved id kept with NULLs


def test_contamination_eval_gram_guard(spark, monkeypatch):
    """r11: contamination_check's eval-gram side is counted, not forced
    — distinct (eval_id, gram) rows grow with the eval set (the one
    forced data-proportional hint the r10 audit missed)."""
    from pyspark.sql import functions as F2

    from knowledge_graph_system_spark.operators import curation

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = docs.filter(F2.col("doc_id") % 25 == 0)
    tr = docs.filter(F2.col("doc_id") % 25 != 0)
    hinted = curation.contamination_check(tr, ev)
    assert "broadcast" in _analyzed(hinted)
    monkeypatch.setattr(curation, "EVAL_GRAM_BROADCAST_MAX", 0)
    bare = curation.contamination_check(tr, ev)
    assert "broadcast" not in _analyzed(bare)
    assert _rows(bare) == _rows(hinted)
    assert _rows(hinted)  # the fixture split really collides


def test_vocab_guard_fires_on_data(spark):
    """r11: one guard fallback exercised ORGANICALLY (VERDICT r10
    'fixture headroom' note — the sf1 fixture's 31-word vocabulary can
    never trip a bound, so until now every hint-drop was forced by
    monkeypatching the bound to 0). A generated high-entropy corpus
    (1,200 docs x 1,000 md5 words = 1.2M distinct words >
    VOCAB_BROADCAST_MAX) makes bpe_token_counts drop the vocab
    broadcast hint on real data; an empty merge table keeps the fold
    chain trivial so the test pins the guard, not BPE arithmetic."""
    from pyspark.sql import functions as F2

    from knowledge_graph_system_spark.operators import bpe

    assert bpe.VOCAB_BROADCAST_MAX == 1_000_000  # the bound this trips
    docs = (
        spark.range(1200)
        .select(
            F2.col("id").alias("doc_id"),
            F2.expr(
                "array_join(transform(sequence(0, 999),"
                " i -> md5(concat(cast(id as string), ':', cast(i as string)))), ' ')"
            ).alias("text"),
        )
    )
    out = bpe.bpe_token_counts(docs, merges=[])
    # hint dropped on data: past the bound the analyzed plan is bare
    assert "broadcast" not in _analyzed(out)
    rows = out.collect()
    assert len(rows) == 1200
    # md5 words never repeat and split('') segments to 32 chars each
    assert all(r["n_words"] == 1000 and r["n_bpe_tokens"] == 32_000 for r in rows)
    # the same operator under the bound keeps the hint (control leg)
    small = docs.limit(2)
    assert "broadcast" in _analyzed(bpe.bpe_token_counts(small, merges=[]))


def test_annealing_moved_guard(spark, monkeypatch):
    from knowledge_graph_system_spark.operators import annealing

    hinted = annealing.execute_proposals(spark, SF_DIR)
    n_hints = _analyzed(hinted).count("broadcast")
    monkeypatch.setattr(annealing, "MOVED_BROADCAST_MAX", 0)
    bare = annealing.execute_proposals(spark, SF_DIR)
    assert _analyzed(bare).count("broadcast") == n_hints - 1
    assert _rows(bare) == _rows(hinted)


def test_dispatch_degree_guards(spark, monkeypatch):
    """r12 (VERDICT r11 wrong #3): the two dispatch-path
    degree-proportional frames — search_sources' linked-neighbor set
    (O(Σ degree) of the matched sources) and concepts_details' endpoint
    set (one concept's full out-neighborhood) — are counted. Since r13
    the bounded top-k hits hint inside search_sources ALSO routes
    through maybe_broadcast (with the by-construction limit as n_rows,
    so no extra count job — VERDICT r12 next #7), so zeroing the bound
    now drops BOTH search_sources hints."""
    from knowledge_graph_system_spark.operators import setops
    from knowledge_graph_system_spark.registry import Ctx

    dispatch = setops.make_dispatch(Ctx.get(spark, SF_DIR))
    ss = {"kind": "search_sources", "query": "query:so",
          "min_similarity": 0.3, "limit": 5}
    cd = {"kind": "concepts_details", "concept_id": "C1"}

    h_ss, h_cd = dispatch(ss), dispatch(cd)
    n_ss = _analyzed(h_ss.nodes).count("broadcast")
    n_cd = _analyzed(h_cd.nodes).count("broadcast")
    # r17: dispatch eagerly checkpoints the linked/endpoint frames (one
    # corpus-plan evaluation instead of two), which truncates the inner
    # hits hint out of the RETURNED lineage — so the returned plan
    # carries exactly one guard hint, and the r13 hits-hint guard is
    # pinned on the pre-checkpoint builder below.
    ctx = Ctx.get(spark, SF_DIR)
    dummy_hits = ctx.nodes.limit(1)
    assert _analyzed(
        setops._search_sources_linked(ctx, dummy_hits, 5)
    ).count("broadcast") == 1
    monkeypatch.setattr(setops, "_REACH_BROADCAST_MAX", 0)
    b_ss, b_cd = dispatch(ss), dispatch(cd)
    assert _analyzed(b_ss.nodes).count("broadcast") == n_ss - 1
    assert _analyzed(b_cd.nodes).count("broadcast") == n_cd - 1
    assert (
        _analyzed(
            setops._search_sources_linked(ctx, dummy_hits, 5)
        ).count("broadcast")
        == 0
    )
    assert _rows(b_ss.nodes) == _rows(h_ss.nodes)
    assert _rows(b_cd.nodes) == _rows(h_cd.nodes)
    assert _rows(h_cd.nodes)  # C1 has out-edges; the set is non-empty


def test_blocks_result_ids_guard(spark, monkeypatch, spark_step):
    """r12 (VERDICT r11 next #4, the deferred twin): the block
    compiler's terminal link semi-joins broadcast the program's full
    result-node set — O(V) for a match-all program — now one
    checkpointed count guards BOTH semi-joins."""
    from knowledge_graph_system_spark.operators import setops
    from knowledge_graph_system_spark.plans import blocks
    from knowledge_graph_system_spark.registry import Ctx

    ctx = Ctx.get(spark, SF_DIR)
    demo = [
        {"type": "start"},
        {"type": "selectConcept", "params": {"concept_id": "C1"}},
        {"type": "neighborhood", "params": {"concept_id": "C1", "depth": 2}},
    ]
    h_nodes, h_links = blocks.run_blocks(ctx, demo)
    n_hints = _analyzed(h_links).count("broadcast")
    monkeypatch.setattr(setops, "_REACH_BROADCAST_MAX", 0)
    b_nodes, b_links = blocks.run_blocks(ctx, demo)
    assert _analyzed(b_links).count("broadcast") == n_hints - 2
    assert _rows(b_links) == _rows(h_links)
    assert _rows(b_nodes) == _rows(h_nodes)
    assert _rows(h_nodes)  # the neighborhood is non-empty
