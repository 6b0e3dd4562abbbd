"""Plan-quality regression tests: the physical plans ARE the scale
contract, so assert their shape — pushdown reaching the scan, dims
broadcast, top-k without global sort, no cartesian products anywhere."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def specs():
    from knowledge_graph_system_spark.registry import load_all

    return load_all()


def test_q1_pushdown_and_partial_agg(spark, specs):
    plan = _plan(specs["q1_pricing_summary"].fn(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_v1_uses_takeordered_not_sort(spark, specs):
    plan = _plan(specs["v1_vector_search"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort for a top-k


def test_j1_broadcasts_all_dims(spark, specs):
    plan = _plan(specs["j1_evidence_join"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_p8_prunes_embedding_column(spark, ctx):
    # embedding must not be computed when projected away (P8): on the
    # UNCACHED view, Catalyst prunes the whole 16-md5 derivation (the
    # registered query reads the cached view, where the cache-build
    # subtree legitimately shows the md5 exprs without recomputing them)
    from pyspark.sql import functions as F

    from knowledge_graph_system_spark.sources.graph_view import nodes_with_embeddings

    df = (
        nodes_with_embeddings(ctx.tables)
        .filter(F.col("label") == "Supplier")
        .drop("embedding", "name", "weight")
    )
    assert "md5" not in _plan(df)


def test_no_cartesian_products_anywhere(spark, specs):
    """Every registered query must plan without CartesianProduct except
    the allow-listed small crossJoins (query-vector attach, vocab pairs,
    incoming-batch scoring). BroadcastNestedLoopJoin is not checked. A
    row whose build raises is skipped, but the traversal rows below must
    have been planned, not skipped."""
    allowed_nested_loop = {
        # tiny literal side intentionally cross-joined (≤ vocab-size)
        "u4_pruning_recommendations",
        "d_embedding_neardup",  # a<b inequality pair join, bounded 2k vectors
        "ann_brute_topk",
        "ann_ivf_topk",
        "ann_ivf_persisted",
        "a14_tfidf_naming",  # broadcast scalar total attach
        "a15_lifetime_page",  # single-partition page window
        "j5_cross_ontology_affinity",  # scalar totals attach
        "v1_vector_search",
        "f7_centroids",
        "o1_ontology_edges",
        "a11_semantic_diversity",  # a<b inequality pair join, ≤100 neighbors
    }
    must_plan = {"g2_shortest_path", "g4_subgraph", "so_program_demo", "lc_connect_by_search"}
    bad, skipped = [], []
    for name, spec in sorted(specs.items()):
        if name in allowed_nested_loop:
            continue
        try:
            plan = _plan(spec.fn(spark, SF_DIR))
        except Exception:
            skipped.append(name)
            continue  # execution-level queries covered elsewhere
        if re.search(r"CartesianProduct", plan):
            bad.append(name)
    assert not bad, f"unexpected cartesian products in: {bad}"
    assert not must_plan & set(skipped), sorted(must_plan & set(skipped))
    assert must_plan <= set(specs)


def test_skew_naive_is_shuffle_salted_spreads(spark, specs):
    """The skew pair's legs must keep their contrasting physical shapes:
    naive = un-mitigated shuffle join (the hot key serializes one task),
    salted = join key widened with the salt column."""
    naive = _plan(specs["x2_skew_naive_join"].fn(spark, SF_DIR))
    assert "SortMergeJoin" in naive
    assert "BroadcastHashJoin" not in naive  # merge hint must hold
    salted = _plan(specs["x2_skew_salted_join"].fn(spark, SF_DIR))
    assert "_salt" in salted  # spread key reaches the physical join


def test_multimodal_scans_prune_to_two_columns(spark):
    """mapInPandas decode paths must scan only (doc_id, text) — a scan
    reading lang/source/n_chars for a 2-column decode is wrong."""
    from knowledge_graph_system_spark.operators.multimodal import (
        m_audio_decode,
        m_jpeg_decode,
    )

    for q, fn in (("m_jpeg_decode", m_jpeg_decode), ("m_audio_decode", m_audio_decode)):
        plan = _plan(fn(spark, SF_DIR))
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan[:500]
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert cols == {"doc_id", "text"}, (q, cols)


def test_gexf_fragments_plan_shape(spark):
    """s6_gexf_fragments (r10 window row): node/edge fragments are
    pure per-row projections over the cached graph frames — exactly
    one broadcast join (the dimension-sized ontology palette), no
    sort-merge join, no Python, and the only SinglePartition exchange
    feeds the DISTINCT-ontology window (bounded — 36 rows at the gate
    sfs), never the corpus."""
    from knowledge_graph_system_spark.sources.export import s6_gexf_fragments

    plan = _plan(s6_gexf_fragments(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(ontology" in plan  # the tiny dim agg, not the corpus


def test_lsh_candidates_have_no_band_self_join(spark):
    """r7 candidate shape: the bucket cap is a WINDOW count applied
    before any member list exists (WindowExec's spillable buffer is
    the memory guard for degenerate buckets), the capped rows group to
    bounded sorted lists that expand to pairs via an array expression,
    and the groupBy rides the window's partitioning — no SortMergeJoin
    on band and still exactly one band exchange."""
    from knowledge_graph_system_spark.operators.dedup import (
        doc_shingles,
        lsh_candidates,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cand = lsh_candidates(minhash_signatures(doc_shingles(docs)))
    plan = _plan(cand)
    assert "SortMergeJoin" not in plan
    # the cap must sit in a window ABOVE the exchange, not in a
    # post-collect filter: WindowExec present, one band exchange only
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning(band") == 1
