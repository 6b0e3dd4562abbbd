"""Cypher-subset front end: compilation semantics + rejection rules
(the reference's cypher_guard test model, V010-V016/V030)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from knowledge_graph_system_spark.plans.cypher import (
    check_cypher_safety,
    compile_cypher,
)
from knowledge_graph_system_spark.plans.guard import GuardError
from knowledge_graph_system_spark.registry import Ctx
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def cctx(spark):
    return Ctx.get(spark, SF_DIR)


def test_single_node_label_and_prop(spark, cctx):
    out = compile_cypher(
        cctx, "MATCH (n:Customer {ontology: 'BUILDING'}) RETURN n.node_id AS id"
    )
    expect = (
        cctx.nodes.filter((F.col("label") == "Customer") & (F.col("ontology") == "BUILDING"))
        .select(F.col("node_id").alias("id"))
    )
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in expect.collect()
    )


def test_one_hop_directed_matches_join(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer)-[r:PLACED]->(o:Order) "
        "RETURN c.node_id AS c_id, o.node_id AS o_id",
    )
    expect = (
        cctx.edges.filter(F.col("rel_type") == "PLACED")
        .select(F.col("src").alias("c_id"), F.col("dst").alias("o_id"))
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expect.collect()))


def test_undirected_binds_both_ways(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (a {node_id: 'C1'})-[:PLACED]-(b) RETURN b.node_id AS b_id",
    )
    # C1 only has outgoing PLACED edges; undirected must still find them
    expect = cctx.edges.filter(
        (F.col("rel_type") == "PLACED") & (F.col("src") == "C1")
    ).select("dst")
    assert sorted(r["b_id"] for r in out.collect()) == sorted(
        r["dst"] for r in expect.collect()
    )


def test_where_and_order_limit(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (n:Part) WHERE n.weight > 1500 AND n.ontology <> 'Brand#45' "
        "RETURN n.node_id AS id, n.weight AS w ORDER BY n.weight DESC, n.node_id LIMIT 5",
    ).collect()
    expect = (
        cctx.nodes.filter(
            (F.col("label") == "Part")
            & (F.col("weight") > 1500)
            & (F.col("ontology") != "Brand#45")
        )
        .orderBy(F.col("weight").desc(), "node_id")
        .limit(5)
        .select(F.col("node_id").alias("id"), F.col("weight").alias("w"))
        .collect()
    )
    assert [tuple(r) for r in out] == [tuple(r) for r in expect]


def test_implicit_grouping_count(spark, cctx):
    out = {
        (r["seg"], r["n"])
        for r in compile_cypher(
            cctx, "MATCH (c:Customer) RETURN c.ontology AS seg, count(*) AS n"
        ).collect()
    }
    expect = {
        (r["ontology"], r["cnt"])
        for r in cctx.nodes.filter(F.col("label") == "Customer")
        .groupBy("ontology")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert out == expect


def test_varlen_path_multiplicity(spark, cctx):
    out = compile_cypher(
        cctx, "MATCH (c {node_id: 'C1'})-[*1..2]->(x) RETURN x.node_id AS id"
    )
    e = cctx.edges.select("src", "dst")
    hop1 = e.filter(F.col("src") == "C1").select("dst")
    hop2 = (
        e.filter(F.col("src") == "C1")
        .select(F.col("dst").alias("mid"))
        .join(e, F.col("mid") == F.col("src"))
        .select("dst")
    )
    expect = hop1.unionByName(hop2)
    # one row per PATH, not per distinct endpoint
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["dst"] for r in expect.collect()
    )


def test_edge_var_confidence_filter(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (o:Order)-[r:L0]->(p:Part) WHERE r.confidence >= 0.3 "
        "RETURN o.node_id AS o_id, p.node_id AS p_id",
    )
    expect = cctx.edges.filter(
        (F.col("rel_type") == "L0") & (F.col("confidence") >= 0.3)
    ).select(F.col("src").alias("o_id"), F.col("dst").alias("p_id"))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expect.collect()))


@pytest.mark.parametrize(
    "bad,msg",
    [
        ("CREATE (n:X) RETURN n.node_id", "V010"),
        ("MATCH (n) DELETE n", "V010"),
        ("MATCH (n) SET n.weight = 1 RETURN n.node_id", "V010"),
        ("MATCH (n) DETACH DELETE n", "V010"),
        ("MATCH (a)-[*]->(b) RETURN a.node_id", "V030"),
        ("MATCH (a)-[*1..]->(b) RETURN a.node_id", "V030"),
        ("MATCH (a)-[*1..99]->(b) RETURN a.node_id", "V030"),
        ("MATCH (n) RETURN n.node_id; MATCH (m) RETURN m.node_id", "multi-statement"),
        ("MATCH (n) CALL db.labels() RETURN n.node_id", "unsupported"),
    ],
)
def test_rejections(bad, msg):
    with pytest.raises(GuardError, match=msg):
        check_cypher_safety(bad)


@pytest.mark.parametrize(
    "bad,msg",
    [
        # OPTIONAL MATCH / WITH pass the guard but have structural rules
        ("OPTIONAL MATCH (n) RETURN n.node_id", "must start with MATCH"),
        ("MATCH (a) MATCH (b) RETURN a.node_id", "share a node variable"),
        ("MATCH (a) OPTIONAL MATCH (b:Order) RETURN a.node_id", "share a node"),
        ("MATCH (a)-[]->(a) RETURN a.node_id", "within one pattern"),
        ("MATCH (c:Customer) WITH count(c.node_id) RETURN 1", "alias"),
        ("MATCH (c) UNWIND [1,2] RETURN c.node_id", "AS alias"),
        ("MATCH (c) UNWIND [1,2] AS c RETURN c.node_id", "duplicate variable"),
        ("UNWIND prios AS p RETURN p", "preceding clause"),
        ("MATCH (c) RETURN avg(DISTINCT c.weight)", "not supported"),
        (
            "MATCH (c:Customer) RETURN DISTINCT c.ontology AS s ORDER BY c.weight",
            "returned alias",
        ),
    ],
)
def test_structural_rejections(cctx, bad, msg):
    with pytest.raises(GuardError, match=msg):
        compile_cypher(cctx, bad)


@pytest.mark.parametrize(
    "bad,msg",
    [
        (
            "MATCH (a) RETURN a.node_id AS x UNION MATCH (b) RETURN b.node_id AS x "
            "UNION ALL MATCH (c) RETURN c.node_id AS x",
            "mixing",
        ),
        (
            "MATCH (a) RETURN a.node_id AS x UNION MATCH (b) RETURN b.node_id AS y",
            "same columns",
        ),
        (
            "MATCH (a) RETURN a.node_id AS x LIMIT 3 UNION MATCH (b) RETURN b.node_id AS x",
            "inside UNION arms",
        ),
    ],
)
def test_union_rejections(cctx, bad, msg):
    with pytest.raises(GuardError, match=msg):
        compile_cypher(cctx, bad)


def test_union_dedups_and_union_all_keeps(cctx):
    base = (
        "MATCH (c:Customer) WHERE c.ontology = 'BUILDING' RETURN c.node_id AS id "
        "{} "
        "MATCH (c:Customer) WHERE c.ontology = 'BUILDING' RETURN c.node_id AS id"
    )
    n_building = cctx.nodes.filter(
        (F.col("label") == "Customer") & (F.col("ontology") == "BUILDING")
    ).count()
    assert compile_cypher(cctx, base.format("UNION")).count() == n_building
    assert compile_cypher(cctx, base.format("UNION ALL")).count() == 2 * n_building


def test_unwind_literal_prologue(cctx):
    out = compile_cypher(
        cctx,
        "UNWIND [1, 2, 3] AS boost "
        "MATCH (c:Customer {node_id: 'C1'}) "
        "RETURN c.node_id AS cid, boost",
    ).collect()
    assert sorted((r["cid"], r["boost"]) for r in out) == [
        ("C1", 1), ("C1", 2), ("C1", 3)
    ]


def test_unwind_literal_preserves_user_id_column(cctx):
    """ADVICE r5: a literal UNWIND after WITH must not drop a user
    column that happens to be aliased 'id' — only the synthetic
    spark.range column (created when UNWIND opens the query) is
    dropped."""
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer {node_id: 'C1'}) "
        "WITH c.node_id AS id "
        "UNWIND [10, 20] AS x "
        "RETURN id, x",
    ).collect()
    assert sorted((r["id"], r["x"]) for r in out) == [("C1", 10), ("C1", 20)]


def test_unwind_collect_roundtrip(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c.ontology AS segment, collect(DISTINCT o.ontology) AS prios "
        "UNWIND prios AS prio RETURN segment, prio",
    )
    expect = (
        cctx.edges.filter(F.col("rel_type") == "PLACED")
        .join(
            cctx.nodes.filter(F.col("label") == "Customer")
            .select(F.col("node_id").alias("src"), F.col("ontology").alias("segment")),
            "src",
        )
        .join(
            cctx.nodes.filter(F.col("label") == "Order")
            .select(F.col("node_id").alias("dst"), F.col("ontology").alias("prio")),
            "dst",
        )
        .select("segment", "prio")
        .distinct()
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expect.collect()))


def test_return_distinct(cctx):
    out = compile_cypher(
        cctx, "MATCH (c:Customer) RETURN DISTINCT c.ontology AS segment"
    )
    expect = cctx.nodes.filter(F.col("label") == "Customer").select(
        F.col("ontology").alias("segment")
    ).distinct()
    assert sorted(r["segment"] for r in out.collect()) == sorted(
        r["segment"] for r in expect.collect()
    )


def test_collect_sorted_array(cctx):
    rows = compile_cypher(
        cctx,
        "MATCH (c:Customer {node_id: 'C1'})-[:PLACED]->(o:Order) "
        "RETURN c.node_id AS cid, collect(o.node_id) AS orders",
    ).collect()
    assert len(rows) == 1
    assert rows[0]["orders"] == sorted(rows[0]["orders"])
    assert len(rows[0]["orders"]) > 0


def test_write_keyword_inside_literal_is_fine():
    check_cypher_safety("MATCH (n {name: 'DELETE me; DROP'}) RETURN n.node_id")


def test_bounded_varlen_accepted():
    check_cypher_safety("MATCH (a)-[*1..3]->(b) RETURN a.node_id")
    check_cypher_safety("MATCH (a)-[:PLACED*2]->(b) RETURN a.node_id")


def test_unknown_property_rejected(cctx):
    with pytest.raises(GuardError, match="unknown"):
        compile_cypher(cctx, "MATCH (n) RETURN n.nope AS x")


def test_zero_length_varlen(spark, cctx):
    """*0..1 = identity paths plus 1-hop; length 0 binds x to c itself."""
    out = compile_cypher(
        cctx, "MATCH (c {node_id: 'C1'})-[*0..1]->(x) RETURN x.node_id AS id"
    )
    got = sorted(r["id"] for r in out.collect())
    hop1 = sorted(
        r["dst"]
        for r in cctx.edges.filter(F.col("src") == "C1").select("dst").collect()
    )
    assert got == sorted(["C1"] + hop1)


def test_varlen_trail_excludes_edge_reuse(spark, cctx):
    """Undirected *2 from P1: walks would bounce back over the arrival
    edge; trail semantics must exclude exactly those."""
    out = compile_cypher(
        cctx, "MATCH (p {node_id: 'P1'})-[*2..2]-(x) RETURN x.node_id AS id"
    )
    e = cctx.edges.select(
        "src", "dst", F.concat_ws("|", "src", "dst", "rel_type").alias("eid")
    )
    und = e.select(F.col("src").alias("f"), F.col("dst").alias("t"), "eid").unionByName(
        e.select(F.col("dst").alias("f"), F.col("src").alias("t"), "eid")
    )
    s1 = und.filter(F.col("f") == "P1").select(F.col("t").alias("mid"), F.col("eid").alias("e1"))
    s2 = s1.join(und, (F.col("mid") == F.col("f")) & (F.col("eid") != F.col("e1"))).select("t")
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["t"] for r in s2.collect()
    )


def test_optional_match_keeps_unmatched(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer {ontology: 'BUILDING'}) "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.weight > 350000 "
        "RETURN c.node_id AS cid, count(o.node_id) AS n",
    )
    rows = {r["cid"]: r["n"] for r in out.collect()}
    n_building = cctx.nodes.filter(
        (F.col("label") == "Customer") & (F.col("ontology") == "BUILDING")
    ).count()
    # every BUILDING customer appears, including those with zero big orders
    assert len(rows) == n_building
    assert any(v == 0 for v in rows.values())


def test_with_aggregate_then_match(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c, count(o.node_id) AS n_orders WHERE n_orders >= 15 "
        "MATCH (c)-[:PLACED]->(o2:Order) "
        "RETURN c.node_id AS cid, n_orders, count(*) AS rejoin",
    )
    # after the second MATCH, each kept customer re-joins all its orders:
    # rejoin must equal n_orders for every row
    rows = out.collect()
    assert rows, "expected at least one customer with >= 15 orders at sf0.001"
    assert all(r["rejoin"] == r["n_orders"] for r in rows)


def test_where_or_precedence(cctx):
    """OR binds looser than AND: `a AND b OR c` = `(a AND b) OR c`."""
    out = compile_cypher(
        cctx,
        "MATCH (n:Part) WHERE n.ontology = 'Brand#11' AND n.weight > 1500 "
        "OR n.ontology = 'Brand#45' RETURN n.node_id AS id",
    )
    parts = cctx.nodes.filter(F.col("label") == "Part")
    expect = parts.filter(
        ((F.col("ontology") == "Brand#11") & (F.col("weight") > 1500))
        | (F.col("ontology") == "Brand#45")
    )
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["node_id"] for r in expect.collect()
    )


def test_where_or_in_optional_and_having(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH c.ontology AS segment, count(o.node_id) AS n "
        "WHERE n >= 20 OR segment = 'BUILDING' "
        "RETURN segment, n ORDER BY segment",
    ).collect()
    assert all(r["n"] >= 20 or r["segment"] == "BUILDING" for r in out)
    assert len(out) > 0


def test_is_null_predicates(cctx):
    """r.confidence IS [NOT] NULL — the derived graph has NULL-confidence
    edges (discount/tax = 0), mirroring the reference's IS NOT NULL guard
    on embeddings (`query.py:35-119`)."""
    base = (
        "MATCH (o:Order)-[r:L0]->(p:Part) WHERE r.confidence IS {} "
        "RETURN o.node_id AS o_id, p.node_id AS p_id"
    )
    e = cctx.edges.filter(F.col("rel_type") == "L0")
    got_null = compile_cypher(cctx, base.format("NULL")).count()
    got_notnull = compile_cypher(cctx, base.format("NOT NULL")).count()
    assert got_null == e.filter(F.col("confidence").isNull()).count()
    assert got_notnull == e.filter(F.col("confidence").isNotNull()).count()
    assert got_null > 0 and got_notnull > 0


# ---------------------------------------------------------------------------
# CASE WHEN + EXISTS{} (r6, lib-level — driver registration lands in r7)
# ---------------------------------------------------------------------------


def test_case_when_in_return(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) "
        "RETURN c.node_id AS id, "
        "CASE WHEN c.weight > 5000 THEN 'rich' "
        "WHEN c.weight > 0 THEN 'ok' ELSE 'broke' END AS tier",
    )
    expect = (
        cctx.nodes.filter(F.col("label") == "Customer")
        .select(
            F.col("node_id").alias("id"),
            F.when(F.col("weight") > 5000, "rich")
            .when(F.col("weight") > 0, "ok")
            .otherwise("broke")
            .alias("tier"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expect.collect()))


def test_case_without_else_yields_null(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) "
        "RETURN c.node_id AS id, "
        "CASE WHEN c.ontology = 'BUILDING' THEN 1 END AS flag",
    ).collect()
    vals = {r["flag"] for r in out}
    assert vals == {1, None}


def test_case_in_with_feeds_aggregation(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) "
        "WITH CASE WHEN c.weight > 0 THEN 'pos' ELSE 'nonpos' END AS sign "
        "RETURN sign, count(*) AS n",
    ).collect()
    got = {r["sign"]: r["n"] for r in out}
    pos = cctx.nodes.filter((F.col("label") == "Customer") & (F.col("weight") > 0)).count()
    total = cctx.nodes.filter(F.col("label") == "Customer").count()
    assert got.get("pos", 0) == pos and got.get("nonpos", 0) == total - pos


def test_case_rejections(cctx):
    for q, msg in [
        ("MATCH (c) RETURN CASE WHEN c.weight > 0 THEN 1 END", "alias"),
        ("MATCH (c) RETURN CASE WHEN c.weight > 0 THEN 1 AS x", "malformed"),
        ("MATCH (c) RETURN CASE ELSE 1 END AS x", "WHEN"),
    ]:
        with pytest.raises(GuardError, match=msg):
            compile_cypher(cctx, q)


def test_simple_form_case(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN CASE c.ontology WHEN 'BUILDING' THEN 1 "
        "ELSE 0 END AS is_b, count(*) AS n",
    ).collect()
    got = {r["is_b"]: r["n"] for r in out}
    b = cctx.nodes.filter(
        (F.col("label") == "Customer") & (F.col("ontology") == "BUILDING")
    ).count()
    total = cctx.nodes.filter(F.col("label") == "Customer").count()
    assert got.get(1, 0) == b and got.get(0, 0) == total - b


def test_nested_case(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN CASE WHEN c.weight > 0 THEN "
        "CASE WHEN c.weight > 0.5 THEN 'hi' ELSE 'lo' END "
        "ELSE 'neg' END AS band, count(*) AS n",
    ).collect()
    got = {r["band"]: r["n"] for r in out}
    cust = cctx.nodes.filter(F.col("label") == "Customer")
    hi = cust.filter(F.col("weight") > 0.5).count()
    lo = cust.filter((F.col("weight") > 0) & (F.col("weight") <= 0.5)).count()
    neg = cust.filter(F.col("weight") <= 0).count()
    assert got.get("hi", 0) == hi and got.get("lo", 0) == lo and got.get("neg", 0) == neg


def test_exists_semi_join(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE EXISTS { (c)-[:PLACED]->(o:Order) } "
        "RETURN c.node_id AS id",
    )
    placed = (
        cctx.edges.filter(F.col("rel_type") == "PLACED")
        .select(F.col("src").alias("node_id"))
        .distinct()
    )
    expect = (
        cctx.nodes.filter(F.col("label") == "Customer")
        .join(placed, "node_id", "left_semi")
    )
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["node_id"] for r in expect.collect()
    )


def test_not_exists_anti_join(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE NOT EXISTS { (c)-[:PLACED]->(o:Order) } "
        "RETURN c.node_id AS id",
    )
    placed = (
        cctx.edges.filter(F.col("rel_type") == "PLACED")
        .select(F.col("src").alias("node_id"))
        .distinct()
    )
    expect = (
        cctx.nodes.filter(F.col("label") == "Customer")
        .join(placed, "node_id", "left_anti")
    )
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["node_id"] for r in expect.collect()
    )


def test_exists_with_match_keyword_and_inner_where(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) "
        "WHERE c.ontology = 'BUILDING' "
        "AND EXISTS { MATCH (c)-[:PLACED]->(o:Order) WHERE o.ontology = '1-URGENT' } "
        "RETURN c.node_id AS id",
    )
    urgent_orders = cctx.nodes.filter(
        (F.col("label") == "Order") & (F.col("ontology") == "1-URGENT")
    ).select(F.col("node_id").alias("dst"))
    srcs = (
        cctx.edges.filter(F.col("rel_type") == "PLACED")
        .join(urgent_orders, "dst", "left_semi")
        .select(F.col("src").alias("node_id"))
        .distinct()
    )
    expect = (
        cctx.nodes.filter(
            (F.col("label") == "Customer") & (F.col("ontology") == "BUILDING")
        ).join(srcs, "node_id", "left_semi")
    )
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["node_id"] for r in expect.collect()
    )


def test_exists_rejections(cctx):
    for q, msg in [
        # uncorrelated
        ("MATCH (c:Customer) WHERE EXISTS { (s:Supplier) } RETURN c.node_id AS id",
         "share a node variable"),
        # under OR
        ("MATCH (c:Customer) WHERE c.weight > 0 OR "
         "EXISTS { (c)-[:PLACED]->(o) } RETURN c.node_id AS id",
         "not under OR"),
        # inside OPTIONAL MATCH WHERE
        ("MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
         "WHERE EXISTS { (o)-[:L0]->(p) } RETURN c.node_id AS id",
         "OPTIONAL MATCH"),
        # unbalanced braces
        ("MATCH (c:Customer) WHERE EXISTS { (c)-[:PLACED]->(o:Order) "
         "RETURN c.node_id AS id", "unbalanced|must end"),
    ]:
        with pytest.raises(GuardError, match=msg):
            compile_cypher(cctx, q)


def test_type_accessor_groups_and_counts(cctx):
    # reference idiom: `type(r)` in RETURN (edge_service.py:271) and
    # `count(DISTINCT type(r))` (confidence_analyzer.py:505)
    out = compile_cypher(
        cctx, "MATCH (c:Customer)-[r]->(o) RETURN type(r) AS t, count(*) AS n"
    )
    rows = {r["t"]: r["n"] for r in out.collect()}
    expect = {
        r["rel_type"]: r["n"]
        for r in cctx.edges.join(
            cctx.nodes.filter(F.col("label") == "Customer").select(
                F.col("node_id").alias("src")
            ),
            "src",
        )
        .groupBy("rel_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert rows == expect

    distinct = compile_cypher(
        cctx, "MATCH (c:Customer)-[r]->(o) RETURN count(DISTINCT type(r)) AS tc"
    ).collect()
    assert distinct[0]["tc"] == len(expect)


def test_id_and_labels_accessors(cctx):
    out = compile_cypher(
        cctx, "MATCH (n:Region) RETURN id(n) AS i, labels(n) AS ls ORDER BY i"
    ).collect()
    expect = sorted(
        r["node_id"]
        for r in cctx.nodes.filter(F.col("label") == "Region").collect()
    )
    assert [r["i"] for r in out] == expect
    assert all(r["ls"] == ["Region"] for r in out)


def test_skip_paginates_after_order(cctx):
    full = compile_cypher(
        cctx, "MATCH (n:Customer) RETURN n.node_id AS i ORDER BY i LIMIT 7"
    ).collect()
    page = compile_cypher(
        cctx, "MATCH (n:Customer) RETURN n.node_id AS i ORDER BY i SKIP 3 LIMIT 4"
    ).collect()
    assert [r["i"] for r in page] == [r["i"] for r in full][3:7]


def test_accessor_and_skip_rejections(cctx):
    for q, msg in [
        # SKIP without a total order is an offset into arbitrary rows
        ("MATCH (n:Customer) RETURN n.node_id AS i SKIP 3 LIMIT 2",
         "SKIP requires ORDER BY"),
        # mid-query pagination
        ("MATCH (n:Customer) WITH n.node_id AS i SKIP 2 MATCH (m) RETURN i",
         "final RETURN"),
        # wrong entity kind, fail closed via scope resolution
        ("MATCH (n:Customer) RETURN type(n) AS t", "n.rel_type"),
        ("MATCH (n:Customer)-[r]->(m) RETURN id(r) AS i", "r.node_id"),
        # accessor arg must be a bare variable
        ("MATCH (n:Customer) RETURN type(n.name) AS t", "expected"),
    ]:
        with pytest.raises(GuardError, match=msg):
            compile_cypher(cctx, q)


def test_list_predicates(cctx):
    # any(): match the specific customer whose name splits to this token
    out = compile_cypher(
        cctx,
        "MATCH (n:Customer) WHERE any(w IN split(n.name, '#') "
        "WHERE w = '000000001') RETURN n.name AS name",
    ).collect()
    assert [r["name"] for r in out] == ["Customer#000000001"]
    n_cust = cctx.nodes.filter(F.col("label") == "Customer").count()
    # all(): every split token is non-empty -> every customer passes
    assert (
        compile_cypher(
            cctx,
            "MATCH (n:Customer) WHERE all(w IN split(n.name, '#') "
            "WHERE char_length(w) > 0) RETURN count(*) AS n",
        ).collect()[0]["n"]
        == n_cust
    )
    # none() with a CORRELATED predicate (outer column in the lambda)
    assert (
        compile_cypher(
            cctx,
            "MATCH (n:Customer) WHERE none(w IN split(n.name, '#') "
            "WHERE w = n.ontology) RETURN count(*) AS n",
        ).collect()[0]["n"]
        == n_cust
    )
    # single(): exactly one token equals 'Customer' in every name
    rows = compile_cypher(
        cctx,
        "MATCH (n:Customer) RETURN single(w IN split(n.name, '#') "
        "WHERE w = 'Customer') AS s, count(*) AS n",
    ).collect()
    assert rows == [] or (rows[0]["s"] is True and rows[0]["n"] == n_cust)
    # nesting with DISTINCT element vars is allowed
    assert (
        compile_cypher(
            cctx,
            "MATCH (n:Customer) WHERE any(a IN split(n.name, '#') "
            "WHERE any(b IN ['Customer'] WHERE b = a)) RETURN count(*) AS n",
        ).collect()[0]["n"]
        == n_cust
    )


def test_list_predicate_rejections(cctx):
    for q, msg in [
        # re-binding the same element var in a nested predicate
        ("MATCH (n:Customer) WHERE any(w IN split(n.name,'#') "
         "WHERE any(w IN ['x'] WHERE w = 'x')) RETURN count(*) AS n",
         "re-bind"),
        # property access on a list element
        ("MATCH (n:Customer) WHERE any(w IN split(n.name,'#') "
         "WHERE w.x = 1) RETURN count(*) AS n",
         "no properties"),
        # malformed: missing 'var IN'
        ("MATCH (n:Customer) WHERE any(split(n.name,'#')) "
         "RETURN count(*) AS n", "expected IN"),
    ]:
        with pytest.raises(GuardError, match=msg):
            compile_cypher(cctx, q)


def test_inner_where_does_not_split_clauses(cctx):
    """WHERE inside any(...) must not be taken for the clause-level
    WHERE — in MATCH, in WITH (as HAVING position), and in EXISTS{}."""
    # in WITH ... WHERE (having position after aggregate)
    out = compile_cypher(
        cctx,
        "MATCH (n:Customer) WITH n.ontology AS seg, count(*) AS n "
        "WHERE any(w IN ['BUILDING'] WHERE w = seg) "
        "RETURN seg, n",
    ).collect()
    assert len(out) == 1 and out[0]["seg"] == "BUILDING"
    # in EXISTS{} inner WHERE
    out2 = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE EXISTS { (c)-[:PLACED]->(o:Order) "
        "WHERE any(w IN ['O'] WHERE o.name STARTS WITH w) } "
        "RETURN count(*) AS n",
    ).collect()
    assert out2[0]["n"] > 0


def test_properties_and_keys_accessors(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (n:Customer)-[r:PLACED]->(m) RETURN n.node_id AS i, keys(n) AS nk, "
        "properties(r) AS rp ORDER BY i LIMIT 2",
    ).collect()
    assert len(out) == 2
    assert out[0]["nk"] == ["label", "name", "node_id", "ontology", "weight"]
    assert sorted(out[0]["rp"].keys()) == ["confidence", "rel_type"]
    assert out[0]["rp"]["rel_type"] == "PLACED"
    # properties on an unbound var fails closed
    with pytest.raises(GuardError, match="unknown reference"):
        compile_cypher(cctx, "MATCH (n:Customer) RETURN properties(z) AS p")


def test_unwind_over_keys_accessor(cctx):
    """Accessors compose with UNWIND: one row per bound prop per node."""
    out = compile_cypher(
        cctx, "MATCH (n:Customer) UNWIND keys(n) AS k RETURN k, count(*) AS n"
    ).collect()
    n_cust = cctx.nodes.filter(F.col("label") == "Customer").count()
    assert sorted((r["k"], r["n"]) for r in out) == [
        ("label", n_cust), ("name", n_cust), ("node_id", n_cust),
        ("ontology", n_cust), ("weight", n_cust),
    ]


# ---- shortestPath() in MATCH ----------------------------------------------


def _hand_bfs(edges, sources, hi):
    """Independent per-source BFS (plain Python) for the differential."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    out = {}
    for src in sources:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            if dist[u] >= hi:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for node, d in dist.items():
            if 1 <= d <= hi:
                out[(src, node)] = d
    return out


def test_shortest_path_matches_hand_bfs(spark, cctx):
    from pyspark.sql import functions as F

    out = compile_cypher(
        cctx,
        "MATCH p = shortestPath((c:Customer)-[:PLACED*1..4]->(x)) "
        "RETURN c.node_id AS src, x.node_id AS dst, length(p) AS d",
    )
    # independent truth: hand BFS over the PLACED-typed edge list
    edges = [
        (r["src"], r["dst"])
        for r in cctx.edges.filter(F.col("rel_type") == "PLACED").collect()
    ]
    srcs = [
        r["node_id"]
        for r in cctx.nodes.filter(F.col("label") == "Customer").collect()
    ]
    want = _hand_bfs(edges, srcs, 4)
    got = {(r["src"], r["dst"]): r["d"] for r in out.collect()}
    assert got == want and len(got) > 0


def test_shortest_path_zero_lower_bound_includes_identity(cctx):
    out = compile_cypher(
        cctx,
        "MATCH p = shortestPath((c:Customer)-[*0..2]->(x)) "
        "WHERE c.node_id = x.node_id RETURN c.node_id AS id, length(p) AS d",
    ).collect()
    assert len(out) > 0 and all(r["d"] == 0 for r in out)


def test_shortest_path_guard_rejections(cctx):
    import pytest as _pt

    for bad in (
        # unbounded — the reference guard rejects these
        "MATCH p = shortestPath((a:Customer)-[*]->(b)) RETURN length(p) AS d",
        # lower bound > 1
        "MATCH p = shortestPath((a:Customer)-[*2..4]->(b)) RETURN length(p) AS d",
        # hop cap
        "MATCH p = shortestPath((a:Customer)-[*1..64]->(b)) RETURN length(p) AS d",
        # same endpoint var
        "MATCH p = shortestPath((a:Customer)-[*1..3]->(a)) RETURN length(p) AS d",
    ):
        with _pt.raises(GuardError):
            compile_cypher(cctx, bad)


def test_shortest_path_state_guard_trips_deterministically(cctx, monkeypatch):
    """The O(|sources| x reach) visited state is bounded (r13, the
    carried VERDICT watch item): past _SHORTEST_STATE_MAX the query
    raises a GuardError naming the fix — never a silent truncation
    (results below the bound are untouched: the same query passes the
    hand-BFS differential above at the production bound)."""
    import pytest as _pt

    from knowledge_graph_system_spark.plans import cypher as cy

    q = (
        "MATCH p = shortestPath((c:Customer)-[*1..4]->(x)) "
        "RETURN c.node_id AS src, x.node_id AS dst, length(p) AS d"
    )
    monkeypatch.setattr(cy, "_SHORTEST_STATE_MAX", 10)
    with _pt.raises(GuardError, match="visited-state exceeded"):
        compile_cypher(cctx, q).collect()


def test_shortest_path_is_minimal_not_all_trails(cctx):
    """One row per reachable (a, b) pair — not one per path — and the
    length is minimal: re-matching at exactly length(p)+coverage via
    the plain var-length operator must find each pair too."""
    out = compile_cypher(
        cctx,
        "MATCH p = shortestPath((c:Customer)-[*1..3]->(x:Part)) "
        "RETURN c.node_id AS src, x.node_id AS dst, length(p) AS d",
    ).collect()
    pairs = [(r["src"], r["dst"]) for r in out]
    assert len(pairs) == len(set(pairs))  # pair-unique


def test_r8_candidate_shortest_driver_row(spark):
    """Driver-style compare for the prepared shortestPath registry row:
    Spark result vs the level-union min-dist DuckDB oracle."""
    import duckdb

    from knowledge_graph_system_spark.plans.cypher import (
        p7_cypher_shortest,
        p7_cypher_shortest_oracle,
    )

    con = duckdb.connect()
    for t in ("customer", "supplier", "part", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    got = sorted(
        (r["d"], r["n_pairs"]) for r in p7_cypher_shortest(spark, SF_DIR).collect()
    )
    want = sorted(con.execute(p7_cypher_shortest_oracle()).fetchall())
    con.close()
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# rel-type alternation [:A|B] (r8 — the reference resolves epistemic
# filters to a SET of allowed types, api/app/routes/queries.py:259-314)
# ---------------------------------------------------------------------------


def test_alternation_one_hop_matches_isin(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (o:Order)-[r:L0|L1]->(p:Part) "
        "RETURN o.node_id AS o_id, p.node_id AS p_id",
    )
    expect = cctx.edges.filter(F.col("rel_type").isin("L0", "L1")).select(
        F.col("src").alias("o_id"), F.col("dst").alias("p_id")
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expect.collect()))


def test_alternation_colon_spelling_and_spaces_equivalent(spark, cctx):
    q = "MATCH (o:Order)-[:%s]->(p:Part) RETURN count(*) AS n"
    base = compile_cypher(cctx, q % "L0|L1").collect()[0]["n"]
    for spelling in ("L0|:L1", "L0 | L1", "L0 |: L1"):
        assert compile_cypher(cctx, q % spelling).collect()[0]["n"] == base


def test_alternation_single_type_unchanged(spark, cctx):
    """A one-arm 'alternation' is the plain equality path (plan parity
    with the pre-alternation compiler)."""
    a = compile_cypher(
        cctx, "MATCH (c:Customer)-[:PLACED]->(o) RETURN count(*) AS n"
    ).collect()[0]["n"]
    assert a > 0


def test_alternation_in_varlength(spark, cctx):
    """[:A|B*1..2]: each hop may take either type; differential against
    the two-step union expansion."""
    out = compile_cypher(
        cctx,
        "MATCH (c {node_id: 'C1'})-[:PLACED|L0*1..2]->(x) "
        "RETURN x.node_id AS x_id",
    )
    e = cctx.edges.filter(F.col("rel_type").isin("PLACED", "L0"))
    s1 = e.filter(F.col("src") == "C1").select("dst")
    s2 = e.join(s1.withColumnRenamed("dst", "mid"), e["src"] == F.col("mid")).select("dst")
    expect = s1.unionByName(s2)
    assert sorted(r["x_id"] for r in out.collect()) == sorted(
        r["dst"] for r in expect.collect()
    )


def test_alternation_in_shortest_path(spark, cctx):
    """shortestPath() over an alternation: distances can only shrink
    (or pairs appear) vs the single-type edge set."""
    multi = compile_cypher(
        cctx,
        "MATCH p = shortestPath((c:Customer)-[:PLACED|L0*1..3]->(x:Part)) "
        "RETURN c.node_id AS c_id, x.node_id AS x_id, length(p) AS d",
    )
    single = compile_cypher(
        cctx,
        "MATCH p = shortestPath((c:Customer)-[:PLACED*1..3]->(x:Part)) "
        "RETURN c.node_id AS c_id, x.node_id AS x_id, length(p) AS d",
    )
    md = {(r["c_id"], r["x_id"]): r["d"] for r in multi.collect()}
    sd = {(r["c_id"], r["x_id"]): r["d"] for r in single.collect()}
    assert set(sd) <= set(md)
    assert all(md[k] <= sd[k] for k in sd)
    assert len(md) > len(sd)  # L0 edges open Order->Part continuations


def test_alternation_empty_arm_rejected(spark, cctx):
    for bad in ("[:L0|]", "[:|L0]", "[:|]", "[:L0||L1]"):
        with pytest.raises(GuardError):
            compile_cypher(cctx, f"MATCH (a)-{bad}->(b) RETURN count(*) AS n")


# ---------------------------------------------------------------------------
# edge property maps [r:T {confidence: 0.9}] (r8)
# ---------------------------------------------------------------------------


def test_edge_props_equality_matches_filter(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer)-[:PLACED {confidence: 1.0}]->(o) "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    expect = cctx.edges.filter(
        (F.col("rel_type") == "PLACED") & (F.col("confidence") == 1.0)
    ).count()
    assert out == expect > 0


def test_edge_props_null_never_matches(spark, cctx):
    """Strict map equality: NULL-confidence edges are excluded, unlike
    the P5 threshold rule where NULL passes."""
    out = compile_cypher(
        cctx,
        "MATCH (p:Part)-[:SUPPLIED_BY {confidence: 1.0}]->(s) "
        "RETURN count(*) AS n",
    ).collect()[0]["n"]
    e = cctx.edges.filter(F.col("rel_type") == "SUPPLIED_BY")
    expect = e.filter(F.col("confidence") == 1.0).count()
    n_null = e.filter(F.col("confidence").isNull()).count()
    assert out == expect and n_null > 0


def test_edge_props_in_varlength_filters_every_hop(spark, cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c {node_id: 'C1'})-[:PLACED|L0*1..2 {confidence: 1.0}]->(x) "
        "RETURN x.node_id AS x_id",
    )
    e = cctx.edges.filter(
        F.col("rel_type").isin("PLACED", "L0") & (F.col("confidence") == 1.0)
    )
    s1 = e.filter(F.col("src") == "C1").select("dst")
    s2 = e.join(s1.withColumnRenamed("dst", "mid"), e["src"] == F.col("mid")).select("dst")
    expect = s1.unionByName(s2)
    assert sorted(r["x_id"] for r in out.collect()) == sorted(
        r["dst"] for r in expect.collect()
    )


def test_edge_props_unknown_key_rejected(spark, cctx):
    with pytest.raises(GuardError, match="unknown relationship property"):
        compile_cypher(
            cctx, "MATCH (a)-[:PLACED {weight: 3}]->(b) RETURN count(*) AS n"
        )


# ---- the staged r15 bidirectional shortestPath twin (r14; VERDICT
# r13 next #7 — the formulation that bounds state by the cheaper
# direction's reach instead of |sources| x reach(hi))


def _bidir_frames(cctx, rel, a_label, b_label):
    edf = (
        cctx.edges.filter(F.col("rel_type") == rel)
        .select(F.col("src").alias("__from"), F.col("dst").alias("__to"))
        .distinct()
    )
    a_ids = (
        cctx.nodes.filter(F.col("label") == a_label)
        .select(F.col("node_id").alias("__src"))
        .distinct()
    )
    b = cctx.nodes
    if b_label is not None:
        b = b.filter(F.col("label") == b_label)
    b_ids = b.select(F.col("node_id").alias("__tgt")).distinct()
    return edf, a_ids, b_ids


@pytest.mark.parametrize("b_label,lo,hi", [
    ("Order", 1, 3),     # selective targets — the band split pays
    ("Order", 0, 2),     # identity level included
    (None, 1, 2),        # UNSELECTIVE targets — degrades to forward
])
def test_shortest_bidir_matches_forward_formulation(cctx, b_label, lo, hi):
    """Equivalence on the real fixture: the bidirectional twin must
    produce exactly the forward formulation's pairs restricted to the
    target set, with identical minimal lengths."""
    from knowledge_graph_system_spark.plans.cypher import (
        _shortest_pairs,
        _shortest_pairs_bidir,
    )

    edf, a_ids, b_ids = _bidir_frames(cctx, "PLACED", "Customer", b_label)
    fwd = _shortest_pairs(cctx, edf, a_ids, lo, hi)
    want = {
        (r["__src"], r["__node"]): r["__plen"]
        for r in fwd.join(
            b_ids.withColumnRenamed("__tgt", "__node"), "__node"
        ).collect()
    }
    got = {
        (r["__src"], r["__node"]): r["__plen"]
        for r in _shortest_pairs_bidir(cctx, edf, a_ids, b_ids, lo, hi).collect()
    }
    assert got == want and (len(got) > 0 or b_label == "Part")


def test_shortest_bidir_random_graphs(spark, cctx):
    """Property test over seeded random digraphs: bidir == hand BFS
    restricted to targets, across density/bound settings (the
    graphalgo threshold-invariance test model)."""
    import random

    from knowledge_graph_system_spark.plans.cypher import _shortest_pairs_bidir

    for seed, n, m, hi in ((1, 20, 40, 4), (2, 30, 90, 3), (3, 25, 50, 6)):
        rng = random.Random(seed)
        edges = list({
            (f"n{rng.randrange(n)}", f"n{rng.randrange(n)}")
            for _ in range(m)
        })
        edges = [(s, d) for s, d in edges if s != d]
        srcs = sorted({s for s, _ in edges})[: n // 3]
        tgts = sorted({d for _, d in edges})[-(n // 3):]
        edf = spark.createDataFrame(edges, "__from string, __to string")
        a_ids = spark.createDataFrame([(s,) for s in srcs], "__src string")
        b_ids = spark.createDataFrame([(t,) for t in tgts], "__tgt string")
        want = {
            (s, t): d
            for (s, t), d in _hand_bfs(edges, srcs, hi).items()
            if t in set(tgts)
        }
        got = {
            (r["__src"], r["__node"]): r["__plen"]
            for r in _shortest_pairs_bidir(
                Ctx.get(spark, SF_DIR), edf, a_ids, b_ids, 1, hi
            ).collect()
        }
        assert got == want, (seed, len(got), len(want))


def test_shortest_bidir_job_count_ceiling(cctx):
    """A warm bidirectional wave runs one lazy checkpoint plus one probe
    aggregate per level (the `_expand` shape): Customer -> Order within
    3 hops takes at most 24 jobs, where the eager per-level checkpoint,
    separate probe and seen re-checkpoint took 31-32. Same rows as the
    cold call."""
    from knowledge_graph_system_spark.plans.cypher import _shortest_pairs_bidir
    from tests.test_traversal import _run_in_group

    def run():
        edf, a_ids, b_ids = _bidir_frames(cctx, "PLACED", "Customer", "Order")
        return _shortest_pairs_bidir(cctx, edf, a_ids, b_ids, 1, 3)

    cold = sorted(map(tuple, run().collect()))
    df, jobs = _run_in_group(cctx.spark.sparkContext, "test-jobs-bidir", run)
    assert sorted(map(tuple, df.collect())) == cold and len(cold) > 0
    assert len(jobs) <= 24, (len(jobs), jobs)


def test_shortest_bidir_state_guard_trips(cctx, monkeypatch):
    """The shared state bound meters the SUM of both waves' visited
    state and refuses deterministically past it."""
    from knowledge_graph_system_spark.plans import cypher as cy

    edf, a_ids, b_ids = _bidir_frames(cctx, "PLACED", "Customer", "Order")
    monkeypatch.setattr(cy, "_SHORTEST_STATE_MAX", 10)
    with pytest.raises(GuardError, match="visited-state exceeded"):
        cy._shortest_pairs_bidir(cctx, edf, a_ids, b_ids, 1, 4).collect()


def test_shortest_adaptive_escalation_is_invisible(cctx, monkeypatch):
    """The adaptive dispatcher returns the same (restricted) pair set
    whether or not escalation fires: forced-low threshold (bidir path)
    == forced-high threshold (pure forward path), both joined down to
    the target set."""
    from knowledge_graph_system_spark.plans import cypher as cy

    edf, a_ids, b_ids = _bidir_frames(cctx, "PLACED", "Customer", "Order")
    tgt = {r["__tgt"] for r in b_ids.collect()}

    def run():
        return {
            (r["__src"], r["__node"]): r["__plen"]
            for r in cy._shortest_pairs_adaptive(
                cctx, edf, a_ids, b_ids, 1, 3
            ).collect()
            if r["__node"] in tgt
        }

    monkeypatch.setattr(cy, "_BIDIR_SWITCH", 10)  # always escalates
    escalated = run()
    monkeypatch.setattr(cy, "_BIDIR_SWITCH", 10**12)  # never escalates
    forward = run()
    assert escalated == forward and len(forward) > 0


def test_shortest_int_dictionary_escalation_end_to_end(spark, monkeypatch):
    """r18: the compiled shortestPath wave runs on per-invocation INTEGER
    node ids (dictionary built inside _compile_shortest). Pin that BOTH
    adaptive branches are int-compatible end-to-end through the full
    compiler — dictionary build, int waves, join-back: a forced bidir
    escalation must return exactly the default forward path's rows."""
    from knowledge_graph_system_spark.plans import cypher as cy

    q = (
        "MATCH p = shortestPath((c:Customer)-[*1..4]->(s:Supplier)) "
        "RETURN length(p) AS d, count(*) AS n_pairs"
    )
    base = sorted(tuple(r) for r in cy.run_cypher(spark, SF_DIR, q).collect())
    monkeypatch.setattr(cy, "_BIDIR_SWITCH", 1)  # escalate immediately
    escalated = sorted(tuple(r) for r in cy.run_cypher(spark, SF_DIR, q).collect())
    assert escalated == base and len(base) > 0
