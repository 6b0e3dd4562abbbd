"""Expression-parser surface: arithmetic, scalar functions, IN,
parentheses, regex, chained comparisons — the read-expression forms the
reference's guarded Cypher surface accepts (`api/app/services/
cypher_guard.py:31-46` rejects only writes/unbounded paths)."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_system_spark.plans.cypher import compile_cypher
from knowledge_graph_system_spark.plans.expr import compile_expr
from knowledge_graph_system_spark.plans.guard import GuardError
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def cctx(spark):
    from knowledge_graph_system_spark.registry import Ctx

    return Ctx.get(spark, SF_DIR)


def _cust(cctx):
    return cctx.nodes.filter(F.col("label") == "Customer")


def test_arithmetic_in_return(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE c.weight > 0 "
        "RETURN c.node_id AS id, c.weight * 2 + 1 AS w2",
    ).collect()
    expect = {
        r["node_id"]: r["weight"] * 2 + 1
        for r in _cust(cctx).filter(F.col("weight") > 0).collect()
    }
    assert {r["id"]: r["w2"] for r in out} == pytest.approx(expect)


def test_arithmetic_precedence_and_parens(cctx):
    rows = compile_cypher(
        cctx,
        "MATCH (c:Customer) "
        "RETURN c.node_id AS id, c.weight + 2 * 3 AS a, (c.weight + 2) * 3 AS b "
        "LIMIT 5",
    ).collect()
    for r in rows:
        assert r["b"] != r["a"] or r["a"] == pytest.approx((r["a"] - 6) + 6)


def test_parenthesized_where(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE (c.weight > 0.5 OR c.weight < -0.5) "
        "AND c.ontology = 'BUILDING' RETURN c.node_id AS id",
    )
    expect = _cust(cctx).filter(
        ((F.col("weight") > 0.5) | (F.col("weight") < -0.5))
        & (F.col("ontology") == "BUILDING")
    )
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["node_id"] for r in expect.collect()
    )


def test_in_list_predicate(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE c.ontology IN ['BUILDING', 'MACHINERY'] "
        "RETURN c.node_id AS id",
    )
    expect = _cust(cctx).filter(F.col("ontology").isin("BUILDING", "MACHINERY"))
    assert out.count() == expect.count()


def test_not_in_list(cctx):
    n_in = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE c.ontology IN ['BUILDING'] "
        "RETURN c.node_id AS id",
    ).count()
    n_out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE NOT c.ontology IN ['BUILDING'] "
        "RETURN c.node_id AS id",
    ).count()
    assert n_in + n_out == _cust(cctx).filter(F.col("ontology").isNotNull()).count()


def test_chained_comparison(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE 0 < c.weight < 0.5 RETURN c.node_id AS id",
    )
    expect = _cust(cctx).filter((F.col("weight") > 0) & (F.col("weight") < 0.5))
    assert out.count() == expect.count()


def test_regex_predicate(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE c.name =~ '.*0{2}$' RETURN c.name AS n",
    )
    expect = _cust(cctx).filter(F.col("name").rlike(".*0{2}$"))
    assert out.count() == expect.count()


def test_scalar_functions(cctx):
    rows = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN c.name AS n, toUpper(c.name) AS up, "
        "substring(c.name, 0, 4) AS pre, size(split(c.name, '#')) AS parts, "
        "coalesce(c.ontology, 'none') AS ont, abs(c.weight) AS aw, "
        "round(c.weight) AS rw, toString(c.node_id) AS sid LIMIT 20",
    ).collect()
    for r in rows:
        assert r["up"] == r["n"].upper()
        assert r["pre"] == r["n"][:4]
        assert r["parts"] == len(r["n"].split("#"))
        assert r["ont"] is not None
        assert r["aw"] >= 0
        assert float(r["rw"]) == float(round(r["aw"] if r["aw"] == r["rw"] else r["rw"]))
        assert isinstance(r["sid"], str)


def test_string_predicate_on_expression(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE toLower(c.ontology) STARTS WITH 'bui' "
        "RETURN c.node_id AS id",
    )
    expect = _cust(cctx).filter(F.lower(F.col("ontology")).startswith("bui"))
    assert out.count() == expect.count()


def test_aggregate_over_expression(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN c.ontology AS o, sum(c.weight * 2) AS s2",
    ).collect()
    expect = {
        r["ontology"]: r["s"]
        for r in _cust(cctx)
        .groupBy("ontology")
        .agg(F.sum(F.col("weight") * 2).alias("s"))
        .collect()
    }
    assert {r["o"]: r["s2"] for r in out} == pytest.approx(expect)


def test_arithmetic_on_aggregates(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN c.ontology AS o, "
        "sum(c.weight) / count(*) AS mean_w",
    ).collect()
    expect = {
        r["ontology"]: r["m"]
        for r in _cust(cctx).groupBy("ontology").agg(F.avg("weight").alias("m")).collect()
    }
    assert {r["o"]: r["mean_w"] for r in out} == pytest.approx(expect)


def test_stdev_aggregate(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN stDev(c.weight) AS sd",
    ).collect()
    expect = _cust(cctx).agg(F.stddev_samp("weight")).collect()[0][0]
    assert out[0]["sd"] == pytest.approx(expect)


def test_unwind_split_expression(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer {node_id: 'C1'}) UNWIND split(c.name, '#') AS part "
        "RETURN part",
    ).collect()
    name = _cust(cctx).filter(F.col("node_id") == "C1").collect()[0]["name"]
    assert sorted(r["part"] for r in out) == sorted(name.split("#"))


def test_order_by_expression(cctx):
    rows = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN c.node_id AS id "
        "ORDER BY abs(c.weight) DESC, c.node_id LIMIT 5",
    ).collect()
    expect = (
        _cust(cctx)
        .orderBy(F.abs(F.col("weight")).desc(), F.col("node_id"))
        .limit(5)
        .collect()
    )
    assert [r["id"] for r in rows] == [r["node_id"] for r in expect]


def test_xor(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE c.weight > 0 XOR c.ontology = 'BUILDING' "
        "RETURN c.node_id AS id",
    )
    expect = _cust(cctx).filter(
        (F.col("weight") > 0) != (F.col("ontology") == "BUILDING")
    )
    assert out.count() == expect.count()


def test_parenthesized_or_with_exists(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WHERE (c.weight > 0 OR c.weight < -0.9) AND "
        "EXISTS { (c)-[:PLACED]->(o:Order) } RETURN c.node_id AS id",
    )
    srcs = cctx.edges.filter(F.col("rel_type") == "PLACED").select(
        F.col("src").alias("node_id")
    )
    expect = (
        _cust(cctx)
        .filter((F.col("weight") > 0) | (F.col("weight") < -0.9))
        .join(srcs, "node_id", "left_semi")
    )
    assert out.count() == expect.count()


def test_literal_item_with_alias(cctx):
    rows = compile_cypher(
        cctx, "MATCH (c:Customer) RETURN 1 AS one, 'x' AS tag LIMIT 3"
    ).collect()
    assert all(r["one"] == 1 and r["tag"] == "x" for r in rows)


class _FakeScope:
    def __init__(self, cols):
        self.cols = cols

    def resolve(self, ref):
        if ref not in self.cols:
            raise GuardError(f"unknown reference {ref!r}")
        return self.cols[ref]


def test_expr_rejections():
    scope = _FakeScope({"c.weight": "w", "c.name": "nm"})
    for text, msg, agg in [
        ("c.weight >", "unsupported expression", False),
        ("c.weight + ", "unsupported expression", False),
        ("foo(c.weight)", "unsupported function", False),
        ("sum(c.weight)", "not allowed", False),           # aggregate in WHERE
        ("sum(sum(c.weight))", "nested aggregate", True),
        ("c.weight + sum(c.weight)", "mixing aggregated", True),
        ("avg(DISTINCT c.weight)", "not supported", True),
        ("sum(*)", "only valid in count", True),
        ("c.name =~ c.name", "string-literal pattern", False),
        ("split(c.name, c.name)", "string-literal delimiter", False),
        ("substring(c.name)", "arguments", False),
        ("c.weight ==", "unsupported|malformed", False),
        ("(c.weight > 0", "expected.*parenthesized", False),
        ("c.weight 5", "malformed expression", False),
    ]:
        with pytest.raises(GuardError, match=msg):
            compile_expr(scope, text, allow_agg=agg)


def test_registered_cypher_queries_still_run(spark):
    """The registered cypher queries still compile and execute after
    the parser swap (bit-level identity vs the DuckDB oracle is pinned
    by tools/check_correctness.py; this is the fast in-suite guard)."""
    from knowledge_graph_system_spark.registry import load_all

    qs = load_all()
    for name in [
        "p7_guarded_query",
        "p7_cypher_subset", "p7_cypher_varlen", "p7_cypher_trail",
        "p7_cypher_optional", "p7_cypher_with", "p7_cypher_union",
        "p7_cypher_unwind",
    ]:
        assert qs[name].fn(spark, SF_DIR).count() > 0, name


def test_with_order_by_limit_topk(cctx):
    """Mid-query top-k: top-3 ontologies by customer count, then a
    second aggregation over only those (the 'top N then expand' read
    shape)."""
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WITH c.ontology AS o, count(*) AS n "
        "ORDER BY n DESC, o LIMIT 3 RETURN o, n ORDER BY o",
    ).collect()
    expect = (
        _cust(cctx)
        .groupBy(F.col("ontology").alias("o"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "o")
        .limit(3)
        .orderBy("o")
        .collect()
    )
    assert [(r["o"], r["n"]) for r in out] == [(r["o"], r["n"]) for r in expect]


def test_with_order_by_limit_then_match(cctx):
    """The top-k WITH feeds a further MATCH join: top-5 customers by
    weight, then count their orders. (No fanout before the WITH —
    openCypher's WITH keeps duplicate rows, so a pattern with an edge
    would rank (c, o) rows, not customers.)"""
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) "
        "WITH c ORDER BY c.weight DESC, c.node_id LIMIT 5 "
        "MATCH (c)-[:PLACED]->(o:Order) RETURN c.node_id AS id, "
        "count(*) AS n_orders",
    ).collect()
    placed = cctx.edges.filter(F.col("rel_type") == "PLACED")
    top5 = _cust(cctx).orderBy(F.col("weight").desc(), "node_id").limit(5)
    expect = {
        r["node_id"]: r["n"]
        for r in top5.join(placed.select(F.col("src").alias("node_id")), "node_id")
        .groupBy("node_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r["id"]: r["n_orders"] for r in out} == expect


def test_with_order_by_before_where(cctx):
    """openCypher order: WHERE filters AFTER ORDER BY/LIMIT — the
    top-3 are chosen first, then filtered."""
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WITH c.ontology AS o, count(*) AS n "
        "ORDER BY n DESC, o LIMIT 3 WHERE n > 1 RETURN o, n ORDER BY o",
    ).collect()
    top3 = (
        _cust(cctx)
        .groupBy(F.col("ontology").alias("o"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "o")
        .limit(3)
        .filter(F.col("n") > 1)
        .orderBy("o")
        .collect()
    )
    assert [(r["o"], r["n"]) for r in out] == [(r["o"], r["n"]) for r in top3]


def test_with_order_without_limit_rejected(cctx):
    for q in [
        "MATCH (c:Customer) WITH c.ontology AS o, count(*) AS n "
        "ORDER BY n DESC RETURN o, n",
        "MATCH (c:Customer) WITH c.ontology AS o, count(*) AS n "
        "LIMIT 3 RETURN o, n",
    ]:
        with pytest.raises(GuardError, match="ORDER BY in WITH requires|requires ORDER"):
            compile_cypher(cctx, q)


def test_with_topk_plans_take_ordered(cctx):
    plan = compile_cypher(
        cctx,
        "MATCH (c:Customer) WITH c.ontology AS o, count(*) AS n "
        "ORDER BY n DESC, o LIMIT 3 RETURN o, n",
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_with_distinct_entity_ranking(cctx):
    """WITH DISTINCT c dedups match rows so the top-k ranks customers,
    not (customer, order) pairs."""
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer)-[:PLACED]->(o:Order) "
        "WITH DISTINCT c ORDER BY c.weight DESC, c.node_id LIMIT 5 "
        "RETURN c.node_id AS id",
    ).collect()
    placed = cctx.edges.filter(F.col("rel_type") == "PLACED")
    expect = (
        _cust(cctx)
        .join(placed.select(F.col("src").alias("node_id")).distinct(), "node_id")
        .orderBy(F.col("weight").desc(), "node_id")
        .limit(5)
        .collect()
    )
    assert [r["id"] for r in out] == [r["node_id"] for r in expect]


def test_with_distinct_values(cctx):
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) WITH DISTINCT c.ontology AS o RETURN o",
    ).collect()
    expect = {r["ontology"] for r in _cust(cctx).select("ontology").distinct().collect()}
    assert {r["o"] for r in out} == expect and len(out) == len(expect)


def test_predicate_after_comparison_chain_fails_closed():
    """A weaker-predicate bug class: WHERE 1 < n.x IN [2,3] must be
    REJECTED, not silently reduced to 1 < n.x (which would admit rows
    the full predicate excludes). Mirrors the existing IS NULL guard."""
    scope = _FakeScope({"n.x": "x", "n.name": "nm"})
    for bad in (
        "1 < n.x IN [2, 3]",
        "1 < n.name STARTS WITH 'a'",
        "1 < n.name ENDS WITH 'a'",
        "1 < n.name CONTAINS 'a'",
        "1 < n.name =~ 'a.*'",
    ):
        with pytest.raises(GuardError, match="cannot follow a comparison chain"):
            compile_expr(scope, bad)


def test_list_comprehension_semantics(cctx, spark):
    """[x IN list WHERE p | e] over a split column: filter + transform
    composed, either part optional."""
    out = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN c.node_id AS id, "
        "[w IN split(c.name, '#') WHERE char_length(w) > 1 | toUpper(w)] AS ws "
        "LIMIT 20",
    ).collect()
    base = {
        r["node_id"]: r["name"]
        for r in _cust(cctx).limit(1000).collect()
    }
    for r in out:
        want = [w.upper() for w in base[r["id"]].split("#") if len(w) > 1]
        assert r["ws"] == want


def test_list_comprehension_copy_form(cctx):
    rows = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN c.node_id AS id, "
        "[w IN split(c.name, '#')] AS ws LIMIT 5",
    ).collect()
    for r in rows:
        assert isinstance(r["ws"], list) and len(r["ws"]) >= 1


def test_reduce_semantics(cctx):
    rows = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN c.name AS name, "
        "reduce(acc = 0, w IN split(c.name, '#') | acc + char_length(w)) AS n "
        "LIMIT 20",
    ).collect()
    for r in rows:
        assert r["n"] == sum(len(w) for w in r["name"].split("#"))


def test_comprehension_and_reduce_fail_closed():
    scope = _FakeScope({"n.name": "nm"})
    for bad in (
        "[w IN split(n.name, 'x') WHERE [w IN split(n.name, 'y') | w]]",  # re-bind
        "reduce(acc = 0, acc IN split(n.name, 'x') | acc + 1)",  # acc == var
        "reduce(0, w IN split(n.name, 'x') | w)",  # missing acc =
        "reduce(acc = 0, w IN split(n.name, 'x'))",  # missing | merge
        "[w IN split(n.name, 'x') WHERE w CONTAINS 'a' | reduce(w = 0, q IN "
        "split(n.name, 'y') | w + 1)]",  # reduce re-binds comprehension var
    ):
        with pytest.raises(GuardError):
            compile_expr(scope, bad)


def test_comprehension_stays_jvm_side(cctx):
    """The compiled plan must contain no Python evaluation — the
    comprehension/reduce compile to Spark higher-order functions."""
    df = compile_cypher(
        cctx,
        "MATCH (c:Customer) RETURN "
        "reduce(acc = 0, w IN split(c.name, '#') | acc + char_length(w)) AS n",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEvalPython" not in plan
