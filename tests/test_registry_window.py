"""Recording-window invariants: the driver records the FIRST 50
registered queries, so ordering bugs silently corrupt the evidence
stream (registry.py's alternation rule)."""

from __future__ import annotations

import pytest

from knowledge_graph_system_spark import registry


def test_record_first_names_are_registered():
    names = set(registry.load_all())
    missing = [n for n in registry._RECORD_FIRST if n not in names]
    assert not missing, f"_RECORD_FIRST entries not registered: {missing}"


def test_record_first_has_no_duplicates():
    rf = registry._RECORD_FIRST
    assert len(rf) == len(set(rf))


def test_history_lists_defined_exactly_once():
    """Hygiene invariant (VERDICT r15 wrong #2: a patch-apply
    duplication left _RECORD_FIRST_R14 defined twice, the second
    silently shadowing the first — an edit to ONE copy would diverge
    from what these tests check). AST-scan the registry module:
    every module-level _RECORD_FIRST* assignment is made exactly once,
    and exactly ONE history list (the immediately-previous window)
    stays in-repo — older lists live in SCALE_NOTES."""
    import ast
    import collections
    import inspect

    tree = ast.parse(inspect.getsource(registry))
    counts: collections.Counter[str] = collections.Counter()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name) and t.id.startswith(
                    "_RECORD_FIRST"
                ):
                    counts[t.id] += 1
    dupes = {n: c for n, c in counts.items() if c > 1}
    assert not dupes, f"duplicated window-list definitions: {dupes}"
    history = sorted(n for n in counts if n != "_RECORD_FIRST")
    assert history == ["_RECORD_FIRST_R16"], history


def test_union_covers_registry():
    """The two-round union invariant, checked against the in-repo
    lists: every registered query is in the current window or the
    immediately-previous one — no row's driver evidence can be more
    than one round old after the driver grades the current window."""
    names = set(registry.load_all())
    union = set(registry._RECORD_FIRST) | set(registry._RECORD_FIRST_R16)
    uncovered = sorted(names - union)
    assert not uncovered, f"rows outside the two-round union: {uncovered}"


def test_enumeration_starts_with_record_first():
    ordered = list(registry.load_all())
    assert ordered[: len(registry._RECORD_FIRST)] == registry._RECORD_FIRST


def test_window_is_exactly_fifty():
    """The explicit order must cover the driver's full 50-slot window —
    a shorter list would let registration order (import side effects)
    decide what gets recorded."""
    assert len(registry._RECORD_FIRST) == 50


def test_suites_carry_member_oracles_and_members_are_deregistered():
    """Consolidation contract: every folded member's exact oracle SQL is
    embedded in its suite's oracle (no family loses oracle coverage),
    and no folded member remains individually registered."""
    registry.load_all()
    from knowledge_graph_system_spark.operators import suites

    assert not (set(suites.CONSOLIDATED) & set(registry.QUERIES))
    suite_defs = {
        "a_scores_suite", "j_enrich_suite", "v_search_suite",
        "t_textstats_suite", "p_filter_matrix", "st_windows_suite",
        "f_catalog_suite", "m_decode_suite",
        # r11 consolidation (cur_quality_suite = the escape-clause fold)
        "st_stream_suite", "so_suite", "p7_cypher_suite",
        "cur_quality_suite",
    }
    assert suite_defs <= set(registry.QUERIES)
    joined = "\n".join(registry.QUERIES[s].oracle for s in suite_defs)
    # every folded member contributed exactly one probe-tagged arm,
    # plus so_conditional_demo — it lands INSIDE so_suite without ever
    # having been individually registered (so it is not in CONSOLIDATED)
    assert joined.count("AS probe") == len(suites.CONSOLIDATED) + 1


def test_m_decode_suite_registered(spark):
    """Driver-style compare for the REGISTERED m_decode_suite (the r10
    consolidation, executed) at BOTH gate scale factors: the six
    multimodal decode rows folded into the shared 9-slot suite shape,
    each member's exact formerly-registered oracle embedded as a
    subquery — hash-exact, and every member carries one probe arm."""
    import duckdb

    from knowledge_graph_system_spark import registry
    from knowledge_graph_system_spark.operators import suites

    specs = registry.load_all()
    spec = specs["m_decode_suite"]
    assert spec.oracle.count("AS probe") == len(suites._M_DECODE_MEMBERS)
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, spec.fn(spark, sf).collect()))
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        want = sorted(map(tuple, con.execute(spec.oracle).fetchall()))
        con.close()
        assert len(got) > 0 and got == want


def test_r10_contingency_an_suite(spark):
    """Driver-style compare for the annealing consolidation fallback
    (registered in r10 only if the zero-slack window budget breaks):
    both members folded into the 9-slot suite shape, hash-exact at
    BOTH gate scale factors."""
    import duckdb

    from knowledge_graph_system_spark import registry
    from knowledge_graph_system_spark.operators.suites import (
        an_suite_candidate,
        an_suite_candidate_oracle,
    )

    registry.load_all()
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, an_suite_candidate(spark, sf).collect()))
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
            map(tuple, con.execute(an_suite_candidate_oracle()).fetchall())
        )
        con.close()
        assert len(got) > 0 and got == want


_ALL_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _duck_all(sf):
    import duckdb

    con = duckdb.connect()
    for t in _ALL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize(
    "cand",
    ["st_stream_suite", "p7_cypher_suite", "so_suite"],
)
def test_r11_consolidation_candidates(spark, cand):
    """Driver-style compare for the three prepared r11 consolidation
    suites at BOTH gate scale factors (streaming foreachBatch family
    5->1, Cypher front end 8->1, set-ops 2+conditional->1 — the r11
    plan in registry.py): every member's exact registered oracle (or,
    for so_conditional_demo, its prepared effective-path oracle)
    embedded as a subquery, hash-exact, every member carrying one
    probe arm — so the r11 consolidation is registration-only."""
    from knowledge_graph_system_spark.operators import suites

    fn = getattr(suites, f"{cand}_candidate")
    oracle = getattr(suites, f"{cand}_candidate_oracle")()
    n_members = {
        "st_stream_suite": len(suites._ST_STREAM_MEMBERS),
        "p7_cypher_suite": len(suites._P7_CYPHER_MEMBERS),
        "so_suite": len(suites._SO_MEMBERS),
    }[cand]
    assert oracle.count("AS probe") == n_members
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, fn(spark, sf).collect()))
        con = _duck_all(sf)
        want = sorted(map(tuple, con.execute(oracle).fetchall()))
        con.close()
        assert len(got) > 0 and got == want
        assert len({r[0] for r in got}) == n_members  # every probe non-empty


def test_ann_suite_registered(spark):
    """Driver-style compare for the REGISTERED ann_suite (the r15
    consolidation, executed — 7 -> 1, the highest-yield fold): all
    seven ANN members folded into the 9-slot suite shape through
    their one shared (query_id, vec_id, cos, rank) schema, each
    member's exact formerly-registered oracle embedded as a subquery,
    hash-exact at BOTH gate scale factors, every member non-empty,
    and no member individually registered anymore."""
    from knowledge_graph_system_spark import registry

    specs = registry.load_all()
    from knowledge_graph_system_spark.operators.suites import (
        _ANN_MEMBERS,
        CONSOLIDATED_R15,
    )

    assert not (set(CONSOLIDATED_R15) & set(specs))
    spec = specs["ann_suite"]
    assert spec.oracle.count("AS probe") == len(_ANN_MEMBERS) == 7
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, spec.fn(spark, sf).collect()))
        con = _duck_all(sf)
        want = sorted(map(tuple, con.execute(spec.oracle).fetchall()))
        con.close()
        assert len(got) > 0 and got == want
        assert len({r[0] for r in got}) == 7  # every member non-empty


def test_r18_fold_candidate_smp_suite(spark):
    """Driver-style compare for the prepared r18 sampling-family fold
    (the r18 CAPACITY plan in registry.py, written r16): all six
    always-green sampling rows folded into the 9-slot suite shape,
    each member's exact registered oracle embedded as a subquery —
    hash-exact at BOTH gate scale factors, every member's probe arm
    non-empty. Registration in r18 is then registration-only."""
    registry.load_all()
    from knowledge_graph_system_spark.operators.suites import (
        _SMP_MEMBERS,
        smp_suite_candidate,
        smp_suite_candidate_oracle,
    )

    oracle = smp_suite_candidate_oracle()
    assert oracle.count("AS probe") == len(_SMP_MEMBERS) == 6
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, smp_suite_candidate(spark, sf).collect()))
        con = _duck_all(sf)
        want = sorted(map(tuple, con.execute(oracle).fetchall()))
        con.close()
        assert len(got) > 0 and got == want
        assert len({r[0] for r in got}) == 6


def test_r20_fold_candidate_lm_suite(spark):
    """Driver-style compare for the prepared r20 LM-family fold (the
    r19 PLAN's capacity note in registry.py, written r17): the three
    lm_score-consuming rows folded into the 9-slot suite shape, each
    member's exact registered oracle embedded as a subquery —
    hash-exact at BOTH gate scale factors, every member's probe arm
    non-empty. Registration in r20 is then registration-only."""
    registry.load_all()
    from knowledge_graph_system_spark.operators.suites import (
        _LM_MEMBERS,
        lm_suite_candidate,
        lm_suite_candidate_oracle,
    )

    oracle = lm_suite_candidate_oracle()
    assert oracle.count("AS probe") == len(_LM_MEMBERS) == 3
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, lm_suite_candidate(spark, sf).collect()))
        con = _duck_all(sf)
        want = sorted(map(tuple, con.execute(oracle).fetchall()))
        con.close()
        assert len(got) > 0 and got == want
        assert len({r[0] for r in got}) == 3
