"""SemDeDup semantic dedup (operators/semdedup.py) — prepared r12
registry candidate: driver-style oracle compares at both gate scale
factors plus the paper's exemplar-election semantics."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _oracle_rows(sql: str, sf: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    rows = con.execute(sql).fetchall()
    con.close()
    return rows


def test_r12_candidate_d_semdedup(spark):
    """Driver-style compare for the prepared d_semdedup row at BOTH
    gate scale factors: cluster → within-cluster pairs → CC groups →
    argmin-centroid-cosine election, hash-exact against the recursive
    DuckDB twin, and provably non-empty."""
    from knowledge_graph_system_spark.operators.semdedup import (
        d_semdedup,
        d_semdedup_oracle,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(map(tuple, d_semdedup(spark, sf).collect()))
        want = sorted(map(tuple, _oracle_rows(d_semdedup_oracle(), sf)))
        assert len(got) > 0 and got == want


def test_semdedup_election_semantics(spark):
    """Exactly one keeper per group; every group has >= 2 members; the
    keeper is the member with the LOWEST cosine to its cluster centroid
    (ties by vec_id) — the SemDeDup exemplar rule."""
    from knowledge_graph_system_spark.operators.semdedup import (
        cluster_assign,
        d_semdedup,
    )
    from knowledge_graph_system_spark.registry import Ctx

    sf = "/root/testdata/sf0.001"
    groups = d_semdedup(spark, sf).collect()
    by_group: dict[int, list] = {}
    for r in groups:
        by_group.setdefault(r["group_id"], []).append(r)
    assert by_group
    for members in by_group.values():
        assert len(members) >= 2
        assert sum(1 for m in members if m["keeper"]) == 1

    ctx = Ctx.get(spark, sf)
    vecs = ctx.tables["embeddings"].select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    ccos = {r["vec_id"]: r["ccos"] for r in cluster_assign(vecs).collect()}
    for members in by_group.values():
        elected = [m for m in members if m["keeper"]][0]
        best = min(members, key=lambda m: (ccos[m["vec_id"]], m["vec_id"]))
        assert elected["vec_id"] == best["vec_id"]


def test_semdedup_groups_are_within_cluster(spark):
    """Single-assignment contract: every duplicate group lives inside
    one cluster (the paper's trade — cross-cluster pairs are out of
    contract by construction)."""
    from knowledge_graph_system_spark.operators.semdedup import d_semdedup

    rows = d_semdedup(spark, "/root/testdata/sf0.001").collect()
    labels_per_group: dict[int, set] = {}
    for r in rows:
        labels_per_group.setdefault(r["group_id"], set()).add(r["clabel"])
    assert all(len(s) == 1 for s in labels_per_group.values())


# ---------------------------------------------------------------------------
# r13 candidate: k ∝ N SemDeDup over a deterministic Lloyd assignment
# (the production contract the fixed-k row documents, made executable).
# ---------------------------------------------------------------------------


def test_r13_candidate_d_semdedup_kmeans(spark):
    """Driver-style compare at BOTH gate scale factors, Lloyd training
    included in the oracle; and the Spark side derives the oracle's
    gate-scale k = 10 at both (N = 500, CLUSTER_TARGET = 50)."""
    import duckdb

    from knowledge_graph_system_spark.operators.semdedup import (
        CLUSTER_TARGET,
        d_semdedup_kmeans,
        d_semdedup_kmeans_oracle,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
        assert max(2, -(-n // CLUSTER_TARGET)) == 10  # the oracle's literal
        got = sorted(map(tuple, d_semdedup_kmeans(spark, sf).collect()))
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
        )
        want = sorted(map(tuple, con.execute(d_semdedup_kmeans_oracle()).fetchall()))
        con.close()
        assert len(got) > 0 and got == want


def test_kmeans_assign_contract(spark):
    """Deterministic re-run equality; clabel in [1, k]; every vector
    assigned exactly once; cluster populations actually bounded (the
    linear-pair-volume claim needs no cluster to balloon — pinned at
    4x the even share on this corpus)."""
    from knowledge_graph_system_spark.functions.scale import fan_out
    from knowledge_graph_system_spark.operators.semdedup import kmeans_assign
    from knowledge_graph_system_spark.registry import Ctx
    from pyspark.sql import functions as F

    ctx = Ctx.get(spark, SF)
    vecs = fan_out(
        ctx.tables["embeddings"].select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    ).localCheckpoint(eager=True)
    k = 10
    a1 = {r["vec_id"]: (r["clabel"], r["ccos"]) for r in kmeans_assign(vecs, k).collect()}
    a2 = {r["vec_id"]: (r["clabel"], r["ccos"]) for r in kmeans_assign(vecs, k).collect()}
    assert a1 == a2
    assert len(a1) == vecs.count()
    assert all(1 <= c <= k for c, _ in a1.values())
    from collections import Counter

    pops = Counter(c for c, _ in a1.values())
    assert max(pops.values()) <= 4 * (len(a1) // k)

    # the O(k·D) distance array is evaluated ONCE per row (ADVICE r12):
    # the assignment plan carries exactly one distance transform — the
    # __dists projection — not one inside array_position and another
    # inside array_min
    plan = (
        kmeans_assign(vecs, k)._jdf.queryExecution().executedPlan().toString()
    )
    # argmin references the projected __dists attribute twice, but the
    # distance transform itself is planned once: one array_min, one
    # array_position, and exactly TWO zip_with sites total (the
    # distance transform + the output cosine) — a duplicated distance
    # array would make it three
    assert plan.count("array_min") == 1
    assert plan.count("array_position") == 1
    assert plan.count("zip_with") == 2


def test_kmeans_semdedup_property_random_corpora(spark):
    """Property test (the test_bpe three-way pattern): on random small
    vector sets — a coarse value grid to force distance TIES and
    duplicate vectors to force EMPTY clusters — the Spark Lloyd
    assignment, the generated DuckDB twin, and an independent
    pure-Python Lloyd agree exactly; the full groups/keeper chain
    agrees Spark-vs-DuckDB. Zero vectors are excluded by construction
    (cosine-to-centroid is NULL there and the two engines order NULLs
    differently; the embeddings fixture never contains one)."""
    import duckdb
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from knowledge_graph_system_spark.operators.semdedup import (
        d_semdedup_kmeans_oracle,
        kmeans_assign,
        semdedup_groups,
    )

    grid = st.sampled_from([0.0, 0.5, 1.0, 2.0])
    vec = st.tuples(st.sampled_from([0.5, 1.0, 2.0]), grid, grid, grid)
    corpus = st.lists(vec, min_size=4, max_size=12)

    def py_lloyd(vs, k, iters=3):
        ids = sorted(range(len(vs)))
        cb = [list(vs[i]) for i in ids[:k]]
        dim = len(vs[0])
        for _ in range(iters):
            assign = {}
            for i in ids:
                dists = [
                    round(sum((vs[i][d] - c[d]) ** 2 for d in range(dim)), 6)
                    for c in cb
                ]
                assign[i] = dists.index(min(dists))
            for j in range(k):
                members = [i for i in ids if assign[i] == j]
                if members:
                    # recomputed means round to 12 dp on every engine
                    # (semdedup.MEAN_ROUND_DP) so the argmin tie
                    # surface is identical by construction
                    cb[j] = [
                        round(
                            sum(vs[i][d] for i in members) / len(members), 12
                        )
                        for d in range(dim)
                    ]
        out = {}
        for i in ids:
            dists = [
                round(sum((vs[i][d] - c[d]) ** 2 for d in range(dim)), 6)
                for c in cb
            ]
            out[i] = dists.index(min(dists)) + 1
        return out

    @settings(max_examples=8, deadline=None)
    @given(corpus=corpus)
    def check(corpus):
        vs = [list(map(float, v)) for v in corpus]
        k = max(2, -(-len(vs) // 4))  # small clusters -> empties likely
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vs)], "vec_id long, v array<double>"
        )
        assign = kmeans_assign(df, k)
        got_assign = {r["vec_id"]: r["clabel"] for r in assign.collect()}
        assert got_assign == py_lloyd(vs, k)

        got = sorted(map(tuple, semdedup_groups(df, assign=assign).collect()))
        con = duckdb.connect()
        con.register(
            "embeddings",
            pd.DataFrame(
                {"vec_id": range(len(vs)), "embedding": [list(v) for v in vs]}
            ),
        )
        want = sorted(
            map(tuple, con.execute(d_semdedup_kmeans_oracle(k=k)).fetchall())
        )
        con.close()
        assert got == want

    check()


def test_kmeans_codebook_refuses_short_seed(spark):
    """ADVICE r13 (low): fewer than k vectors cannot Forgy-init a
    k-codebook — refuse loudly instead of silently shrinking the
    codebook (which would degrade the k ∝ N contract without signal)."""
    from knowledge_graph_system_spark.operators.semdedup import (
        kmeans_codebook,
    )

    vecs = spark.createDataFrame(
        [("a", [0.1, 0.2]), ("b", [0.3, 0.4])],
        "vec_id string, v array<double>",
    )
    with pytest.raises(ValueError, match="Forgy"):
        kmeans_codebook(vecs, k=5)
