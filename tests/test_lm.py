"""Bigram-LM quality scoring: DuckDB differential, hand-computed
semantics on a constructed corpus, and plan shape."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from knowledge_graph_system_spark.operators.lm import (
    SMOOTH_K,
    lm_score,
    lm_score_sql,
    t_lm_quality,
    t_lm_quality_oracle,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    yield con
    con.close()


def test_lm_score_matches_duckdb(docs, duck):
    got = sorted(map(tuple, lm_score(docs).collect()))
    want = sorted(map(tuple, duck.execute(lm_score_sql("documents")).fetchall()))
    assert len(got) > 100
    assert got == want


def test_lm_score_hand_computed(spark):
    """3-doc toy corpus: verify the add-k arithmetic end to end."""
    rows = [(1, "a b a b"), (2, "a b"), (3, "z z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_score(df).collect()}
    # corpus: bigrams ab:2, ba:1, ab(doc2):+1 -> ab:3? recount:
    # doc1: (a,b),(b,a),(a,b); doc2: (a,b); doc3: (z,z)
    c12 = {("a", "b"): 3, ("b", "a"): 1, ("z", "z"): 1}
    c1 = {"a": 3, "b": 3, "z": 2}
    v = 3
    k = SMOOTH_K

    def lp(w1, w2):
        return math.log((c12.get((w1, w2), 0) + k) / (c1.get(w1, 0) + k * v))

    for doc_id, text in rows:
        ws = text.split(" ")
        grams = list(zip(ws, ws[1:]))
        want = round(sum(lp(a, b) for a, b in grams) / len(grams), 4)
        assert out[doc_id]["lm_logp"] == pytest.approx(want, abs=1e-9)
        assert out[doc_id]["n_bigrams"] == len(grams)


def test_outliers_rank_low(spark):
    """A document made of corpus-typical bigrams must outscore one made
    of never-seen transitions — the filtering property that matters."""
    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((100, "zq xv qx vz zq xv"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lm_logp"] for r in lm_score(df).collect()}
    assert out[100] < out[0]


def test_lm_plan_shape(docs):
    """Corpus bigram stream joins broadcast count frames; no Python,
    no cartesian product."""
    plan = lm_score(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_lm_count_broadcast_guard(docs, monkeypatch):
    """Past LM_COUNT_BROADCAST_MAX rows the count-frame joins drop
    their broadcast hints (the planner decides) — the r8 tombstone
    defect class, closed for the LM path (VERDICT r9 wrong #1). The
    hint presence/absence is pinned on the analyzed plan and the
    fallback path returns exactly the hinted path's rows."""
    from knowledge_graph_system_spark.operators import lm

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    hinted_df = lm_score(docs)
    assert analyzed(hinted_df).count("broadcast") >= 2  # bigrams + unigrams
    hinted = sorted(map(tuple, hinted_df.collect()))

    monkeypatch.setattr(lm, "LM_COUNT_BROADCAST_MAX", 0)
    guarded_df = lm_score(docs)
    assert analyzed(guarded_df).count("broadcast") == analyzed(hinted_df).count(
        "broadcast"
    ) - 2
    assert sorted(map(tuple, guarded_df.collect())) == hinted


def test_r8_candidate_lm_quality(spark, duck):
    """Driver-style compare for the prepared registry row."""
    got = sorted(map(tuple, t_lm_quality(spark, SF_DIR).collect()))
    want = sorted(map(tuple, duck.execute(t_lm_quality_oracle()).fetchall()))
    assert got == want and len(got) > 0


def test_r11_candidate_ccnet_buckets(spark):
    """Driver-style compare for the prepared t_ccnet_buckets row at
    BOTH gate scale factors, plus the bucketing semantics: terciles
    are within one doc of equal thirds, and every head score strictly
    exceeds every tail score."""
    import duckdb

    from knowledge_graph_system_spark.operators.lm import (
        t_ccnet_buckets,
        t_ccnet_buckets_oracle,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = t_ccnet_buckets(spark, sf).collect()
        got = sorted(map(tuple, rows))
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        want = sorted(
            map(tuple, con.execute(t_ccnet_buckets_oracle()).fetchall())
        )
        con.close()
        assert len(got) > 0 and got == want

        from collections import Counter

        sizes = Counter(r["bucket"] for r in rows)
        assert set(sizes) == {"head", "middle", "tail"}
        assert max(sizes.values()) - min(sizes.values()) <= max(
            1, len(rows) // 100
        )
        assert min(
            r["lm_logp"] for r in rows if r["bucket"] == "head"
        ) > max(r["lm_logp"] for r in rows if r["bucket"] == "tail")


def test_lm_score_from_model_matches_self_trained(spark):
    """Value-parity pin (lm_score_from_model docstring): the
    scoring-only path under a pre-trained model returns EXACTLY what
    lm_score's train-then-score path returns when handed the same
    corpus's model. Since the r17 fold lm_score delegates here, so
    this now guards the delegation composition (the plan-level
    byte-stability pin lives in tests/test_lm_fold.py)."""
    from knowledge_graph_system_spark.operators.lm import (
        bigram_counts,
        lm_score_from_model,
    )
    from knowledge_graph_system_spark.registry import Ctx

    docs = Ctx.get(spark, SF_DIR).tables["documents"]
    bigrams, unigrams, v = bigram_counts(docs)
    got = sorted(map(tuple, lm_score_from_model(docs, bigrams, unigrams, v).collect()))
    want = sorted(map(tuple, lm_score(docs).collect()))
    assert len(got) > 0 and got == want
