"""BM25 ranked retrieval: Spark vs DuckDB differential + semantic
properties (idf monotonicity, length normalization, plan shape)."""

from __future__ import annotations

import duckdb
import pytest

from knowledge_graph_system_spark.operators.ranking import bm25_search, bm25_sql
from tests.conftest import SF_DIR

QUERY = ["spark", "join", "window"]


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


def test_bm25_matches_oracle(docs, duck):
    got = [
        (r["doc_id"], r["score"], r["n_hit_terms"])
        for r in bm25_search(docs, QUERY, top_k=15).collect()
    ]
    want = [tuple(r) for r in duck.sql(bm25_sql("documents", QUERY, top_k=15)).fetchall()]
    assert len(got) == 15
    assert [(a, c) for a, _, c in got] == [(a, c) for a, _, c in want]
    for (_, s1, _), (_, s2, _) in zip(got, want):
        assert s1 == pytest.approx(s2, abs=2e-6)


def test_bm25_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "cat dog"),                   # short doc, both terms
            (2, "cat dog " + "filler " * 50), # same terms, long doc
            (3, "cat cat cat cat"),           # high tf, one term
            (4, "bird fish"),                 # no hit
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bm25_search(df, ["cat", "dog"], top_k=10).collect()}
    assert 4 not in out                       # no-hit docs never surface
    assert out[1]["n_hit_terms"] == 2 and out[3]["n_hit_terms"] == 1
    # length normalization: same tf, shorter doc scores higher
    assert out[1]["score"] > out[2]["score"]
    # rarer term ('dog': df=2) contributes more than repeating a common
    # one ('cat': df=3) — doc 1 beats the tf-stuffed doc 3
    assert out[1]["score"] > out[3]["score"]


def test_bm25_plan_shape(docs):
    """Term filter must run BEFORE the aggregation shuffle (the
    exploded corpus never shuffles unfiltered) and the final top-k
    must plan as TakeOrderedAndProject, not a global sort."""
    plan = (
        bm25_search(docs, QUERY, top_k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    # the corpus is exploded exactly ONCE (df rides a window over the
    # aggregated hits, not a second scan)
    assert plan.count("Generate explode") == 1
    # the query-vocabulary filter runs on the generate output, before
    # the aggregation exchange
    gen_pos = plan.find("Generate explode")
    filt_pos = plan.find("Filter term#")
    exch_pos = plan.find("Exchange hashpartitioning(doc_id")
    assert -1 < filt_pos < gen_pos  # plan prints top-down: filter above generate
    assert exch_pos < filt_pos      # and below (after) the exchange line


def test_bm25_rejects_empty_query(docs):
    with pytest.raises(ValueError):
        bm25_search(docs, [])


def test_prebuilt_postings_equal_fused(docs, spark, tmp_path):
    """The offline-index path (postings built once, persisted, queried
    later) returns exactly what the fused one-pass operator returns."""
    from knowledge_graph_system_spark.operators.ranking import (
        bm25_from_postings,
        build_postings,
    )

    postings, lengths = build_postings(docs)
    postings.write.mode("overwrite").parquet(str(tmp_path / "postings"))
    lengths.write.mode("overwrite").parquet(str(tmp_path / "lengths"))
    got = [
        tuple(r)
        for r in bm25_from_postings(
            spark.read.parquet(str(tmp_path / "postings")),
            spark.read.parquet(str(tmp_path / "lengths")),
            QUERY,
            top_k=15,
        ).collect()
    ]
    want = [tuple(r) for r in bm25_search(docs, QUERY, top_k=15).collect()]
    assert got == want


def test_bm25_no_hit_query_returns_empty(docs):
    """Query terms absent from the corpus: empty result, no error."""
    assert bm25_search(docs, ["zzzznotaword", "qqqqmissing"]).count() == 0
