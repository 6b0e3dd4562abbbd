"""Ranked full-text retrieval: BM25 over the documents table.

The reference's search surface is embedding-vector search plus catalog
fuzzy/regex matching (`api/app/routes/queries.py:155-210` vector,
`api/app/services/concept_service.py:360-420` ILIKE paging); it has no
lexical ranker. A 100 TB text pipeline needs one constantly — corpus
QA ("which docs mention X"), dedup triage, eval-set mining — so this
fills that gap Spark-first. (Okapi BM25: Robertson & Walker, SIGIR'94;
k1/b defaults per the standard formulation.)

Scale shape:
- Terms explode ONCE and are filtered to the query vocabulary BEFORE
  any shuffle — the aggregated volume is rows containing query terms,
  not the corpus.
- Document lengths come from a length expression, not a second
  explode.
- IDF needs corpus-global N and per-term df: both tiny (|query| rows)
  — computed in the same plan and broadcast-joined.
- Final top-k is orderBy+limit → TakeOrderedAndProject, never a full
  sort at scale.

Scoring (integer tf/df/dl; only the final score is floating point,
rounded to 6 dp — oracle-stable):
  idf(t)  = ln( (N - df + 0.5) / (df + 0.5) + 1 )
  score   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

Registry note: lib + pytest in r6 (differential DuckDB oracle in
tests/test_ranking.py); registry slot r8+ (the r7 window is budgeted,
registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def build_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocabulary: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(postings, lengths): the two reusable BM25 frames.

    postings = (doc_id, term, tf); lengths = (doc_id, dl). At 100 TB
    these are built ONCE (optionally restricted to a vocabulary),
    written, and served to every query — the per-query plan then
    starts from a scan of them instead of a corpus explode.
    `bm25_search` composes exactly these builders inline for the
    build-and-query-in-one-pass case."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("__words"),
    )
    lengths = base.select("doc_id", F.size("__words").cast("bigint").alias("dl"))
    exploded = base.select("doc_id", F.explode("__words").alias("term"))
    if vocabulary is not None:
        # restrict BEFORE the shuffle: aggregated volume is term-hits,
        # not the corpus
        exploded = exploded.filter(F.col("term").isin(vocabulary))
    postings = exploded.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return postings, lengths


def bm25_from_postings(
    postings: DataFrame,
    lengths: DataFrame,
    query_terms: list[str],
    top_k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Score a query against prebuilt posting/length frames."""
    terms = [t for t in query_terms if t]
    if not terms:
        raise ValueError("bm25 needs at least one query term")
    # corpus stats: one tiny aggregate (N, avgdl) — broadcast below
    corpus = lengths.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = postings.filter(F.col("term").isin(terms))
    # df = rows per term in hits (one row per (doc, term)) — a window
    # count over the SMALL filtered frame, so a fused build+query plan
    # explodes the corpus exactly once (a groupBy-then-join
    # re-derivation would make Catalyst recompute the explode for the
    # df branch; pinned by test_bm25_plan_shape)
    from pyspark.sql.window import Window

    with_df = hits.withColumn(
        "df", F.count("*").over(Window.partitionBy("term")).cast("bigint")
    )

    scored = (
        with_df.join(lengths, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (F.lit(k1) + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score"), 6).alias("score"),
            F.count("*").alias("n_hit_terms"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k documents by BM25 over whitespace terms, build-and-query
    in one pass (postings restricted to the query vocabulary before
    any shuffle).

    Returns (doc_id, score, n_hit_terms) ordered by score desc with
    doc_id as the deterministic tie-break."""
    terms = [t for t in query_terms if t]
    if not terms:
        raise ValueError("bm25_search needs at least one query term")
    postings, lengths = build_postings(docs, id_col, text_col, vocabulary=terms)
    return bm25_from_postings(postings, lengths, terms, top_k, k1, b)


def bm25_sql(
    table: str,
    query_terms: list[str],
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB twin of bm25_search (identical arithmetic and rounding)."""
    terms = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms if t)
    return f"""
WITH lengths AS (
  SELECT {id_col} AS doc_id,
         CAST(len(string_split({text_col}, ' ')) AS BIGINT) AS dl
  FROM {table}
),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lengths),
hits AS (
  SELECT {table}.{id_col} AS doc_id, t.term, count(*) AS tf
  FROM {table},
       LATERAL (SELECT unnest(string_split({text_col}, ' ')) AS term) t
  WHERE t.term IN ({terms})
  GROUP BY 1, 2
),
df_by_term AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term),
scored AS (
  SELECT h.doc_id,
         ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (h.tf * ({k1} + 1.0))
           / (h.tf + {k1} * (1.0 - {b} + {b} * l.dl / c.avgdl)) AS term_score
  FROM hits h
  JOIN df_by_term d ON d.term = h.term
  JOIN lengths l ON l.doc_id = h.doc_id
  CROSS JOIN corpus c
)
SELECT doc_id, round(sum(term_score), 6) AS score,
       CAST(count(*) AS BIGINT) AS n_hit_terms
FROM scored
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {top_k}
"""


# ---------------------------------------------------------------------------
# r7 registration: the BM25 family's driver row (the lexical-ranker
# surface shipped lib+pytest in r6; the differential DuckDB oracle in
# tests/test_ranking.py is the same arithmetic as bm25_sql).
# ---------------------------------------------------------------------------

from ..registry import query  # noqa: E402

_BM25_QUERY = ["spark", "join", "window"]


@query("r_bm25_topk", oracle=bm25_sql("documents", _BM25_QUERY, top_k=20))
def r_bm25_topk(spark, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a fixed three-term query — the
    fused build-and-query path (postings restricted to the query
    vocabulary before any shuffle; df via a window over filtered hits;
    TakeOrderedAndProject top-k)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_search(docs, _BM25_QUERY, top_k=20)
