"""Vector / similarity operators (SURVEY.md §2.5, V1–V8).

Reference behavior being reproduced:
- V1 concept vector search: full scan + Python cosine + threshold + top-k
  (`/root/reference/api/app/lib/age_client/query.py:35-119`). Here: one
  declarative plan — scan → codegen'd dot product → filter → top-k. At
  100 TB the scan is partition-pruned parquet and the top-k is a
  TakeOrderedAndProject (no full sort, no driver collect).
- V3 batch cosine (`similarity_calculator.py:30-172`) → `cosine_expr`.
- V5 smell test (`query.py:184-275`): evidence vs endpoint similarity
  tiers LOW/MEDIUM/HIGH at 0.85/0.70.
- V8 near-miss threshold hint (`routes/queries.py:720-746`): rescan at
  0.3 and report counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import oracle_snippets as osql
from ..functions.vectors import dot_expr, lit_vec, unit_vec_py
from ..registry import Ctx, query

DEFAULT_THRESHOLD = 0.3  # analog of the reference's 0.6 server default
                         # (`search_config.py:20`), rescaled for 16-dim
                         # synthetic vectors where cosine spreads wider.


def vector_search(
    nodes_emb: DataFrame,
    query_vec: list[float],
    threshold: float = DEFAULT_THRESHOLD,
    k: int = 50,
    sim_col: str = "score",
) -> DataFrame:
    """Top-k nodes by cosine similarity to `query_vec` (embeddings are unit
    vectors, so cosine == dot). Deterministic: score rounded to 6 dp before
    thresholding, ties broken by node_id."""
    scored = nodes_emb.withColumn("_q", lit_vec(query_vec)).withColumn(
        sim_col, F.round(dot_expr("embedding", "_q"), 6)
    )
    return (
        scored.filter(F.col(sim_col) >= threshold)
        .select("node_id", "label", sim_col)
        .orderBy(F.col(sim_col).desc(), F.col("node_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Registered queries + DuckDB oracles
# ---------------------------------------------------------------------------

from ..sources.graph_view import graph_ctes  # noqa: E402

_QV_SEED = "query:1"


def _node_emb_sub() -> str:
    """DuckDB subquery: (node_id, label, emb) with the engine's unit vectors."""
    return osql.unit_vec_cte("node_id", "node_id, label", "nodes")


@query(
    "v1_vector_search",
    oracle=graph_ctes()
    + f""",
q AS (SELECT list_transform(raw, x -> x / norm) AS qv FROM
      (SELECT raw, {osql.l2_norm_sql('raw')} AS norm FROM
       (SELECT {osql.raw_vec_sql("'" + _QV_SEED + "'")} AS raw) t1) t2),
emb AS (SELECT node_id, label, emb FROM {_node_emb_sub()} e)
SELECT node_id, label, round({osql.dot_sql('emb', 'qv')}, 6) AS score
FROM emb, q
WHERE round({osql.dot_sql('emb', 'qv')}, 6) >= {DEFAULT_THRESHOLD}
ORDER BY score DESC, node_id
LIMIT 50
""",
)
def v1_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = Ctx.get(spark, sf_dir)
    return vector_search(ctx.nodes_emb, unit_vec_py(_QV_SEED))


@query(
    "v8_threshold_hint",
    oracle=graph_ctes()
    + f""",
q AS (SELECT list_transform(raw, x -> x / norm) AS qv FROM
      (SELECT raw, {osql.l2_norm_sql('raw')} AS norm FROM
       (SELECT {osql.raw_vec_sql("'query:hint'")} AS raw) t1) t2),
emb AS (SELECT node_id, emb FROM {_node_emb_sub()} e),
scored AS (SELECT node_id, round({osql.dot_sql('emb', 'qv')}, 6) AS score FROM emb, q)
SELECT CAST(sum(CASE WHEN score >= 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS strict_hits,
       CAST(sum(CASE WHEN score >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS relaxed_hits,
       round(max(score), 6) AS best_score
FROM scored
""",
)
def v8_threshold_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-miss hint: counts at strict vs relaxed threshold + best score
    (`routes/queries.py:720-746`). One pass over the scored scan."""
    ctx = Ctx.get(spark, sf_dir)
    scored = ctx.nodes_emb.withColumn("_q", lit_vec(unit_vec_py("query:hint"))).withColumn(
        "score", F.round(dot_expr("embedding", "_q"), 6)
    )
    return scored.agg(
        F.sum(F.when(F.col("score") >= 0.55, 1).otherwise(0)).alias("strict_hits"),
        F.sum(F.when(F.col("score") >= 0.3, 1).otherwise(0)).alias("relaxed_hits"),
        F.round(F.max("score"), 6).alias("best_score"),
    )


@query(
    "v5_smell_test",
    oracle=graph_ctes()
    + f""",
emb AS (SELECT node_id, emb FROM {_node_emb_sub()} e),
pairs AS (
  SELECT e.src, e.dst, e.rel_type,
         round({osql.dot_sql('es.emb', 'ed.emb')}, 6) AS endpoint_sim
  FROM edges e
  JOIN emb es ON es.node_id = e.src
  JOIN emb ed ON ed.node_id = e.dst
  WHERE e.rel_type = 'PLACED'
)
SELECT src, dst, endpoint_sim,
       CASE WHEN endpoint_sim >= 0.5 THEN 'LOW'
            WHEN endpoint_sim >= 0.2 THEN 'MEDIUM'
            ELSE 'HIGH' END AS cognitive_leap
FROM pairs
""",
)
def v5_smell_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-connection smell test over PLACED edges: endpoint embedding
    similarity → leap tier (`query.py:184-275`; tiers rescaled to the
    16-dim synthetic space). Self-join stays shuffle-based on node_id;
    at 100 TB both sides are bucketed by node_id so this is co-located."""
    ctx = Ctx.get(spark, sf_dir)
    emb = ctx.nodes_emb.select("node_id", "embedding")
    e = ctx.edges.filter(F.col("rel_type") == "PLACED").select("src", "dst")
    pairs = (
        e.join(emb.withColumnRenamed("node_id", "src").withColumnRenamed("embedding", "_es"), "src")
        .join(emb.withColumnRenamed("node_id", "dst").withColumnRenamed("embedding", "_ed"), "dst")
        .withColumn("endpoint_sim", F.round(dot_expr("_es", "_ed"), 6))
    )
    return pairs.select(
        "src",
        "dst",
        "endpoint_sim",
        F.when(F.col("endpoint_sim") >= 0.5, "LOW")
        .when(F.col("endpoint_sim") >= 0.2, "MEDIUM")
        .otherwise("HIGH")
        .alias("cognitive_leap"),
    )


# ---------------------------------------------------------------------------
# V2 — source-chunk search (chunk → embed → score → best-chunk-per-doc,
#      with stale-hash detection) and V6 — synonym detection
# ---------------------------------------------------------------------------

from ..functions.text import chunk_sql  # noqa: E402
from ..functions.vectors import with_unit_vec  # noqa: E402

_V2_SEED = "query:chunks"


@query(
    "v2_chunk_search",
    oracle="WITH "
    + chunk_sql(20).strip().lstrip()
    + f""",
cemb AS (
  SELECT doc_id, chunk_index, emb FROM
  (SELECT doc_id, chunk_index, list_transform(raw, x -> x / norm) AS emb FROM
   (SELECT doc_id, chunk_index, raw, {osql.l2_norm_sql('raw')} AS norm FROM
    (SELECT doc_id, chunk_index, {osql.raw_vec_sql("doc_id || ':' || chunk_index")} AS raw
     FROM chunks) t1) t2) t3
),
q AS (SELECT list_transform(raw, x -> x / norm) AS qv FROM
      (SELECT raw, {osql.l2_norm_sql('raw')} AS norm FROM
       (SELECT {osql.raw_vec_sql("'" + _V2_SEED + "'")} AS raw) t1) t2),
scored AS (
  SELECT doc_id, chunk_index, round({osql.dot_sql('emb', 'qv')}, 6) AS sim
  FROM cemb, q
),
best AS (
  SELECT doc_id, chunk_index, sim,
         row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, chunk_index) AS rn
  FROM scored
)
SELECT CAST(b.doc_id AS BIGINT) AS doc_id, CAST(b.chunk_index AS INT) AS chunk_index, b.sim,
       (substr(md5(b.doc_id || ':stale'), 1, 1) IN ('0', '1')) AS stale
FROM best b
WHERE b.rn = 1 AND b.sim >= 0.3
""",
)
def v2_chunk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 source-chunk search (`/root/reference/api/app/routes/queries.py:
    350-460`): chunk documents (F3, 20-word windows), deterministic chunk
    embeddings, cosine vs query, threshold, best-chunk-per-source window,
    and the stale-content-hash flag (~12.5% pseudo-stale mirrors the
    reference's source_hash mismatch detection)."""
    from ..functions.text import chunk_by_count

    ctx = Ctx.get(spark, sf_dir)
    chunks = chunk_by_count(ctx.tables["documents"])
    cemb = with_unit_vec(
        chunks.withColumn(
            "_seed", F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_index").cast("string"))
        ),
        "_seed",
        out_col="emb",
    )
    scored = cemb.withColumn("_q", lit_vec(unit_vec_py(_V2_SEED))).withColumn(
        "sim", F.round(dot_expr("emb", "_q"), 6)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("sim").desc(), "chunk_index")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("sim") >= 0.3))
        .select(
            "doc_id",
            "chunk_index",
            "sim",
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":stale"))), 1, 1)
            .isin("0", "1")
            .alias("stale"),
        )
    )


@query(
    "v6_synonym_detection",
    oracle=graph_ctes()
    + f""",
vemb AS (SELECT rel_type, emb FROM {osql.unit_vec_cte("'vocab:' || rel_type", 'rel_type', 'vocab')} v)
SELECT a.rel_type AS rel_a, b.rel_type AS rel_b,
       round({osql.dot_sql('a.emb', 'b.emb')}, 6) AS sim,
       CASE WHEN round({osql.dot_sql('a.emb', 'b.emb')}, 6) >= 0.35 THEN 'strong'
            WHEN round({osql.dot_sql('a.emb', 'b.emb')}, 6) >= 0.1 THEN 'moderate'
            ELSE 'weak' END AS strength
FROM vemb a JOIN vemb b ON a.rel_type < b.rel_type
""",
)
def v6_synonym_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 synonym detection (`/root/reference/api/app/lib/
    synonym_detector.py:196-700`): pairwise rel-type embedding similarity
    with strength tiers; vocabulary-sized crossJoin (36 pairs)."""
    ctx = Ctx.get(spark, sf_dir)
    v = ctx.vocab.select("rel_type", "embedding")
    a = v.select(F.col("rel_type").alias("rel_a"), F.col("embedding").alias("ea"))
    b = v.select(F.col("rel_type").alias("rel_b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("rel_a") < F.col("rel_b")).withColumn(
        "sim", F.round(dot_expr("ea", "eb"), 6)
    )
    return pairs.select(
        "rel_a",
        "rel_b",
        "sim",
        F.when(F.col("sim") >= 0.35, "strong")
        .when(F.col("sim") >= 0.1, "moderate")
        .otherwise("weak")
        .alias("strength"),
    )


@query(
    "v6b_merge_groups",
    oracle=graph_ctes()
    + f""",
vemb AS (SELECT rel_type, emb FROM {osql.unit_vec_cte("'vocab:' || rel_type", 'rel_type', 'vocab')} v),
sims AS (SELECT a.rel_type AS rel_a, b.rel_type AS rel_b,
                round({osql.dot_sql('a.emb', 'b.emb')}, 6) AS sim
         FROM vemb a JOIN vemb b ON a.rel_type < b.rel_type),
strong AS (SELECT rel_a, rel_b FROM sims WHERE sim >= 0.35),
und AS (SELECT rel_a AS a, rel_b AS b FROM strong
        UNION ALL SELECT rel_b, rel_a FROM strong),
reach(node, comp) AS (
  SELECT rel_type, rel_type FROM vocab
  UNION
  SELECT u.b, r.comp FROM reach r JOIN und u ON u.a = r.node),
comp AS (SELECT node AS rel_type, min(comp) AS comp FROM reach GROUP BY node),
cnt AS (SELECT rel_type, count(*) AS edge_count FROM edges GROUP BY rel_type),
fullv AS (SELECT c.rel_type, c.comp, coalesce(cnt.edge_count, 0) AS edge_count
          FROM comp c LEFT JOIN cnt ON cnt.rel_type = c.rel_type),
canon AS (SELECT comp, rel_type AS canonical FROM
          (SELECT comp, rel_type,
                  row_number() OVER (PARTITION BY comp ORDER BY edge_count DESC, rel_type) AS rn
           FROM fullv) WHERE rn = 1),
gs AS (SELECT comp, CAST(count(*) AS BIGINT) AS group_size FROM fullv GROUP BY comp)
SELECT f.rel_type, c.canonical, gs.group_size,
       CASE WHEN f.rel_type = c.canonical THEN 'keep' ELSE 'merge_into' END AS action
FROM fullv f JOIN canon c ON c.comp = f.comp JOIN gs ON gs.comp = f.comp
""",
)
def v6b_merge_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 merge-graph assembly on top of the pairwise tiers: connected
    components over STRONG pairs become merge groups; each group's
    canonical (preserved) type is chosen by the reference's merge rule —
    edge count, then alphabetical tiebreak
    (`/root/reference/api/app/lib/synonym_detector.py:358-462` decisions
    2-3, merge graph per `synonym_detector.py:677-700`).

    The strong-pair edge list is vocabulary-bounded (≤ |vocab|² rows;
    the reference's whole detector is in-memory for the same reason), so
    collecting it for union-find is a bounded driver step; everything
    row-scaled (edge counts, the final join) stays distributed.
    """
    ctx = Ctx.get(spark, sf_dir)
    v = ctx.vocab.select("rel_type", "embedding")
    a = v.select(F.col("rel_type").alias("rel_a"), F.col("embedding").alias("ea"))
    b = v.select(F.col("rel_type").alias("rel_b"), F.col("embedding").alias("eb"))
    strong = (
        a.join(b, F.col("rel_a") < F.col("rel_b"))
        .withColumn("sim", F.round(dot_expr("ea", "eb"), 6))
        .filter(F.col("sim") >= 0.35)
        .select("rel_a", "rel_b")
        .collect()
    )
    types = [r["rel_type"] for r in v.select("rel_type").collect()]
    parent = {t: t for t in types}

    def find(t: str) -> str:
        while parent[t] != t:
            parent[t] = parent[parent[t]]
            t = parent[t]
        return t

    for r in strong:
        ra, rb = find(r["rel_a"]), find(r["rel_b"])
        if ra != rb:
            parent[rb] = ra
    comp = {t: min(u for u in types if find(u) == find(t)) for t in types}
    from ..functions.scale import local_df

    comp_df = local_df(spark, [(t, c) for t, c in comp.items()], "rel_type string, comp string")

    cnt = ctx.edges.groupBy("rel_type").agg(F.count("*").alias("edge_count"))
    fullv = (
        comp_df.join(cnt, "rel_type", "left")
        .withColumn("edge_count", F.coalesce("edge_count", F.lit(0)))
    )
    w = Window.partitionBy("comp").orderBy(F.col("edge_count").desc(), "rel_type")
    canon = (
        fullv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("comp", F.col("rel_type").alias("canonical"))
    )
    gs = fullv.groupBy("comp").agg(F.count("*").alias("group_size"))
    return (
        fullv.join(F.broadcast(canon), "comp")
        .join(F.broadcast(gs), "comp")
        .select(
            "rel_type",
            "canonical",
            "group_size",
            F.when(F.col("rel_type") == F.col("canonical"), "keep")
            .otherwise("merge_into")
            .alias("action"),
        )
    )


_V3_SEEDS = ["q:a", "q:b", "q:c", "q:d", "q:e"]


@query(
    "v3_batch_cosine",
    oracle=graph_ctes()
    + f""",
queries AS (
  SELECT seed, emb FROM {osql.unit_vec_cte('seed', 'seed', "(SELECT unnest(['q:a','q:b','q:c','q:d','q:e']) AS seed)")} q
),
targets AS (SELECT node_id, emb FROM {osql.unit_vec_cte('node_id', 'node_id', "(SELECT * FROM nodes WHERE label = 'Supplier')")} t)
SELECT q.seed AS query_seed, t.node_id,
       round({osql.dot_sql('q.emb', 't.emb')}, 6) AS sim
FROM queries q CROSS JOIN targets t
""",
)
def v3_batch_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 batch cosine (`/root/reference/api/app/lib/similarity_calculator.py:
    30-172`): a query batch scored against a target set in one
    broadcast-join pass — the matrix-product shape, as columns."""
    from ..functions.vectors import with_unit_vec

    from ..functions.scale import local_df

    ctx = Ctx.get(spark, sf_dir)
    q = with_unit_vec(
        local_df(spark, [(s,) for s in _V3_SEEDS], "seed string"), "seed", out_col="qemb"
    ).withColumnRenamed("seed", "query_seed")
    t = ctx.nodes_emb.filter(F.col("label") == "Supplier").select("node_id", "embedding")
    return (
        t.join(F.broadcast(q))
        .withColumn("sim", F.round(dot_expr("qemb", "embedding"), 6))
        .select("query_seed", "node_id", "sim")
    )
