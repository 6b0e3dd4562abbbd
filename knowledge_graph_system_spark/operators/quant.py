"""Scalar-quantized (SQ8) similarity search — the memory-compression
leg of the ANN family (`operators/ann.py` holds the brute/IVF legs).

At 100 TB of float32 embeddings the dominant cost of every scan-based
similarity pass is bytes read. SQ8 is the standard production answer
(FAISS's ScalarQuantizer, Milvus SQ8): quantize each dimension to an
8-bit code against per-dimension [min, max] bounds, score the
DECODED approximation (asymmetric: raw query × decoded base), and
exactly re-rank only the top candidate slice. The code table is
1 byte/dim vs 8 for the double-typed arrays the exact path scans —
an ~8× scan-byte reduction (4× vs float32 storage) for a recall hit
bounded by the quantization error, which the exact re-rank then
repairs within the candidate slice.

Plan shape (the part that must survive a 1000-executor cluster):
- per-dimension bounds are ONE aggregate over a posexplode — 64
  result rows (dimension-sized, like the ≤nlist centroid collects in
  `operators/ann.py`), collected once and re-emitted as array
  literals, so encode/decode/score are pure row-local projections
  inside whole-stage codegen. No per-row joins, no shuffle.
- encoding is write-time in a real deployment (a column appended to
  the vector table, exactly like the IVF cell assignment); the query
  pass scans codes only.
- the approximate pass is scan + per-query window top-C; the exact
  pass re-scores only |queries| × C rows. Both windows are
  partition-local per query (same shape as ann_brute_topk, whose
  TakeOrdered plan is pinned).

The oracle replays the identical arithmetic (same association order,
same floor(+0.5) midpoint rule, same 6-dp rounding before every
ordering) so the correctness gate pins the full quantize → decode →
approximate-rank → exact-rerank chain, not just the happy top-k.

Reference parity: the reference's only ANN surface is exact cosine in
Python (`api/app/lib/similarity_calculator.py:30-172`); this module is
pipeline-surface beyond it, same as `operators/ann.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scale import fan_out
from ..registry import Ctx, query
from .ann import _COS, _QUERY_IDS, _TOPK, _vectors

# candidate slice width for the exact re-rank: C = 5k keeps the exact
# pass |queries| × 50 rows while giving the approximate ranking enough
# slack that a code-rounding inversion inside the slice cannot push a
# true top-k member out of it on this corpus (recall pinned in
# tests/test_quant.py against ann_brute_topk).
_CAND_MULT = 5
_DIM = 64  # embeddings.parquet fixture dimension (ann.py's oracle pins the same)


def sq8_bounds(vectors: DataFrame) -> list[tuple[float, float]]:
    """Per-dimension (min, max) over the corpus, as a 64-element list.

    BOUNDED COLLECT (documented, like ann.py's ≤nlist centroid
    collects): the aggregate yields exactly one row per dimension —
    schema-sized, independent of corpus row count."""
    rows = (
        vectors.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    return [(r["mn"], r["mx"]) for r in rows]


def _bounds_cols(bounds: list[tuple[float, float]]) -> tuple[F.Column, F.Column]:
    mns = F.array(*[F.lit(float(mn)).cast("double") for mn, _ in bounds])
    mxs = F.array(*[F.lit(float(mx)).cast("double") for _, mx in bounds])
    return mns.alias("mns"), mxs.alias("mxs")


# code_d = floor(((x - mn) / (mx - mn)) * 255 + 0.5). Bounds computed
# over the encoded set give 0 ≤ code ≤ 255 by construction, but encode
# is WRITE-TIME against FROZEN bounds — an appended vector outside the
# frozen per-dim [min, max] must clamp to the code range, not emit
# out-of-range codes silently (ADVICE r10). Degenerate dimension
# (mn = mx) codes to 0 and decodes back to mn exactly. The transform
# length derives from len(bounds), so a non-64-dim table fails loudly
# in sq8_bounds/encode agreement rather than element_at reading nulls.


def _encode_expr(dim: int) -> str:
    return (
        f"transform(sequence(1, {dim}), d -> greatest(0, least(255,"
        " CAST(floor(CASE"
        " WHEN element_at(mxs, d) = element_at(mns, d) THEN 0.0D"
        " ELSE ((element_at(v, d) - element_at(mns, d))"
        " / (element_at(mxs, d) - element_at(mns, d))) * 255.0D + 0.5D END)"
        " AS INT))))"
    )


# decoded approximation x̂_d = mn + code * ((mx - mn) / 255)
def _decode_expr(dim: int) -> str:
    return (
        f"transform(sequence(1, {dim}), d -> element_at(mns, d)"
        " + CAST(element_at(codes, d) AS DOUBLE)"
        " * ((element_at(mxs, d) - element_at(mns, d)) / 255.0D))"
    )


# fixture-dimension instances (tests exercise these directly)
_ENCODE = _encode_expr(_DIM)
_DECODE = _decode_expr(_DIM)

# asymmetric approximate score: raw query × decoded base (same fold
# order and 6-dp rounding as ann.py's _COS, vhat in the base slot)
_ACOS = (
    "round(aggregate(zip_with(qv, vhat, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    " / nullif(sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))"
    " * sqrt(aggregate(vhat, 0D, (acc, x) -> acc + x * x)), 0D), 6)"
)


def sq8_encode(vectors: DataFrame, bounds: list[tuple[float, float]]) -> DataFrame:
    """(vec_id, codes array<int>) — the write-time quantized table. In a
    real deployment codes would persist as a binary column next to the
    vector parquet; here the int array keeps the parity math visible."""
    mns, mxs = _bounds_cols(bounds)
    return vectors.select("vec_id", "v", mns, mxs).select(
        "vec_id", F.expr(_encode_expr(len(bounds))).alias("codes")
    )


def sq8_topk(
    vectors: DataFrame,
    queries: DataFrame,
    bounds: list[tuple[float, float]],
    k: int = _TOPK,
    cand_mult: int = _CAND_MULT,
) -> DataFrame:
    """Approximate-then-exact top-k: rank ALL vectors by cosine(query,
    decoded code), keep the top C = cand_mult·k per query, then exact
    cosine + final top-k inside the slice only.

    Column discipline: approximate scores round to 6 dp BEFORE the
    candidate window (ties then break on vec_id), so the candidate set
    is a deterministic pure function both engines reproduce."""
    mns, mxs = _bounds_cols(bounds)
    codes = sq8_encode(vectors, bounds)
    decoded = codes.select("vec_id", "codes", mns, mxs).select(
        "vec_id", F.expr(_decode_expr(len(bounds))).alias("vhat")
    )
    approx = (
        decoded.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("acos", F.expr(_ACOS))
    )
    wa = Window.partitionBy("query_id").orderBy(F.col("acos").desc(), F.col("vec_id"))
    cand = (
        approx.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= k * cand_mult)
        .select("query_id", "vec_id", "acos")
    )
    # broadcast the candidate slice (|q|·C rows by construction): the
    # raw-vector lookup never exchanges the corpus (r17, guide §3.1)
    exact = (
        vectors.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(queries.withColumnRenamed("query_id", "__qid")),
              F.col("query_id") == F.col("__qid"))
        .withColumn("cos", F.expr(_COS))
    )
    we = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 candidate: the full SQ8 chain as a graded row — per-dim
    bounds → 8-bit encode → decode → approximate top-50 → exact top-10,
    same (query_id, vec_id, cos, rank) shape as the brute/IVF rows so
    the three ANN legs grade through one schema."""
    ctx = Ctx.get(spark, sf_dir)
    # fan_out BEFORE the checkpoint: the single-file embeddings scan
    # yields 2 splits, and every vector-side stage (encode, decode,
    # the |q|×N approximate scoring) inherits that parallelism — the
    # r11 candidate decade probe measured 7.7× (sf0.1→sf1) with the
    # scoring stage serialized on 2 of 32 cores (the lm.py/multimodal
    # defect class, functions/scale.py)
    vecs = fan_out(_vectors(ctx).drop("label")).localCheckpoint(eager=True)
    bounds = sq8_bounds(vecs)
    queries = vecs.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return sq8_topk(vecs, queries, bounds)


def ann_sq8_topk_oracle() -> str:
    """DuckDB twin: identical arithmetic, association order, midpoint
    rule, and rounding points (1-based list indexing on both sides —
    Spark side uses element_at)."""
    qids = ", ".join(map(str, _QUERY_IDS))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT d, min(x) AS mn, max(x) AS mx FROM (
    SELECT unnest(range(1, len(v)+1)) AS d, unnest(v) AS x FROM e
  ) GROUP BY d
),
b AS (SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM dims),
enc AS (
  SELECT vec_id,
         list_transform(range(1, {_DIM + 1}), d -> greatest(0, least(255,
           CAST(floor(CASE
           WHEN mxs[d] = mns[d] THEN 0.0
           ELSE ((v[d] - mns[d]) / (mxs[d] - mns[d])) * 255.0 + 0.5 END) AS INT)))) AS codes
  FROM e CROSS JOIN b
),
dec AS (
  SELECT vec_id,
         list_transform(range(1, {_DIM + 1}), d -> mns[d]
           + CAST(codes[d] AS DOUBLE) * ((mxs[d] - mns[d]) / 255.0)) AS vhat
  FROM enc CROSS JOIN b
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({qids})),
approx AS (
  SELECT q.query_id, dec.vec_id,
         round(list_dot_product(qv, vhat)
               / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vhat, vhat)), 0), 6) AS acos
  FROM dec CROSS JOIN q WHERE dec.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id) AS arn
    FROM approx
  ) WHERE arn <= {_TOPK * _CAND_MULT}
),
exact AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(qv, v)
               / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)), 0), 6) AS cos
  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id
)
SELECT query_id, vec_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM exact
) WHERE rank <= {_TOPK}
"""


query("ann_sq8_topk", oracle=ann_sq8_topk_oracle())(ann_sq8_topk)
