"""Product-quantized (PQ/ADC) similarity search — the third
compression leg of the ANN family (`operators/ann.py` holds brute/IVF,
`operators/quant.py` holds SQ8).

PQ (Jégou, Douze & Schmid 2011, "Product Quantization for Nearest
Neighbor Search" — public literature; FAISS's IndexPQ / IVFPQ is the
production instance) splits each D-dim vector into M disjoint
subspaces and quantizes every subvector to its nearest codeword from a
per-subspace codebook of K entries. A vector is then M small integers
— here 8 codes vs 64 float64s, a 64× scan-byte reduction (and the
standard way a 100 TB embedding corpus becomes RAM-resident: 8 bytes
per vector instead of 512). Scoring is asymmetric (ADC): the raw query
against the RECONSTRUCTION from codewords, which for disjoint
subspaces equals the sum of per-subspace partial products — so the
approximate pass reads codes only, and an exact re-rank over the top
candidate slice repairs the quantization error exactly like SQ8's.

Codebooks are DETERMINISTIC LLOYD (k-means): Forgy init from the
subvectors of the K smallest vec_ids, then a FIXED number of Lloyd
iterations with 6-dp-rounded distances, smallest-index tie-breaks, and
empty clusters carrying the previous codeword forward — a pure
function of the table, so the row is driver-gradable, and the oracle
replays the training loop as generated per-iteration CTE blocks (the
`operators/bpe.py` pattern: an iterative learner IS SQL-expressible
once each round becomes a static CTE; empty argmax/cluster cases use
the same LEFT JOIN carry-forward). Production swaps in codebooks
trained offline at ingest time — the IVF-cell / SemDeDup-assignment
write-time contract; every plan shape below is unchanged by that swap.
The label-mean quantizer the IVF/SemDeDup legs use was measured and
rejected here: on this corpus its reconstructions recall only 4-6 of
the true top-10 even at a half-corpus candidate slice, while three
Lloyd iterations reach 10/10 at C = 15·k (tests/test_pq.py pins the
floor).

Plan shape (what must survive a 1000-executor cluster):
- training: per iteration, ONE row-local encode pass + one
  per-(subspace, codeword, dim) mean aggregate collected at K·D rows
  (schema-sized, the ann.py ≤nlist centroid pattern) — iterations are
  a FIXED small constant, each a full scan exactly like any k-means;
- encode and reconstruct are row-local projections against the
  codebook as an array LITERAL (no join, no shuffle; at write time the
  codes column persists next to the vector parquet);
- the approximate pass is scan + per-query window top-C; the exact
  pass rescores |queries| × C rows — both identical to the pinned SQ8
  shapes.

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
from .ann import _COS, _NPROBE, _QUERY_IDS, _TOPK, _vectors
from .quant import _ACOS, _DIM
from .semdedup import MEAN_ROUND_DP

_M = 8             # subspaces
_SUB = _DIM // _M  # dims per subspace (8)
_K = 16            # codewords per subspace
_ITERS = 3         # Lloyd iterations (fixed — determinism contract)
# candidate slice C = 15·k: PQ's 8-code reconstruction is far coarser
# than SQ8's 64 byte-codes, so the slice is proportionally wider
# (measured: C = 5·k recalls 3-5/10 here; 15·k recalls 10/10 at both
# gate scale factors — the recall/bytes trade PQ makes by design)
_CAND_MULT_PQ = 15


def _sub_slices(v: list[float]) -> list[list[float]]:
    return [list(v[m * _SUB : (m + 1) * _SUB]) for m in range(_M)]


def _cb_frame(spark: SparkSession, cb: list[list[list[float]]]) -> DataFrame:
    """The codebook as a broadcast ONE-ROW frame (M × K × S doubles —
    1,024 values at K = 16) rather than a literal expression tree:
    the encode/decode expression TEXT then stays identical across
    Lloyd iterations, so whole-stage codegen compiles once and caches
    (measured: the literal-tree form re-compiled the ~2,000-node
    expression per iteration — 10+ s of the training wall at sf0.1;
    the frame form cut the warm training pass 10.3 s → 3.1 s). The
    1-row no-key join plans as a BroadcastNestedLoopJoin — a constant
    gather, never a shuffle."""
    from ..functions.scale import local_df

    return local_df(spark, [(cb,)], "cb array<array<array<double>>>")


def _encode_expr(k: int) -> str:
    """codes[m] = 1-based index of the nearest codeword in subspace m:
    squared L2 over the subvector, rounded to 6 dp, first-minimum wins
    (array_position returns the FIRST match, so ties break on the
    smallest codeword index — mirrored by the oracle's ORDER BY dd, j).

    The O(K) per-subspace distance array is built by an INNER transform
    and argmin'd by an OUTER transform over its result — the lambda
    variable `ds` binds the computed array, so each distance is
    evaluated once per (row, subspace), not once inside array_position
    and again inside array_min (ADVICE r12; SQL lambdas have no let-
    binding, the nested transform IS the let)."""
    dists = (
        f"transform(sequence(1, {k}), j -> round(aggregate("
        f"zip_with(slice(v, (m - 1) * {_SUB} + 1, {_SUB}),"
        " element_at(element_at(cb, m), j),"
        " (x, c) -> (x - c) * (x - c)), 0D, (acc, x) -> acc + x), 6))"
    )
    return (
        f"transform(transform(sequence(1, {_M}), m -> {dists}),"
        " ds -> array_position(ds, array_min(ds)))"
    )


# reconstruction: concatenate the selected codeword of every subspace
_DECODE_PQ = (
    f"flatten(transform(sequence(1, {_M}), m ->"
    " element_at(element_at(cb, m), CAST(element_at(codes, m) AS INT))))"
)


def pq_encode(
    vectors: DataFrame, cb: list[list[list[float]]], carry: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, *carry, codes array<bigint>) — the write-time code table
    (M small ints per vector; in a real deployment this column persists
    next to the vector parquet and the raw vectors never rescan).

    `carry` projects extra input columns through the row-local encode —
    consumers that need them (the Lloyd mean pass needs `v`, IVFPQ needs
    `label`) previously re-joined the corpus to its own encode on
    vec_id, a pure-overhead 1:1 self-join exchange per pass (r17, guide
    §2.4 — the logreg-carry shape)."""
    k = len(cb[0])
    return vectors.join(
        F.broadcast(_cb_frame(vectors.sparkSession, cb))
    ).select("vec_id", *carry, F.expr(_encode_expr(k)).alias("codes"))


def pq_decoded(
    vectors: DataFrame, cb: list[list[list[float]]], carry: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, *carry, vhat) — encode immediately re-expanded to the
    reconstruction, in ONE broadcast of the codebook frame: the encode
    and decode projections chain over the same 1-row join instead of
    paying the BroadcastNestedLoopJoin gather twice (r17, guide §2.4)."""
    k = len(cb[0])
    return (
        vectors.join(F.broadcast(_cb_frame(vectors.sparkSession, cb)))
        .select("vec_id", *carry, F.expr(_encode_expr(k)).alias("codes"), "cb")
        .select("vec_id", *carry, F.expr(_DECODE_PQ).alias("vhat"))
    )


def pq_codebook(
    vectors: DataFrame, k: int = _K, iters: int = _ITERS
) -> list[list[list[float]]]:
    """codebook[m][j][s] (0-based m/j): deterministic Lloyd — Forgy
    init from the subvectors of the k SMALLEST vec_ids, then `iters`
    assignment/mean rounds; a codeword that attracts no subvectors
    carries forward unchanged.

    BOUNDED COLLECTS only: the k seed rows once, then K·D mean rows
    per iteration (schema-sized). Each iteration's assignment is the
    row-local literal-codebook encode — one corpus scan per iteration,
    the canonical distributed-k-means shape."""
    seeds = sorted(
        vectors.select("vec_id", "v").orderBy("vec_id").limit(k).collect(),
        key=lambda r: r["vec_id"],
    )
    cb = [[_sub_slices(r["v"])[m] for r in seeds] for m in range(_M)]
    for _ in range(iters):
        # carry=("v",): the mean pass reads codes AND v from the same
        # row — the r16 shape re-joined the corpus to its own encode on
        # vec_id every iteration (r17, guide §2.4)
        enc = pq_encode(vectors, cb, carry=("v",))
        stats = (
            enc.select("codes", F.posexplode("v").alias("d", "x"))
            .withColumn("m", (F.col("d") / _SUB).cast("int"))
            .withColumn("j", F.element_at("codes", F.col("m") + 1))
            .groupBy("m", "j", "d")
            .agg(F.avg("x").alias("cv"))
            .collect()
        )
        # recomputed codeword means round to MEAN_ROUND_DP on both
        # engines (semdedup.py owns the constant + rationale): the
        # 6-dp distance argmin's tie surface becomes identical by
        # construction instead of ULP-exposed (ADVICE r12)
        new = {
            (r["m"], r["j"], r["d"]): round(r["cv"], MEAN_ROUND_DP)
            for r in stats
        }
        cb = [
            [
                [
                    new.get((m, j + 1, m * _SUB + s), cb[m][j][s])
                    for s in range(_SUB)
                ]
                for j in range(k)
            ]
            for m in range(_M)
        ]
    return cb


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    cb: list[list[list[float]]],
    k: int = _TOPK,
    cand_mult: int = _CAND_MULT_PQ,
) -> DataFrame:
    """Approximate-then-exact top-k, the SQ8 template with the PQ
    reconstruction in the vhat slot: rank ALL vectors by cosine(query,
    reconstruction), keep the top C = cand_mult·k per query, exact
    cosine + final top-k inside the slice only."""
    approx = (
        pq_decoded(vectors, cb)
        .join(F.broadcast(queries))
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
    # raw-vector lookup then never exchanges the corpus (r17, §3.1)
    exact = (
        vectors.select("vec_id", "v")
        .join(F.broadcast(cand), "vec_id")
        .join(
            F.broadcast(queries.withColumnRenamed("query_id", "__qid")),
            F.col("query_id") == F.col("__qid"),
        )
        .withColumn("cos", F.expr(_COS))
    )
    we = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 candidate: the full PQ chain as a graded row — deterministic
    Lloyd codebooks → M-code encode → reconstruct → approximate top-150
    → exact top-10, the same (query_id, vec_id, cos, rank) shape as the
    brute/IVF/SQ8 rows so all four ANN legs grade through one schema."""
    ctx = Ctx.get(spark, sf_dir)
    # fan_out BEFORE the checkpoint (the SQ8/lm/multimodal lesson:
    # the single-file embeddings scan yields 2 splits and every
    # vector-side stage — 3 training scans + encode + the |q|×N
    # approximate scoring — inherits that parallelism)
    vecs = fan_out(_vectors(ctx).drop("label")).localCheckpoint(eager=True)
    cb = pq_codebook(vecs)
    queries = vecs.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return pq_topk(vecs, queries, cb)


def _dist_sql(vm: str, cm: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, {_SUB} + 1),"
        f" i -> ({vm}[i] - {cm}[i]) * ({vm}[i] - {cm}[i]))), 6)"
    )


def _pq_train_ctes(k: int = _K, iters: int = _ITERS) -> str:
    """The shared WITH-prefix replaying PQ training + encode +
    reconstruct: e → sub → cb0 → one (a, m, cb) block per Lloyd
    iteration → codes → vh. BYTE-SHARED between ann_pq_topk_oracle and
    ann_ivfpq_topk_oracle (the greedy_pack_sql co-consumer discipline:
    one prefix, two graded consumers — an edit here changes both)."""
    parts = [f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
sub AS MATERIALIZED (
  SELECT vec_id, m, list_slice(v, (m - 1) * {_SUB} + 1, m * {_SUB}) AS vm
  FROM e, range(1, {_M} + 1) AS t(m)
),
cb0 AS MATERIALIZED (
  SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS j, vm AS cm
  FROM sub
  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {k})
)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
a{t} AS MATERIALIZED (
  SELECT vec_id, m, j FROM (
    SELECT s.vec_id, s.m, c.j,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_dist_sql("s.vm", "c.cm")}, c.j
           ) AS rn
    FROM sub s JOIN cb{t - 1} c USING (m)
  ) WHERE rn = 1
),
m{t} AS MATERIALIZED (
  SELECT m, j, list(cv ORDER BY i) AS cm FROM (
    SELECT a.m, a.j, r.i, round(avg(s.vm[r.i]), {MEAN_ROUND_DP}) AS cv
    FROM a{t} a
    JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m,
    range(1, {_SUB} + 1) AS r(i)
    GROUP BY a.m, a.j, r.i
  ) GROUP BY m, j
),
cb{t} AS MATERIALIZED (
  SELECT p.m, p.j, coalesce(n.cm, p.cm) AS cm
  FROM cb{t - 1} p LEFT JOIN m{t} n ON n.m = p.m AND n.j = p.j
)""")
    parts.append(f""",
codes AS (
  SELECT vec_id, m, j FROM (
    SELECT s.vec_id, s.m, c.j,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_dist_sql("s.vm", "c.cm")}, c.j
           ) AS rn
    FROM sub s JOIN cb{iters} c USING (m)
  ) WHERE rn = 1
),
vh AS (
  SELECT c.vec_id, flatten(list(w.cm ORDER BY c.m)) AS vhat
  FROM codes c JOIN cb{iters} w ON w.m = c.m AND w.j = c.j
  GROUP BY c.vec_id
)""")
    return "".join(parts)


# the exact re-rank + final ranking, shared verbatim by both oracles
# (cand is whatever candidate CTE the consumer defined)
_PQ_RERANK_SQL = f""",
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


def ann_pq_topk_oracle(k: int = _K, iters: int = _ITERS) -> str:
    """DuckDB twin, training loop INCLUDED: Forgy init from the k
    smallest vec_ids, one generated CTE block per Lloyd iteration
    (assign via the same 6-dp argmin with smallest-j ties, per-dim mean
    recompute, LEFT JOIN carry-forward for empty clusters — the
    bpe.py exhausted-merge pattern), then encode/reconstruct and the
    identical approximate/exact rank arithmetic as the SQ8 oracle."""
    qids = ", ".join(map(str, _QUERY_IDS))
    return _pq_train_ctes(k, iters) + f""",
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({qids})),
approx AS (
  SELECT q.query_id, vh.vec_id,
         round(list_dot_product(qv, vhat)
               / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vhat, vhat)), 0), 6) AS acos
  FROM vh CROSS JOIN q WHERE vh.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id) AS arn
    FROM approx
  ) WHERE arn <= {_TOPK * _CAND_MULT_PQ}
)""" + _PQ_RERANK_SQL


# Registered r13: the prepared-candidate plan in registry.py, executed
# (probed r12 SCALE_NOTES part 4; re-validated at final r13 code after
# the encode dists-dedupe + 12-dp mean rounding, both-engine MATCH).
query("ann_pq_topk", oracle=ann_pq_topk_oracle())(ann_pq_topk)


# ---------------------------------------------------------------------------
# IVFPQ (r14 candidate) — the coarse-cell × code-compression
# COMPOSITION that is the production 100 TB ANN shape (FAISS's
# IndexIVFPQ; Jégou et al. 2011 §V): IVF cell pruning cuts the scan to
# nprobe/nlist of the corpus, and WITHIN the probed cells the
# approximate pass reads 8-byte PQ codes instead of 512-byte raw
# vectors — the two reductions multiply, which is what makes an
# exabyte-class embedding store answer queries from RAM. The exact
# re-rank over the candidate slice repairs quantization error exactly
# as in the SQ8/PQ rows; recall against the same-cells exact IVF row
# is pinned by test (the PQ approximation must not lose what cell
# pruning kept).
#
# Plan shape: centroid build + probe selection are the ann_ivf_topk
# shapes (≤nlist-row frames, counted broadcasts); the code table is
# the write-time column contract (pq_encode); the approximate pass is
# a cell-pruned scan + per-query WindowGroupLimit top-C; the exact
# pass rescores |queries| × C rows. Everything else (training
# determinism, 12-dp means, broadcast one-row codebook frame) is
# inherited from the PQ leg above.
# ---------------------------------------------------------------------------

_CCOS = (
    "round(aggregate(zip_with(qv, cv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    " / nullif(sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))"
    " * sqrt(aggregate(cv, 0D, (acc, x) -> acc + x * x)), 0D), 6)"
)


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    cb: list[list[list[float]]],
    k: int = _TOPK,
    nprobe: int = _NPROBE,
    cand_mult: int = _CAND_MULT_PQ,
) -> DataFrame:
    """Approximate-then-exact top-k over probed IVF cells only.
    `vectors` carries (vec_id, label, v) — label is the IVF cell (the
    write-time column, exactly like ann_ivf_topk)."""
    cdim = (
        vectors.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.avg("x").alias("cv"))
    )
    cent = cdim.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, cv))), s -> s.cv)"
        ).alias("cv")
    )
    probe_scored = cent.join(F.broadcast(queries)).withColumn(
        "ccos", F.expr(_CCOS)
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("label")
    )
    probe = (
        probe_scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "label")
    )
    # carry=("label",): the probed-cell filter reads the cell from the
    # same row as the reconstruction — the r16 shape re-joined the
    # corpus to its own decode on vec_id (r17, guide §2.4)
    approx = (
        pq_decoded(vectors.select("vec_id", "label", "v"), cb, carry=("label",))
        .join(F.broadcast(probe), "label")
        .join(F.broadcast(queries), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("acos", F.expr(_ACOS))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("acos").desc(), F.col("vec_id")
    )
    cand = (
        approx.withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= k * cand_mult)
        .select("query_id", "vec_id")
    )
    # broadcast the candidate slice (|q|·C rows by construction — r17 §3.1)
    exact = (
        vectors.select("vec_id", "v")
        .join(F.broadcast(cand), "vec_id")
        .join(
            F.broadcast(queries.withColumnRenamed("query_id", "__qid")),
            F.col("query_id") == F.col("__qid"),
        )
        .withColumn("cos", F.expr(_COS))
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 candidate: the full IVFPQ chain — label-cell IVF probe
    (nprobe = 2) × PQ-code approximate scoring within the probed cells
    × exact top-10 re-rank; the fifth ANN leg, same (query_id, vec_id,
    cos, rank) schema as brute/IVF/SQ8/PQ."""
    ctx = Ctx.get(spark, sf_dir)
    vecs = fan_out(_vectors(ctx)).localCheckpoint(eager=True)
    cb = pq_codebook(vecs.select("vec_id", "v"))
    queries = vecs.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return ivfpq_topk(vecs, queries, cb)


def ann_ivfpq_topk_oracle(k: int = _K, iters: int = _ITERS) -> str:
    """DuckDB twin: the byte-shared PQ training prefix (_pq_train_ctes)
    + the ann_ivf_topk centroid/probe CTEs + cell-restricted
    approximate scoring + the shared exact re-rank tail."""
    qids = ", ".join(map(str, _QUERY_IDS))
    return _pq_train_ctes(k, iters) + f""",
cdim AS (
  SELECT label, d, avg(v[d]) AS cv
  FROM e, generate_series(1, {_DIM}) AS g(d) GROUP BY label, d
),
cent AS (SELECT label, list(cv ORDER BY d) AS cv FROM cdim GROUP BY label),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({qids})),
probe AS (
  SELECT query_id, label FROM (
    SELECT q.query_id, c.label,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             round(list_dot_product(qv, cv)
               / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0), 6) DESC,
             c.label) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {_NPROBE}
),
approx AS (
  SELECT q.query_id, vh.vec_id,
         round(list_dot_product(qv, vhat)
               / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vhat, vhat)), 0), 6) AS acos
  FROM vh
  JOIN e ev ON ev.vec_id = vh.vec_id
  JOIN probe p ON p.label = ev.label
  JOIN q ON q.query_id = p.query_id
  WHERE vh.vec_id <> q.query_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id) AS arn
    FROM approx
  ) WHERE arn <= {_TOPK * _CAND_MULT_PQ}
)""" + _PQ_RERANK_SQL


# Its oracle byte-shares _pq_train_ctes with ann_pq_topk — an edit to
# the prefix changes BOTH rows' oracles, the greedy_pack_sql discipline.
query("ann_ivfpq_topk", oracle=ann_ivfpq_topk_oracle())(ann_ivfpq_topk)


def save_codebook(
    cb: list[list[list[float]]], spark: SparkSession, path: str
) -> None:
    """Persist a trained codebook: (m, j, cw array<double>) parquet —
    the write-once contract the module docstring describes (train once
    offline, ship the tiny table with the plan; the IVF-index /
    save_bpe posture). M·K rows."""
    rows = [
        (m, j, list(code))
        for m, sub in enumerate(cb)
        for j, code in enumerate(sub)
    ]
    spark.createDataFrame(
        rows, "m int, j int, cw array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_codebook(spark: SparkSession, path: str) -> list[list[list[float]]]:
    """Load a persisted codebook in (m, j) order — a bounded collect
    (M·K rows, the training-time budget)."""
    rows = spark.read.parquet(path).orderBy("m", "j").collect()
    cb: list[list[list[float]]] = []
    for r in rows:
        if r["m"] == len(cb):
            cb.append([])
        cb[r["m"]].append(list(r["cw"]))
    return cb


def pq_topk_from_saved(
    spark: SparkSession, sf_dir: str, codebook_path: str
) -> DataFrame:
    """The build-once/load-many form of ann_pq_topk: consume a
    PERSISTED codebook instead of re-training per run — row-identical
    to the inline-training row when the saved codebook was trained on
    the same corpus (pinned by tests/test_pq.py)."""
    ctx = Ctx.get(spark, sf_dir)
    vecs = fan_out(_vectors(ctx).drop("label")).localCheckpoint(eager=True)
    cb = load_codebook(spark, codebook_path)
    queries = vecs.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return pq_topk(vecs, queries, cb)
