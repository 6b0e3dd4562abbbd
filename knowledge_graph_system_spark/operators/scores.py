"""Derived-score analytics (SURVEY.md §2.4 A4/A7–A11 + §2.5 axis math).

Reference formulas reproduced exactly in shape:
- A4 grounding: polarity axis = normalized mean of opposing-pair
  embedding differences; per-concept grounding = confidence-weighted
  mean of dot(edge_type_embedding, axis) over incoming semantic edges
  (`/root/reference/api/app/lib/age_client/grounding.py:125-204,206-388`).
- A7 ontology mass: Michaelis-Menten composite/(composite+2)
  (`api/app/lib/ontology_scorer.py:44-77`).
- A8 coherence: mean pairwise cosine of ≤100 sampled member embeddings
  (`ontology_scorer.py:79-123`).
- A9 exposure/protection: sigmoid(mass×coherence) − 0.6×exposure
  (`ontology_scorer.py:125-220`).
- A10 vocabulary value: weighted sum of usage signals
  (`api/app/lib/vocabulary_scoring.py:146-310`).
- A11 semantic diversity: 1 − mean pairwise cosine of ≤100 neighbors
  within 2 hops; authenticated = |g|/(|g|+0.3) × diversity
  (`api/app/services/diversity_analyzer.py:48-186`).

Spark-first: the axis is driver-side pure Python over the vocabulary
(exactly as the reference computes it driver-side from the broadcast
vocab), projections become a broadcast-joined tiny DF, and every
per-concept score is one partial-aggregated groupBy — the reference's
two-tier caches and 25-element IN-list batches have no analog because
nothing is row-at-a-time.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import oracle_snippets as osql
from ..functions.vectors import DEFAULT_DIM, dot_expr, unit_vec_py
from ..registry import Ctx, query
from ..sources.graph_view import POLARITY_PAIRS, VOCABULARY, graph_ctes

SEMANTIC_PREFIX = "L"  # rel types L0..L6 are the semantic family


# ---------------------------------------------------------------------------
# A4 — polarity axis + grounding
# ---------------------------------------------------------------------------

def polarity_axis(dim: int = DEFAULT_DIM) -> list[float]:
    """Axis = normalize(mean over pairs of (emb_pos − emb_neg)) — the
    reference's POLARITY_PAIRS construction (`grounding.py:151-204`)."""
    pairs = [
        (unit_vec_py(f"vocab:{p}"), unit_vec_py(f"vocab:{n}")) for p, n in POLARITY_PAIRS
    ]
    raw = []
    for d in range(dim):
        s = 0.0
        for pos, neg in pairs:
            s += pos[d] - neg[d]
        raw.append(s / len(pairs))
    norm = math.sqrt(sum(x * x for x in raw))
    return [x / norm for x in raw]


def rel_projections(dim: int = DEFAULT_DIM) -> dict[str, float]:
    """proj(rel) = dot(vocab_embedding(rel), axis), rounded to 9 dp so the
    SQL oracle's (sum-order-differing) float math lands on the same value."""
    axis = polarity_axis(dim)
    out = {}
    for rel, _cat, _status in VOCABULARY:
        emb = unit_vec_py(f"vocab:{rel}")
        acc = 0.0
        for x, y in zip(emb, axis):
            acc += x * y
        out[rel] = round(acc, 9)
    return out


def grounding(edges: DataFrame) -> DataFrame:
    """Per-node grounding over incoming semantic edges: confidence-weighted
    mean of the rel-type's axis projection. NULL confidence weighs 0.5
    (the reference treats unknown confidence as neutral)."""
    from ..functions.scale import local_df

    spark = edges.sparkSession
    proj = local_df(spark, list(rel_projections().items()), "rel_type string, proj double")
    w = F.coalesce(F.col("confidence"), F.lit(0.5))
    return (
        edges.filter(F.col("rel_type").startswith(SEMANTIC_PREFIX))
        .join(F.broadcast(proj), "rel_type")
        .groupBy(F.col("dst").alias("node_id"))
        .agg(
            F.round(F.sum(w * F.col("proj")) / F.nullif(F.sum(w), F.lit(0.0)), 6).alias(
                "grounding"
            ),
            F.count("*").alias("n_edges"),
        )
    )


_PROJ_ORACLE = f"""
vocab_emb AS (SELECT rel_type, emb FROM {osql.unit_vec_cte("'vocab:' || rel_type", 'rel_type', 'vocab')} v),
axis_raw AS (
  SELECT d, sum(CASE WHEN rel_type IN ('L0','L2','L4') THEN emb[d]
                     WHEN rel_type IN ('L1','L3','L5') THEN -emb[d]
                     ELSE 0.0 END) / 3.0 AS v
  FROM vocab_emb, generate_series(1, {DEFAULT_DIM}) AS gs(d)
  GROUP BY d
),
axis AS (SELECT d, v / sqrt((SELECT sum(v * v) FROM axis_raw)) AS v FROM axis_raw),
proj AS (
  SELECT rel_type, round(sum(emb[a.d] * a.v), 9) AS proj
  FROM vocab_emb, axis a GROUP BY rel_type
)"""


@query(
    "a4_grounding",
    oracle=graph_ctes()
    + ","
    + _PROJ_ORACLE
    + """
SELECT e.dst AS node_id,
       round(sum(coalesce(e.confidence, 0.5) * p.proj)
             / nullif(sum(coalesce(e.confidence, 0.5)), 0.0), 6) AS grounding,
       CAST(count(*) AS BIGINT) AS n_edges
FROM edges e JOIN proj p ON p.rel_type = e.rel_type
WHERE e.rel_type LIKE 'L%'
GROUP BY e.dst
""",
)
def a4_grounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = Ctx.get(spark, sf_dir)
    return grounding(ctx.edges)


# ---------------------------------------------------------------------------
# A7/A8/A9 — ontology mass, coherence, exposure/protection
# ---------------------------------------------------------------------------

_SAMPLE_CAP = 100  # reference coherence sample cap (`ontology_scorer.py:95-97`)


def ontology_mass(tables: dict[str, DataFrame]) -> DataFrame:
    """A7: per-segment counts → Michaelis-Menten mass comp/(comp+2)."""
    c, o, l = tables["customer"], tables["orders"], tables["lineitem"]
    seg = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(F.col("c_mktsegment").alias("ontology"))
        .agg(
            F.countDistinct("c_custkey").alias("n_concepts"),
            F.countDistinct("o_orderkey").alias("n_sources"),
            F.count("*").alias("n_rels"),
        )
    )
    comp = (
        F.col("n_concepts") / 10.0 + F.col("n_sources") / 5.0 + F.col("n_rels") / 10.0
    )
    return seg.withColumn("mass", F.round(comp / (comp + 2.0), 6))


_MASS_ORACLE = """
mass_t AS (
  SELECT c.c_mktsegment AS ontology,
         CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_concepts,
         CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_sources,
         CAST(count(*) AS BIGINT) AS n_rels,
         round((count(DISTINCT c.c_custkey)/10.0 + count(DISTINCT o.o_orderkey)/5.0 + count(*)/10.0)
               / (count(DISTINCT c.c_custkey)/10.0 + count(DISTINCT o.o_orderkey)/5.0 + count(*)/10.0 + 2.0), 6) AS mass
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY c.c_mktsegment
)"""


@query(
    "a7_ontology_mass",
    oracle="WITH " + _MASS_ORACLE.lstrip()[0:] + "\nSELECT * FROM mass_t",
)
def a7_ontology_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = Ctx.get(spark, sf_dir)
    return ontology_mass(ctx.tables)


def ontology_coherence(nodes_emb: DataFrame, label: str = "Customer") -> DataFrame:
    """A8: mean pairwise cosine of ≤100 sampled member embeddings per
    ontology. Sample = lowest node_ids (deterministic, mirroring the
    reference's LIMIT-100 sample). Pairwise via self-join on the
    ontology key — at 100 TB the cap keeps this O(groups × 100²)."""
    members = nodes_emb.filter(F.col("label") == label).select(
        "ontology", "node_id", "embedding"
    )
    w = Window.partitionBy("ontology").orderBy("node_id")
    # ≤ _SAMPLE_CAP rows per ontology BY CONSTRUCTION: checkpoint once
    # (the r16 shape re-ran the corpus window sort for each self-join
    # side) and broadcast the build side under a counted guard — total
    # sample size is cap × |ontologies|, unbounded in |ontologies|, so
    # the hint must stay counted (r17, guide §2.4/§3.1; the shared
    # r8/r9/r10 forced-hint defect class)
    from ..functions.scale import maybe_broadcast

    sampled = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SAMPLE_CAP)
        .localCheckpoint(eager=True)
    )
    n_sampled = sampled.count()
    a = sampled.select(
        "ontology", F.col("node_id").alias("id_a"), F.col("embedding").alias("emb_a")
    )
    b = sampled.select(
        "ontology", F.col("node_id").alias("id_b"), F.col("embedding").alias("emb_b")
    )
    pairs = a.join(
        maybe_broadcast(b, 2_000_000, n_sampled), ["ontology"]
    ).filter(F.col("id_a") < F.col("id_b"))
    return pairs.groupBy("ontology").agg(
        F.round(F.avg(dot_expr("emb_a", "emb_b")), 6).alias("coherence"),
        F.countDistinct("id_a").alias("n_sampled_minus1"),
    ).drop("n_sampled_minus1")


def _coherence_oracle_cte() -> str:
    emb_sub = osql.unit_vec_cte(
        "node_id", "node_id, ontology", "(SELECT * FROM nodes WHERE label = 'Customer')"
    )
    return f"""
sampled AS (
  SELECT * FROM (
    SELECT node_id, ontology, emb,
           row_number() OVER (PARTITION BY ontology ORDER BY node_id) AS rn
    FROM {emb_sub} m
  ) WHERE rn <= {_SAMPLE_CAP}
),
coher AS (
  SELECT a.ontology, round(avg({osql.dot_sql('a.emb', 'b.emb')}), 6) AS coherence
  FROM sampled a JOIN sampled b ON a.ontology = b.ontology AND a.node_id < b.node_id
  GROUP BY a.ontology
)"""


@query(
    "a8_ontology_coherence",
    oracle=graph_ctes() + "," + _coherence_oracle_cte() + "\nSELECT * FROM coher",
)
def a8_ontology_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = Ctx.get(spark, sf_dir)
    return ontology_coherence(ctx.nodes_emb)


_A9_ORACLE = (
    graph_ctes()
    + ","
    + _MASS_ORACLE.lstrip()
    + ","
    + _coherence_oracle_cte().lstrip()
    + """,
membership AS (
  SELECT DISTINCT c.c_mktsegment AS seg, l.l_partkey AS pk
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
totals AS (SELECT seg, count(*) AS total FROM membership GROUP BY seg),
aff AS (
  SELECT a.seg AS seg_a, b.seg AS seg_b,
         count(*) / CAST(least(ta.total, tb.total) AS DOUBLE) AS affinity
  FROM membership a JOIN membership b ON a.pk = b.pk AND a.seg <> b.seg
  JOIN totals ta ON ta.seg = a.seg JOIN totals tb ON tb.seg = b.seg
  GROUP BY a.seg, b.seg, ta.total, tb.total
),
activity AS (
  SELECT ontology AS seg, n_sources / CAST((SELECT max(n_sources) FROM mass_t) AS DOUBLE) AS act
  FROM mass_t
),
exposure AS (
  SELECT aff.seg_a AS ontology,
         sum(aff.affinity * act.act) / nullif(sum(aff.affinity), 0.0) AS exposure
  FROM aff JOIN activity act ON act.seg = aff.seg_b
  GROUP BY aff.seg_a
)
SELECT m.ontology, m.mass, c.coherence,
       round(e.exposure, 6) AS exposure,
       round(1.0 / (1.0 + exp(-(m.mass * c.coherence))) - 0.6 * e.exposure, 6) AS protection
FROM mass_t m
JOIN coher c ON c.ontology = m.ontology
JOIN exposure e ON e.ontology = m.ontology
"""
)


def protection_with_affinity(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """A9 scores plus the UNROUNDED affinity frame they were computed
    from — shared so annealing does not recompute the membership
    self-join (the expensive half of the cycle). Returns (scores, aff);
    aff columns: seg_a, seg_b, affinity."""
    ctx = Ctx.get(spark, sf_dir)
    c, o, l = ctx.tables["customer"], ctx.tables["orders"], ctx.tables["lineitem"]

    # r17 (guide §2.3/§2.4 — the j5_cross_ontology_affinity shape): the
    # r16 form materialized the DISTINCT (seg, pk) membership and
    # SELF-JOINED it on pk — a distinct exchange plus two
    # membership-sized join exchanges. The ontology set per concept is
    # bounded by |ontologies|, so ONE groupBy(pk).collect_set(seg)
    # exchange (map-side partial agg) replaces all three; the ordered
    # seg pairs expand row-locally from the set (i≠j, both directions —
    # matching the self-join's seg<>seg emission exactly, since
    # membership rows were distinct per (seg, pk)).
    def _grouped() -> DataFrame:
        return (
            c.join(o, c.c_custkey == o.o_custkey)
            .join(l, o.o_orderkey == l.l_orderkey)
            .groupBy(F.col("l_partkey").alias("pk"))
            .agg(F.sort_array(F.collect_set("c_mktsegment")).alias("segs"))
            .select("segs")
            .localCheckpoint(eager=True)  # reused by totals + pair expansion
        )

    # the three eager materializations below are mutually independent
    # (mass: the C⋈O⋈L segment rollup; coherence: the sampled-embedding
    # window + pair mean, checkpointed inside ontology_coherence;
    # grouped: the C⋈O⋈L per-part segment sets) — overlap them so the
    # pipeline's eager wall is the slowest of the three, not their sum
    # (r17, guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as _pool:
        _f_mass = _pool.submit(
            lambda: ontology_mass(ctx.tables).localCheckpoint(eager=True)
        )
        _f_coher = _pool.submit(ontology_coherence, ctx.nodes_emb)
        _f_grouped = _pool.submit(_grouped)
        mass = _f_mass.result()  # used 3×
        coher = _f_coher.result()
        grouped = _f_grouped.result()
    totals = (
        grouped.select(F.explode("segs").alias("seg"))
        .groupBy("seg")
        .agg(F.count("*").alias("total"))
    )
    ta = totals.alias("ta")
    tb = totals.alias("tb")
    aff = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(segs, x -> transform("
                    "filter(segs, y -> y != x), y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("seg_a"), F.col("p.b").alias("seg_b"))
        .agg(F.count("*").alias("shared"))
        .join(F.broadcast(ta), F.col("seg_a") == F.col("ta.seg"))
        .join(F.broadcast(tb), F.col("seg_b") == F.col("tb.seg"))
        .select(
            "seg_a",
            "seg_b",
            (F.col("shared") / F.least(F.col("ta.total"), F.col("tb.total")).cast("double")).alias(
                "affinity"
            ),
        )
        .localCheckpoint(eager=True)  # reused by exposure AND annealing
    )
    max_sources = mass.agg(F.max("n_sources").alias("mx"))
    activity = mass.join(F.broadcast(max_sources)).select(
        F.col("ontology").alias("seg"),
        (F.col("n_sources") / F.col("mx").cast("double")).alias("act"),
    )
    exposure = (
        aff.join(F.broadcast(activity), aff.seg_b == activity.seg)
        .groupBy(F.col("seg_a").alias("ontology"))
        .agg(
            (
                F.sum(F.col("affinity") * F.col("act"))
                / F.nullif(F.sum("affinity"), F.lit(0.0))
            ).alias("exposure")
        )
    )
    sig = 1.0 / (1.0 + F.exp(-(F.col("mass") * F.col("coherence"))))
    scores = (
        mass.select("ontology", "mass")
        .join(coher, "ontology")
        .join(exposure, "ontology")
        .select(
            "ontology",
            "mass",
            "coherence",
            F.round("exposure", 6).alias("exposure"),
            F.round(sig - 0.6 * F.col("exposure"), 6).alias("protection"),
        )
    )
    return scores, aff


@query("a9_ontology_protection", oracle=_A9_ORACLE)
def a9_ontology_protection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: protection = sigmoid(mass×coherence) − 0.6×exposure, exposure =
    affinity-weighted neighbor activity (`ontology_scorer.py:125-220`).
    Composes A7 + A8 + J5 outputs with pure column math."""
    return protection_with_affinity(spark, sf_dir)[0]


# ---------------------------------------------------------------------------
# A10 — vocabulary value score
# ---------------------------------------------------------------------------


@query(
    "a10_vocab_value",
    oracle=graph_ctes()
    + """
SELECT e.rel_type,
       CAST(count(*) AS BIGINT) AS edge_count,
       round(count(*) / 1000.0
             + avg(coalesce(e.confidence, 0.5)) * 0.5
             + count(DISTINCT e.src) / 10.0 * 0.3, 6) AS value_score
FROM edges e
GROUP BY e.rel_type
""",
)
def a10_vocab_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: vocabulary value = weighted sum of usage signals — edge count,
    mean confidence, bridge-source diversity (`vocabulary_scoring.py:
    146-310`; weights follow its edge_count×1.0 + …×0.5 + …×0.3 shape)."""
    ctx = Ctx.get(spark, sf_dir)
    return ctx.edges.groupBy("rel_type").agg(
        F.count("*").alias("edge_count"),
        F.round(
            F.count("*") / 1000.0
            + F.avg(F.coalesce(F.col("confidence"), F.lit(0.5))) * 0.5
            + F.countDistinct("src") / 10.0 * 0.3,
            6,
        ).alias("value_score"),
    )


# ---------------------------------------------------------------------------
# A11 — semantic diversity
# ---------------------------------------------------------------------------

_DIV_START = "P7"


@query(
    "a11_semantic_diversity",
    oracle=graph_ctes(
        """uedges AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
)"""
    )
    + f""",
walk(node_id, dist) AS (
  SELECT '{_DIV_START}', 0
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN uedges e ON e.src = w.node_id WHERE w.dist < 2
),
neigh AS (
  SELECT node_id FROM (SELECT node_id, min(dist) AS d FROM walk GROUP BY node_id)
  WHERE node_id <> '{_DIV_START}'
  ORDER BY node_id LIMIT {_SAMPLE_CAP}
),
nemb AS (SELECT node_id, emb FROM {osql.unit_vec_cte('node_id', 'node_id', 'neigh')} x),
pairsim AS (
  SELECT avg({osql.dot_sql('a.emb', 'b.emb')}) AS mean_sim,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM nemb a JOIN nemb b ON a.node_id < b.node_id
)
SELECT '{_DIV_START}' AS node_id,
       round(1.0 - mean_sim, 6) AS diversity, n_pairs
FROM pairsim
""",
)
def a11_semantic_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: 1 − mean pairwise cosine of ≤100 two-hop neighbors
    (`diversity_analyzer.py:48-186`; neighbor cap = the reference's 100)."""
    from .traversal import bfs

    ctx = Ctx.get(spark, sf_dir)
    neigh = (
        bfs(ctx.edges, [_DIV_START], 2, direction="both")
        .filter(F.col("node_id") != _DIV_START)
        .orderBy("node_id")
        .limit(_SAMPLE_CAP)
    )
    nemb = F.broadcast(neigh.select("node_id")).join(ctx.nodes_emb, "node_id").select(
        "node_id", "embedding"
    )
    a = nemb.select(F.col("node_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    b = nemb.select(F.col("node_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.agg(
        F.lit(_DIV_START).alias("node_id"),
        F.round(1.0 - F.avg(dot_expr("emb_a", "emb_b")), 6).alias("diversity"),
        F.count("*").alias("n_pairs"),
    )


# ---------------------------------------------------------------------------
# Ontology↔Ontology derived edges (SURVEY §1.1: OVERLAPS / SPECIALIZES /
# GENERALIZES with score + shared_concept_count,
# `/root/reference/api/app/lib/age_client/ontology_edges.py:152`,
# `schema/init.cypher:159-169`)
# ---------------------------------------------------------------------------

_OVERLAP_T = 0.10   # symmetric-affinity floor for OVERLAPS
_CONTAIN_T = 0.60   # containment ratio for SPECIALIZES/GENERALIZES


@query(
    "o1_ontology_edges",
    oracle="""
WITH membership AS (
  SELECT DISTINCT c.c_mktsegment AS seg, l.l_partkey AS pk
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
totals AS (SELECT seg, CAST(count(*) AS BIGINT) AS total FROM membership GROUP BY seg),
pairs AS (
  SELECT a.seg AS seg_a, b.seg AS seg_b, CAST(count(*) AS BIGINT) AS shared
  FROM membership a JOIN membership b ON a.pk = b.pk AND a.seg <> b.seg
  GROUP BY a.seg, b.seg
),
scored AS (
  SELECT p.seg_a, p.seg_b, p.shared,
         round(p.shared / CAST(ta.total AS DOUBLE), 6) AS containment_a,
         round(p.shared / CAST(least(ta.total, tb.total) AS DOUBLE), 6) AS score
  FROM pairs p
  JOIN totals ta ON ta.seg = p.seg_a
  JOIN totals tb ON tb.seg = p.seg_b
)
SELECT seg_a, seg_b,
       CASE WHEN containment_a >= 0.6 THEN 'SPECIALIZES'
            WHEN score >= 0.1 THEN 'OVERLAPS' END AS rel_type,
       score, shared AS shared_concept_count
FROM scored
WHERE containment_a >= 0.6 OR score >= 0.1
""",
)
def o1_ontology_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the ontology-level edge set: A SPECIALIZES B when most of
    A's concepts are shared with B (containment ≥ 0.6 — the reverse
    direction is GENERALIZES by symmetry); otherwise OVERLAPS above the
    affinity floor. Same membership self-join as J5, classified."""
    ctx = Ctx.get(spark, sf_dir)
    c, o, l = ctx.tables["customer"], ctx.tables["orders"], ctx.tables["lineitem"]
    membership = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("c_mktsegment").alias("seg"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    totals = membership.groupBy("seg").agg(F.count("*").alias("total"))
    a = membership.alias("a")
    b = membership.alias("b")
    ta = totals.alias("ta")
    tb = totals.alias("tb")
    scored = (
        a.join(b, (F.col("a.pk") == F.col("b.pk")) & (F.col("a.seg") != F.col("b.seg")))
        .groupBy(F.col("a.seg").alias("seg_a"), F.col("b.seg").alias("seg_b"))
        .agg(F.count("*").alias("shared"))
        .join(F.broadcast(ta), F.col("seg_a") == F.col("ta.seg"))
        .join(F.broadcast(tb), F.col("seg_b") == F.col("tb.seg"))
        .select(
            "seg_a",
            "seg_b",
            "shared",
            F.round(F.col("shared") / F.col("ta.total").cast("double"), 6).alias("containment_a"),
            F.round(
                F.col("shared") / F.least(F.col("ta.total"), F.col("tb.total")).cast("double"), 6
            ).alias("score"),
        )
    )
    return (
        scored.filter((F.col("containment_a") >= _CONTAIN_T) | (F.col("score") >= _OVERLAP_T))
        .select(
            "seg_a",
            "seg_b",
            F.when(F.col("containment_a") >= _CONTAIN_T, "SPECIALIZES")
            .when(F.col("score") >= _OVERLAP_T, "OVERLAPS")
            .alias("rel_type"),
            "score",
            F.col("shared").alias("shared_concept_count"),
        )
    )


# ---------------------------------------------------------------------------
# Epistemic status measurement (reference ADR-610 Phase 2)
# ---------------------------------------------------------------------------


def epistemic_status_measurement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure epistemic status per vocabulary type
    (`/root/reference/api/app/services/epistemic_status_service.py:41-292`):
    per-edge grounding = axis projection × confidence (neutral 0.5 when
    NULL), then per-type avg/std over every edge of that type — the
    reference SAMPLES edges for cost on Postgres; a distributed scan
    measures them all, same estimator, zero sampling noise — and the
    grounding-based classification with the reference's exact cuts:
      HISTORICAL (temporal-by-name), INSUFFICIENT_DATA (< 3),
      WELL_GROUNDED (> 0.8), MIXED_GROUNDING (0.15..0.8),
      WEAK_GROUNDING (0..0.15), POORLY_GROUNDED (−0.5..0),
      CONTRADICTED (< −0.5).
    A measurement, not a truth: results are per-run temporal, exactly
    the service's satisficing philosophy."""
    from ..functions.scale import local_df

    ctx = Ctx.get(spark, sf_dir)
    proj = local_df(spark, list(rel_projections().items()), "rel_type string, proj double")
    g = F.round(F.col("proj") * F.coalesce(F.col("confidence"), F.lit(0.5)), 6)
    stats = (
        ctx.edges.join(F.broadcast(proj), "rel_type")
        .select("rel_type", g.alias("g"))
        .groupBy("rel_type")
        .agg(
            F.count("*").alias("n_measurements"),
            F.round(F.avg("g"), 6).alias("avg_grounding"),
            F.round(F.coalesce(F.stddev_samp("g"), F.lit(0.0)), 6).alias("std_grounding"),
        )
    )
    avg = F.col("avg_grounding")
    status = (
        F.when(F.col("rel_type") == "PLACED", "HISTORICAL")
        .when(F.col("n_measurements") < 3, "INSUFFICIENT_DATA")
        .when(avg > 0.8, "WELL_GROUNDED")
        .when(avg >= 0.15, "MIXED_GROUNDING")
        .when(avg > 0.0, "WEAK_GROUNDING")
        .when(avg >= -0.5, "POORLY_GROUNDED")
        .otherwise("CONTRADICTED")
    )
    return stats.withColumn("epistemic_status", status)


@query(
    "ep_status_measurement",
    oracle=graph_ctes()
    + ","
    + _PROJ_ORACLE
    + """,
meas AS (
  SELECT e.rel_type,
         round(p.proj * coalesce(e.confidence, 0.5), 6) AS g
  FROM edges e JOIN proj p ON p.rel_type = e.rel_type
),
stats AS (
  SELECT rel_type,
         CAST(count(*) AS BIGINT) AS n_measurements,
         round(avg(g), 6) AS avg_grounding,
         round(coalesce(stddev_samp(g), 0.0), 6) AS std_grounding
  FROM meas GROUP BY rel_type
)
SELECT *,
       CASE WHEN rel_type = 'PLACED' THEN 'HISTORICAL'
            WHEN n_measurements < 3 THEN 'INSUFFICIENT_DATA'
            WHEN avg_grounding > 0.8 THEN 'WELL_GROUNDED'
            WHEN avg_grounding >= 0.15 THEN 'MIXED_GROUNDING'
            WHEN avg_grounding > 0.0 THEN 'WEAK_GROUNDING'
            WHEN avg_grounding >= -0.5 THEN 'POORLY_GROUNDED'
            ELSE 'CONTRADICTED' END AS epistemic_status
FROM stats
""",
)
def ep_status_measurement(spark: SparkSession, sf_dir: str) -> DataFrame:
    return epistemic_status_measurement(spark, sf_dir)
