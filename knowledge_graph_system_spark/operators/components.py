"""Distributed connected components + near-dup group resolution.

The dedup family (`operators/dedup.py`) finds PAIRS (LSH-verified
near-dups); a 100 TB pipeline needs GROUPS — one keeper per connected
cluster of near-dups. `connected_components` is the scale-grade bridge:
min-label propagation with pointer jumping (a DataFrame rendering of
the classic two-phase CC used by large-graph systems), converging in
O(log n) rounds instead of O(diameter), each round two equi-joins on
the cached pair frame — no driver-side graph, no collect.

The reference resolves merge clusters driver-side from in-memory pair
lists (`api/app/lib/synonym_detector.py:677-700`) — fine for a
vocabulary, impossible for 10⁹ documents; this operator is the same
contract distributed. `v6b_merge_groups` keeps the driver-side form for
the vocabulary-sized case, documenting both ends of the spectrum.

Semantics pinned for the oracle: component id = MIN node id reachable —
a pure function of the edge set, independent of execution order, so the
recursive-SQL oracle replays it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import Ctx, query
from .dedup import (
    _BANDS_SQL,
    _SHINGLES_SQL,
    _SIGS_SQL,
    JACCARD_THRESHOLD,
    minhash_verified_pairs,
)


# node-sized per-round frames broadcast under this bound (the shared
# 2M-row guard family: traversal._BROADCAST_FRONTIER_MAX et al.)
_CC_BROADCAST_MAX = 2_000_000


def connected_components(
    pairs: DataFrame,
    a_col: str = "src",
    b_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every endpoint of `pairs`, component = min
    reachable node id.

    Each round: (1) neighbor-min — every node adopts the smallest label
    among itself and its neighbors; (2) one pointer jump — every node
    then adopts its label's label (comp values only ever decrease
    toward the component minimum, so the jump changes the ROUND COUNT,
    never the fixpoint; two materialized jumps per round were
    measured at sf0.1 in r18: rounds 11 -> 10, wall 9.7 s -> 118.6 s).
    Runs to the exact fixpoint (checked with a changed-row
    count per round; `max_iter` is a safety rail ~2·log₂ of any
    practical component, not a truncation in practice — hitting it
    raises rather than returning a wrong answer)."""
    # checkpoint the pair plan ONCE before mirroring: the union's two
    # branches are separate evaluations of the same subtree, so an
    # expensive pair pipeline (LSH / IVF verify joins) ran twice inside
    # the und materialization (r17, guide §1/§2.4)
    base = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).localCheckpoint(eager=True)
    und = (
        base.unionByName(base.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)  # reused every round
    )
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    ).localCheckpoint(eager=True)
    # the node count is round-invariant, and every per-round frame
    # (labels, nbr_min, the jump lookup) is node-sized — ONE count
    # sizes the broadcast guard for every join of every round (r17,
    # guide §3.1): under the bound each round is one groupBy exchange
    # plus broadcast builds instead of three SortMergeJoins of tiny
    # frames; past it (a >2M-node pair graph) the planner shuffles,
    # the 100 TB-safe fallback.
    from ..functions.scale import maybe_broadcast

    n_nodes = labels.count()

    def _side(df: DataFrame) -> DataFrame:
        return maybe_broadcast(df, _CC_BROADCAST_MAX, n_rows=n_nodes)

    # Delta frontier (r18, VERDICT r17 next #5 — the round-cost cut):
    # a node's offer to its neighbors only matters in the round after
    # its label CHANGED (an unchanged neighbor's comp was offered when
    # it last changed, and labels only decrease, so re-offering it is a
    # no-op: least(comp(v), old_offer) = comp(v)). Each round therefore
    # joins und against the CHANGED rows only — per-round shuffle volume
    # follows the geometrically shrinking frontier instead of staying
    # edge-sized for every one of the ~11 rounds (guide §2.3; measured
    # sf0.1 embedding graph: frontier 19k -> 5.7k -> ... -> 0 while und
    # stays 38k rows). Per-round label values are IDENTICAL to the
    # full-propagation form (same stepped minima, same fixpoint, same
    # round count) — only the no-op offers are skipped.
    frontier, n_frontier = labels, n_nodes
    for _ in range(max_iter):
        nbr_min = (
            und.join(
                maybe_broadcast(
                    frontier.withColumnRenamed("node", "b"),
                    _CC_BROADCAST_MAX,
                    n_rows=n_frontier,
                ),
                "b",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # carry the round's starting label through as `old` so the
        # convergence check is a row-local comparison instead of a
        # jumped ⋈ labels join per round (r17, guide §2.4)
        stepped = (
            labels.join(_side(nbr_min), "node", "left")
            .select(
                "node",
                F.col("comp").alias("old"),
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
            )
            # lazy: the jump-lookup broadcast build materializes this
            # once; without it stepped (and nbr_min's exchange under
            # it) evaluated twice per round — streamed into the jump
            # join AND rebuilt inside the lookup's build (r17, §2.4)
            .localCheckpoint(eager=False)
        )
        # pointer jump: comp := label(comp) under the round's mapping;
        # lazy — the changed-count below materializes it in the same job
        lookup = stepped.select(
            F.col("node").alias("comp"), F.col("comp").alias("parent")
        )
        jumped = (
            stepped.join(_side(lookup), "comp", "left")
            .select(
                "node",
                "old",
                F.least(F.col("comp"), F.coalesce("parent", F.col("comp"))).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE job: the frontier's lazy checkpoint pulls the round's
        # jumped frame through its own lazy checkpoint while counting
        # the changed set (the count doubles as the convergence check)
        frontier = (
            jumped.filter(F.col("comp") != F.col("old"))
            .select("node", "comp")
            .localCheckpoint(eager=False)
        )
        n_frontier = frontier.count()
        labels = jumped.select("node", "comp")
        if n_frontier == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


# The shared recursive-CC CTE prefix for the lexical dup-group family.
# REFACTOR INVARIANT (r8): d_dup_groups' registered oracle must stay
# byte-identical to its r7 value — it is a tail row this round; the
# sha256 pin in tests/test_components.py guards the extraction.
_GROUPS_CTES = (
    "WITH RECURSIVE "
    + ",".join([_SHINGLES_SQL, _SIGS_SQL, _BANDS_SQL])
    + f""",
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
pairs AS (
  SELECT i.doc_a, i.doc_b FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
  WHERE i.inter / CAST(na.n + nb.n - i.inter AS DOUBLE) >= {JACCARD_THRESHOLD}
),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(node, comp) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT u.b, r.comp FROM reach r JOIN und u ON u.a = r.node
)"""
)


@query(
    "d_dup_groups",
    oracle=_GROUPS_CTES
    + """
SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(comp) AS BIGINT) AS group_id,
       min(comp) = node AS keeper
FROM reach GROUP BY node
""",
)
def d_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP resolution end-to-end: minhash-LSH verified pairs
    → distributed connected components → (doc_id, group_id, keeper)
    with keeper = the group's minimum doc_id. The downstream dedup
    materialization is then one anti-join of documents against the
    non-keeper rows."""
    ctx = Ctx.get(spark, sf_dir)
    # r17: array-form pair pipeline (see dedup.minhash_verified_pairs) —
    # one checkpoint, one corpus exchange; the exploded-shingle
    # checkpoint and the candidate checkpoint (candidates now feed a
    # single join chain) are gone
    pairs = minhash_verified_pairs(ctx.tables["documents"]).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("group_id"),
        (F.col("node") == F.col("comp")).alias("keeper"),
    )


def dedup_apply(
    docs: DataFrame, groups: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize the canonical corpus: drop every non-keeper.

    `groups` is d_dup_groups' output (doc_id, group_id, keeper) — only
    docs that belong to SOME near-dup group appear in it, so the apply
    is one left-anti join against the non-keeper rows; untouched docs
    (the overwhelming majority at 100 TB) stream through without ever
    joining. The anti-join's build side is the duplicate set, which is
    corpus-small by definition — AQE broadcasts it."""
    from ..functions.scale import maybe_broadcast

    losers = groups.filter(~F.col("keeper")).select(
        F.col("doc_id").alias("__loser_id")
    )
    # counted broadcast (r17, §3.1): the un-hinted anti-join planned as
    # SortMergeJoin, exchanging AND sorting the whole corpus before AQE
    # could rewrite it; the loser set is duplicate-sized, so the count
    # is cheap and past the bound the planner shuffles as before
    return docs.join(
        maybe_broadcast(losers, _CC_BROADCAST_MAX),
        docs[id_col] == losers["__loser_id"],
        "left_anti",
    )


def resolve_keepers_by_quality(
    groups: DataFrame,
    docs: DataFrame,
    quality: "Column | str",
    id_col: str = "doc_id",
) -> DataFrame:
    """Re-elect each dup group's keeper by QUALITY instead of min-id:
    trainers keep the best duplicate (longest, highest LM score, ...),
    not the first-seen one. Input is d_dup_groups-shaped (doc_id,
    group_id, keeper); output is the same shape with keeper = the
    group's argmax-quality member (ties broken by id, so the election
    is total). One broadcast-sized join (groups is the duplicate set,
    corpus-small by definition) + one window over group_id — the same
    single-exchange shape as d_dup_groups' own keeper rule. Composes
    with `dedup_apply` unchanged."""
    from pyspark.sql import Window

    q = F.col(quality) if isinstance(quality, str) else quality
    scored = groups.select(id_col, "group_id").join(
        docs.select(id_col, q.alias("__q")), id_col
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("__q").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .select(
            id_col,
            "group_id",
            (F.col("__rn") == 1).alias("keeper"),
        )
    )


def embedding_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS in embedding space: d_embedding_neardup's
    verified cosine pairs → distributed connected components →
    (vec_id, group_id, keeper). The embedding twin of d_dup_groups —
    the same two-stage contract (bucketed candidates, exact verify,
    CC, one keeper per cluster) over the other similarity signal, so a
    pipeline can dedup on EITHER lexical or semantic identity with the
    same downstream apply (`dedup_apply`, keyed on vec_id)."""
    from .dedup import d_embedding_neardup

    pairs = d_embedding_neardup(spark, sf_dir)
    comp = connected_components(pairs, "vec_a", "vec_b")
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("comp").alias("group_id"),
        (F.col("node") == F.col("comp")).alias("keeper"),
    )


# ---------------------------------------------------------------------------
# Prepared r9 registry candidates (prepared-plan discipline: built and
# driver-style tested this round, registered next round — the r9 plan
# in registry.py), registered r9 at the module tail below.
# ---------------------------------------------------------------------------


def d_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 candidate: the canonical corpus after lexical group
    resolution — documents minus every non-keeper from d_dup_groups,
    materialized by `dedup_apply`'s single left-anti join. The oracle
    reuses d_dup_groups' recursive-CC CTEs and anti-selects the
    non-keepers, so the row grades the full find→group→apply chain
    hash-exact."""
    ctx = Ctx.get(spark, sf_dir)
    groups = d_dup_groups(spark, sf_dir)
    docs = ctx.tables["documents"].select("doc_id", "source", "n_chars")
    return dedup_apply(docs, groups)


def d_dedup_apply_oracle() -> str:
    return _GROUPS_CTES + """
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (
  SELECT node FROM reach GROUP BY node HAVING min(comp) <> node
)
"""


def d_embedding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9 candidate: `embedding_dup_groups` as a driver row — the
    semantic twin of d_dup_groups, graded hash-exact by wrapping
    d_embedding_neardup's pair CTEs (byte-shared with its registered
    oracle) in the same recursive-CC fixpoint."""
    return embedding_dup_groups(spark, sf_dir)


def d_embedding_groups_oracle() -> str:
    from .dedup import _EMB_PAIR_CTES, _NEARDUP_THRESHOLD

    return f"""
WITH RECURSIVE {_EMB_PAIR_CTES},
prs AS (SELECT vec_a, vec_b FROM p WHERE cos >= {_NEARDUP_THRESHOLD}),
und AS (SELECT vec_a AS a, vec_b AS b FROM prs
        UNION ALL SELECT vec_b, vec_a FROM prs),
reach(node, comp) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT u.b, r.comp FROM reach r JOIN und u ON u.a = r.node
)
SELECT CAST(node AS BIGINT) AS vec_id, CAST(min(comp) AS BIGINT) AS group_id,
       min(comp) = node AS keeper
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# Prepared r11 registry candidate (VERDICT r9 next #5): keeper election
# by quality as a driver row — the one r9-new operator that had no
# registration path planned. Built + driver-style tested this round
# (tests/test_components.py::test_r11_candidate_keeper_election),
# registered when the r11 window frees slots.
# ---------------------------------------------------------------------------


def d_keeper_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 candidate: d_dup_groups' lexical dup groups re-elected by
    quality (n_chars — longest duplicate wins, ties by doc_id) through
    `resolve_keepers_by_quality`. The oracle reuses the byte-shared
    recursive-CC CTEs and replays the election as the same argmax
    window, so the grade covers find→group→ELECT hash-exact — the
    quality-keeper complement to d_dedup_apply's min-id chain."""
    ctx = Ctx.get(spark, sf_dir)
    groups = d_dup_groups(spark, sf_dir)
    docs = ctx.tables["documents"]
    return resolve_keepers_by_quality(groups, docs, "n_chars")


def d_keeper_election_oracle() -> str:
    return _GROUPS_CTES + """,
g AS (
  SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(comp) AS BIGINT) AS group_id
  FROM reach GROUP BY node
)
SELECT g.doc_id, g.group_id,
       row_number() OVER (
         PARTITION BY g.group_id ORDER BY d.n_chars DESC, g.doc_id
       ) = 1 AS keeper
FROM g JOIN documents d ON d.doc_id = g.doc_id
"""


# Registered r9: the prepared-candidate plan in registry.py, executed —
# module-tail registration keeps the functions and their driver-style
# tests (tests/test_components.py) untouched.
query("d_dedup_apply", oracle=d_dedup_apply_oracle())(d_dedup_apply)
query("d_embedding_groups", oracle=d_embedding_groups_oracle())(d_embedding_groups)

# Registered r11: the prepared-candidate plan in registry.py, executed
# (VERDICT r9 next #5 — keeper election by quality as a driver row).
query("d_keeper_election", oracle=d_keeper_election_oracle())(d_keeper_election)
