"""A linear text classifier TRAINED IN-PLAN by fixed gradient-descent
sweeps — the fastText/CCNet shape of model-based corpus filtering.

The modern curation pipelines (CCNet — Wenzek et al. 2020; fastText
filters in GPT-3/LLaMA data work; DCLM / FineWeb-Edu classifier
filtering) share one mechanism: a linear model over cheap text
features is trained against a labeled slice (an LLM-judge quality
column, an LM-perplexity teacher, ground-truth tags) and then scores
the full corpus as a narrow row-local projection. This module is that
mechanism end-to-end, graded cross-engine:

- teacher = the graded quality heuristic (`operators/
  textstats.py:t_quality_score` arithmetic): y = 1 iff
  round(0.5·distinct_ratio + 0.5·least(n_words/60, 1), 6) >= 0.65 —
  the corpus-median cut at both gate SFs, so classes stay balanced.
  The teacher is a LINEAR function of two of the four features, so
  the learning problem is honest (GD must find the direction and
  ignore the two distractor features) yet learnable on THIS fixture —
  its synthetic bigram structure makes LM-perplexity and language
  teachers pure noise w.r.t. surface features (measured corr <= 0.11
  for every candidate pairing), so a "distill the LM" instance would
  grade a classifier that provably learns nothing. In production the
  teacher column swaps for the LLM-judge / perplexity slice and
  NOTHING in the plan shape changes;
- features = bias, length saturation least(n_words/60, 1), distinct
  ratio, avg-word-length/10 (the last a deliberate distractor) — all
  exact integer-division arithmetic, bit-identical across engines;
- training = `_SWEEPS` full-batch logistic-regression GD sweeps at a
  fixed learning rate, weights rounded to 12 dp after every update
  (the shared `semdedup.MEAN_ROUND_DP` discipline: distributed
  summation order and libm exp() differ by ULPs between runs and
  engines; per-sweep rounding makes the weight trajectory identical
  by construction). Each sweep is ONE corpus scan + a 4-row collect
  (per-feature mean gradient) — the kmeans/PQ bounded-collect budget.
  The weight vector rides a broadcast one-row frame, never the
  expression tree (the r12 codegen lesson);
- scoring = sigmoid(w·x) rounded to 6 dp, row-local — at 100 TB the
  trained weights ship as a constant and the scan is the only cost.

Determinism ledger: features and labels are pure functions of the
table; the mean gradient's ULP-level order noise is absorbed by the
12-dp weight rounding; the final probability is row-local off the
rounded weights. The oracle replays training as generated per-sweep
CTE blocks (the bpe/pq/kmeans pattern).

Reference parity: the reference has no model-based filtering surface;
this is pipeline-surface beyond it, like the dedup/ANN families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scale import maybe_broadcast
from ..functions.teacher import (
    LEN_SAT_WORDS,
    QUALITY_CUT,
    QUALITY_DP,
    W_DISTINCT,
    W_LEN,
)
from ..registry import Ctx, query
from .semdedup import MEAN_ROUND_DP

_SWEEPS = 12
_LR = 8.0
_NFEAT = 4  # bias, length saturation, distinct ratio, awl/10
_TEACHER_CUT = QUALITY_CUT  # ~the corpus median of the quality heuristic

_X_EXPR = (
    "array(1.0D,"
    f" least(size(split(text, ' ')) / {LEN_SAT_WORDS}.0D, 1.0D),"
    " size(array_distinct(split(text, ' '))) / cast(size(split(text, ' ')) as double),"
    " (length(regexp_replace(text, ' ', '')) / cast(size(split(text, ' ')) as double)) / 10.0D)"
)

_X_SQL = (
    "[1.0,"
    f" least(len(string_split(text, ' ')) / {LEN_SAT_WORDS}.0, 1.0),"
    " len(list_distinct(string_split(text, ' ')))"
    "   / CAST(len(string_split(text, ' ')) AS DOUBLE),"
    " (length(replace(text, ' ', ''))"
    "   / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 10.0]"
)

# y from x: the consolidated teacher (functions/teacher.py) restated
# in FEATURE SPACE — x[3] is the distinct ratio, x[2] the length
# saturation, so this cannot derive from the words-array builders; the
# drift trip-wire (tests/test_dsir.py + every candidate probe) proves
# it agrees with the words-space rendering row-for-row. BYTE-STABILITY:
# these strings feed t_quality_logreg's registered oracle through
# _train_score_ctes — the constants must render the historical
# literals exactly (pinned by test_teacher_module_renders_historic_
# literals), or the row's oracle changes.
_Y_EXPR = (
    f"round({W_DISTINCT}D * element_at(x, 3) + {W_LEN}D * element_at(x, 2),"
    f" {QUALITY_DP}) >= {QUALITY_CUT}D"
)
_Y_SQL = f"round({W_DISTINCT} * x[3] + {W_LEN} * x[2], {QUALITY_DP}) >= {QUALITY_CUT}"

# sigmoid(w . x), row-local; {w} is either the broadcast one-row
# weight frame's column (scoring) or a literal 4-double array (the
# training sweeps — see logreg_train)
_P_EXPR_TMPL = (
    "1.0D / (1.0D + exp(-aggregate(zip_with(x, {w}, (a, b) -> a * b),"
    " 0D, (acc, v) -> acc + v)))"
)
_P_EXPR = _P_EXPR_TMPL.format(w="w")


def _w_frame(spark: SparkSession, w: list[float]) -> DataFrame:
    from ..functions.scale import local_df

    return local_df(spark, [(w,)], "w array<double>")


def logreg_train(
    data: DataFrame, n_feat: int = _NFEAT, sweeps: int = _SWEEPS, lr: float = _LR
) -> list[float]:
    """Full-batch GD over (x array<double>, y boolean): the
    12-dp-rounded weight vector after `sweeps` updates from w = 0.
    BOUNDED COLLECTS: one n_feat-row mean-gradient aggregate per
    sweep."""
    w = [0.0] * n_feat
    for _ in range(sweeps):
        # one global aggregate with n_feat columns — map-side
        # combinable, no row multiplication (the first cut posexploded
        # x into 4x rows and shuffled a groupBy(j); same avg values,
        # and the 12-dp rounding absorbs the summation-order ULPs the
        # determinism ledger already accounts for — r15 re-probed)
        err = F.col("p") - F.col("y").cast("double")
        # w rides as a LITERAL 4-double array (r17): the broadcast
        # 1-row weight frame cost a separate broadcast-build job per
        # sweep, and at n_feat = 4 the literal tree is tiny — the
        # per-sweep codegen recompile the pq.py codebook note warns
        # about only bites at ~1000-node trees. Same arithmetic: the
        # 12-dp-rounded weights round-trip exactly through repr.
        warr = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in w) + ")"
        row = (
            data.withColumn("p", F.expr(_P_EXPR_TMPL.format(w=warr)))
            .agg(
                *[
                    F.avg(err * F.element_at("x", j + 1)).alias(f"g{j}")
                    for j in range(n_feat)
                ]
            )
            .first()
        )
        w = [
            round(w[j] - lr * (row[f"g{j}"] or 0.0), MEAN_ROUND_DP)
            for j in range(n_feat)
        ]
    return w


def logreg_score(data: DataFrame, w: list[float], carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *carry, p, pred, y): row-local scoring off trained
    weights. `carry` projects extra input columns straight through so
    callers do not join the scored frame back to its own input on
    doc_id — that self-join was a corpus exchange in both graded
    consumers (r17, guide §2.4)."""
    return (
        data.join(F.broadcast(_w_frame(data.sparkSession, w)))
        .withColumn("__p", F.expr(_P_EXPR))
        .select(
            "doc_id",
            *carry,
            F.round("__p", 6).alias("p"),
            (F.col("__p") >= 0.5).alias("pred"),
            "y",
        )
    )


def t_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r14 candidate: the in-plan-trained quality classifier —
    per-source rollup (source, n_docs, n_pos, n_pred_pos, n_correct,
    sum_p6) so the driver row stays small while every per-doc
    probability feeds the hash through sum_p6 — the EXACT integer sum
    of the 6-dp probabilities x 10^6 (r16 conversion of the original
    round(avg(p), 6): a sum/count landing exactly on a representable
    half flips between Spark's BigDecimal rounding and DuckDB's
    multiply-then-round — the decimal-tie class the DSIR prep hit at
    sf0.001; VERDICT r14 wrong #2)."""
    ctx = Ctx.get(spark, sf_dir)
    docs = ctx.tables["documents"]
    data = (
        docs.select("doc_id", "source", F.expr(_X_EXPR).alias("x"))
        .withColumn("y", F.expr(_Y_EXPR))
        .localCheckpoint(eager=True)
    )
    w = logreg_train(data)
    # carry=source: the rollup reads the scored rows directly instead of
    # re-joining them to `data` on doc_id (one corpus exchange removed;
    # doc_id is unique so the join was 1:1 — identical rows)
    scored = logreg_score(data, w, carry=("source",))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("y").cast("bigint")).alias("n_pos"),
            F.sum(F.col("pred").cast("bigint")).alias("n_pred_pos"),
            F.sum((F.col("pred") == F.col("y")).cast("bigint")).alias(
                "n_correct"
            ),
            F.sum(F.round(F.col("p") * 1000000).cast("bigint"))
            .cast("bigint")
            .alias("sum_p6"),
        )
    )


def _train_score_ctes(sweeps: int = _SWEEPS, lr: float = _LR) -> str:
    """The byte-shared oracle prefix `WITH d .. scored` — GD training
    replayed as generated per-sweep CTE blocks: identical features,
    teacher cut, sigmoid, mean gradient, and 12-dp weight rounding,
    ending in the per-doc `scored(doc_id, source, p, pred, y)` CTE.
    Shared by t_quality_logreg_oracle and cur_budget_filter_oracle
    (the greedy_pack_sql / _pq_train_ctes co-consumer discipline: one
    prefix, two consumers — an edit here changes both rows' oracles)."""
    p = "1.0 / (1.0 + exp(-list_dot_product(x, w)))"
    parts = [f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, source, x, {_Y_SQL} AS y FROM (
    SELECT doc_id, source, {_X_SQL} AS x FROM documents
  )
),
w0 AS (SELECT {[0.0] * _NFEAT}::DOUBLE[] AS w)"""]
    for t in range(1, sweeps + 1):
        parts.append(f""",
g{t} AS MATERIALIZED (
  SELECT j, avg(({p} - CAST(y AS DOUBLE)) * x[j]) AS gj
  FROM d CROSS JOIN w{t - 1}, range(1, {_NFEAT} + 1) AS r(j)
  GROUP BY j
),
w{t} AS (
  SELECT list(round(w.w[g.j] - {lr} * g.gj, {MEAN_ROUND_DP}) ORDER BY g.j) AS w
  FROM g{t} g CROSS JOIN w{t - 1} w
)""")
    parts.append(f""",
scored AS (
  SELECT doc_id, source, round({p}, 6) AS p, ({p} >= 0.5) AS pred, y
  FROM d CROSS JOIN w{sweeps}
)""")
    return "".join(parts)


def t_quality_logreg_oracle(sweeps: int = _SWEEPS, lr: float = _LR) -> str:
    """DuckDB twin: the shared training prefix + the per-source
    rollup."""
    return _train_score_ctes(sweeps, lr) + """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
       CAST(sum(CAST(pred AS BIGINT)) AS BIGINT) AS n_pred_pos,
       CAST(sum(CAST(pred = y AS BIGINT)) AS BIGINT) AS n_correct,
       CAST(sum(CAST(round(p * 1000000) AS BIGINT)) AS BIGINT) AS sum_p6
FROM scored GROUP BY source
"""


query("t_quality_logreg", oracle=t_quality_logreg_oracle())(t_quality_logreg)


# ---------------------------------------------------------------------------
# Token-budget-calibrated selection (prepared r15 registry candidate —
# VERDICT r13 next #8): the DCLM / FineWeb-Edu selection step. A
# trained quality classifier scores every document, and the corpus
# keeps the HIGHEST-scoring documents until a target token budget is
# filled — "give me the best 40% of my tokens", not "the best 40% of
# my documents" (long mediocre docs must not crowd out short good
# ones, so the cut is calibrated on token mass, not row count).
# ---------------------------------------------------------------------------

_BUDGET_FRAC = 0.4  # target budget: fraction of corpus whitespace tokens
# Pass-1 distinct-score bound == the documented 6-dp-probability
# cardinality (1,000,001 values in [0, 1]) — ADVICE r14 aligned this
# with the docstring's bound; it had drifted to a 2M slack value. The
# broadcast hint below is additionally guarded at the repo-wide 1M
# frame budget (EVAL_GRAM_BROADCAST_MAX's bound) via maybe_broadcast.
_SCORE_CARDINALITY_MAX = 1_000_001
_SCORE_BROADCAST_MAX = 1_000_000


def token_budget_filter(
    scored: DataFrame,
    bframe: DataFrame,
    token_col: str = "n_tokens",
    score_col: str = "p",
    key: str = "doc_id",
) -> DataFrame:
    """Keep the highest-`score_col` rows of `scored` until their
    cumulative `token_col` fills the budget `b` carried by the one-row
    frame `bframe(b bigint)` — rows of `scored` back, the kept set a
    pure function of the data (score desc, tie-break `key` asc inside
    the boundary score).

    Scale shape — two passes, NO corpus-wide sort or window:
    1. token mass per DISTINCT score (one hash aggregate). Scores are
       6-dp-rounded probabilities in [0, 1], so this frame is bounded
       at 1,000,001 rows BY CONSTRUCTION regardless of corpus size —
       the single-partition cumulative window over it is a bounded
       driver-sized step, not a corpus-wide sort (same bounded-frame
       budget as the kmeans/PQ collects).
    2. scores whose inclusive cumulative mass fits the budget join
       back broadcast (full buckets keep every row); the ONE boundary
       score's bucket is split by a per-bucket running sum ordered by
       `key` — a window partitioned by that single score value, sized
       by the boundary bucket's row count. Worst case (every document
       scoring identically) degrades to one partition; a corpus that
       degenerate should cut per-stratum with `quantile_filter`
       instead.

    At 100 TB the mass aggregate is the only corpus-wide exchange; the
    budget and bucket boundaries ride one-row/bounded broadcast frames
    (never the expression tree — the r12 codegen lesson).

    CARDINALITY CONTRACT, enforced loudly: the pass-1 frame has one
    row per DISTINCT score, and both the cumulative window and the
    full-bucket broadcast assume it is small. 6-dp probabilities bound
    it at 1,000,001 by construction; an UNBOUNDED score (e.g. a log
    weight) can make it corpus-sized, which is the r10 unguarded-
    broadcast defect class — so past `_SCORE_CARDINALITY_MAX` distinct
    scores the call refuses with the fix named (quantize the score to
    a fixed grid first; the boundary-split semantics are unchanged by
    the grid). The count runs on the checkpointed mass frame the
    window needs anyway.

    PRE-GUARD COST (ADVICE r14, documented rather than re-ordered):
    the mass aggregate + its checkpoint run BEFORE the cardinality
    guard — unavoidable, because distinct-score cardinality cannot be
    known without the aggregate, and counting on the LAZY frame first
    would re-run the corpus aggregate a second time for the checkpoint
    in the (overwhelmingly common) good case. So an unbounded score
    column still pays one corpus-sized aggregate plus an n_scores-row
    checkpoint write before the ValueError fires; the refusal protects
    the single-partition window and the broadcast, not that first
    exchange."""
    s, t = F.col(score_col), F.col(token_col)
    mass = (
        scored.groupBy(score_col)
        .agg(F.sum(t).cast("bigint").alias("__mass"))
        .localCheckpoint(eager=True)
    )
    n_scores = mass.count()
    if n_scores > _SCORE_CARDINALITY_MAX:
        raise ValueError(
            f"token_budget_filter: {n_scores:,} distinct {score_col!r} values"
            f" exceed the {_SCORE_CARDINALITY_MAX:,} pass-1 bound (the"
            " cumulative window and full-bucket broadcast are sized for a"
            " low-cardinality score) — quantize the score to a fixed grid"
            " (e.g. round to 4-6 dp on a bounded range) before the cut"
        )
    wd = Window.orderBy(s.desc())
    cum = (
        mass.withColumn("__cum", F.sum("__mass").over(wd))
        .withColumn("__before", F.col("__cum") - F.col("__mass"))
        .join(F.broadcast(bframe))
    )
    full = cum.filter(F.col("__cum") <= F.col("b")).select(score_col)
    boundary = cum.filter(
        (F.col("__before") <= F.col("b")) & (F.col("__cum") > F.col("b"))
    ).select(score_col, "__before", "b")
    # `full` ⊆ mass, so n_scores is a free upper bound: hint only under
    # the repo-wide 1M broadcast budget, else let AQE pick (the sliver
    # between _SCORE_BROADCAST_MAX and _SCORE_CARDINALITY_MAX shuffles)
    kept_full = scored.join(
        maybe_broadcast(full, _SCORE_BROADCAST_MAX, n_rows=n_scores), score_col
    )
    wb = Window.partitionBy(score_col).orderBy(F.col(key).asc())
    kept_boundary = (
        scored.join(F.broadcast(boundary), score_col)
        .withColumn("__dcum", F.sum(t).over(wb))
        .filter(F.col("__before") + F.col("__dcum") <= F.col("b"))
    )
    # equi-joins move the join key first; hand back the caller's order
    return kept_full.select(*scored.columns).unionByName(
        kept_boundary.select(*scored.columns)
    )


def cur_budget_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15 candidate: classifier scores -> token-budget-calibrated cut
    keeping the best `_BUDGET_FRAC` of corpus tokens, rolled up per
    source (source, n_kept, kept_tokens, sum_p6, min_p) — min_p is the
    effective score threshold the budget calibrated to (an element
    select, no arithmetic — tie-safe), and sum_p6 is the EXACT integer
    sum of the 6-dp probabilities x 10^6 (round(avg(...)) on a graded
    surface is the decimal-tie class the dsir.py prep hit — sum/count
    landing exactly on a half flips between Spark's BigDecimal
    rounding and DuckDB's multiply-then-round; review finding r14)."""
    ctx = Ctx.get(spark, sf_dir)
    docs = ctx.tables["documents"]
    data = (
        docs.select(
            "doc_id",
            "source",
            F.expr(_X_EXPR).alias("x"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
        .withColumn("y", F.expr(_Y_EXPR))
        .localCheckpoint(eager=True)
    )
    w = logreg_train(data)
    # carry instead of the doc_id self-join back to `data` (r17 §2.4)
    scored = logreg_score(data, w, carry=("source", "n_tokens")).select(
        "doc_id", "source", "p", "n_tokens"
    )
    bframe = data.agg(
        F.floor(F.lit(_BUDGET_FRAC) * F.sum("n_tokens")).cast("bigint").alias("b")
    )
    kept = token_budget_filter(scored, bframe)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
        F.sum(F.round(F.col("p") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("sum_p6"),
        F.min("p").alias("min_p"),
    )


def cur_budget_filter_oracle(sweeps: int = _SWEEPS, lr: float = _LR) -> str:
    """DuckDB twin: the byte-shared training prefix + per-doc tokens +
    the same two-pass budget cut (per-score mass -> cumulative ->
    full buckets + boundary-bucket running-sum split) + the per-source
    rollup."""
    return _train_score_ctes(sweeps, lr) + f""",
sd AS (
  SELECT s.doc_id, s.source, s.p,
         CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS n_tokens
  FROM scored s JOIN documents doc USING (doc_id)
),
tot AS (SELECT CAST(floor({_BUDGET_FRAC} * sum(n_tokens)) AS BIGINT) AS b FROM sd),
mass AS (SELECT p, CAST(sum(n_tokens) AS BIGINT) AS m FROM sd GROUP BY p),
cum AS (SELECT p, m, CAST(sum(m) OVER (ORDER BY p DESC) AS BIGINT) AS c FROM mass),
kept AS (
  SELECT sd.doc_id, sd.source, sd.p, sd.n_tokens
  FROM sd JOIN cum USING (p) CROSS JOIN tot WHERE cum.c <= tot.b
  UNION ALL
  SELECT doc_id, source, p, n_tokens FROM (
    SELECT sd.doc_id, sd.source, sd.p, sd.n_tokens,
           cum.c - cum.m AS bef, tot.b AS b,
           CAST(sum(sd.n_tokens) OVER (
             PARTITION BY sd.p ORDER BY sd.doc_id) AS BIGINT) AS dc
    FROM sd JOIN cum USING (p) CROSS JOIN tot
    WHERE cum.c - cum.m <= tot.b AND cum.c > tot.b
  ) WHERE bef + dc <= b
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
       CAST(sum(CAST(round(p * 1000000) AS BIGINT)) AS BIGINT) AS sum_p6,
       min(p) AS min_p
FROM kept GROUP BY source
"""


query("cur_budget_filter", oracle=cur_budget_filter_oracle())(cur_budget_filter)


# ---------------------------------------------------------------------------
# Stratified token-budget selection (prepared r16/r17 registry
# candidate — VERDICT r14 next #5's composition): the CCNet deployment
# shape. Wenzek et al. (2020) bucket a crawl into perplexity terciles
# and keep head-heavy slices; composing the graded tercile operator
# (lm.ccnet_buckets) with a PER-STRATUM form of the graded budget cut
# gives "keep the best X% of each stratum's tokens, head-weighted" —
# quota sampling calibrated on token mass instead of row count.
# ---------------------------------------------------------------------------

# CCNet-ish head-weighted per-tercile token budgets
_CCNET_FRACS = {"head": 0.6, "middle": 0.3, "tail": 0.1}


def stratified_budget_filter(
    scored: DataFrame,
    budgets: DataFrame,
    stratum_col: str,
    token_col: str = "n_tokens",
    score_col: str = "p",
    key: str = "doc_id",
) -> DataFrame:
    """`token_budget_filter` generalized to one independent cut per
    stratum: keep the highest-`score_col` rows of each stratum until
    its cumulative `token_col` fills that stratum's budget from
    `budgets(stratum, b)`. Same two-pass shape and cost argument as
    the global cut (whose docstring carries the full ledger):

    1. token mass per DISTINCT (stratum, score) cell — still ONE hash
       aggregate, and the cumulative window is now PARTITIONED by
       stratum (parallel across strata, bounded within each by the
       same cardinality contract, enforced across all cells by
       `_SCORE_CARDINALITY_MAX` with the same quantize-the-score fix
       named in the refusal);
    2. full buckets join back under the shared 1M broadcast budget
       (cell count is the free upper bound); each stratum's ONE
       boundary cell splits by a per-(stratum, score) running sum
       ordered by `key`.

    `budgets` is by construction a per-stratum aggregate (a handful of
    rows) and rides a broadcast join on the stratum key. At 100 TB the
    mass aggregate remains the only corpus-wide exchange."""
    s, t = F.col(score_col), F.col(token_col)
    mass = (
        scored.groupBy(stratum_col, score_col)
        .agg(F.sum(t).cast("bigint").alias("__mass"))
        .localCheckpoint(eager=True)
    )
    n_cells = mass.count()
    if n_cells > _SCORE_CARDINALITY_MAX:
        raise ValueError(
            f"stratified_budget_filter: {n_cells:,} distinct"
            f" ({stratum_col!r}, {score_col!r}) cells exceed the"
            f" {_SCORE_CARDINALITY_MAX:,} pass-1 bound — quantize the score"
            " to a fixed grid (e.g. round to 4-6 dp on a bounded range)"
            " before the cut"
        )
    wd = Window.partitionBy(stratum_col).orderBy(s.desc())
    cum = (
        mass.withColumn("__cum", F.sum("__mass").over(wd))
        .withColumn("__before", F.col("__cum") - F.col("__mass"))
        .join(F.broadcast(budgets), stratum_col)
    )
    full = cum.filter(F.col("__cum") <= F.col("b")).select(stratum_col, score_col)
    boundary = cum.filter(
        (F.col("__before") <= F.col("b")) & (F.col("__cum") > F.col("b"))
    ).select(stratum_col, score_col, "__before", "b")
    kept_full = scored.join(
        maybe_broadcast(full, _SCORE_BROADCAST_MAX, n_rows=n_cells),
        [stratum_col, score_col],
    )
    wb = Window.partitionBy(stratum_col, score_col).orderBy(F.col(key).asc())
    kept_boundary = (
        scored.join(F.broadcast(boundary), [stratum_col, score_col])
        .withColumn("__dcum", F.sum(t).over(wb))
        .filter(F.col("__before") + F.col("__dcum") <= F.col("b"))
    )
    return kept_full.select(*scored.columns).unionByName(
        kept_boundary.select(*scored.columns)
    )


def ccnet_cut_rollup(sd: DataFrame) -> DataFrame:
    """The CCNet selection tail of `cur_ccnet_budget`: head-weighted
    per-tercile token budgets (60/30/10 of each stratum's own token
    mass) -> stratified cut ranked by the LM score -> per-bucket rollup
    (bucket, n_kept, kept_tokens, sum_logp4, min_logp).
    `sd` = (doc_id, bucket, lm_logp, n_tokens).
    sum_logp4 is the exact integer sum of the 4-dp LM scores x 10^4
    (the sum_p6 tie-safe discipline)."""
    frac = (
        F.when(F.col("bucket") == "head", F.lit(_CCNET_FRACS["head"]))
        .when(F.col("bucket") == "middle", F.lit(_CCNET_FRACS["middle"]))
        .otherwise(F.lit(_CCNET_FRACS["tail"]))
    )
    budgets = sd.groupBy("bucket").agg(
        F.floor(F.max(frac) * F.sum("n_tokens")).cast("bigint").alias("b")
    )
    kept = stratified_budget_filter(
        sd, budgets, "bucket", score_col="lm_logp", key="doc_id"
    )
    return kept.groupBy("bucket").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
        F.sum(F.round(F.col("lm_logp") * 10000).cast("bigint"))
        .cast("bigint")
        .alias("sum_logp4"),
        F.min("lm_logp").alias("min_logp"),
    )


def cur_ccnet_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 row: CCNet terciles (graded t_ccnet_buckets machinery) ->
    the ccnet_cut_rollup tail (per-tercile budgets, stratified
    cut, per-bucket rollup). n_tokens derives as n_bigrams + 1 — exact
    for this corpus because the fixture pins every document <= 600
    words and lm_score drops <2-word docs (the lm_score_sql bound
    note)."""
    from .lm import ccnet_buckets, lm_score

    ctx = Ctx.get(spark, sf_dir)
    docs = ctx.tables["documents"]
    sd = ccnet_buckets(lm_score(docs)).select(
        "doc_id",
        "bucket",
        "lm_logp",
        (F.col("n_bigrams") + 1).cast("bigint").alias("n_tokens"),
    )
    return ccnet_cut_rollup(sd)


def cur_ccnet_budget_oracle() -> str:
    """DuckDB twin: the graded lm_score + quantile_disc tercile prefix
    (t_ccnet_buckets_oracle's shape) + the per-stratum two-pass cut +
    the per-bucket rollup."""
    from .lm import lm_score_sql

    fr = (
        f"CASE bucket WHEN 'head' THEN {_CCNET_FRACS['head']}"
        f" WHEN 'middle' THEN {_CCNET_FRACS['middle']}"
        f" ELSE {_CCNET_FRACS['tail']} END"
    )
    return f"""
WITH s AS ({lm_score_sql("documents")}),
t AS (SELECT quantile_disc(lm_logp, 1.0/3) AS t1,
             quantile_disc(lm_logp, 2.0/3) AS t2 FROM s),
sd AS (
  SELECT s.doc_id,
         CASE WHEN s.lm_logp <= t.t1 THEN 'tail'
              WHEN s.lm_logp <= t.t2 THEN 'middle'
              ELSE 'head' END AS bucket,
         s.lm_logp,
         CAST(s.n_bigrams + 1 AS BIGINT) AS n_tokens
  FROM s, t
),
tot AS (
  SELECT bucket, CAST(floor({fr} * sum(n_tokens)) AS BIGINT) AS b
  FROM sd GROUP BY bucket
),
mass AS (
  SELECT bucket, lm_logp, CAST(sum(n_tokens) AS BIGINT) AS m
  FROM sd GROUP BY bucket, lm_logp
),
cum AS (
  SELECT bucket, lm_logp, m,
         CAST(sum(m) OVER (PARTITION BY bucket ORDER BY lm_logp DESC)
              AS BIGINT) AS c
  FROM mass
),
kept AS (
  SELECT sd.doc_id, sd.bucket, sd.lm_logp, sd.n_tokens
  FROM sd JOIN cum USING (bucket, lm_logp) JOIN tot USING (bucket)
  WHERE cum.c <= tot.b
  UNION ALL
  SELECT doc_id, bucket, lm_logp, n_tokens FROM (
    SELECT sd.doc_id, sd.bucket, sd.lm_logp, sd.n_tokens,
           cum.c - cum.m AS bef, tot.b AS b,
           CAST(sum(sd.n_tokens) OVER (
             PARTITION BY sd.bucket, sd.lm_logp ORDER BY sd.doc_id)
             AS BIGINT) AS dc
    FROM sd JOIN cum USING (bucket, lm_logp) JOIN tot USING (bucket)
    WHERE cum.c - cum.m <= tot.b AND cum.c > tot.b
  ) WHERE bef + dc <= b
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
       CAST(sum(CAST(round(lm_logp * 10000) AS BIGINT)) AS BIGINT)
         AS sum_logp4,
       min(lm_logp) AS min_logp
FROM kept GROUP BY bucket
"""


query("cur_ccnet_budget", oracle=cur_ccnet_budget_oracle())(cur_ccnet_budget)
