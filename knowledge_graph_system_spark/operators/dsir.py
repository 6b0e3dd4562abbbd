"""DSIR-style importance resampling — model-free targeted data
selection (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"; public paper).

The mechanism, re-expressed Spark-first:

1. FEATURES: every document is a bag of hashed word-bigram counts
   over `_B` buckets (the paper's hashed n-gram generative model).
   The bucket hash is the repo's engine-portable md5 idiom
   (`sampling.hash_bucket` shape), so Spark and the DuckDB oracle
   agree bit-for-bit.
2. TARGET vs RAW: a unigram distribution over buckets is fit on the
   TARGET slice (here: documents passing the graded quality-heuristic
   cut — the t_quality_score formula — standing in for the paper's
   Wikipedia/books target) and on the RAW corpus, each with Laplace
   smoothing alpha.
3. IMPORTANCE WEIGHT: per document, w = sum over its grams of
   ln(p_target[b]) - ln(p_raw[b]) — computed by joining the gram
   frame to the BUCKET-SIZED log-ratio frame (broadcast by
   construction: `_B` rows regardless of corpus size) and one linear
   groupBy(doc_id). Rounded to 4 dp, the lm.py ln-determinism
   discipline (operators/lm.py:27-31).
4. GUMBEL TOP-K RESAMPLING: the paper resamples PROPORTIONALLY to
   weights rather than taking the argmax slice (top-k alone
   mode-collapses onto the most target-like documents). Gumbel noise
   g = -ln(-ln(u)) is derived from the md5 bucket of doc_id, so the
   "randomness" is a pure function of the data — deterministic,
   seedable by salt, identical in both engines. Selection = top
   `_KEEP_FRAC` of documents by (w + g), delegated to
   `classifier.token_budget_filter` with every document costing one
   token — the same two-pass threshold machinery, no new selection
   code. (Note for 100 TB: that machinery's pass-1 mass frame is
   bounded by the number of DISTINCT 4-dp scores; log-weights are not
   range-bounded like probabilities, so a production corpus would
   quantize pass-1 scores to a fixed grid first. The boundary-split
   semantics are unchanged by the grid.)

Scale shape: one gram explode (linear, capped at `_GRAM_CAP` grams
per doc), two bucket aggregations into `_B`-row frames, one broadcast
join + linear groupBy for weights, then the budget-filter selection.
No corpus-wide sort, no driver collect beyond the bounded frames.

Reference parity: the reference has no data-selection surface; this
is pipeline surface beyond it (like the classifier/budget rows),
prepared as an r15+ registry candidate behind cur_budget_filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scale import fan_out
from ..functions.teacher import teacher_expr_spark, teacher_sql_duck
from ..registry import Ctx
from .classifier import token_budget_filter

_B = 1024  # hashed feature buckets
_ALPHA = 1.0  # Laplace smoothing
_KEEP_FRAC = 0.25
_GRAM_CAP = 600  # per-doc gram cap (the t_fingerprint/oracle bound)
_GUMBEL_SALT = "dsir:gumbel:1"
_W_DP = 4  # ln-carrying score rounding (the lm.py discipline)

# the graded quality-heuristic teacher, evaluated on the whitespace
# word array `_ws` — rendered by the consolidated functions/teacher.py
# (r15: the formula's single source of truth; byte-identical to the
# historical literals, pinned by test)
_TARGET_EXPR = teacher_expr_spark("_ws")
_TARGET_SQL = teacher_sql_duck("ws")


def _bucket(col):
    h = F.md5(col)
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _B).alias("b")


def doc_gram_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, is_target, b): one row per gram OCCURRENCE (counts,
    not distinct — the generative model is multinomial), bucket-hashed,
    capped at `_GRAM_CAP` grams per document."""
    return (
        # the single-file parquet scan yields ~2 splits: without the
        # fan-out every downstream stage (the gram explode, both
        # aggregates) serializes on them (measured sf1: 2-partition
        # stages end-to-end)
        fan_out(docs)
        .withColumn("_ws", F.split(F.col("text"), " "))
        # single-word docs have no bigrams; without this guard
        # sequence(0, -1) would generate a DESCENDING index pair
        .filter(F.size("_ws") >= 2)
        .withColumn("is_target", F.expr(_TARGET_EXPR))
        .select(
            "doc_id",
            "is_target",
            F.explode(
                F.expr(
                    f"transform(sequence(0, least(size(_ws) - 2, {_GRAM_CAP - 1})),"
                    " i -> concat(_ws[i], '_', _ws[i+1]))"
                )
            ).alias("gram"),
        )
        .select("doc_id", "is_target", _bucket(F.col("gram")))
    )


def dsir_logratios(grams: DataFrame) -> DataFrame:
    """(b, lr): the bucket-sized importance log-ratio frame —
    ln(p_target) - ln(p_raw), Laplace-smoothed. At most `_B` rows by
    construction, broadcastable at any corpus size."""
    per_b = grams.groupBy("b").agg(
        F.sum(F.col("is_target").cast("bigint")).alias("nt"),
        F.count(F.lit(1)).alias("nr"),
    )
    tot = per_b.agg(
        F.sum("nt").alias("T"), F.sum("nr").alias("R")
    )
    return per_b.join(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("nt") + F.lit(_ALPHA)) / (F.col("T") + F.lit(_ALPHA * _B)))
            - F.log((F.col("nr") + F.lit(_ALPHA)) / (F.col("R") + F.lit(_ALPHA * _B)))
        ).alias("lr"),
    )


def gumbel_perturbed_scores(docs_dim: DataFrame, w: DataFrame) -> DataFrame:
    """(doc_id, source, w, score): attach the deterministic Gumbel
    noise g = -ln(-ln(u)) — u derived from the md5 bucket of doc_id, so
    both engines agree bit-for-bit — to a per-doc weight frame and emit
    the resampling score w + g (4 dp each). THE single source of the
    Gumbel expressions since the r17 fold (VERDICT r16 next #2): the
    fused batch path (`dsir_scores`) delegates here. Byte-stability vs
    the pre-fold inline tail is pinned by tests/test_lm_fold.py."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_GUMBEL_SALT))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10000
        + F.lit(0.5)
    ) / 10000.0
    return (
        docs_dim.select("doc_id", "source")
        .join(w, "doc_id", "left")
        .withColumn("w", F.coalesce("w", F.lit(0.0)))
        .withColumn("g", F.round(-F.log(-F.log(u)), _W_DP))
        .withColumn("score", F.round(F.col("w") + F.col("g"), _W_DP))
        .select("doc_id", "source", "w", "score")
    )


def dsir_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, source, w, score): per-doc importance log-weight w
    (4 dp) and the Gumbel-perturbed resampling score (4 dp). The
    Gumbel tail renders once in `gumbel_perturbed_scores` (r17 fold;
    cur_dsir_select sits in the r17 must-record tail, so this
    executed-path edit is window-legal — and the plan pin proves it
    render-identical anyway)."""
    grams = doc_gram_buckets(docs)
    lrs = dsir_logratios(grams)
    w = (
        grams.join(F.broadcast(lrs), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lr"), _W_DP).alias("w"))
    )
    return gumbel_perturbed_scores(docs, w)


def cur_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15+ candidate: DSIR selection keeping `_KEEP_FRAC` of the
    corpus by Gumbel-perturbed importance weight, rolled up per source
    (source, n_sel, sum_w4, sum_score4 — exact integer sums of the
    4-dp values x 10^4; see the decimal-tie note below). The selected
    count follows the target-resembling sources — the per-source
    n_sel IS the mechanism's observable."""
    docs = Ctx.get(spark, sf_dir).tables["documents"]
    scored = dsir_scores(docs).localCheckpoint(eager=True)
    bframe = scored.agg(
        F.floor(F.lit(_KEEP_FRAC) * F.count(F.lit(1))).cast("bigint").alias("b")
    )
    kept = token_budget_filter(
        scored.withColumn("n_tokens", F.lit(1).cast("bigint")),
        bframe,
        token_col="n_tokens",
        score_col="score",
        key="doc_id",
    )
    # the rollup carries EXACT INTEGER SUMS of the 4-dp values
    # (x 10^4) instead of rounded means: candidate prep hit a TRUE
    # decimal tie at sf0.001 (sum 102465 over 6 docs -> mean exactly
    # 17077.5e-4), where Spark's BigDecimal-on-the-binary-double
    # rounding and DuckDB's multiply-then-round disagree on the
    # non-representable half — and count denominators make such ties
    # COMMON, not measure-zero. n_sel + the sums carry the same
    # information; any consumer derives the mean
    def _sum4(col: str):
        return F.sum(F.round(F.col(col) * 10000).cast("bigint")).cast("bigint")

    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sel"),
        _sum4("w").alias("sum_w4"),
        _sum4("score").alias("sum_score4"),
    )


def cur_dsir_select_oracle() -> str:
    """DuckDB twin: same gram cap, bucket hash, smoothing, ln
    rounding, Gumbel transform, and top-K boundary-split selection."""
    return f"""
WITH d AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
),
grams AS (
  SELECT doc_id, {_TARGET_SQL} AS is_target,
         CAST(('0x' || substr(md5(ws[i] || '_' || ws[i+1]), 1, 8)) AS BIGINT)
           % {_B} AS b
  FROM d, generate_series(1, {_GRAM_CAP}) AS g(i)
  WHERE i + 1 <= len(ws)
),
per_b AS (
  SELECT b, CAST(sum(CAST(is_target AS BIGINT)) AS BIGINT) AS nt,
         CAST(count(*) AS BIGINT) AS nr
  FROM grams GROUP BY b
),
tot AS (SELECT CAST(sum(nt) AS BIGINT) AS T, CAST(sum(nr) AS BIGINT) AS R FROM per_b),
lrs AS (
  SELECT b, ln((nt + {_ALPHA}) / (T + {_ALPHA * _B}))
           - ln((nr + {_ALPHA}) / (R + {_ALPHA * _B})) AS lr
  FROM per_b CROSS JOIN tot
),
wts AS (
  SELECT doc_id, round(sum(lr), {_W_DP}) AS w
  FROM grams JOIN lrs USING (b) GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, d.source, coalesce(w.w, 0.0) AS w,
         round(coalesce(w.w, 0.0) + round(-ln(-ln(
           (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
              || '{_GUMBEL_SALT}'), 1, 8)) AS BIGINT) % 10000 + 0.5)
           / 10000.0)), {_W_DP}), {_W_DP}) AS score
  FROM d LEFT JOIN wts w USING (doc_id)
),
tot2 AS (SELECT CAST(floor({_KEEP_FRAC} * count(*)) AS BIGINT) AS k FROM scored),
mass AS (SELECT score, CAST(count(*) AS BIGINT) AS m FROM scored GROUP BY score),
cum AS (SELECT score, m, CAST(sum(m) OVER (ORDER BY score DESC) AS BIGINT) AS c FROM mass),
kept AS (
  SELECT s.doc_id, s.source, s.w, s.score
  FROM scored s JOIN cum USING (score) CROSS JOIN tot2 WHERE cum.c <= tot2.k
  UNION ALL
  SELECT doc_id, source, w, score FROM (
    SELECT s.doc_id, s.source, s.w, s.score,
           cum.c - cum.m AS bef, tot2.k AS k,
           CAST(count(*) OVER (
             PARTITION BY s.score ORDER BY s.doc_id) AS BIGINT) AS dc
    FROM scored s JOIN cum USING (score) CROSS JOIN tot2
    WHERE cum.c - cum.m <= tot2.k AND cum.c > tot2.k
  ) WHERE bef + dc <= k
)
SELECT source, CAST(count(*) AS BIGINT) AS n_sel,
       CAST(sum(CAST(round(w * 10000) AS BIGINT)) AS BIGINT) AS sum_w4,
       CAST(sum(CAST(round(score * 10000) AS BIGINT)) AS BIGINT) AS sum_score4
FROM kept GROUP BY source
"""


from ..registry import query  # noqa: E402

query("cur_dsir_select", oracle=cur_dsir_select_oracle())(cur_dsir_select)
