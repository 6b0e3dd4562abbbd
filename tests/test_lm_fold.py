"""Render-identity pins for the r17 expression folds (VERDICT r16
next #2): `lm_score` now delegates to `lm_score_from_model`, and
`dsir_scores` delegates its Gumbel tail to
`dsir.gumbel_perturbed_scores`. t_lm_quality / cur_ccnet_budget sit
OUTSIDE the r17 recording window, so the lm fold is only legal if the
executed plan is unchanged — these tests prove it by comparing the
post-fold analyzed plan against a FROZEN literal copy of the pre-fold
inline body (the r16 tag rendering), with expression IDs normalized.
The frozen copies are the trip-wire: an edit to the single-source
rendering that changes the plan fails here loudly (the teacher-literal
discipline of test_textstats.py applied to DataFrame plans)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _norm(df) -> str:
    """Analyzed plan with expression IDs normalized — two builds of
    the same logical plan in one session differ only in exprIds (and
    the checkpoint RDDs' exprIds), so this is the byte-stability
    comparator."""
    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"#\d+", "#N", s)
    # lambda-variable names carry a per-session counter (x_2 vs x_4) —
    # the same artifact class as exprIds
    return re.sub(r"\bx_\d+\b", "x_N", s)


# ---------------------------------------------------------------------------
# FROZEN pre-fold copies (r16 tag renderings) — deliberately restated
# here, in tests, as the drift pin. DO NOT "fold" these onto the
# library: their whole job is to be an independent rendering.
# ---------------------------------------------------------------------------


def _prefold_lm_tail(docs, bigrams, unigrams, v, k):
    from knowledge_graph_system_spark.operators.lm import (
        _doc_bigrams,
        _fan_out,
        _maybe_broadcast_counts,
    )

    docs = _fan_out(docs)
    bg = _doc_bigrams(docs, "text", "doc_id")
    n_bigram_types = bigrams.count()
    scored = (
        bg.join(_maybe_broadcast_counts(bigrams, n_bigram_types), ["w1", "w2"], "left")
        .join(
            _maybe_broadcast_counts(unigrams.withColumnRenamed("w", "w1"), v),
            "w1",
            "left",
        )
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * v)
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("lm_logp"),
    )


def _prefold_gumbel_tail(docs_dim, w):
    from knowledge_graph_system_spark.operators.dsir import _GUMBEL_SALT, _W_DP

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


def test_lm_score_plan_is_prefold_identical(spark):
    """Whole-path pin: post-fold lm_score (train + delegate) builds the
    exact pre-fold plan — _fan_out's idempotence means the delegate's
    repeated call adds nothing, so only exprIds (and the checkpointed
    count-frame RDDs) differ between two builds."""
    from knowledge_graph_system_spark.operators.lm import (
        SMOOTH_K,
        _fan_out,
        bigram_counts,
        lm_score,
    )
    from knowledge_graph_system_spark.registry import Ctx

    docs = Ctx.get(spark, SF).tables["documents"]
    post = _norm(lm_score(docs))
    fanned = _fan_out(docs)
    bigrams, unigrams, v = bigram_counts(fanned)
    pre = _norm(_prefold_lm_tail(fanned, bigrams, unigrams, v, SMOOTH_K))
    assert post == pre


def test_lm_score_from_model_plan_is_prefold_identical(spark):
    """Shared-model pin: given one model, the single-source scoring
    path and the frozen pre-fold tail build identical plans."""
    from knowledge_graph_system_spark.operators.lm import (
        SMOOTH_K,
        bigram_counts,
        lm_score_from_model,
    )
    from knowledge_graph_system_spark.registry import Ctx

    docs = Ctx.get(spark, SF).tables["documents"]
    bigrams, unigrams, v = bigram_counts(docs)
    post = _norm(lm_score_from_model(docs, bigrams, unigrams, v))
    pre = _norm(_prefold_lm_tail(docs, bigrams, unigrams, v, SMOOTH_K))
    assert post == pre


def test_dsir_gumbel_tail_plan_is_prefold_identical(spark):
    """The shared Gumbel tail builds the exact pre-fold rendering for
    dsir_scores' per-gram-sum weight frame — dsir_scores composes it
    with that unchanged frame, so plan identity here extends to the
    executed path."""
    from knowledge_graph_system_spark.operators.dsir import (
        _W_DP,
        doc_gram_buckets,
        dsir_logratios,
        gumbel_perturbed_scores,
    )
    from knowledge_graph_system_spark.registry import Ctx

    docs = Ctx.get(spark, SF).tables["documents"]
    grams = doc_gram_buckets(docs)
    lrs = dsir_logratios(grams)
    w = (
        grams.join(F.broadcast(lrs), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lr"), _W_DP).alias("w"))
    )
    assert _norm(gumbel_perturbed_scores(docs, w)) == _norm(
        _prefold_gumbel_tail(docs, w)
    )
