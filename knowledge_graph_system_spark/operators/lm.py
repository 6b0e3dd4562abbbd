"""Bigram language-model quality scoring (CCNet-style LM filtering).

Production corpus pipelines score documents with a small LM and cut the
tail (Wenzek et al. 2019, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data" — public literature; they use KenLM,
whose n-gram estimation is public knowledge). This is that signal
from scratch, Spark-first, with an exact DuckDB twin:

- `bigram_counts(docs)`: ONE explode pass over the corpus →
  (w1, w2, c) bigram and (w, c) unigram frames. Pure groupBys —
  map-side partial aggregation, one shuffle each, no UDF.
- `lm_score(docs)`: per-document mean log-probability under the
  add-k-smoothed bigram model:
      logp(w2 | w1) = ln( (c(w1, w2) + k) / (c(w1) + k * V) )
  averaged over the document's bigrams. Train-on-self is the corpus-QA
  shape (score docs against the corpus's own distribution — outliers
  rank low); scoring against a held-out reference model is the same
  join with the count frames swapped in.

Scale shape: the count frames are vocabulary-sized, not corpus-sized;
the corpus bigram stream joins them — broadcast at these scales, a
bucket-join on w1 for an open-vocabulary 100 TB corpus — and the
per-doc aggregation is the only corpus-wide exchange. At 100 TB the
count frames are computed once per corpus build and persisted, exactly
like the BM25 posting frames.

Determinism note: the score carries ln(), which neither engine
guarantees correctly-rounded to the last ulp, so the score rounds to
4 dp (a 1-ulp disagreement flips a 4 dp rounding only within ~1e-12 of
a boundary — negligible; 6 dp would be ~1e-10). The counts and V are
exact integers in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..registry import query

SMOOTH_K = 0.1

# Above this many rows a count frame stops being broadcast-hinted and
# the planner (AQE) picks the join strategy — the same guard class as
# ann.TOMBSTONE_BROADCAST_MAX. A bigram vocabulary grows with corpus
# size (Heaps' law puts unigrams sublinear, but bigram TYPES keep
# growing much longer), so at 100 TB a forced broadcast of the count
# frames would blow the driver; past the threshold the score join
# becomes a bucket-style shuffle join on w1/(w1,w2), which is the
# correct open-vocabulary plan. The row counts are paid once per model
# build on the checkpointed frames (the unigram count doubles as V).
LM_COUNT_BROADCAST_MAX = 1_000_000


def _maybe_broadcast_counts(frame: DataFrame, n_rows: int) -> DataFrame:
    if n_rows <= LM_COUNT_BROADCAST_MAX:
        return F.broadcast(frame)
    return frame


# Parallelism floor for the explode-heavy corpus passes (the r9 decade
# probe read sf1 as 2 splits — 2 of 32 cores busy); shared with the
# multimodal decode family, see functions/scale.py for the full note.
from ..functions.scale import fan_out as _fan_out  # noqa: E402


def _doc_bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    words = F.split(F.col(text_col), " ")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.when(
                    F.size(words) >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size(words) - 2),
                        lambda i: F.struct(
                            F.element_at(words, i + 1).alias("w1"),
                            F.element_at(words, i + 2).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def bigram_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, int]:
    """(bigrams, unigrams, vocab_size): the model. Two groupBys and a
    distinct-count — each one exchange with map-side combine. Both
    count frames are localCheckpoint-ed: every caller both counts them
    (V, the broadcast guard) and joins them, so the corpus aggregation
    must run once, not once per consumer — the in-session stand-in for
    the persisted-once-per-corpus-build frames the module docstring
    describes."""
    docs = _fan_out(docs)
    bg = _doc_bigrams(docs, text_col, id_col)
    bigrams = bg.groupBy("w1", "w2").agg(
        F.count("*").alias("c12")
    ).localCheckpoint(eager=True)
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    unigrams = words.groupBy("w").agg(
        F.count("*").alias("c1")
    ).localCheckpoint(eager=True)
    vocab_size = unigrams.count()
    return bigrams, unigrams, vocab_size


def lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = SMOOTH_K,
) -> DataFrame:
    """(doc_id, n_bigrams, lm_logp): mean smoothed bigram log-prob per
    document, 4 dp. Documents shorter than 2 words are absent (no
    bigrams — the caller's length floor already drops them).

    Folded (r17, VERDICT r16 next #2): train-on-self is now literally
    "train, then score under the trained model" — the scoring
    expressions live ONCE, in `lm_score_from_model`. The delegation is
    render-identical to the historical inline body: `_fan_out` is
    idempotent (a no-op once partitions >= defaultParallelism, so the
    repeated call inside the delegate adds nothing to the plan) and the
    delegate's body IS the former inline tail verbatim. Pinned by
    tests/test_lm_fold.py (normalized-plan equality against a frozen
    copy of the pre-fold tail) plus the existing value-parity pin —
    t_lm_quality / cur_ccnet_budget sit outside the r17 recording
    window, so this edit is only legal because those pins prove the
    executed plan unchanged."""
    docs = _fan_out(docs)
    bigrams, unigrams, v = bigram_counts(docs, text_col, id_col)
    return lm_score_from_model(docs, bigrams, unigrams, v, text_col, id_col, k)


def lm_score_from_model(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = SMOOTH_K,
) -> DataFrame:
    """`lm_score` against a PRE-TRAINED model (the persisted-count-frame
    deployment the module docstring describes: the model is trained
    once on a corpus build, then arriving documents score row-locally
    against the broadcast frames).

    SINGLE SOURCE of the scoring expressions since the r17 fold
    (VERDICT r16 next #2): `lm_score` delegates here, so the
    add-k-smoothed join/select/aggregate below is the only rendering of
    the formula in the repo. This body must stay byte-identical to the
    pre-fold inline tail — tests/test_lm_fold.py pins the normalized
    plan against a frozen copy, and tests/test_lm.py::
    test_lm_score_from_model_matches_self_trained pins the values
    (the teacher-formula trip-wire discipline)."""
    docs = _fan_out(docs)
    bg = _doc_bigrams(docs, text_col, id_col)
    n_bigram_types = bigrams.count()
    scored = (
        bg.join(_maybe_broadcast_counts(bigrams, n_bigram_types), ["w1", "w2"], "left")
        .join(
            _maybe_broadcast_counts(unigrams.withColumnRenamed("w", "w1"), vocab_size),
            "w1",
            "left",
        )
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * vocab_size)
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("lm_logp"),
    )


def lm_score_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", k: float = SMOOTH_K
) -> str:
    """DuckDB twin — identical counts, smoothing, and rounding.

    The bigram-position enumeration is bounded at 600 words per
    document (generate_series below) — the same constant-bound
    discipline as the audio oracles. The Spark side computes ALL
    bigrams, so a fixture document past the bound would silently
    diverge; tests/test_dedup_multimodal.py::
    test_documents_fixture_is_ascii_nonempty pins max words and chars
    <= 600 at both driver gate scale factors so drift fails in the
    suite instead."""
    return f"""
WITH words AS (
  SELECT {id_col} AS doc_id, string_split({text_col}, ' ') AS ws FROM {table}
),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
  FROM words, generate_series(1, 600) AS g(i)
  WHERE i + 1 <= len(ws)
),
bigrams AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
unigrams AS (
  SELECT u.w AS w1, count(*) AS c1
  FROM words, unnest(ws) AS u(w) GROUP BY u.w
),
v AS (SELECT count(*) AS vs FROM unigrams)
SELECT bg.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((coalesce(b.c12, 0) + {k}) / (coalesce(u.c1, 0) + {k} * v.vs))), 4) AS lm_logp
FROM bg
LEFT JOIN bigrams b ON b.w1 = bg.w1 AND b.w2 = bg.w2
LEFT JOIN unigrams u ON u.w1 = bg.w1
CROSS JOIN v
GROUP BY bg.doc_id
"""


# Prepared r8 registry candidate: per-source LM-quality profile (the
# aggregate keeps the driver row small while every per-doc score feeds
# the hash through min/max).
def t_lm_quality(spark, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scores = lm_score(docs)
    return (
        docs.select("doc_id", "source")
        .join(scores, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("lm_logp"), 4).alias("mean_logp"),
            F.min("lm_logp").alias("min_logp"),
            F.max("lm_logp").alias("max_logp"),
        )
    )


def t_lm_quality_oracle() -> str:
    return f"""
WITH s AS ({lm_score_sql("documents")})
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(s.lm_logp), 4) AS mean_logp,
       min(s.lm_logp) AS min_logp, max(s.lm_logp) AS max_logp
FROM documents d JOIN s ON s.doc_id = d.doc_id
GROUP BY d.source
"""


# r8 driver row(s): prepared in r7, registered this round (prepared-plan
# discipline — registration only; candidate code and oracles unchanged).
query("t_lm_quality", oracle=t_lm_quality_oracle())(t_lm_quality)


# ---------------------------------------------------------------------------
# Prepared r11 registry candidate (plan in registry.py): CCNet-style
# perplexity terciles — the bucketing Wenzek et al. (2020) apply before
# sampling head/middle/tail slices of a crawl.
# ---------------------------------------------------------------------------


def ccnet_buckets(
    scored: DataFrame, score: str = "lm_logp", key: str = "doc_id"
) -> DataFrame:
    """head/middle/tail by exact global terciles of the LM score
    (higher log-prob = less surprising = head). Thresholds come from
    one exact Greenwald-Khanna pass (rel_err=0 — the dataset elements
    DuckDB's quantile_disc returns, the smp_quantile_global contract;
    exactness is the right oracle-parity choice at gate scale, but GK
    state grows without a relative-error floor, so a 100 TB run should
    pass a nonzero rel_err — the bucket CASE is unchanged); the bucket
    assignment is then a pure projection, so the whole operator adds
    one aggregate job and zero shuffles to the score. The scored frame
    is checkpointed first: both the quantile pass and the returned
    projection consume it, and the LM score pipeline (two count-frame
    joins plus the per-doc aggregate) must not run twice."""
    scored = scored.localCheckpoint(eager=True)
    t1, t2 = scored.stat.approxQuantile(score, [1 / 3, 2 / 3], 0.0)
    return scored.withColumn(
        "bucket",
        F.when(F.col(score) <= t1, "tail")
        .when(F.col(score) <= t2, "middle")
        .otherwise("head"),
    )


def t_ccnet_buckets(spark, sf_dir: str) -> DataFrame:
    """r11 candidate: lm_score over documents → exact-tercile
    head/middle/tail buckets, graded hash-exact against the composed
    SQL twin (score CTE + quantile_disc thresholds + the same CASE)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ccnet_buckets(lm_score(docs))


def t_ccnet_buckets_oracle() -> str:
    return f"""
WITH s AS ({lm_score_sql("documents")}),
t AS (SELECT quantile_disc(lm_logp, 1.0/3) AS t1,
             quantile_disc(lm_logp, 2.0/3) AS t2 FROM s)
SELECT s.doc_id, s.n_bigrams, s.lm_logp,
       CASE WHEN s.lm_logp <= t.t1 THEN 'tail'
            WHEN s.lm_logp <= t.t2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM s, t
"""


# Registered r11: the prepared-candidate plan in registry.py, executed.
query("t_ccnet_buckets", oracle=t_ccnet_buckets_oracle())(t_ccnet_buckets)
