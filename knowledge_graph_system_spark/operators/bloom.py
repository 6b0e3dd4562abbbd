"""Bloom-filter decontamination — the broadcast-bytes answer to
train/eval contamination checking at 100 TB.

`curation.contamination_check` broadcasts the DISTINCT eval n-gram
STRINGS (counted under EVAL_GRAM_BROADCAST_MAX): at ~80 bytes per
8-gram a 1M-gram eval set ships ~80 MB to every executor. A Bloom
filter sized at `_BITS_PER_GRAM` = 10 bits/gram (~0.9% false-positive
rate) ships the SAME membership decision in ~1.25 MB — a ~60x
broadcast reduction — and the membership test is row-local integer
arithmetic inside whole-stage codegen (k md5 slices, a shift, an AND
against the broadcast word array): no join on the hot side at all.

The false positives are part of Bloom SEMANTICS, not noise: a gram is
"bloom-hit" iff ALL k of its bit positions are set, which is a pure
function of the eval set and the hash family — so the DuckDB twin
reproduces the EXACT same flags (including every false positive)
through the position-SET formulation: bit b set in the bitmap
<=> b is in the distinct position set P of the eval grams, so
"all k bits set" <=> "all k positions in P" — a k-way semi-join the
oracle expresses directly. Same decision procedure, two physical
forms; identical output BY CONSTRUCTION, and all-integer arithmetic
means there is no rounding ledger at all.

The graded shape also carries the EXACT check (the already-graded
broadcast-join mechanism) side by side, so the per-source rollup
exposes the measured false-positive overhead (bloom_hit_grams -
exact_hit_grams) — the number a pipeline operator needs to decide
whether ~1% over-flagging is an acceptable price for the 60x
broadcast cut (flagged docs are RE-CHECKED exactly or dropped; a
Bloom never misses a true contamination, pinned by test).

Scale shape: eval grams aggregate to <= m distinct bit positions
(bounded collect, the kmeans/PQ budget class: m is sized from the
eval-gram count the guard already pays); the train side is one scan
with a row-local projection; the only exchange is the per-doc rollup.

Prepared r16 registry candidate (the r15 window is exactly full —
registry.py r15 plan; r16 has five slack slots).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scale import maybe_broadcast
from ..registry import Ctx, query
from .curation import EVAL_GRAM_BROADCAST_MAX, word_ngrams

_K = 5  # hash functions
_BITS_PER_GRAM = 10  # m = max(64, 10n): ~0.9% FP at k = 5
_N = 8  # word n-gram size (the graded decontamination gram)


def _pos_sql_duck(gram: str, j: int, m: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{j}:' || {gram}), 1, 8)) AS BIGINT) % {m}"
    )


def _pos_expr_spark(gram: str, j: int, m: str) -> str:
    return f"CAST(conv(substring(md5(concat('{j}:', {gram})), 1, 8), 16, 10) AS BIGINT) % {m}"


# Distinct eval grams above this refuse loudly: the bitmap itself is
# _BITS_PER_GRAM * n bits (1M grams -> 1.25 MB, broadcastable; 100M
# grams -> 125 MB, not) — the same bound class as the exact path's
# gram-string broadcast, at ~1/60 the bytes per gram.
BLOOM_GRAMS_MAX = EVAL_GRAM_BROADCAST_MAX


def bloom_build(
    ev_grams: DataFrame, spark: SparkSession, distinct: bool = True
) -> DataFrame:
    """One-row broadcastable frame (w array<bigint>, m bigint) — the
    Bloom bitmap over the distinct grams of `ev_grams(gram)`. Pass
    distinct=False when the input is already gram-distinct (skips a
    redundant exchange).

    m = max(64, _BITS_PER_GRAM * n_grams), so the filter self-sizes to
    a constant ~0.9% FP rate at ANY eval-set size. The bitmap is
    OR-reduced SERVER-SIDE (positions -> word index -> bit_or), so the
    driver collect is bounded by ceil(m/64) word rows BY CONSTRUCTION
    — never by the gram count; past `BLOOM_GRAMS_MAX` grams the call
    refuses loudly (the bitmap itself would outgrow the broadcast
    budget) instead of building it anyway (the r10 unguarded-collect
    class)."""
    ev = ev_grams.select("gram")
    if distinct:
        # checkpoint only when we computed the distinct here — the
        # count guard and the position explode then share one pass
        ev = ev.distinct().localCheckpoint(eager=True)
    n = ev.count()
    if n > BLOOM_GRAMS_MAX:
        raise ValueError(
            f"bloom_build: {n:,} distinct eval grams exceed BLOOM_GRAMS_MAX"
            f" = {BLOOM_GRAMS_MAX:,} — the {_BITS_PER_GRAM} bits/gram bitmap"
            " would outgrow the broadcast budget; shard the eval set into"
            " multiple filters or raise the bound deliberately"
        )
    m = max(64, _BITS_PER_GRAM * n)
    word_rows = (
        ev.select(
            F.explode(
                F.expr(
                    "array("
                    + ", ".join(_pos_expr_spark("gram", j, str(m)) for j in range(_K))
                    + ")"
                )
            ).alias("p")
        )
        .groupBy((F.col("p") / 64).cast("bigint").alias("i"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
            ).alias("wd")
        )
        .collect()
    )
    words = [0] * ((m + 63) // 64)
    for r in word_rows:
        words[r["i"]] = r["wd"]
    from ..functions.scale import local_df

    return local_df(spark, [(words, m)], "w array<bigint>, m bigint")


def bloom_hit_expr(gram_col: str = "gram") -> str:
    """Row-local membership test against the broadcast (w, m) columns:
    all `_K` md5-derived bit positions set. Signed-shift note:
    shiftleft(1L, 63) is negative in a signed long, and so is the
    stored word's bit 63 — the & test is sign-agnostic."""
    tests = []
    for j in range(_K):
        p = _pos_expr_spark(gram_col, j, "m")
        tests.append(
            f"(element_at(w, CAST(({p}) / 64 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(({p}) % 64 AS INT))) != 0"
        )
    return " AND ".join(tests)


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = _N,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """(doc_id, source, n_grams, bloom_hits, exact_hits) per training
    doc: distinct n-grams, how many are bloom-flagged, and how many
    are exactly contaminated (bloom_hits >= exact_hits always — a
    Bloom filter has no false negatives). `source_col` names the
    train-side grouping column carried through the rollup (ADVICE r14:
    it was hardcoded, breaking the otherwise-generic helper on frames
    without a `source` column); the output alias stays `source`."""
    from ..functions.scale import fan_out

    spark = train.sparkSession
    # ONE distinct+checkpoint of the eval gram set, shared by the
    # bitmap build and the exact-path join (review finding: the first
    # cut paid the exchange twice)
    ev_set = (
        fan_out(eval_df)
        .select(F.explode(word_ngrams(F.col(text_col), n)).alias("gram"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bloom = bloom_build(ev_set, spark, distinct=False)
    # NO train-side distinct: a (doc_id, gram) distinct is a full
    # corpus-sized exchange before any filtering (the documented
    # contamination_check anti-pattern) — both flags are per-gram pure
    # functions, so the per-doc count_distinct aggregation dedups for
    # free and the rollup below is the ONLY train-side exchange
    tr = fan_out(train).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    flagged = (
        tr.join(F.broadcast(bloom))
        .withColumn("__bloom", F.expr(bloom_hit_expr()))
        .join(
            maybe_broadcast(
                ev_set.withColumn("__exact", F.lit(True)),
                EVAL_GRAM_BROADCAST_MAX,
            ),
            "gram",
            "left",
        )
    )
    # two-level aggregate, NOT three count_distincts: multi-distinct
    # aggregation Expands the full gram stream 3x before the exchange
    # (measured sf1: 130 s legs); grouping by (doc, gram) first is one
    # map-side-combinable exchange whose reduced rows are already
    # distinct, and the per-doc rollup over it is combinable too
    per_gram = flagged.groupBy("doc_id", "source", "gram").agg(
        F.first("__bloom").alias("__bloom"),
        F.first(F.coalesce(F.col("__exact"), F.lit(False))).alias("__exact"),
    )
    return per_gram.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("__bloom").cast("bigint")).alias("bloom_hits"),
        F.sum(F.col("__exact").cast("bigint")).alias("exact_hits"),
    )


def cur_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r16 candidate: Bloom vs exact decontamination on the graded
    eval split (every 25th doc plays the eval set, as in
    cur_contamination), rolled up per source — n_bloom_flagged /
    n_exact_flagged document counts plus gram-level hit sums, so the
    false-positive overhead the 60x broadcast cut costs is the row's
    own observable."""
    ctx = Ctx.get(spark, sf_dir)
    docs = ctx.tables["documents"]
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    tr = docs.filter(F.col("doc_id") % 25 != 0)
    per_doc = bloom_decontaminate(tr, ev)
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("bloom_hits") > 0).cast("bigint")).alias("n_bloom_flagged"),
        F.sum((F.col("exact_hits") > 0).cast("bigint")).alias("n_exact_flagged"),
        F.sum("bloom_hits").cast("bigint").alias("bloom_hit_grams"),
        F.sum("exact_hits").cast("bigint").alias("exact_hit_grams"),
    )


def cur_bloom_decontaminate_oracle(n: int = _N) -> str:
    """DuckDB twin via the position-set formulation: bit b set in the
    bitmap <=> b in the distinct eval position set, so a gram is
    bloom-hit <=> ALL of its DISTINCT positions are in that set (the
    DISTINCT matters: two hash arms landing on one position still set
    one bit) — identical flags, false positives included, with no
    physical bitmap. Gram construction reuses the graded
    contamination_sql lateral pattern."""
    arms = ", ".join(_pos_sql_duck("gram", j, "m") for j in range(_K))

    def grams(tbl: str, cols: str) -> str:
        return f"""
  SELECT DISTINCT {cols}, g.gram
  FROM {tbl},
       LATERAL (SELECT string_split({tbl}.text, ' ') AS words) w,
       LATERAL (
         SELECT array_to_string(w.words[u : u + {n - 1}], ' ') AS gram
         FROM unnest(range(1, len(w.words) - {n} + 2)) AS t(u)
       ) g
  WHERE len(w.words) >= {n}"""

    return f"""
WITH ev AS (SELECT * FROM documents WHERE doc_id % 25 = 0),
tr AS (SELECT * FROM documents WHERE doc_id % 25 <> 0),
evg AS (SELECT DISTINCT gram FROM ({grams("ev", "ev.doc_id AS __e")})),
mc AS (SELECT GREATEST(64, {_BITS_PER_GRAM} * count(*)) AS m FROM evg),
evpos AS (
  SELECT DISTINCT p FROM (
    SELECT unnest([{arms}]) AS p FROM evg CROSS JOIN mc
  )
),
trg AS ({grams("tr", "tr.doc_id, tr.source")}),
trpos AS (
  SELECT DISTINCT doc_id, source, gram, p FROM (
    SELECT doc_id, source, gram, unnest([{arms}]) AS p
    FROM trg CROSS JOIN mc
  )
),
gflag AS (
  SELECT doc_id, source, gram,
         bool_and(coalesce(ep.inset, FALSE)) AS bloom_hit
  FROM trpos LEFT JOIN (SELECT p, TRUE AS inset FROM evpos) ep USING (p)
  GROUP BY doc_id, source, gram
),
flags AS (
  SELECT g.doc_id, g.source, g.bloom_hit, (e.gram IS NOT NULL) AS exact_hit
  FROM gflag g LEFT JOIN evg e USING (gram)
),
per_doc AS (
  SELECT doc_id, source,
         CAST(sum(CAST(bloom_hit AS BIGINT)) AS BIGINT) AS bloom_hits,
         CAST(sum(CAST(exact_hit AS BIGINT)) AS BIGINT) AS exact_hits
  FROM flags GROUP BY doc_id, source
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(bloom_hits > 0 AS BIGINT)) AS BIGINT) AS n_bloom_flagged,
       CAST(sum(CAST(exact_hits > 0 AS BIGINT)) AS BIGINT) AS n_exact_flagged,
       CAST(sum(bloom_hits) AS BIGINT) AS bloom_hit_grams,
       CAST(sum(exact_hits) AS BIGINT) AS exact_hit_grams
FROM per_doc GROUP BY source
"""


query("cur_bloom_decontaminate", oracle=cur_bloom_decontaminate_oracle())(
    cur_bloom_decontaminate
)
