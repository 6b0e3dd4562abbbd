"""THE quality-heuristic teacher — single source of truth.

The corpus-quality formula
    quality = round(0.5 * distinct_ratio + 0.5 * least(n_words/60, 1), 6)
and its classification cut (quality >= 0.65) are consumed by FOUR
graded surfaces: the textstats quality/corpus-filter rows, the
classifier teacher label (over the feature array), and the DSIR
target predicate (over a pre-split words array). Until r15 the
arithmetic was re-stated at each site (adjudicated deferral — the
consolidation had to wait for a window where the graded textstats
rows re-validate; VERDICT r14 wrong #3), guarded by a drift trip-wire
test plus the same assertion in every candidate probe. This module is
the consolidation: every constant and both dialect renderings of the
words-array form live HERE, and the trip-wire stays as the proof that
the classifier's feature-space restatement (which cannot derive from
the words-array builders — it reads x[2]/x[3], not text) agrees
row-for-row.

BYTE-STABILITY CONTRACT: `t_quality_logreg`'s registered oracle embeds
the feature-space strings through `_train_score_ctes`, so the constants
here must render EXACTLY the historical literals ("0.5", "60.0", "6",
"0.65") — tests/test_textstats.py::test_teacher_module_renders_historic_literals
pins the rendered strings so a careless constant edit fails loudly
instead of silently changing graded oracles.
"""

from __future__ import annotations

# formula constants (the historical literals — see the byte-stability
# contract above before touching these)
W_DISTINCT = 0.5  # weight on the distinct-word ratio
W_LEN = 0.5  # weight on the saturating length prior
LEN_SAT_WORDS = 60  # words at which the length prior saturates
QUALITY_DP = 6  # rounding applied before any comparison
QUALITY_CUT = 0.65  # classification threshold (the corpus median)


def quality_expr_spark(words: str) -> str:
    """Spark-SQL expression for the quality score over a words-array
    expression (e.g. "split(text, ' ')" or a pre-split column)."""
    return (
        f"round({W_DISTINCT}D * (size(array_distinct({words}))"
        f" / cast(size({words}) as double))"
        f" + {W_LEN}D * least(size({words}) / {LEN_SAT_WORDS}.0D, 1.0D),"
        f" {QUALITY_DP})"
    )


def quality_sql_duck(words: str) -> str:
    """DuckDB rendering of the same score over a words-list expression
    (e.g. "string_split(text, ' ')" or a CTE column)."""
    return (
        f"round({W_DISTINCT} * (len(list_distinct({words}))"
        f" / CAST(len({words}) AS DOUBLE))"
        f" + {W_LEN} * least(len({words}) / {LEN_SAT_WORDS}.0, 1.0),"
        f" {QUALITY_DP})"
    )


def teacher_expr_spark(words: str) -> str:
    """Spark-SQL boolean: the quality cut over a words-array expr."""
    return f"{quality_expr_spark(words)} >= {QUALITY_CUT}D"


def teacher_sql_duck(words: str) -> str:
    """DuckDB boolean: the quality cut over a words-list expr."""
    return f"{quality_sql_duck(words)} >= {QUALITY_CUT}"
