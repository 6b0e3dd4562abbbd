"""Vector math as Catalyst expressions (JVM-side, codegen-friendly).

Reference parity: the reference does cosine similarity in Python over
full-scan results (`/root/reference/api/app/lib/similarity_calculator.py:30-172`,
`/root/reference/api/app/lib/age_client/query.py:35-119`). Here the same
math is a column expression inside whole-stage codegen — no Python in the
hot path, scales linearly with executors.

Determinism contract: `unit_vec_expr` produces a unit vector from a seed
string via md5 → 6-hex-digit ints, mirroring the reference's deterministic
mock embeddings (`/root/reference/api/app/lib/mock_ai_provider.py:176-213`).
The identical closed form is emitted as DuckDB SQL by
``functions.oracle_snippets`` so the correctness oracle reproduces every
score. All integer steps are exact in doubles; downstream float outputs
are rounded to 6 dp on both sides before hashing/thresholding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX6_MAX = 16777215  # 16**6 - 1
DEFAULT_DIM = 16


def raw_vec_expr(seed_col: str, dim: int = DEFAULT_DIM) -> Column:
    """Deterministic pseudo-random vector in (-1,1)^dim from a seed string.

    Component d = (2*int(md5(seed||':'||d)[:6],16) - HEX6_MAX) / HEX6_MAX.
    Pure built-ins → whole-stage codegen; bit-reproducible across engines.
    """
    return F.expr(
        f"transform(sequence(0, {dim - 1}), d -> "
        f"(2.0D * cast(conv(substring(md5(concat({seed_col}, ':', cast(d as string))), 1, 6), 16, 10) as double)"
        f" - {HEX6_MAX}.0D) / {HEX6_MAX}.0D)"
    )


def dot_expr(a: str, b: str) -> Column:
    """Dot product of two array<double> columns, left-fold order."""
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity for arbitrary (not pre-normalized) vectors."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        f" / nullif(sqrt(aggregate({a}, 0D, (acc, x) -> acc + x * x))"
        f" * sqrt(aggregate({b}, 0D, (acc, x) -> acc + x * x)), 0D)"
    )


def unit_vec_py(seed: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Python twin of `unit_vec` — bit-identical (exact ints, IEEE doubles,
    same left-to-right fold), so query vectors can be computed driver-side
    and passed as literals."""
    import hashlib
    import math

    raw = []
    for d in range(dim):
        h = int(hashlib.md5(f"{seed}:{d}".encode()).hexdigest()[:6], 16)
        raw.append((2.0 * h - HEX6_MAX) / HEX6_MAX)
    acc = 0.0
    for x in raw:
        acc = acc + x * x
    norm = math.sqrt(acc)
    return [x / norm for x in raw]


def lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def with_unit_vec(df, seed_col: str, out_col: str = "embedding", dim: int = DEFAULT_DIM):
    """Attach a deterministic unit vector column seeded by `seed_col`.

    The norm is bound once per row via `array_repeat` + `zip_with`.
    A naive `transform(raw, x -> x / <aggregate(raw)>)` re-evaluates the
    norm (and its 16 md5 calls) PER ELEMENT after Catalyst collapses the
    projections — measured 60 s vs ~2 s at sf0.1 for the full scan.
    """
    return (
        df.withColumn("_raw", raw_vec_expr(seed_col, dim))
        .withColumn(
            out_col,
            F.expr(
                f"zip_with(_raw, array_repeat(sqrt(aggregate(_raw, 0D, (acc, x) -> acc + x * x)), {dim}),"
                " (x, n) -> x / n)"
            ),
        )
        .drop("_raw")
    )
