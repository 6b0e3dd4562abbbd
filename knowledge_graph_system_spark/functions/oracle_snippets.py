"""DuckDB SQL twins of the engine's deterministic closed forms.

Every snippet here reproduces, in DuckDB's dialect, exactly what the
Spark expressions in ``functions.vectors`` / ``sources.graph_view``
compute — same md5 seeds, same integer math, same fold order (up to
double rounding; all compared floats are rounded to 6 dp on both sides).

These snippets exist so `__spark_entry__.oracle_sql()` can hash-match
vector/graph queries without shipping data between engines.
"""

from __future__ import annotations

from .vectors import DEFAULT_DIM, HEX6_MAX


def raw_vec_sql(seed_expr: str, dim: int = DEFAULT_DIM) -> str:
    """DuckDB list expression: deterministic raw vector in (-1,1)^dim."""
    return (
        f"list_transform(generate_series(0, {dim - 1}), d -> "
        f"(2.0 * (('0x' || substr(md5({seed_expr} || ':' || d), 1, 6))::BIGINT)"
        f" - {HEX6_MAX}.0) / {HEX6_MAX}.0)"
    )


def l2_norm_sql(arr: str) -> str:
    return f"sqrt(list_sum(list_transform({arr}, x -> x * x)))"


def dot_sql(a: str, b: str) -> str:
    return f"list_dot_product({a}, {b})"


def unit_vec_cte(seed_expr: str, key_cols: str, from_clause: str, dim: int = DEFAULT_DIM) -> str:
    """Subquery producing (key_cols..., emb DOUBLE[]) with unit vectors."""
    raw = raw_vec_sql(seed_expr, dim)
    return (
        f"(SELECT {key_cols}, list_transform(raw, x -> x / norm) AS emb FROM "
        f"(SELECT {key_cols}, raw, {l2_norm_sql('raw')} AS norm FROM "
        f"(SELECT {key_cols}, {raw} AS raw FROM {from_clause}) t1) t2)"
    )
