"""Output checks: order-insensitive row digests and DuckDB oracles.

A result is reduced to a digest the way the engine's correctness tool
compares Spark with DuckDB: columns sorted by name, every cell rendered
in a fixed text form (floats to 6 dp), rows sorted by that text. Two
results match when their column sets, row counts and digests agree.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import tempfile

import duckdb

STAR_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            # Spark and DuckDB can round a tiny negative to 0.0 and -0.0
            return "0"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def digest(cols: list[str], rows) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, sha1 of the sorted rendered rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha1("\n".join(lines).encode()).hexdigest()
    return tuple(sorted(cols)), len(lines), h


def spark_digest(cols: list[str], rows) -> tuple[tuple[str, ...], int, str]:
    return digest(cols, [[r[c] for c in cols] for r in rows])


class Oracle:
    """A DuckDB connection whose views name the generated tables."""

    def __init__(self, data_dir: str | None = None):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {os.cpu_count() or 1}")
        self.con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
        if data_dir:
            for t in STAR_TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                if os.path.exists(path):
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def digest(self, sql: str) -> tuple[tuple[str, ...], int, str]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return digest(cols, res.fetchall())

    def close(self) -> None:
        self.con.close()


def subst(text: str, repl: dict[str, str]) -> str:
    """Replace template literals; every literal must occur in `text`, so a
    template whose source query changed shape fails loudly, not silently."""
    for old, new in repl.items():
        if old not in text:
            raise KeyError(f"literal {old!r} not found in template")
        text = text.replace(old, new)
    return text
