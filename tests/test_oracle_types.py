"""Oracle type-lint: no width-changing integer types in any registered
oracle's output (VERDICT r11 next #2).

Round-11 lesson: DuckDB widens sum(BIGINT) to HUGEINT (int128). The
driver's fetch path hashes int128 differently from Spark's int64, while
this repo's local checker (and pytest comparisons) go through
`fetchall()`, which coerces HUGEINT to Python int and MASKS the
divergence — so t_bpe_counts / cur_pack_bpe / pipe_curation_graded
graded hash-red at the driver despite local hash-exact green. The
repo's determinism rule is therefore: every integer aggregate in an
oracle is CAST to BIGINT. This lint walks EVERY registered oracle,
binds it (no execution — DuckDB relations are lazy), and asserts no
output column type is HUGEINT or UHUGEINT, so the class cannot recur.

DuckDB-only: no Spark session needed (load_all() just imports the
operator modules to run their @query registrations).
"""

from __future__ import annotations

import duckdb
import pytest

from knowledge_graph_system_spark.registry import load_all
from tests.conftest import SF_DIR

_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

_BANNED = ("HUGEINT", "UHUGEINT")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in _TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield c
    c.close()


def test_no_hugeint_in_any_registered_oracle(con):
    """Bind every oracle and inspect its output types. Nested types are
    stringified recursively by DuckDB (e.g. HUGEINT[]), so a substring
    check covers list/struct wrapping too."""
    specs = load_all()
    offenders: list[tuple[str, str, str]] = []
    checked = 0
    for name, spec in specs.items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)  # bind only — no execution
        checked += 1
        for col, typ in zip(rel.columns, rel.types):
            if any(b in str(typ).upper() for b in _BANNED):
                offenders.append((name, col, str(typ)))
    assert checked >= 80  # the sweep really covered the registry
    assert offenders == [], (
        "uncast width-changing integer type in oracle output — CAST the "
        f"aggregate AS BIGINT (repo determinism rule): {offenders}"
    )


def test_r11_regression_rows_are_bigint_now(con):
    """Pin the three r11 hash-red rows (and the two greedy_pack_sql
    co-consumers) specifically: their previously-HUGEINT columns must
    bind as BIGINT after the r12 CAST fixes."""
    specs = load_all()
    expect = {
        "t_bpe_counts": ["ws_tokens", "bpe_tokens"],
        "cur_pack_bpe": ["total_tokens", "n_spanning"],
        "pipe_curation_graded": ["bin_offset"],
        "cur_pack_quota": [],
        "cur_pack_segments": [],
    }
    for name, cols in expect.items():
        rel = con.sql(specs[name].oracle)
        types = dict(zip(rel.columns, (str(t).upper() for t in rel.types)))
        for c in cols:
            assert types[c] == "BIGINT", (name, c, types[c])


def test_embedding_dim_consistent_across_oracles(con):
    """VERDICT r11 next #7: quant._DIM, ann.py's hard-coded
    generate_series(1, 64) oracle bounds, and the actual fixture
    embedding width must agree — a re-generated fixture with a new
    dim should fail HERE, not as a silent value mismatch."""
    from knowledge_graph_system_spark.operators.quant import _DIM

    (width,) = con.execute(
        "SELECT len(embedding) FROM embeddings LIMIT 1"
    ).fetchone()
    assert width == _DIM

    specs = load_all()
    # the three member oracles that hard-code the embedding dim in a
    # series expression (every other embedding oracle derives it from
    # len(v)); a generic numeric-literal sweep over-matches
    # n-gram/shingle series, so the site list is explicit.
    dim_pinned = {
        "ann_ivf_topk": f"generate_series(1, {_DIM})",
        "ann_ivf_lifecycle": f"generate_series(1, {_DIM})",
        "ann_sq8_topk": f"range(1, {_DIM + 1})",
    }
    for name, needle in dim_pinned.items():
        assert needle in specs[name].oracle, (name, needle)
