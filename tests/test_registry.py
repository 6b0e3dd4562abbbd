"""Registry contract: every row is its own registered query with its own
oracle, and a name can be registered once only."""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import pytest

from knowledge_graph_system_spark.registry import load_all, query
from tools.check_correctness import table_sig

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Driver-style compares at both gate scale factors for the multimodal
# decode, annealing, streaming foreachBatch, Cypher, set-ops, ANN,
# sampling and LM-quality families.
_ORACLE_ROWS = [
    "m_decode_features", "m_image_decode", "m_video_decode",
    "m_audio_frames", "m_jpeg_decode", "m_audio_decode",
    "an_annealing_cycle", "an_execute_proposals",
    "st_ingest_e2e", "st_neardup_stream", "st_enrich_stream",
    "st_hll_stream", "st_cms_stream",
    "p7_cypher_subset", "p7_cypher_varlen", "p7_cypher_trail",
    "p7_cypher_optional", "p7_cypher_union", "p7_cypher_unwind",
    "p7_cypher_with", "p7_cypher_shortest",
    "so_program_demo", "so_dispatch_matrix", "so_conditional_demo",
    "ann_brute_topk", "ann_ivf_topk", "ann_ivf_persisted",
    "ann_ivf_lifecycle", "ann_sq8_topk", "ann_pq_topk", "ann_ivfpq_topk",
    "smp_quantile_global", "smp_epoch_order", "smp_split_mix",
    "smp_leakage_split", "smp_weighted", "smp_temperature_mix",
    "t_lm_quality", "t_ccnet_buckets", "cur_ccnet_budget",
]


@pytest.mark.parametrize("name", _ORACLE_ROWS)
def test_row_matches_its_oracle(spark, name):
    spec = load_all()[name]
    assert spec.oracle is not None
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        sdf = spec.fn(spark, sf)
        scols = sdf.columns
        srows = [[r[c] for c in scols] for r in sdf.collect()]
        con = duckdb.connect()
        for t in _TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        res = con.execute(spec.oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        con.close()
        assert sorted(scols) == sorted(ocols), (sf, scols, ocols)
        assert len(srows) > 0, sf
        assert table_sig(scols, srows) == table_sig(ocols, orows), sf


def test_duplicate_registration_raises():
    first = load_all()["q1_pricing_summary"]
    with pytest.raises(ValueError, match="already registered"):
        query("q1_pricing_summary")(lambda spark, sf_dir: None)
    assert load_all()["q1_pricing_summary"] is first


def _module_imports(path: Path, module: str):
    """Dotted names that `path` (module `module`) imports anywhere in its
    body, function-local and relative imports included. A `from X import
    y` yields both `X` and `X.y`, since `y` may be a submodule."""
    parts = module.split(".")
    package = parts if path.name == "__init__.py" else parts[:-1]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            base = ".".join(base + ([node.module] if node.module else []))
            yield base
            yield from (f"{base}.{alias.name}" for alias in node.names)


def _repo_file(root: Path, dotted: str) -> Path | None:
    target = root.joinpath(*dotted.split("."))
    for cand in (target.with_suffix(".py"), target / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def test_every_module_is_reached_outside_tests():
    """Every package module is imported, directly or transitively, by the
    registry, the driver entry, the bench, the benchmark or a tool — a
    module that only tests reach is dead weight."""
    root = Path(__file__).resolve().parent.parent
    roots = [
        root / "knowledge_graph_system_spark" / "registry.py",
        root / "__spark_entry__.py",
        root / "bench.py",
        *sorted((root / "perfbench").glob("*.py")),
        *sorted((root / "tools").glob("*.py")),
    ]
    seen: set[Path] = set()
    todo = list(roots)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        module = module.removesuffix(".__init__")
        for dotted in _module_imports(path, module):
            names = dotted.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(names) + 1):
                found = _repo_file(root, ".".join(names[:i]))
                if found is not None and found not in seen:
                    todo.append(found)
    package = root / "knowledge_graph_system_spark"
    orphans = sorted(
        str(p.relative_to(package)) for p in package.rglob("*.py") if p not in seen
    )
    assert not orphans, f"reached only by tests: {orphans}"


def test_streams_start_only_in_the_replay_harness():
    """`streaming/landing.replay` is the one place a stream is read or
    started: no other package module touches `readStream` or
    `writeStream` (checked with `ast`, so docstrings do not count)."""
    package = Path(__file__).resolve().parent.parent / "knowledge_graph_system_spark"
    harness = package / "streaming" / "landing.py"
    offenders = sorted(
        str(p.relative_to(package))
        for p in package.rglob("*.py")
        if p != harness
        and any(
            isinstance(node, ast.Attribute) and node.attr in ("readStream", "writeStream")
            for node in ast.walk(ast.parse(p.read_text()))
        )
    )
    assert not offenders, f"streams started outside streaming/landing.py: {offenders}"
