"""Training-shard writer (sources/shards.py) — the pipeline's final
sink: deterministic shard membership, exact manifest accounting
against the written files, file-count contract and balance."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def packed(spark):
    from knowledge_graph_system_spark.operators.curation import greedy_pack
    from knowledge_graph_system_spark.registry import Ctx

    docs = Ctx.get(spark, SF).tables["documents"]
    return greedy_pack(docs, seq_len=1024, n_groups=16).localCheckpoint(
        eager=True
    )


def test_manifest_accounts_exactly(spark, packed, tmp_path):
    """Every sequence and token the writer emitted is in the manifest:
    the manifest equals a re-derivation from the written shard files,
    and totals equal the input."""
    from knowledge_graph_system_spark.sources.shards import (
        write_training_shards,
    )

    path = str(tmp_path / "shards")
    manifest = write_training_shards(packed, path, n_shards=8, files_per_shard=2)
    got = sorted(map(tuple, manifest.collect()))
    from_files = sorted(
        map(
            tuple,
            spark.read.parquet(f"{path}/data")
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            )
            .collect(),
        )
    )
    assert got == from_files and len(got) == 8
    assert sum(r[1] for r in got) == packed.count()
    assert sum(r[2] for r in got) == packed.agg(F.sum("n_tokens")).collect()[0][0]


def test_shard_membership_deterministic_and_file_contract(
    spark, packed, tmp_path
):
    """Re-running the writer reproduces byte-identical membership, and
    each shard directory holds exactly files_per_shard parquet files —
    one per slot=M subdirectory, the ADVICE r16 collision-proof layout
    (no tiny-files explosion, no single giant file)."""
    from knowledge_graph_system_spark.sources.shards import (
        shard_assign,
        write_training_shards,
    )

    a = sorted(
        map(tuple, shard_assign(packed, 8).select("doc_id", "shard").collect())
    )
    b = sorted(
        map(tuple, shard_assign(packed, 8).select("doc_id", "shard").collect())
    )
    assert a == b
    path = str(tmp_path / "shards")
    write_training_shards(packed, path, n_shards=8, files_per_shard=2)
    for d in sorted(os.listdir(f"{path}/data")):
        if not d.startswith("shard="):
            continue
        slots = sorted(
            s for s in os.listdir(f"{path}/data/{d}") if s.startswith("slot=")
        )
        assert slots == ["slot=0", "slot=1"], (d, slots)
        for s in slots:
            files = [
                f
                for f in os.listdir(f"{path}/data/{d}/{s}")
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (d, s, files)


def test_shards_are_balanced(spark, packed, tmp_path):
    """md5-fold balance at gate scale: every shard non-empty and token
    skew bounded (max/min < 2 on ~1k docs over 8 shards)."""
    from knowledge_graph_system_spark.sources.shards import (
        manifest_of,
        shard_assign,
    )

    m = manifest_of(shard_assign(packed, 8)).collect()
    toks = [r["n_tokens"] for r in m]
    assert len(m) == 8 and min(toks) > 0
    assert max(toks) / min(toks) < 2


def test_shard_assign_rejects_bad_n(spark, packed):
    from knowledge_graph_system_spark.sources.shards import shard_assign

    with pytest.raises(ValueError):
        shard_assign(packed, 0)
    with pytest.raises(ValueError):
        shard_assign(packed, 10_001)
