"""Loud-refusal sweep over the new surfaces' documented bounds
(VERDICT r16 next #8): every guard refusal must NAME ITS LIMIT in the
message — a refusal the operator can't act on ("invalid input") is
half a guard. One parametrized sweep so the property is pinned as a
class, not per-site."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from knowledge_graph_system_spark.registry import Ctx

    return Ctx.get(spark, SF).tables["documents"]


def test_shard_bounds_name_their_limit(spark):
    """shards: n_shards ∈ (0, 10000] — both the assigner and the
    writer's honor-existing-column path refuse with the bound in the
    message."""
    from knowledge_graph_system_spark.sources.shards import (
        _BUCKETS,
        shard_assign,
        write_training_shards,
    )

    docs = _docs(spark)
    for bad in (0, _BUCKETS + 1):
        with pytest.raises(ValueError, match=str(_BUCKETS)):
            shard_assign(docs, bad)
        with pytest.raises(ValueError, match=str(_BUCKETS)):
            write_training_shards(
                docs, "/tmp/never-written", bad, shard_col="doc_id"
            )


def test_bloom_budget_names_its_limit(spark, monkeypatch):
    """bloom: past BLOOM_GRAMS_MAX distinct grams the build refuses
    with the active bound (and the remedy) in the message."""
    import knowledge_graph_system_spark.operators.bloom as bl
    from pyspark.sql import functions as F

    monkeypatch.setattr(bl, "BLOOM_GRAMS_MAX", 7)
    grams = spark.range(50).select(F.concat(F.lit("g"), "id").alias("gram"))
    with pytest.raises(ValueError, match="BLOOM_GRAMS_MAX\\s*= 7"):
        bl.bloom_build(grams, spark)


def test_epoch_order_refuses_nonpositive_shards(spark):
    from knowledge_graph_system_spark.operators.sampling import epoch_order

    with pytest.raises(ValueError, match="n_shards"):
        epoch_order(_docs(spark), "doc_id", epoch=1, n_shards=0)
