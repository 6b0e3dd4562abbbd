from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from knowledge_graph_system_spark.session import get_spark

    spark = get_spark("kg-spark-tests", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def ctx(spark):
    from knowledge_graph_system_spark.registry import Ctx

    return Ctx.get(spark, SF_DIR)


def _traversal_step(monkeypatch, bytes_per_edge: int) -> None:
    from knowledge_graph_system_spark.operators import traversal

    monkeypatch.setattr(traversal, "_CSR_BYTES_PER_EDGE", bytes_per_edge)


@pytest.fixture
def spark_step(monkeypatch):
    """Traversal runs its Spark step: no edge view fits the local bound."""
    _traversal_step(monkeypatch, 2**62)


@pytest.fixture
def local_step(monkeypatch):
    """Traversal runs its local step on every cached edge view."""
    _traversal_step(monkeypatch, 1)
