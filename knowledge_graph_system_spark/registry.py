"""Query registry: the driver-facing inventory of implemented operators.

Every operator from SURVEY.md §2 that is "done" has a named entry here:
a Spark callable `(spark, sf_dir) -> DataFrame` plus (when SQL-expressible)
a DuckDB oracle string over the same parquet tables. `__spark_entry__.py`
re-exports this registry to the driver.

Determinism rules every registered query follows:
- float outputs rounded (6 dp scores, 2 dp money sums) on BOTH sides;
- threshold filters compare the rounded value;
- any LIMIT is preceded by a total order (tie-break on a unique key);
- aggregate/computed columns aliased identically in Spark and SQL;
- every integer aggregate in an oracle is CAST to BIGINT — DuckDB
  widens sum(BIGINT) to HUGEINT (int128), which the DRIVER's hasher
  renders differently from Spark's int64 while local fetchall()-based
  checks coerce to Python int and mask it (the r11 hash-red lesson:
  t_bpe_counts / cur_pack_bpe / pipe_curation_graded).
  tests/test_oracle_types.py lints every registered oracle for this.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .session import driver_result_budget
from .sources.graph_view import edges_df, nodes_df, nodes_with_embeddings, vocabulary_df
from .sources.tables import load_tables


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = QuerySpec(fn, oracle)
        return fn

    return deco


class Ctx:
    """Per-(session, sf_dir) context: lazily built base tables + graph views."""

    _cache: dict[tuple[int, str], "Ctx"] = {}
    # program statements and pipeline stages may build concurrently
    # (guide §2.6 overlap) — double-checked locks keep the per-session
    # context and its cached graph views single-instance under races
    _lock = threading.Lock()

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.tables = load_tables(spark, sf_dir)
        self._view_lock = threading.Lock()

    @classmethod
    def get(cls, spark: SparkSession, sf_dir: str) -> "Ctx":
        key = (id(spark), sf_dir)
        if key not in cls._cache:
            with cls._lock:
                if key not in cls._cache:
                    cls._cache[key] = cls(spark, sf_dir)
        return cls._cache[key]

    @classmethod
    def owning(cls, edges: DataFrame) -> "Ctx | None":
        """The cached context whose `edges` view IS this frame, if any."""
        for ctx in list(cls._cache.values()):
            if ctx.__dict__.get("_edges") is edges:
                return ctx
        return None

    # The cached edge/node DataFrames plus `adjacency` are this engine's
    # analog of the reference's Rust in-memory graph accelerator
    # (`graph-accel/core/src/graph.rs:77-260`): load once, traverse many
    # times. On a cluster the cache is per-executor columnar blocks and
    # the CSR sits on the driver; embeddings would normally be
    # precomputed in storage rather than derived per query.

    def _nparts(self) -> int:
        return self.spark.sparkContext.defaultParallelism

    @property
    def nodes(self) -> DataFrame:
        if not hasattr(self, "_nodes"):
            with self._view_lock:
                if not hasattr(self, "_nodes"):
                    # repartition by key before caching: the single-file
                    # parquet scan yields few splits, which would serialize
                    # every downstream op on the cached data; hash-
                    # partitioning by node_id is also the layout the
                    # iterative BFS joins want
                    self._nodes = (
                        nodes_df(self.tables)
                        .repartition(self._nparts(), "node_id")
                        .cache()
                    )
        return self._nodes

    @property
    def edges(self) -> DataFrame:
        if not hasattr(self, "_edges"):
            with self._view_lock:
                if not hasattr(self, "_edges"):
                    self._edges = (
                        edges_df(self.tables)
                        .repartition(self._nparts(), "src")
                        .cache()
                    )
        return self._edges

    def adjacency(self, bytes_per_edge: int):
        """Driver-local CSR of `edges` (`operators.traversal.Csr`) for the
        traversal's local step, or None while the edge count times
        `bytes_per_edge` exceeds the driver's collect budget
        (`session.driver_result_budget`). The count and the one `toArrow`
        run on the first call only, never in `edges` itself: analytics
        and ingest never traverse and never pay for it."""
        edges = self.edges
        if not hasattr(self, "_n_edges"):
            with self._view_lock:
                if not hasattr(self, "_n_edges"):
                    self._budget = driver_result_budget(self.spark)
                    self._n_edges = edges.count()
        if self._n_edges * bytes_per_edge > self._budget:
            return None
        if not hasattr(self, "_adjacency"):
            with self._view_lock:
                if not hasattr(self, "_adjacency"):
                    from .operators.traversal import Csr

                    self._adjacency = Csr.from_arrow(
                        edges.select("src", "dst", "rel_type", "confidence").toArrow()
                    )
        return self._adjacency

    @property
    def nodes_emb(self) -> DataFrame:
        if not hasattr(self, "_nodes_emb"):
            with self._view_lock:
                if not hasattr(self, "_nodes_emb"):
                    self._nodes_emb = (
                        nodes_with_embeddings(self.tables)
                        .repartition(self._nparts(), "node_id")
                        .cache()
                    )
        return self._nodes_emb

    @property
    def vocab(self) -> DataFrame:
        if not hasattr(self, "_vocab"):
            with self._view_lock:
                if not hasattr(self, "_vocab"):
                    self._vocab = vocabulary_df(self.spark)
        return self._vocab


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so its @query registrations run;
    returns the registry in registration order."""
    from .operators import (  # noqa: F401
        aggregates,
        ann,
        annealing,
        asof,
        bloom,
        bpe,
        catalog,
        classifier,
        cms,
        components,
        curation,
        dedup,
        dsir,
        filters,
        graphalgo,
        joins,
        lifecycle,
        lm,
        multimodal,
        pq,
        projection,
        pruning,
        quant,
        ranking,
        scores,
        semdedup,
        setops,
        sketches,
        textstats,
        traversal,
        vector,
    )
    from .functions import markdown  # noqa: F401
    from .plans import blocks, cypher, guard, saved  # noqa: F401
    from .sources import export, jsonl  # noqa: F401
    from .pipelines import curate  # noqa: F401
    from .streaming import (  # noqa: F401
        budget_stream,
        contamination_stream,
        dedup_stream,
        epochs,
        ingest_stream,
        joins as stream_joins,
        quantile_stream,
        sketch_stream,
        span_stream,
        windows,
    )

    return QUERIES
