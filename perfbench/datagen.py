"""Seeded input generators for the benchmark.

`star_schema` writes the ten parquet tables the engine reads (the
TPC-H-like star schema plus events, documents and embeddings) with the
same column names, types and value ranges as the engine's reference
test data, scaled by `sf`. `zipf_documents` makes the ingest corpus:
documents whose terms follow a Zipf law over a fixed vocabulary, so a
predictable share of terms recurs from one batch to the next.

Everything is drawn from `numpy.random.default_rng(seed)`: the same
seed gives byte-identical tables. Nothing here touches Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "anvil", "bolt", "gear", "plate", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMB_DIM = 64
N_LABELS = 10
DOC_TERMS = 40  # terms per ingest document
ZIPF_S = 1.1  # Zipf exponent of ingest term ranks

_DAY_NS = 86_400 * 10**9
_EPOCH_1995 = np.datetime64("1995-01-01", "ns").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "ns").astype(np.int64)


@dataclass
class Graph:
    """The parts of the generated data the request generator needs to pick
    start nodes and reachable targets without asking the engine."""

    n_customer: int
    n_supplier: int
    n_part: int
    # per-customer order keys and per-order (part, supplier) pairs
    o_custkey: np.ndarray
    l_orderkey: np.ndarray
    l_partkey: np.ndarray
    l_suppkey: np.ndarray

    def suppliers_of_customer(self, cust: int) -> np.ndarray:
        orders = np.flatnonzero(self.o_custkey == cust)
        return np.unique(self.l_suppkey[np.isin(self.l_orderkey, orders)])

    def suppliers_of_part(self, part: int) -> np.ndarray:
        return np.unique(self.l_suppkey[self.l_partkey == part])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(ns: np.ndarray) -> pa.Array:
    return pa.array(ns, type=pa.timestamp("ns"))


def _texts(rng, n: int, lo: int, hi: int) -> list[str]:
    words = np.array(DOC_WORDS)
    lens = rng.integers(lo, hi + 1, n)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def star_schema(out_dir: str, seed: int, sf: float) -> Graph:
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l, n_e = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_d = max(500, int(50_000 * sf))
    n_v = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    pk = np.arange(n_p, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_p)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_p)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_p).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_p)],
        "p_size": rng.integers(1, 51, n_p, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    o_custkey = rng.integers(0, n_c, n_o, dtype=np.int64)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": o_custkey,
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_o) * _DAY_NS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
    })
    l_orderkey = rng.integers(0, n_o, n_l, dtype=np.int64)
    l_partkey = rng.integers(0, n_p, n_l, dtype=np.int64)
    l_suppkey = rng.integers(0, n_s, n_l, dtype=np.int64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_orderkey,
        "l_partkey": l_partkey,
        "l_suppkey": l_suppkey,
        "l_linenumber": rng.integers(1, 8, n_l, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_l),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_l), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_l), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_l) * _DAY_NS),
    })
    # events arrive in event_id order over 30 days, microsecond clock
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_e))
    _write(out_dir, "events", {
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ts_us * 1000),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_e, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_e)],
        "value": np.round(rng.gamma(2.0, 20.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    texts = _texts(rng, n_d, 10, 100)
    # a few near-duplicates: a copy of an earlier document with one word
    # swapped for a marker, so the dedup queries have pairs to find
    for i in rng.choice(np.arange(1, n_d), size=max(2, n_d // 60), replace=False):
        words = texts[int(rng.integers(0, i))].split(" ")
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_d, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, N_LABELS, n_v)
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    vecs = centroids[labels] * 0.35 + rng.normal(0.0, 1.0, (n_v, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return Graph(n_c, n_s, n_p, o_custkey, l_orderkey, l_partkey, l_suppkey)


def ingest_vocabulary(size: int) -> list[str]:
    """Pronounceable terms of 5-9 letters, all distinct, in a fixed order
    (rank 0 is the most frequent under the Zipf draw)."""
    rng = np.random.default_rng(7)
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < size:
        n = int(rng.integers(3, 5))
        w = "".join(cons[rng.integers(0, 16)] + vows[rng.integers(0, 5)] for _ in range(n))
        w = w[: int(rng.integers(5, 10))]
        if len(w) >= 5 and w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_documents(seed: int, stream: int, n_docs: int, vocab: list[str]) -> dict:
    """`n_docs` documents of `DOC_TERMS` terms each, term ranks Zipf(`ZIPF_S`)
    over `vocab`; `stream` separates independent draws under one seed."""
    rng = np.random.default_rng([seed, 2, stream])
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    p /= p.sum()
    v = np.array(vocab)
    texts = [" ".join(v[rng.choice(len(vocab), DOC_TERMS, p=p)]) for _ in range(n_docs)]
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_documents(path: str, docs: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(docs), path)
