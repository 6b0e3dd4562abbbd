"""`analytics` workload: one pass of 13 headline queries in a fixed order.

The list is the benchmark's own copy, so editing the engine's bench
script cannot change this workload. A run makes exactly one pass,
whatever `--seconds` says: the workload is the cold pass (a fresh JVM per
run), and a second, warm pass would change what is measured once the
engine gets fast enough to fit it. The first queries pay most of the
JIT warm-up, so the order is fixed: a seed-permuted order
moved that cost between queries and swung the median by more than its
bound from run to run. The seed draws the data.

Each query is timed through `.collect()`, as an API caller would use
it; its rows are then checked against the query's registered DuckDB
oracle, outside the timed region.
"""

from __future__ import annotations

import time

from checks import Oracle, spark_digest

# bench.py's headline list without its two traversal rows
# (g1_bfs_out_depth3, g3_k_shortest_paths): BFS and path requests are the
# `interactive` workload's, so this one bypasses traversal entirely and a
# traversal change predicts no change here
HEADLINE = [
    "q1_pricing_summary",
    "j1_evidence_join",
    "j5_cross_ontology_affinity",
    "v1_vector_search",
    "a2a3_confidence_score",
    "a4_grounding",
    "d_minhash_lsh",
    "ann_ivf_topk",
    "st_session_window",
    "x1_asof_join",
    "d_simhash",
    "x2_skew_naive_join",
    "x2_skew_salted_join",
]


def run(rec, spark, sf_dir: str, specs: dict, oracle: Oracle) -> dict:
    results = []
    t0 = time.perf_counter()
    for name in HEADLINE:
        with rec.op(name):
            try:
                df = specs[name].fn(spark, sf_dir)
                rows = df.collect()
                results.append((name, df.columns, rows, None))
            except Exception as exc:
                results.append((name, None, None, exc))
    wall = time.perf_counter() - t0
    failed = 0
    for name, cols, rows, exc in results:
        if exc is not None:
            failed += 1
            print(f"{name} failed: {exc!r}")
            continue
        got = spark_digest(cols, rows)
        want = oracle.digest(specs[name].oracle)
        if got != want:
            failed += 1
            print(f"{name} mismatch: got {got[:2]} want {want[:2]}")
    return {"wall_s": wall, "attempted": len(results), "failed": failed}
