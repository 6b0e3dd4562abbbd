"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

HEADLINE = [
    "q1_pricing_summary",      # scan-heavy aggregation
    "j1_evidence_join",        # 4-way join
    "j5_cross_ontology_affinity",  # self-join aggregation
    "v1_vector_search",        # vector scan + top-k
    "g1_bfs_out_depth3",       # iterative traversal
    "a2a3_confidence_score",   # per-node signal aggregation
    "a4_grounding",            # broadcast-join weighted aggregation
    "d_minhash_lsh",           # shuffle-heavy near-dup pipeline
    "ann_ivf_topk",            # pruned similarity search
    "st_session_window",       # stateful session windowing
    "g3_k_shortest_paths",     # beam-capped path enumeration
    "x1_asof_join",            # union + carry-forward as-of join
    "d_simhash",               # bitwise near-dup clustering
    "x2_skew_naive_join",      # hot-key shuffle join, unsalted baseline
    "x2_skew_salted_join",     # same join, salted 32x — must beat naive
]


def wait_for_idle(max_wait_s: int = 180, target_load: float = 2.0) -> float:
    """Idle-host protocol (VERDICT r5 #8): BENCH was load-contaminated
    in 3 of 5 rounds because it ran right after 32-core test suites.
    Wait (bounded) for loadavg_1m to drop below `target_load` before
    measuring; the artifact records how long we waited so a still-hot
    start is visible rather than silent."""
    waited = 0.0
    try:
        while os.getloadavg()[0] >= target_load and waited < max_wait_s:
            time.sleep(10)
            waited += 10
    except (OSError, AttributeError):
        pass
    return waited


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    idle_wait_s = wait_for_idle()

    from knowledge_graph_system_spark.registry import load_all
    from knowledge_graph_system_spark.session import get_spark

    specs = load_all()
    spark = get_spark("kg-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    fns = {n: specs[n].fn for n in HEADLINE}
    names = HEADLINE

    def run(name: str) -> float:
        t0 = time.perf_counter()
        # noop sink: full distributed computation, no py4j driver transfer
        fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def cpu_probe() -> float:
        """Fixed single-thread workload; wall time rises with host load.

        On an idle box this runs in a stable, machine-constant time, so a
        probe reading well above the run's own minimum means neighbors were
        stealing cycles at that moment — detectable from the artifact alone.
        """
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        return time.perf_counter() - t0

    # warm pass: JIT, parquet footers, and the Ctx graph-view caches —
    # steady-state throughput is what a resident engine delivers. Its
    # per-query seconds are RECORDED as cold_s (r18, additions-only):
    # cold_s is each query's FIRST-PASS time, not a per-query cold
    # start. The Ctx graph-view caches are shared, so only the first
    # query to touch a view pays its cold parquet scan + cache build;
    # later queries in the same pass already read warm caches. The
    # field name stays so the artifact keeps the additions-only rule.
    # The timed best-of-3 below measures resident-engine steady state,
    # and round-over-round comparability of `queries` is unchanged.
    cold = {name: run(name) for name in names}

    # best-of-3: the host shows multi-second background-load jitter;
    # min-of-N measures the engine, not the neighbors.  Per-query
    # best/median/spread are emitted so a loaded host is visible in the
    # artifact itself (spread = max/min; ~1.0 idle, >>1 under contention).
    probes = [cpu_probe()]
    stats: dict[str, dict[str, float]] = {}
    for name in names:
        reps = [run(name) for _ in range(3)]
        probes.append(cpu_probe())
        stats[name] = {
            "best": round(min(reps), 3),
            "median": round(statistics.median(reps), 3),
            "spread": round(max(reps) / max(min(reps), 1e-9), 2),
            "cold_s": round(cold[name], 3),
        }
    timings = {name: s["best"] for name, s in stats.items()}

    try:
        # AttributeError: os.getloadavg does not exist on non-Unix platforms
        load1, load5, _ = os.getloadavg()
    except (OSError, AttributeError):
        load1 = load5 = -1.0

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "kg-spark headline queries wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "query_stats": stats,
                "host": {
                    "cpu_probe_best_s": round(min(probes), 3),
                    "cpu_probe_worst_s": round(max(probes), 3),
                    "loadavg_1m": round(load1, 2),
                    "loadavg_5m": round(load5, 2),
                    "idle_wait_s": idle_wait_s,
                    "cpus": os.cpu_count(),
                },
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
