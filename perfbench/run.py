"""kg-spark benchmark: one seeded workload run.

    python3 perfbench/run.py --workload interactive|analytics|ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. The run generates its inputs from the
seed, starts a Spark session at local[<nproc>], sets up (twice; the
median is `setup_s`), measures the workload (see each workload's module
for how `--seconds` applies),
checks every output, and prints two JSON lines: the host and session
context, then the result `{"correct", "attempted", "failed", "metrics"}`.
`--trace 0` reports the end-to-end metrics; `--trace 1` turns on Spark's
event log and job-group tagging, reports the per-layer metrics, and
writes the span file under perfbench/.out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
from spans import Recorder, median  # noqa: E402

WORKLOADS = ("interactive", "analytics", "ingest")
SF = 0.01  # 186k-node graph at sf0.1; sf0.01 keeps a run inside its time budget
# the first set-up also warms the JVM; a third one would not fit the
# benchmark's time budget
SETUP_REPS = 2
OUT_DIR = os.path.join(HERE, ".out")

E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "ops_per_s": "1/s", "total_s": "s"}


def cpu_probe() -> float:
    """Seconds for a fixed single-thread loop; rises with host contention."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def cpu_jiffies() -> list[int]:
    """The aggregate `cpu` line of /proc/stat (empty where unreadable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def host_context() -> dict:
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "cpu_probe_s": cpu_probe(), "cpu_jiffies": cpu_jiffies()}


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor stole between two /proc/stat reads:
    a run slowed by other tenants of the host shows it here."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return d[7] / sum(d) if sum(d) else 0.0


def parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse()
    # SIGTERM unwinds like an exception, so the session stops and the
    # work dir goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not engine.engine_present():
        print(f"engine package {engine.ENGINE_PKG}/ not found under {engine.ROOT}",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.seed}-{'t' if args.trace else 'u'}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    engine.prepare_env(work)
    try:
        return measure(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, run_id: str, work: str) -> int:
    import datagen
    from checks import Oracle

    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    ctx_info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "sf": SF, "host_before": host_context()}
    data_dir = os.path.join(work, "data")
    graph = datagen.star_schema(data_dir, args.seed, SF) if args.workload != "ingest" else None

    phases["datagen_s"] = time.perf_counter() - t_start
    specs = engine.registered_queries()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark, session_s = engine.start_session(work, log_dir)
    phases["session_s"] = session_s
    ctx_info["session"] = engine.session_context(spark)
    jvm = engine.jvm_pid(spark)
    rec = Recorder(args.workload, run_id, spark.sparkContext if args.trace else None)

    extra: dict = {"session.start_s": session_s}
    try:
        if args.workload == "ingest":
            import ingest

            ing = ingest.Ingest(spark, work, args.seed)
            base = os.path.join(work, "base")
            setups = [ing.build_base(base) for _ in range(SETUP_REPS)]
            t0 = time.perf_counter()
            res, log = ingest.run(rec, ing, base)
            phases["measure_s"] = time.perf_counter() - t0
            extra["docs"] = ing.n_docs
        else:
            setups = []
            for i in range(SETUP_REPS):
                ctx, dt, n_nodes, n_edges = engine.build_views(
                    spark, data_dir, keep=i == SETUP_REPS - 1)
                setups.append(dt)
            extra.update({"registry.views_build_s": median(setups),
                          "registry.nodes_cached": n_nodes,
                          "registry.edges_cached": n_edges})
            oracle = Oracle(data_dir)
            t0 = time.perf_counter()
            if args.workload == "interactive":
                import interactive

                tpl = interactive.Templates(spark, data_dir, ctx, specs)
                res = interactive.run(rec, tpl, graph, args.seed, args.seconds, oracle)
            else:
                import analytics

                res = analytics.run(rec, spark, data_dir, specs, oracle)
            oracle.close()
            phases["measure_and_check_s"] = time.perf_counter() - t0
        extra["jvm.peak_rss_mb"] = engine.peak_rss_mb(jvm)
    finally:
        t0 = time.perf_counter()
        engine.stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t0
    if args.workload == "ingest":
        t0 = time.perf_counter()
        res.update(ingest.check(log, specs))
        phases["check_s"] = time.perf_counter() - t0
    phases["setups_s"] = setups
    phases["total_s"] = time.perf_counter() - t_start
    ctx_info["phases"] = phases
    ctx_info["ops_ms"] = [[o.span.label, round(o.ms, 1)] for o in rec.ops]

    ctx_info["host_after"] = host_context()
    ctx_info["steal_share"] = steal_share(ctx_info["host_before"]["cpu_jiffies"],
                                          ctx_info["host_after"]["cpu_jiffies"])
    e2e = end_to_end(args.workload, rec, res, setups)
    if args.trace:
        from layers import per_layer

        metrics = per_layer(args.workload, rec, res, extra, log_dir)
        rec.write(os.path.join(OUT_DIR, f"{run_id}.json"),
                  {"context": ctx_info, "end_to_end": e2e, "per_layer": metrics})
    else:
        metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({"context": ctx_info}))
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def end_to_end(workload: str, rec, res: dict, setups: list[float]) -> dict:
    """Latency and rate over the workload's operations (ingest: batches);
    `total_s` sums each operation kind's median (ingest: batch and fresh
    search, the micro-batch phase that `wall_s` times)."""
    prim = rec.op_ms("batch") if workload == "ingest" else rec.op_ms()
    all_kinds = ["batch", "search"] if workload == "ingest" else {o.kind for o in rec.ops}
    return {
        "setup_s": median(setups),
        "p50_ms": median(prim),
        "ops_per_s": len(prim) / res["wall_s"],
        "total_s": sum(median(rec.op_ms(k)) for k in all_kinds) / 1000.0,
    }


if __name__ == "__main__":
    sys.exit(main())
