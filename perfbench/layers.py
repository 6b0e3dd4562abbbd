"""Per-layer metrics of a traced run.

Every name is reported on every workload; a layer the workload never
calls reads 0. Latencies are medians over the run's calls, counts are
per call, and the `spark.*` figures are per measured operation, folded
from the event log (except `spark.failed_tasks`, a run total, and
`spark.core_util`, executor run time over wall time times cores).
"""

from __future__ import annotations

import os

from analytics import HEADLINE
from spans import attribute, fold, median, read_jobs

VECTOR = {"search", "v1_vector_search"}
TRAVERSAL = {"neighborhood", "path"}


def per_layer(workload: str, rec, res: dict, extra: dict,
              log_dir: str) -> dict[str, tuple[float, str]]:
    jobs_by_op = attribute(read_jobs(log_dir), rec.ops)

    def calls(kinds):
        return [o for o in rec.ops if o.kind in kinds]

    def per_call(kinds, key):
        ops = calls(kinds)
        if not ops:
            return 0.0
        return fold([j for o in ops for j in jobs_by_op[o.span.sid]])[key] / len(ops)

    total = fold([j for js in jobs_by_op.values() for j in js])
    n_ops = max(1, len(rec.ops))
    cores = os.cpu_count() or 1
    # every measured operation's wall time (ingest: the stream pass too)
    wall_s = res["round_s"] if workload == "ingest" else res["wall_s"]
    pairs = res.get("pairs", 0)
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (extra["session.start_s"], "s"),
        "registry.views_build_s": (extra.get("registry.views_build_s", 0.0), "s"),
        "registry.nodes_cached": (extra.get("registry.nodes_cached", 0), "count"),
        "registry.edges_cached": (extra.get("registry.edges_cached", 0), "count"),
        "vector.search_ms": (median(rec.layer_ms("vector.search")
                                    or rec.op_ms("v1_vector_search")), "ms"),
        "vector.jobs_per_call": (per_call(VECTOR, "jobs"), "count"),
        "vector.tasks_per_call": (per_call(VECTOR, "tasks"), "count"),
        "traversal.bfs_ms": (median(rec.layer_ms("traversal.bfs")), "ms"),
        "traversal.path_ms": (median(rec.layer_ms("traversal.path")), "ms"),
        "traversal.jobs_per_call": (per_call(TRAVERSAL, "jobs"), "count"),
        "traversal.rows_out_per_call": (
            median([o.span.rows for o in calls({"neighborhood", "path"})]), "count"),
        "traversal.shuffle_bytes_per_call": (
            per_call(TRAVERSAL, "shuffle_write_bytes"), "bytes"),
        "cypher.compile_ms": (median(rec.layer_ms("cypher.compile")), "ms"),
        "cypher.execute_ms": (median(rec.layer_ms("cypher.execute")), "ms"),
        "cypher.jobs_per_call": (per_call({"cypher"}, "jobs"), "count"),
        "program.ms": (median(rec.op_ms("program")), "ms"),
        "program.jobs_per_call": (per_call({"program"}, "jobs"), "count"),
        "program.step_ms": (median(rec.program_steps), "ms"),
        "spark.jobs": (total["jobs"] / n_ops, "count"),
        "spark.stages": (total["stages"] / n_ops, "count"),
        "spark.tasks": (total["tasks"] / n_ops, "count"),
        "spark.executor_run_ms": (total["executor_run_ms"] / n_ops, "ms"),
        "spark.task_wait_ms": (total["task_wait_ms"] / n_ops, "ms"),
        "spark.core_util": (total["executor_run_ms"] / (wall_s * 1000.0 * cores), "ratio"),
        "spark.shuffle_read_bytes": (total["shuffle_read_bytes"] / n_ops, "bytes"),
        "spark.shuffle_write_bytes": (total["shuffle_write_bytes"] / n_ops, "bytes"),
        "spark.spill_bytes": (total["spill_bytes"] / n_ops, "bytes"),
        "spark.gc_ms": (total["gc_ms"] / n_ops, "ms"),
        "spark.failed_tasks": (total["failed_tasks"], "count"),
        "driver.cpu_ms": (sum(o.cpu_ms for o in rec.ops) / n_ops, "ms"),
        "jvm.peak_rss_mb": (extra["jvm.peak_rss_mb"], "MB"),
        "search_p50_ms": (median(rec.op_ms("search")) if workload == "interactive" else 0.0,
                          "ms"),
        "neighborhood_p50_ms": (median(rec.op_ms("neighborhood")), "ms"),
        "path_p50_ms": (median(rec.op_ms("path")), "ms"),
        "program_p50_ms": (median(rec.op_ms("program")), "ms"),
        "cypher_p50_ms": (median(rec.op_ms("cypher")), "ms"),
        "trace.spans": (len(rec.spans), "count"),
    }
    for name in HEADLINE:
        m[f"query.{name}_s"] = (median(rec.op_ms(name)) / 1000.0, "s")
    m.update({
        "ingest.upsert_ms": (median(rec.layer_ms("ingest.upsert")), "ms"),
        "ingest.registry_write_ms": (median(rec.layer_ms("ingest.registry_write")), "ms"),
        "ingest.tasks_per_call": (per_call({"batch"}, "tasks"), "count"),
        "ingest.pairs_scored": (pairs / max(1, len(calls({"batch"}))), "count"),
        "ingest.match_ratio": (res.get("merges", 0) / pairs if pairs else 0.0, "ratio"),
        "streaming.run_ms": (median(rec.layer_ms("streaming.run")), "ms"),
        "streaming.epochs_committed": (median(res.get("epochs", [])), "count"),
        "fresh_search_p50_ms": (median(rec.op_ms("search")) if workload == "ingest" else 0.0,
                                "ms"),
        "docs_per_s": (extra.get("docs", 0) / wall_s, "1/s"),
    })
    return m

