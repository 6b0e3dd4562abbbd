"""The benchmark's handle on the engine: session start and stop, the
registered queries, and the graph-view set-up.

The session runs at `local[<nproc>]` through `SPARK_GRAFT_CPUS`, with
every scratch path (Spark local dirs, warehouse, JVM and Python temp
files, event log) inside the benchmark's work directory.
"""

from __future__ import annotations

import os
import platform
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_PKG = "knowledge_graph_system_spark"
DRIVER_MEM = "2g"


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, ENGINE_PKG, "__init__.py"))


def prepare_env(work_dir: str) -> None:
    """Point every temp path at `work_dir`; must run before Spark or
    `tempfile` are first used."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): temp files here, and no
    # hsperfdata files under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ.setdefault("KG_SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work_dir: str, event_log_dir: str | None):
    """(spark, seconds to start). Uses the engine's own session factory."""
    from knowledge_graph_system_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": event_log_dir,
        })
    t0 = time.perf_counter()
    spark = get_spark("kg-perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """VmHWM of a process, in MB (0 when unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, TypeError):
        pass
    return 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def session_context(spark) -> dict:
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "spark_version": spark.version,
        "java_version": jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }


def registered_queries() -> dict:
    """Every query the engine registers, including ones a later module
    folds away again, keyed by name (the first registration wins). Call
    it before any engine module is imported: a module imported earlier
    has registered already and is not seen again."""
    from knowledge_graph_system_spark import registry

    seen: dict = {}

    class Recording(dict):
        def __setitem__(self, k, v):
            seen.setdefault(k, v)
            super().__setitem__(k, v)

    rec = Recording(registry.QUERIES)
    registry.QUERIES = rec
    live = registry.load_all()
    return {**seen, **live}


def build_views(spark, sf_dir: str, keep: bool):
    """Fresh engine context with its graph views materialised:
    (ctx, seconds, nodes, edges). Unless `keep`, the views are dropped."""
    from knowledge_graph_system_spark.registry import Ctx

    t0 = time.perf_counter()
    ctx = Ctx.get(spark, sf_dir) if keep else Ctx(spark, sf_dir)
    n = ctx.nodes.count()
    m = ctx.edges.count()
    ctx.nodes_emb.count()
    dt = time.perf_counter() - t0
    if not keep:
        for df in (ctx.nodes, ctx.edges, ctx.nodes_emb):
            df.unpersist()
    return ctx, dt, n, m
