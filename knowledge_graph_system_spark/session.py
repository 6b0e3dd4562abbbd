"""SparkSession factory tuned for the kg-spark engine.

Scale posture (100 TB target; defaults fitted to the host it runs on):
- `local[N]` with N = the host's CPU count (`SPARK_GRAFT_CPUS` overrides).
- Driver heap = half the host's physical RAM, at least 1 GB
  (`KG_SPARK_DRIVER_MEM` overrides). The traversal CSR bound
  (`driver_result_budget`) reads this heap, so it must be real memory.
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- Modest shuffle partition default for local mode; on a real cluster this
  is overridden (AQE coalesces anyway).
- Arrow enabled so any Pandas-UDF path is batched, never row-at-a-time.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def host_driver_memory() -> str:
    """Half the host's physical RAM in whole GB (at least 1g), as a JVM size."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "1g"
    return f"{max(1, ram // 2 // 2**30)}g"


def get_spark(
    app_name: str = "kg-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("KG_SPARK_DRIVER_MEM") or host_driver_memory(),
        )
        # dims (region/nation/supplier/vocab) are tiny: broadcast generously
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # driver testdata carries TIMESTAMP(NANOS) parquet columns; read as
        # long and convert in sources.tables (Spark has no ns timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def driver_result_budget(spark: SparkSession) -> int:
    """Bytes one collect to the driver may take: the smaller of
    `spark.driver.maxResultSize` (0 means unlimited) and a quarter of the
    running driver JVM's max heap."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.Runtime.getRuntime().maxMemory()
    limit = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.sparkContext.getConf().get("spark.driver.maxResultSize", "1g")
    )
    return min(limit or heap, heap // 4)
