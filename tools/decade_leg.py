"""Two-SF decade probe with cpu-probe weather attribution.

Usage:
    KG_SPARK_DRIVER_MEM=64g python tools/decade_leg.py pkg.module:fn [timed_legs]

Runs `fn(spark, sf_dir)` through a noop sink at sf0.1 AND /tmp/kg_sf1
(1 warm + N timed legs each) under the repo's factory session, and
prints best/median/all plus the single-thread cpu-probe envelope around
the legs — the bench.py weather discipline applied to decade probes, so
a loaded block is visible in the row itself (probe worst <0.14 is this
host's quiet gate; ~0.11-0.12 is its idle constant). Oracle fidelity
and the HUGEINT lint live in tools/check_correctness.py.
"""

import importlib
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")


def cpu_probe() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def main() -> None:
    from knowledge_graph_system_spark.session import get_spark

    spark = get_spark("decade-leg")
    spark.sparkContext.setLogLevel("ERROR")

    mod_fn = sys.argv[1]
    legs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    mod, fn_name = mod_fn.rsplit(":", 1)
    fn = getattr(importlib.import_module(mod), fn_name)

    for sf_dir in ("/root/testdata/sf0.1", "/tmp/kg_sf1"):
        probes = [cpu_probe()]
        times = []
        for i in range(legs + 1):  # 1 warm + `legs` timed
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i > 0:
                times.append(dt)
            probes.append(cpu_probe())
        la = open("/proc/loadavg").read().split()[:2]
        print(
            f"{fn_name} @ {sf_dir}: best {min(times):.3f}s"
            f" median {statistics.median(times):.3f}s"
            f" all {[round(t, 2) for t in times]}"
            f" cpu_probe best {min(probes):.3f} worst {max(probes):.3f}"
            f" loadavg {la}"
        )


if __name__ == "__main__":
    main()
