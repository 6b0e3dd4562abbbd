"""Fast smoke check of the benchmark itself, at sf0.001.

    python3 perfbench/smoke.py [--seed N]

Runs every interactive request template once, one ingest batch with its
fresh search, and every digest check, so a broken template or oracle
fails in seconds instead of after a full run. Prints one line per check
and exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import itertools
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402

SF = 0.001


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    if not engine.engine_present():
        print(f"engine package {engine.ENGINE_PKG}/ not found", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"smoke-{os.getpid()}")
    engine.prepare_env(work)
    try:
        return smoke(args.seed, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def smoke(seed: int, work: str) -> int:
    import datagen
    from checks import Oracle
    from spans import Recorder

    data = os.path.join(work, "data")
    graph = datagen.star_schema(data, seed, SF)
    specs = engine.registered_queries()
    import ingest
    import interactive
    spark, _ = engine.start_session(work, None)
    failed = 0
    try:
        ctx, *_ = engine.build_views(spark, data, keep=True)
        tpl = interactive.Templates(spark, data, ctx, specs)
        rec = Recorder("smoke", "smoke")
        shapes = interactive.PATTERN + interactive.EXTRA
        first = itertools.islice(interactive.make_requests(tpl, graph, seed, shapes),
                                 len(shapes))
        todo = list({req.shape: req for req in reversed(list(first))}.values())
        oracle = Oracle(data)
        results = interactive.execute(rec, todo)
        res = interactive.check(results, oracle)
        oracle.close()
        print(f"interactive: {res['attempted']} templates, {res['failed']} failed")
        failed += res["failed"]

        ing = ingest.Ingest(spark, work, seed)
        base = os.path.join(work, "base")
        ing.build_base(base)
        log = ing.batches(rec, base, batches=1) + [ing.stream(rec)]
    finally:
        engine.stop_session(spark)
    res = ingest.check(log, specs)
    print(f"ingest: {res['attempted']} steps, {res['failed']} failed")
    failed += res["failed"]
    print("smoke:", "FAILED" if failed else "ok")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
