"""Local correctness harness: mimics the driver's t2 check.

Runs every registered query on Spark and its DuckDB oracle side-by-side
at a given sf dir, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by
their string form). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return lines


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from knowledge_graph_system_spark.registry import load_all

    specs = load_all()
    if os.environ.get("KG_PLAIN_SESSION"):
        # driver-fidelity mode: a bare session, no factory confs
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[16]").appName(
            "kg-spark-correctness-plain"
        ).getOrCreate()
    else:
        from knowledge_graph_system_spark.session import get_spark

        spark = get_spark("kg-spark-correctness")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import time

    # every registered row, in registration order
    failed, passed, skipped = [], [], []
    t_start = time.perf_counter()
    for name, spec in specs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        sdf = spec.fn(spark, sf_dir)
        srows = sdf.collect()
        t_spark = time.perf_counter() - t0
        scols = sdf.columns
        if spec.oracle is None:
            skipped.append(name)
            print(f"~ {name}: rows-only ({len(srows)} rows) [{t_spark:.2f}s]")
            continue
        try:
            rel = con.sql(spec.oracle)
            otypes = dict(zip(rel.columns, (str(t) for t in rel.types)))
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failed.append(name)
            print(f"✗ {name}: oracle error: {e}")
            continue
        # r11 lesson: fetchall() coerces DuckDB HUGEINT to Python int,
        # so the hash below CANNOT see the int128-vs-int64 divergence
        # the driver's hasher sees. Flag it loudly even when values
        # match (tests/test_oracle_types.py is the hard gate).
        wide = {c: t for c, t in otypes.items() if "HUGEINT" in t.upper()}
        if wide:
            failed.append(name)
            print(
                f"✗ {name}: oracle emits width-changing integer types "
                f"(driver hashes int128 != int64; CAST AS BIGINT): {wide}"
            )
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
            problems.append(
                f"cols spark={sorted(scols)} oracle={sorted(ocols)}; "
                f"types spark={stypes} oracle={otypes}"
            )
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            s_sig = table_sig(scols, [[r[c] for c in scols] for r in srows])
            o_sig = table_sig(ocols, orows)
            if s_sig != o_sig:
                diffs = [
                    (a, b) for a, b in zip(s_sig, o_sig) if a != b
                ][:3]
                stypes = {
                    f.name: f.dataType.simpleString()
                    for f in sdf.schema.fields
                }
                problems.append(
                    f"value mismatch, first diffs: {diffs}; "
                    f"types spark={stypes} oracle={otypes}"
                )
        if problems:
            failed.append(name)
            print(f"✗ {name}: {'; '.join(problems)}")
        else:
            passed.append(name)
            print(f"✓ {name} ({len(srows)} rows) [{t_spark:.2f}s]")

    total = time.perf_counter() - t_start
    print(
        f"\n{len(passed)} passed, {len(failed)} failed, {len(skipped)} rows-only"
        f" [{total:.1f}s total]"
    )
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
