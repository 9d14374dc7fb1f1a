"""Per-query phase profiler: build vs plan vs execute (guide §1).

For each named inventory query, measures in one bench-shaped session:

- ``build``: calling the inventory function (Python DSL construction,
  plus any EAGER driver work inside — fits/collects/persists it runs).
- ``plan``: forcing the analyzed+optimized+physical plan of the final
  frame (Catalyst cost, driver-side single thread).
- ``exec``: the terminal collect().

Usage:
    python tools/profile_phases.py name [name ...]
    SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... to override defaults.

Prints one JSON line per query plus a total line. Timings are wall
clock; run in a calm window and interleave reps for A/B claims.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_phases.py name [name ...]", file=sys.stderr)
        sys.exit(2)

    from pyspark.sql import SparkSession

    from de_polars_spark.engine.session import session_size

    cpus, driver_mem = session_size()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("de_polars_spark-phase-profile")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from de_polars_spark.inventory import QUERIES
    from de_polars_spark.sources.artifacts import release_cached

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"ERROR: unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    # warm-up: JVM + Python worker spin-up (bench.py parity)
    QUERIES["pricing_summary"](spark, SF_DIR).collect()
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()

    reps = int(os.environ.get("SPARK_GRAFT_PROFILE_REPS", "1"))
    rows = []
    for name in names:
        best = None
        for _ in range(reps):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF_DIR)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.collect()
            t3 = time.perf_counter()
            release_cached()
            import gc

            gc.collect()
            cur = {
                "query": name,
                "build": round(t1 - t0, 3),
                "plan": round(t2 - t1, 3),
                "exec": round(t3 - t2, 3),
                "total": round(t3 - t0, 3),
            }
            if best is None or cur["total"] < best["total"]:
                best = cur
        rows.append(best)
        print(json.dumps(best), flush=True)
    total = round(sum(r["total"] for r in rows), 3)
    print(json.dumps({"total": total, "n": len(rows), "reps": reps}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
