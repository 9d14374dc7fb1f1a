"""Dump `.explain("formatted")` for named inventory queries.

Usage:
    python tools/dump_plans.py --suffix before --out plans/r10 name [name ...]

Executes each query first (AQE finalizes join strategies at runtime,
matching tools/audit_plans.py), then writes the FINAL formatted plan to
``<out>/<name>_<suffix>.txt``. Session shape mirrors bench.py
(local[N], shuffle partitions = N, N and the driver heap from
``engine.session.session_size``) so the dumped plans are the plans the
bench measures.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _explain(df, mode: str) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--out", default="plans/r10")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from de_polars_spark.engine.session import session_size

    cpus, driver_mem = session_size()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("de_polars_spark-plan-dump")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from de_polars_spark.inventory import QUERIES

    outdir = os.path.join(REPO, args.out)
    os.makedirs(outdir, exist_ok=True)
    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        print(f"ERROR: unknown query names: {unknown}", file=sys.stderr)
        sys.exit(2)
    for name in args.names:
        df = QUERIES[name](spark, SF_DIR)
        df.collect()
        plan = _explain(df, "formatted")
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {SF_DIR} ({args.suffix})\n")
            fh.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
