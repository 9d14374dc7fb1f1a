"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01, normalizes (columns sorted by name, rows sorted by all columns),
and compares values. Exact match is the goal; float columns also report the
max abs diff so near-misses are diagnosable.

Usage:
    python tools/check_correctness.py [name ...]
    python tools/check_correctness.py --sample N --seed S
        # seed-controlled random spot-check: N names drawn (without
        # replacement) from the inventory TAIL — everything outside the
        # driver's committed re-certification head — so a judge/CI run
        # exercises exactly the rows the driver did NOT just certify.
        # Combine with explicit names to restrict the draw population.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


from de_polars_spark.testing import compare as _compare


def compare(name, spark_df, oracle_df):
    return _compare(spark_df, oracle_df)


def main() -> int:
    import __spark_entry__ as e
    from de_polars_spark.engine.session import get_spark

    argv = sys.argv[1:]
    sample_n = seed = None
    if "--sample" in argv:
        i = argv.index("--sample")
        sample_n = int(argv[i + 1])
        del argv[i : i + 2]
    if "--seed" in argv:
        i = argv.index("--seed")
        seed = int(argv[i + 1])
        del argv[i : i + 2]
    only = set(argv)
    qs, os_ = e.queries(), e.oracle_sql()
    if sample_n is not None:
        import random

        head = set(e._RECERTIFY_HEAD)
        population = [
            n for n in sorted(qs)
            if n not in head and (not only or n in only)
        ]
        rng = random.Random(seed if seed is not None else 0)
        picked = set(rng.sample(population, min(sample_n, len(population))))
        print(
            f"sampled {len(picked)}/{len(population)} tail names "
            f"(seed={seed if seed is not None else 0}, head excluded)"
        )
        if not picked:
            # empty draw (e.g. every explicit name fell inside the
            # head): falling through with only=set() would disable the
            # filter and run the ENTIRE inventory — the opposite of a
            # tail spot-check. (r9 ADVICE)
            print("no tail names to sample — nothing to run")
            return 0
        only = picked
    spark = get_spark("correctness-check")
    con = duck_connection()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark raised {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in os_:
            print(f"SKIP-ORACLE {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            odf = con.execute(os_[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: oracle raised {type(ex).__name__}: {str(ex)[:300]}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL {name}: rows={len(sdf)}")
            for p in problems:
                print(f"     {p}")
        else:
            n_pass += 1
            print(f"PASS {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
