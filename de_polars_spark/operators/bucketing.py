"""Content-addressed bucketed-layout artifacts for co-located joins.

Thin artifact-management layer over ``sources.bucketing`` (the writer /
join primitives): at 100 TB the dominant cost of a fact-fact join
(orders x lineitem, impressions x clicks) is the shuffle of both sides
on the join key. Bucketing pays that shuffle ONCE at write time —
``bucketBy(n, key)`` + ``sortBy(key)`` persists each side pre-hash-
partitioned and pre-sorted, and every subsequent equi-join on the key
runs exchange-free (SortMergeJoin directly over the bucketed scans; no
Exchange, and with sortBy no Sort either). This is the reference's
"pre-partitioned local data" idea (de_polars/data_partitioner.py)
expressed in Spark's own storage layer.

Artifacts are content-addressed per (sf_dir, layout version) under the
cache root of ``sources/artifacts.py``, like the KPI/IVF artifacts: the
first query in a session pays the build (measured inside bench via the
``clear_bucketed_artifacts`` warm-up hook); later joins reuse the
layout. Data lives under ``.cache/bucketed/`` as external tables —
bucket METADATA lives in the session catalog, so a fresh session
re-registers by rewriting under the same content-addressed name.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from de_polars_spark.sources.artifacts import cache_root
from de_polars_spark.sources.bucketing import write_bucketed

#: bucket count — sized so one bucket of the largest side fits an
#: executor core's memory at the target SF; at 100 TB you would raise
#: this (buckets ~= total_size / 256 MB), it only changes the write.
N_BUCKETS = 8


def _cache_base() -> str:
    return os.path.join(cache_root(), "bucketed")


def _tag(sf_dir: str) -> str:
    return hashlib.md5(
        f"{os.path.basename(os.path.normpath(sf_dir))}|{N_BUCKETS}|v1".encode()
    ).hexdigest()[:8]


def ensure_bucketed(
    spark: SparkSession,
    df: DataFrame,
    logical_name: str,
    key: str,
    sf_dir: str,
) -> str:
    """Materialize ``df`` as a bucketed+sorted external table (idempotent
    per session); returns the catalog table name."""
    name = f"{logical_name}_bkt{N_BUCKETS}_{_tag(sf_dir)}"
    if not spark.catalog.tableExists(name):
        path = os.path.join(_cache_base(), name)
        write_bucketed(df, name, path, [key], N_BUCKETS, sort_cols=[key])
    return name


def colocated_join(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    left_key: str,
    right_key: str,
    sf_dir: str,
) -> DataFrame:
    """Equi-join two fact tables through their bucketed layouts.

    The returned plan joins the bucketed scans directly; with broadcast
    disabled it is a SortMergeJoin with ZERO Exchange and zero Sort
    (asserted by tests/test_bucketing.py against the physical plan)."""
    ln = ensure_bucketed(spark, left, left_name, left_key, sf_dir)
    rn = ensure_bucketed(spark, right, right_name, right_key, sf_dir)
    lt, rt = spark.table(ln), spark.table(rn)
    return lt.join(rt, lt[left_key] == rt[right_key])


def clear_bucketed_artifacts(spark_or_none, sf_dir: str) -> None:
    """bench.py warm-up hook: drop bucketed tables + data dirs so the
    build cost is paid — and measured — inside the benchmark run."""
    tag = _tag(sf_dir)
    if spark_or_none is not None:
        for row in spark_or_none.sql("SHOW TABLES").collect():
            if row.tableName.endswith(tag):
                spark_or_none.sql(f"DROP TABLE IF EXISTS {row.tableName}")
    base = _cache_base()
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d.endswith(tag):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
