"""Test-dataset registration helpers.

Registers the driver-generated TPC-H-ish tables (TESTDATA.md) as temp
views so SQL and DataFrame code paths share one catalog. Reads are lazy;
Catalyst prunes columns/filters at the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from de_polars_spark.engine.session import registered
from de_polars_spark.sources.artifacts import manifest_tag

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table in ``sf_dir`` as a temp view; returns the frames.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark cannot type
    natively — read it as nanos-since-epoch (legacy long mode) and truncate
    to microseconds, matching how microsecond-resolution engines (and the
    DuckDB oracle) ingest the same file.

    Tables are registered once per session and source (SURVEY.md §3.1
    "register once, not per query"), so the 72-query inventory doesn't pay
    10 parquet footer reads + view registrations per query. The source is
    the dir and its file manifest: a view keeps the file listing it was
    created with, so a file rewritten under the same dir registers again.
    """

    def register() -> dict[str, DataFrame]:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        out: dict[str, DataFrame] = {}
        for name in TESTDATA_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            df = spark.read.parquet(path)
            if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            df.createOrReplaceTempView(name)
            out[name] = df
        return out

    return registered(spark, "testdata", (sf_dir, manifest_tag([sf_dir])), register)
