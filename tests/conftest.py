"""Shared fixtures: one SparkSession + one DuckDB oracle per test run."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[*]")
        .appName("de_polars_spark-tests")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def built_spark(spark):
    """``engine.session.get_spark()``: here the shared session above, made
    by another builder, which get_spark configures; its SQL conf is put
    back afterwards, so the other tests keep the one they were written
    against."""
    from de_polars_spark.engine.session import get_spark

    before = spark.conf.getAll
    yield get_spark("finops-engine")
    for key, value in spark.conf.getAll.items():
        if before.get(key) != value and spark.conf.isModifiable(key):
            if key in before:
                spark.conf.set(key, before[key])
            else:
                spark.conf.unset(key)
    spark.sparkContext.setLogLevel("ERROR")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()
