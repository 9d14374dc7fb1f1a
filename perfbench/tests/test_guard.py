"""The SQL guard's view of the benchmark's generated statements.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gen  # noqa: E402


@pytest.fixture(scope="module")
def spark_engine():
    from de_polars_spark.engine.core import SparkEngine
    from de_polars_spark.engine.session import get_spark

    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield SparkEngine(spark)
    # stopped before the smoke runs start their own sessions
    spark.stop()


def test_generated_statements_pass_the_guard_except_refusals(spark_engine):
    for seed in range(5):
        for block in gen.sql_blocks(seed, 10) + gen.dashboard_blocks(seed, 10):
            for req in block:
                if req["method"] != "POST":
                    continue
                sql = req["body"]["sql"]
                if req["kind"] == "refused":
                    with pytest.raises(PermissionError):
                        spark_engine.validate_select_only(sql)
                else:
                    spark_engine.validate_select_only(sql)


def test_library_files_are_selects_with_some_partitioning(spark_engine):
    lib = gen.sql_library(5)
    assert any("-- Partitioning:" in text for text in lib.values())
    for text in lib.values():
        spark_engine.validate_select_only(text)
