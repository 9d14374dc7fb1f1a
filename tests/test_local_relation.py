"""values_df: JVM-side local relations must be bit-identical to
createDataFrame over the supported type scope, and must execute with no
Python lineage (LocalTableScan plan)."""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from de_polars_spark.functions.local_relation import (
    literal_column,
    sql_literal,
    values_df,
)


def _rows(df):
    return sorted(map(str, df.collect()))


def _fuzz_doubles() -> list[float]:
    # raw 64-bit patterns -> doubles: the harshest round-trip corpus
    rng = random.Random(0xC0FFEE)
    vals = []
    while len(vals) < 500:
        v = struct.unpack("d", struct.pack("Q", rng.getrandbits(64)))[0]
        if not (math.isnan(v) or math.isinf(v)):
            vals.append(v)
    return vals + [0.0, -0.0, 5e-324, -5e-324, 1.7976931348623157e308, 1e-300]


def _same_bits(want: list[float], got: list[float]) -> None:
    assert len(want) == len(got)
    for w, g in zip(want, got):
        assert struct.pack("d", w) == struct.pack("d", g), (w, g)


def test_double_bit_exact_fuzz(spark):
    vals = _fuzz_doubles()
    rows = [(i, v) for i, v in enumerate(vals)]
    got = values_df(spark, rows, "i bigint, v double").collect()
    _same_bits(vals, [r["v"] for r in sorted(got, key=lambda r: r["i"])])


def test_double_bit_exact_fuzz_in_expression_context(spark):
    # the same renderer parsed as an expression literal (F.expr), not as
    # VALUES rows: a flat array, each value as its own scalar literal,
    # and values nested in a struct inside an array
    vals = _fuzz_doubles()
    one = spark.range(1)
    _same_bits(vals, one.select(F.expr(sql_literal(vals))).first()[0])
    scalars = one.select(*[F.expr(sql_literal(v)) for v in vals[:64]]).first()
    _same_bits(vals[:64], list(scalars))
    table = literal_column([{"i": i, "v": [v, -v]} for i, v in enumerate(vals)])
    got = one.select(table).first()[0]
    assert [r["i"] for r in got] == list(range(len(vals)))
    _same_bits([x for v in vals for x in (v, -v)], [x for r in got for x in r["v"]])


def test_literal_column_types_and_cast(spark):
    row = spark.range(1).select(
        literal_column([1, 2]).alias("a"),
        literal_column([1, 2], "array<int>").alias("b"),
        literal_column({"s": "it's", "d": 0.5, "n": None}).alias("c"),
        literal_column(("x", "y")).alias("d"),
    )
    assert row.dtypes == [
        ("a", "array<bigint>"),
        ("b", "array<int>"),
        ("c", "struct<s:string,d:double,n:void>"),
        ("d", "array<string>"),
    ]
    got = row.first()
    assert (got["a"], got["b"], got["d"]) == ([1, 2], [1, 2], ["x", "y"])
    assert got["c"].asDict() == {"s": "it's", "d": 0.5, "n": None}
    with pytest.raises(TypeError, match="field names must be str"):
        sql_literal({1: 2})


def test_special_doubles(spark):
    rows = [(0, float("nan")), (1, float("inf")), (2, float("-inf")), (3, None)]
    got = {r["i"]: r["v"] for r in values_df(spark, rows, "i int, v double").collect()}
    assert math.isnan(got[0])
    assert got[1] == float("inf")
    assert got[2] == float("-inf")
    assert got[3] is None


def test_string_escaping_roundtrip(spark):
    tricky = [
        "plain",
        "it's quoted",
        "back\\slash",
        "new\nline and\ttab",
        'double"quote',
        "unicode: héllo — 世界 🚀",
        "wind\\'up: mixed \\' sequence",
        "",
    ]
    rows = [(i, s) for i, s in enumerate(tricky)]
    reference = spark.createDataFrame(rows, "i int, s string")
    got = values_df(spark, rows, "i int, s string")
    assert _rows(got) == _rows(reference)


def test_nested_arrays_and_schema_match(spark):
    rows = [
        (1, [0.5, -0.25], [[1.0, 2.0], [3.0, 4.0]]),
        (2, [], None),
        (3, None, [[]]),
    ]
    schema = "id bigint, v array<double>, m array<array<double>>"
    reference = spark.createDataFrame(rows, schema)
    got = values_df(spark, rows, schema)
    # nullability may be TIGHTER (VALUES derives non-null from the data);
    # names and types must match exactly
    assert got.dtypes == reference.dtypes
    assert _rows(got) == _rows(reference)


def test_mixed_scalars_match_createdataframe(spark):
    rows = [
        (1, 2.5, "a", True, 7),
        (2, None, None, False, None),
        (-(2**62), -1e-9, "z", None, 0),
    ]
    schema = "a bigint, b double, c string, d boolean, e int"
    reference = spark.createDataFrame(rows, schema)
    got = values_df(spark, rows, schema)
    assert got.dtypes == reference.dtypes
    assert _rows(got) == _rows(reference)


def test_empty_rows_give_typed_empty_relation(spark):
    schema = "id bigint, v array<double>, s string"
    got = values_df(spark, [], schema)
    assert got.count() == 0
    assert got.dtypes == spark.createDataFrame([], schema).dtypes


def test_plan_is_jvm_local_scan(spark):
    df = values_df(spark, [(1, [0.5])], "id bigint, v array<double>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    # the whole point: no Python evaluation anywhere in the plan
    assert "Python" not in plan
    assert "Batch" not in plan or "ArrowEvalPython" not in plan


def test_row_cap_guard(spark):
    with pytest.raises(ValueError, match="driver-state"):
        values_df(spark, [(i,) for i in range(11)], "i int", max_rows=10)


def test_bigint_range_guard(spark):
    # unbounded Python ints must fail up front, not as a parser error
    with pytest.raises(TypeError, match="BIGINT range"):
        values_df(spark, [(2**63,)], "v bigint")
    # boundary values pass
    rows = [(-(2**63),), (2**63 - 1,)]
    got = sorted(r["v"] for r in values_df(spark, rows, "v bigint").collect())
    assert got == [-(2**63), 2**63 - 1]


def test_unsupported_types_fail_loudly(spark):
    with pytest.raises(TypeError, match="use createDataFrame"):
        values_df(spark, [({"k": 1},)], "m map<string,int>")
    import numpy as np

    with pytest.raises(TypeError, match="cannot render"):
        values_df(spark, [(np.float32(1.5),)], "v double")


def test_row_arity_mismatch_fails_loudly(spark):
    """Rows longer than the schema would render extra VALUES columns the
    CAST projection silently drops; shorter rows mis-align — both must
    raise, as createDataFrame does (ADVICE r5)."""
    with pytest.raises(ValueError, match="row 0 has 2 values for 1"):
        values_df(spark, [(1, 2)], "i int")
    with pytest.raises(ValueError, match="row 1 has 1 values for 2"):
        values_df(spark, [(1, 2), (3,)], "a int, b int")
