"""Vector math as JVM-side column expressions.

Everything here is built from higher-order functions (``zip_with`` /
``aggregate`` / ``transform``) — whole-stage-codegen'd per row, no Python
UDF, no shuffle. ``aggregate`` is a sequential left fold, so double sums
are order-deterministic (verified bit-identical to DuckDB's
``list_dot_product`` on the test embeddings).

Inputs are ``array<float>`` or ``array<double>``; cast to double FIRST
(``as_double``) so products are computed in double precision — multiplying
two floats in Spark yields a float, which would diverge from any
double-precision oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    # a Cast to array<double> is the same element-wise float->double
    # widening as transform(x -> x.cast("double")) but runs in codegen
    # (ArrayTransform's lambda evaluates interpreted)
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their norms ``na`` and ``nb``,
    rounded to 6 decimals: the value every cosine operator compares, ranks
    and reports, so ties and thresholds agree with a double-precision
    oracle. Pass the norms as attributes computed in a Project of their
    own (one fold per row, not one per pair)."""
    return F.round(dot(a, b) / (na * nb), 6)


def sign_bucket(vec: Column, dims: list[int]) -> Column:
    """Cheap LSH bucket id: concatenated sign bits of chosen dimensions.

    A deterministic stand-in for random-hyperplane LSH: unit-norm-ish
    embeddings hashed on the sign of ``len(dims)`` coordinates give
    2^len(dims) buckets; near-identical vectors land in the same bucket.
    ``dims`` are 1-based (element_at semantics).
    """
    bits = [
        F.when(F.element_at(vec, d) > 0, F.lit("1")).otherwise(F.lit("0"))
        for d in dims
    ]
    return F.concat(*bits)
