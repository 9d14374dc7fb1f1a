"""JVM-side local relations from small Python row sets.

``spark.createDataFrame(list_of_rows)`` builds a PYTHON-backed local
relation: the rows travel as pickled RDD partitions, so EVERY job whose
lineage includes them round-trips through a Python worker at execution
time. Measured on this container: writing an 8-row centroid table built
that way costs 5-12 s per action (worker spawn + pickle round trip);
the same rows rendered as one parsed ``VALUES`` statement cost 0.3 s,
because Catalyst folds the literal rows into a ``LocalTableScan`` —
pure JVM, no Python anywhere in the executor path. For the small
driver-state relations this engine broadcasts into scans (k-means
centroid blocks, PQ codebooks, pricing dimensions, probe-key lists,
drift-monitor bucket spines), that Python round trip IS the cost — the
data itself is a few kilobytes.

``values_df`` renders the rows as ``SELECT CAST(...) ... FROM VALUES``
instead. Two properties matter beyond speed:

- **Bit-exact doubles.** Floats are rendered with ``repr()`` — the
  shortest decimal that round-trips the IEEE-754 value — plus Spark's
  ``D`` suffix, and ``Double.parseDouble`` is correctly rounded, so
  every double survives the SQL text round trip bit-for-bit
  (fuzz-tested over raw 64-bit patterns in
  tests/test_local_relation.py). No oracle-visible value changes.
- **Codegen-stable plans.** The rows enter the plan as DATA in a
  ``LocalTableScan``, not as literal expressions, so downstream
  generated code is byte-identical across changing values — the
  codegen-cache property ``kmeans._with_assignment`` depends on (a
  literal-array encoding would recompile the assignment expression
  every Lloyd round).

One visible (and harmless) delta vs ``createDataFrame``: column
NULLABILITY may come out tighter (``VALUES`` derives non-null flags
from the data; ``createDataFrame`` marks everything nullable). Names,
types, and values are identical — and a tighter nullable flag only
gives the optimizer more, never different, information.

Scope: bigint/int/double/float/string/boolean columns and arbitrarily
nested ``array<...>`` of those. Anything else (maps, structs, decimals,
dates) raises ``TypeError`` — keep using ``createDataFrame`` there.
Row count is capped (default 10 000): this is a driver-state channel,
not a data-ingest path.

The same renderer, :func:`sql_literal`, also serves EXPRESSION literals:
:func:`literal_column` parses one rendered value (scalars, nested
arrays, and ``dict`` -> ``named_struct``) as one ``Column``. Operators
use it for their constant driver-side data (IVF centroid tables, MinHash
seed suffixes, stopword lists): building the same constant from
``F.lit`` per element costs ~3 py4j round trips PER ELEMENT (an
8-centroid x 64-d table built that way was ~3,300 round trips per
expression), while one parsed literal costs a constant handful whatever
its size. Catalyst folds the parsed ``array(...)``/``named_struct(...)``
into one ``Literal``, and the doubles are bit-exact for the same reason
as above (also fuzz-tested in expression context). The text holds only
literals, never a caller's ``Column``: a column's SQL rendering does
not quote identifiers.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["literal_column", "sql_literal", "values_df"]

_SCALAR_TYPES = {
    "bigint",
    "long",
    "int",
    "integer",
    "smallint",
    "tinyint",
    "double",
    "float",
    "string",
    "boolean",
}


def _split_schema(schema: str) -> list[tuple[str, str]]:
    """Split a DDL schema string into (name, type) pairs.

    Commas inside ``array<...>`` nest via angle-bracket depth; map/struct
    types are rejected up front (their literal rendering is out of scope).
    """
    cols: list[tuple[str, str]] = []
    depth = 0
    start = 0
    parts: list[str] = []
    for i, ch in enumerate(schema):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(schema[start:i])
            start = i + 1
    parts.append(schema[start:])
    for part in parts:
        part = part.strip()
        name, _, typ = part.partition(" ")
        typ = typ.strip().lower()
        if not name or not typ:
            raise ValueError(f"malformed schema column: {part!r}")
        base = typ
        while base.startswith("array<") and base.endswith(">"):
            base = base[6:-1].strip()
        if base not in _SCALAR_TYPES:
            raise TypeError(
                f"values_df supports scalars and array<...> of scalars; "
                f"column {name!r} has type {typ!r} — use createDataFrame"
            )
        cols.append((name, typ))
    return cols


def sql_literal(v) -> str:
    """One value as a Spark SQL literal, exact under re-parse.

    Lists and tuples render as ``array(...)``, dicts (string keys, in
    insertion order) as ``named_struct(...)``."""
    if v is None:
        return "NULL"
    # bool before int: bool is an int subclass
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if not -(2**63) <= v < 2**63:
            # Python ints are unbounded; a literal outside long range
            # would surface as a confusing parser error downstream
            raise TypeError(f"integer {v} exceeds BIGINT range")
        return f"{v}L"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        # repr = shortest round-trip decimal; D = double literal — parse
        # is correctly rounded, so the bits survive exactly
        return f"{v!r}D"
    if isinstance(v, str):
        escaped = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    if isinstance(v, (list, tuple)):
        return f"array({', '.join(sql_literal(x) for x in v)})"
    if isinstance(v, dict):
        fields = []
        for name, x in v.items():
            if not isinstance(name, str):
                raise TypeError(f"struct field names must be str, got {name!r}")
            fields += [sql_literal(name), sql_literal(x)]
        return f"named_struct({', '.join(fields)})"
    # numpy scalars and other exotica: refuse rather than guess — a
    # float32 rendered as its repr would NOT round-trip the caller's
    # intent, and silent coercion here would corrupt oracle hashes
    raise TypeError(f"sql_literal cannot render {type(v).__name__!r} literals")


def values_df(
    spark: SparkSession,
    rows: list[tuple],
    schema: str,
    max_rows: int = 10_000,
) -> DataFrame:
    """Small local relation as a JVM ``LocalTableScan`` (no Python path).

    Drop-in for ``spark.createDataFrame(rows, schema)`` within the
    supported type scope; results are bit-identical (see module doc).
    """
    cols = _split_schema(schema)
    if len(rows) > max_rows:
        raise ValueError(
            f"values_df is a driver-state channel, got {len(rows)} rows "
            f"(cap {max_rows}) — distribute real data as files instead"
        )
    # arity check: rows longer than the column list would render extra
    # VALUES columns that the CAST projection silently DROPS (and
    # shorter rows would mis-align) — createDataFrame raises here, and
    # a drop-in replacement must too (ADVICE r5)
    for i, row in enumerate(rows):
        if len(row) != len(cols):
            raise ValueError(
                f"values_df row {i} has {len(row)} values for "
                f"{len(cols)} schema columns"
            )
    # CAST every column to the declared type: VALUES-side literals are
    # rendered wide (bigint/double) and the cast pins the exact schema,
    # including NULL-only and empty-array columns whose literal type
    # would otherwise be void
    projection = ", ".join(
        f"CAST(col{i + 1} AS {typ}) AS `{name}`"
        for i, (name, typ) in enumerate(cols)
    )
    if not rows:
        # VALUES needs >= 1 tuple; an empty relation comes from range(0)
        # (also a JVM-side scan, no Python lineage)
        return spark.range(0).select(
            *[_null_col(typ).alias(name) for name, typ in cols]
        )
    tuples = ", ".join(
        "(" + ", ".join(sql_literal(v) for v in row) + ")" for row in rows
    )
    return spark.sql(f"SELECT {projection} FROM VALUES {tuples}")


def literal_column(v, typ: str | None = None) -> Column:
    """One driver-side constant as ONE parsed literal expression.

    A constant number of py4j round trips whatever the size of ``v``
    (see module doc). ``typ`` casts the literal (e.g. ``array<int>``:
    integers render as BIGINT)."""
    text = sql_literal(v)
    return F.expr(text if typ is None else f"CAST({text} AS {typ})")


def _null_col(typ: str):
    return F.lit(None).cast(typ)
