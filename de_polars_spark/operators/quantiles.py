"""Exact distributed quantiles via bucketed two-phase rank.

Spark's built-in ``percentile_cont`` aggregates by merging per-partition
value/count buffers — per-group memory is O(distinct values), which for
a continuous column is the group size. A naive sort-based formulation
(``row_number`` over ``Window.partitionBy(group)``) has no buffer but a
worse cliff: every group is ONE window task, so a 3-value group key at
100 TB means three 33 TB sorts with parallelism 3.

The shape here is the classic two-phase distributed rank (all heavy
work JVM-side; the only driver state is two bounded aggregate reads —
G and G x B rows for G groups and B range buckets):

1. a seeded SAMPLE yields each group's approximate value range —
   boundaries only balance load, they never affect the answer, so
   neither the sampling error nor equi-width skew can change a result
   (a group so small the sample misses it falls into one bucket, which
   is exactly the cheap case);
2. each row is range-assigned a bucket via one codegen ``width_bucket``
   against the broadcast per-group range (map-only);
3. per-(group, bucket) EXACT counts — a tiny G x B aggregate, read to
   the driver — prefix-sum into exact global OFFSETS per bucket (group
   sizes come from the same exact counts, not the sample);
4. ``row_number`` within (group, bucket) + broadcast offset = exact
   global rank, with parallelism G x B instead of G.

``exact_quantiles`` exploits that it only needs the two rows bracketing
each requested fraction: with the offsets known driver-side, the bucket
HOLDING each bracket position is known before any sort, so the window
runs over at most 2 x |fractions| buckets per group — ~N x 2|fracs|/B
rows instead of N. Linear interpolation between the bracket rows IS the
SQL-standard ``percentile_cont`` / DuckDB ``quantile_cont`` definition:

    pos = (n - 1) * p          (0-based), lo = floor(pos), hi = ceil(pos)
    q   = v[lo] + (v[hi] - v[lo]) * (pos - lo)

Rows with equal values always share a bucket (assignment is by value),
so ranks among ties are resolved by the optional tiebreak columns — or
left arbitrary, which is still deterministic for quantiles because
bracket rows with equal values interpolate to the same result.

``with_global_rank`` exposes the rank itself (every row), for consumers
that need full positional structure (e.g. exact NTILE / equi-depth
histograms) without a single-task global sort.

The probe (phases 1-3: sampled bounds and exact per-bucket counts) is
memoized in-process in one bounded ``sources/artifacts.Memo``, keyed by
the input frame's ``plan_version`` (optimized plan, the files' manifest
and listing, the SQL conf), the probe kind, keys, value column and bucket
count: a repeated call over unchanged data skips both probe jobs, and a
filtered frame, a changed file or another conf is a new key. A frame
with no version (an RDD leaf, a cached table, a nondeterministic plan)
is probed fresh. ``clear_probe_memo`` empties it.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from de_polars_spark.sources.artifacts import Memo, plan_version

#: range-probe sample: error only skews bucket SIZES (load balance),
#: never the computed ranks
_BOUNDS_SAMPLE = 0.02
_BOUNDS_SEED = 421

#: probes the memo keeps (least recently used out first); an entry is the
#: G + G x B rows the probe collects anyway. bench.py clears it, then pays
#: the build under its own "artifact:quantile_probe" row.
MEMO_SIZE = 16
_PROBE_MEMO = Memo(MEMO_SIZE)


def clear_probe_memo() -> int:
    """Drop every memoized probe; returns the count."""
    return _PROBE_MEMO.clear()


def _default_buckets(df: DataFrame) -> int:
    return max(32, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))


def _memo_key(
    df: DataFrame, kind: str, keys: Sequence[str], value_col: str, n_buckets: int
) -> tuple | None:
    """The probe-memo key of one probe over ``df``, or ``None`` when ``df``
    has no ``plan_version``."""
    version = plan_version(df)
    if version is None:
        return None
    return (version, kind, tuple(keys), value_col, n_buckets)


def probe_bounds(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    n_buckets: int | None = None,
    kind: str = "quant",
) -> list | None:
    """The memoized sampled bounds rows ``(*keys, __blo, __bhi)`` of a
    previous :func:`exact_quantiles` / :func:`with_global_rank` probe over
    the SAME data/keys/value, or ``None`` when not memoized.

    Lets a caller derive a DIFFERENT probe's bounds arithmetically
    (e.g. ``|x - median|`` bounds from ``x`` bounds) instead of paying a
    fresh sample scan — valid because bounds only balance load, they
    never affect a computed rank or quantile (module contract above)."""
    if n_buckets is None:
        n_buckets = _default_buckets(df)
    key = _memo_key(df, kind, keys, value_col, n_buckets)
    hit = _PROBE_MEMO.get(key) if key is not None else None
    return list(hit[0]) if hit is not None else None


def _nullsafe_key_join(
    left: DataFrame, right: DataFrame, on: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Equi-join treating NULL keys as equal (``<=>``), dropping the
    right side's join columns like the names-list join form does.

    A plain names-list join never matches NULL keys, silently dropping
    (inner) or un-bucketing (left) rows whose group key is NULL — but a
    NULL key is a real group under Window.partitionBy semantics, which
    this operator family replaces.
    """
    cond = None
    for k in on:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    return left.join(right, cond, how).drop(*[right[k] for k in on])


def _bucket_expr(value_col: str, n_buckets: int):
    """Range-bucket assignment as a single codegen-able ``width_bucket``.

    Equi-WIDTH over the sampled [min, max] — measured 6-8x cheaper per
    row than any per-boundary form (a higher-order
    ``filter(bounds, b -> v > b)`` runs its lambda interpreted per
    element; an expression-level binary search blows up the codegen tree
    instead). Skewed value distributions make the buckets uneven, which
    only costs balance, never exactness — equal values always share a
    bucket and the assignment is monotone in the value. NULL values and
    a group the sample missed (NULL min/max after the left join) both
    coalesce to bucket 0, matching ASC NULLS FIRST rank order; NaN is
    routed explicitly to bucket ``n_buckets + 2`` because Spark's sort
    order places NaN LAST (greater than any double) while
    ``width_bucket(NaN, ...)`` returns NULL — without the explicit
    branch a NaN row would coalesce to bucket 0 and receive a rank near
    0 instead of near N. ``n_buckets + 2`` stays strictly above
    ``width_bucket``'s own overflow cell ``n_buckets + 1`` (values
    above the sampled max, which still sort BELOW NaN).
    """
    v, lo, hi = F.col(value_col), F.col("__blo"), F.col("__bhi")
    vd = v.cast("double")
    return F.when(F.isnan(vd), F.lit(n_buckets + 2)).otherwise(
        F.coalesce(
            F.when(
                lo < hi,
                F.width_bucket(
                    vd,
                    lo.cast("double"),
                    hi.cast("double"),
                    F.lit(n_buckets),
                ),
            ),
            F.lit(0),
        )
    )


def _bucketize(df, keys, value_col, n_buckets, memo_key=None, bounds_rows=None):
    """Phases 1-3: range-bucket every row; return the tagged frame plus
    the driver-side group sizes and per-bucket offsets.

    Returns ``(tagged, sizes, offsets)`` where ``tagged`` carries
    ``__bucket``, ``sizes`` maps key-tuple -> exact group size and
    ``offsets`` maps key-tuple -> {bucket: exclusive prefix count}.
    Driver memory is G + G x B rows — bounded by construction (this
    operator targets LOW-cardinality group keys; a high-cardinality key
    never needed a distributed rank in the first place).

    ``memo_key`` (``_memo_key``; ``None`` probes fresh) reuses a previous
    call's probe — both bounded collects are skipped; the tagged frame is
    rebuilt lazily (free) from the memoized bounds rows.

    ``bounds_rows`` (opt-in): caller-supplied sampled-range rows
    ``(*keys, __blo DOUBLE, __bhi DOUBLE)`` replacing the sample scan
    (collect #1) — e.g. derived arithmetically from another probe's
    bounds (:func:`probe_bounds`). Bounds only balance load, never a
    result, so ANY finite ranges are valid; the exact counts (collect
    #2) still run. Ignored on a memo hit.
    """
    spark = df.sparkSession

    def _tag(bounds_df):
        # LEFT join: a group the sample missed entirely has no range
        # row; its rows coalesce to bucket 0 (single-bucket group —
        # exact, just unsplit). Null-safe on the keys: a NULL group key
        # is a real group (Window.partitionBy semantics), so it must
        # match its own bounds row rather than fall to the unsplit path.
        return (
            _nullsafe_key_join(df, bounds_df, keys, "left")
            if keys
            else df.crossJoin(bounds_df)
        ).withColumn(
            "__bucket", _bucket_expr(value_col, n_buckets).cast("int")
        ).drop("__blo", "__bhi")

    hit = _PROBE_MEMO.get(memo_key) if memo_key is not None else None
    if hit is not None:
        b_rows, b_schema, sizes, offsets = hit
        bounds = F.broadcast(spark.createDataFrame(b_rows, b_schema))
        return _tag(bounds), sizes, offsets

    if bounds_rows is not None:
        b_schema = T.StructType(
            [T.StructField(k, df.schema[k].dataType, True) for k in keys]
            + [
                T.StructField("__blo", T.DoubleType(), True),
                T.StructField("__bhi", T.DoubleType(), True),
            ]
        )
        bounds_rows = [tuple(r) for r in bounds_rows]
        bounds = F.broadcast(spark.createDataFrame(bounds_rows, b_schema))
        agg_schema = b_schema
    else:
        # NaN-free range probe: max() of doubles returns NaN whenever any
        # sampled value is NaN (NaN sorts greatest), which would poison the
        # width_bucket range for the whole group; NaN rows get their own
        # bucket in _bucket_expr regardless.
        clean = F.when(
            ~F.isnan(F.col(value_col).cast("double")), F.col(value_col)
        )
        agg = (
            df.sample(_BOUNDS_SAMPLE, seed=_BOUNDS_SEED)
            .groupBy(*keys)
            .agg(F.min(clean).alias("__blo"), F.max(clean).alias("__bhi"))
        )
        # bounded collect #1 (G rows): materializing the sampled range as a
        # local relation keeps downstream branches from re-running the
        # scan+sample (lazily shared lineage re-executes per consuming
        # branch). Values outside the sampled range land in width_bucket's
        # overflow cells 0 / B+1 — still valid range buckets.
        bounds_rows = agg.collect()
        agg_schema = agg.schema
        bounds = F.broadcast(spark.createDataFrame(bounds_rows, agg.schema))
    tagged = _tag(bounds)
    cnt_agg = tagged.groupBy(*keys, "__bucket").agg(
        F.count("*").alias("__bcnt")
    )
    # bounded collect #2 (G x B rows): EXACT per-bucket counts -> group
    # sizes and offsets (full-data aggregate, independent of the sample)
    per_bucket: dict = {}
    for r in cnt_agg.collect():
        per_bucket.setdefault(tuple(r[k] for k in keys), {})[
            r["__bucket"]
        ] = r["__bcnt"]
    sizes = {key: sum(b.values()) for key, b in per_bucket.items()}
    offsets = {}
    for key, buckets in per_bucket.items():
        cum = 0
        offs = {}
        for b in sorted(buckets):
            offs[b] = cum
            cum += buckets[b]
        offsets[key] = offs
    if memo_key is not None:
        _PROBE_MEMO.put(memo_key, (bounds_rows, agg_schema, sizes, offsets))
    return tagged, sizes, offsets


def _offsets_df(spark, keys, key_types, offsets, sizes):
    """Local relation (key..., __bucket, __offset, __n) from the driver
    maps — broadcast back so every row learns its bucket's global offset
    and its group's exact size."""
    schema = T.StructType(
        [T.StructField(k, t, True) for k, t in zip(keys, key_types)]
        + [
            T.StructField("__bucket", T.IntegerType(), False),
            T.StructField("__offset", T.LongType(), False),
            T.StructField("__n", T.LongType(), False),
        ]
    )
    rows = [
        (*key, int(b), int(off), int(sizes[key]))
        for key, offs in offsets.items()
        for b, off in offs.items()
    ]
    return spark.createDataFrame(rows, schema)


def with_global_rank(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    tiebreaks: Sequence[str] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """Attach ``__rn`` (0-based exact rank of ``value_col`` + tiebreaks
    within each key group) and ``__n`` (exact group size) to every row.

    ``n_buckets`` defaults to the session's shuffle parallelism so the
    per-bucket local sorts stay at ~(group size / parallelism) rows at
    any scale; raise it for very large groups. The probe is memoized
    (``_PROBE_MEMO``).
    """
    keys = list(keys)
    if n_buckets is None:
        n_buckets = _default_buckets(df)
    memo_key = _memo_key(df, "rank", keys, value_col, n_buckets)
    tagged, sizes, offsets = _bucketize(
        df, keys, value_col, n_buckets, memo_key=memo_key
    )
    key_types = [df.schema[k].dataType for k in keys]
    odf = _offsets_df(df.sparkSession, keys, key_types, offsets, sizes)
    w_local = Window.partitionBy(*keys, "__bucket").orderBy(
        value_col, *tiebreaks
    )
    return (
        _nullsafe_key_join(tagged, F.broadcast(odf), keys + ["__bucket"])
        .withColumn(
            "__rn", F.col("__offset") + F.row_number().over(w_local) - 1
        )
        .drop("__bucket", "__offset")
    )


def exact_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    fractions: Sequence[float],
    round_dp: int = 6,
    n_buckets: int | None = None,
    bounds_rows: Sequence | None = None,
) -> DataFrame:
    """One row per key group: ``p<frac>`` columns + ``n_items``.

    Output column names: ``p25`` for 0.25, ``p999`` for 0.999, etc.

    The probe is memoized (``_PROBE_MEMO``) and is independent of
    ``fractions`` (bounds + counts only), so a median pass and a
    multi-point profile over the same data share it.

    ``bounds_rows``: opt-in caller-supplied sampled ranges
    ``(*keys, lo, hi)`` replacing the probe's sample scan — e.g.
    derived from another probe via :func:`probe_bounds`. Load-balance
    only; cannot change any quantile (see ``_bucketize``).
    """
    keys = list(keys)
    if n_buckets is None:
        n_buckets = _default_buckets(df)
    src = df.select(*keys, F.col(value_col).alias("__v"))
    memo_key = _memo_key(df, "quant", keys, value_col, n_buckets)
    tagged, sizes, offsets = _bucketize(
        src, keys, "__v", n_buckets, memo_key=memo_key, bounds_rows=bounds_rows
    )

    # driver-side: which bucket holds each bracket position? Only those
    # buckets need ranking — the window input shrinks from N to
    # ~N x 2|fracs| / B rows per group.
    needed: dict = {}
    for key, n in sizes.items():
        offs = offsets.get(key, {0: 0})
        order = sorted(offs)
        positions = set()
        for p in fractions:
            pos = (n - 1) * p
            positions.add(math.floor(pos))
            positions.add(math.ceil(pos))
        for pos in positions:
            # rightmost bucket whose offset <= pos
            hold = order[0]
            for b in order:
                if offs[b] <= pos:
                    hold = b
                else:
                    break
            needed.setdefault(key, {})[hold] = offs[hold]
    key_types = [src.schema[k].dataType for k in keys]
    ndf = _offsets_df(src.sparkSession, keys, key_types, needed, sizes)

    w_local = Window.partitionBy(*keys, "__bucket").orderBy("__v")
    ranked = _nullsafe_key_join(
        tagged, F.broadcast(ndf), keys + ["__bucket"]
    ).withColumn("__rn", F.col("__offset") + F.row_number().over(w_local) - 1)

    # keep only bracket rows: __rn == floor(pos) or ceil(pos) for some p
    keep = None
    for p in fractions:
        pos = (F.col("__n") - 1) * F.lit(p)
        hit = (F.col("__rn") == F.floor(pos)) | (F.col("__rn") == F.ceil(pos))
        keep = hit if keep is None else keep | hit
    brackets = ranked.where(keep)

    def name(p: float) -> str:
        return "p" + str(p)[2:].rstrip("0").ljust(2, "0")

    aggs = []
    for p in fractions:
        # row-level bracket predicates may use __rn/__n; the interpolation
        # fraction must be rebuilt from the aggregated count
        row_pos = (F.col("__n") - 1) * F.lit(p)
        lo_v = F.max(F.when(F.col("__rn") == F.floor(row_pos), F.col("__v")))
        hi_v = F.max(F.when(F.col("__rn") == F.ceil(row_pos), F.col("__v")))
        agg_pos = (F.max("__n") - 1) * F.lit(p)
        frac = agg_pos - F.floor(agg_pos)
        aggs.append(
            F.round(lo_v + (hi_v - lo_v) * frac, round_dp).alias(name(p))
        )
    return brackets.groupBy(*keys).agg(
        *aggs, F.max("__n").alias("n_items")
    )
