"""Embedding-vector maintenance: L2 normalization and matryoshka-style
dimension truncation.

The standard storage/serving prep for an embedding corpus: normalize so
cosine becomes a plain dot product, and truncate to a prefix of the
dimensions (matryoshka representation learning trains embeddings whose
prefixes are themselves usable — serving at d=64 instead of d=768 cuts
ANN memory ~12x) with a re-normalization after the cut.

Reference parity: none (the reference has no vector ops); beyond-parity
LLM-pipeline operator.

Scale shape: pure per-row expressions (``zip_with``/``aggregate``
folds, JVM-side, whole-stage codegen) — no shuffle, no UDF, no
collect. Determinism: the norm fold is sequential over ascending dims
(same order in any engine), divisions are IEEE double, outputs rounded
to 6dp before comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from de_polars_spark.functions.vectors import cosine as _cosine
from de_polars_spark.functions.vectors import norm as _norm


def l2_normalize(vec: Column) -> Column:
    """vec / ||vec|| (double arithmetic; zero vectors pass through)."""
    norm = _norm(vec)
    return F.when(norm == 0.0, vec).otherwise(
        F.transform(vec, lambda x: x / norm)
    )


def truncate_normalize(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """Per vector: full-dim norm, truncated-prefix norm, and the first
    component of the re-normalized truncated vector (a spot-check value
    pinning the whole renormalization without emitting ``dim`` columns).

    Output: ``(id, full_dim, full_norm, trunc_norm, lead_component)``.
    """
    v = F.col(vec_col).cast("array<double>")
    tv = F.slice(v, 1, dim)
    full_norm = _norm(v)
    trunc_norm = _norm(tv)
    return df.select(
        F.col(id_col),
        F.size(F.col(vec_col)).alias("full_dim"),
        F.round(full_norm, 6).alias("full_norm"),
        F.round(trunc_norm, 6).alias("trunc_norm"),
        F.round(
            F.element_at(tv, 1)
            / F.when(trunc_norm == 0.0, F.lit(1.0)).otherwise(trunc_norm),
            6,
        ).alias("lead_component"),
    )


def average_pool(
    df: DataFrame, group_col: str, vec_col: str
) -> DataFrame:
    """Element-wise average pooling of vectors per group — the chunk→doc
    embedding rollup (a document's embedding as the mean of its chunks'
    embeddings, the standard long-document retrieval representation).

    Shape: ``posexplode`` to (group, dim, value) — embarrassingly
    parallel — then ONE map-side-combinable aggregation per (group, dim)
    and a second tiny one per group. Mirrors the k-means centroid-update
    shuffle (operators/kmeans.py): nothing driver-side, nothing
    quadratic, state per group is dim-bounded.

    Determinism: per-dim means are decimal-quantized sums over counts
    (order-independent, engine-exact); the norm/sum reductions over the
    dim-indexed means re-quantize each product so the cross-dim sums are
    order-independent too.

    Output: ``(gid, n_members, pooled_norm, pooled_sum)`` — the pooled
    vector's L2 norm and component sum (rounded 6dp), with the full
    pooled vector recoverable by skipping the final rollup.
    """
    ex = df.select(
        F.col(group_col).alias("gid"),
        F.posexplode(
            F.col(vec_col).cast("array<double>")
        ).alias("dim", "val"),
    )
    dims = ex.groupBy("gid", "dim").agg(
        (
            F.sum(F.col("val").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    return dims.groupBy("gid").agg(
        F.max("n").cast("bigint").alias("n_members"),
        F.round(
            F.sqrt(
                F.sum((F.col("m") * F.col("m")).cast("decimal(38,6)")).cast(
                    "double"
                )
            ),
            6,
        ).alias("pooled_norm"),
        F.round(
            F.sum(F.col("m").cast("decimal(38,6)")).cast("double"), 6
        ).alias("pooled_sum"),
    )


def group_centroid_shift(
    df: DataFrame, group_col: str, vec_col: str
) -> DataFrame:
    """Pairwise cosine / L2 distance between per-group embedding
    centroids — the embedding-space drift matrix between corpus slices
    (sources, snapshots, quality tiers). Two slices whose centroids
    diverge sharply need separate mixture weights; two that coincide
    are near-duplicates at the distribution level (the corpus-level
    complement of the per-document PSI drift report).

    Scale shape: ``posexplode`` is map-side; the (group, dim) centroid
    aggregation is ONE shuffle whose output cardinality is
    n_groups x dims — the map-side partial aggregate compresses an
    arbitrarily large corpus to that bound before anything moves. The
    pairwise stage then runs over the tiny centroid table (self-join on
    dim, upper-triangle filter, one more map-side-combinable groupBy).

    Determinism: per-dim means are decimal-quantized sums over counts;
    the cross-dim dot/norm reductions re-quantize each product, so both
    stages are order-independent and engine-exact; outputs round 6dp.

    Output: ``(group_a, group_b, n_dims, cosine, l2_dist)``.
    """
    ex = df.select(
        F.col(group_col).alias("g"),
        F.posexplode(
            F.col(vec_col).cast("array<double>")
        ).alias("dim", "val"),
    )
    cent = ex.groupBy("g", "dim").agg(
        (
            F.sum(F.col("val").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )

    def _dsum(col: Column) -> Column:
        return F.sum(col.cast("decimal(38,6)")).cast("double")

    a, b = cent.alias("a"), cent.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim")) & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(F.col("a.g").alias("group_a"), F.col("b.g").alias("group_b"))
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            _dsum(F.col("a.c") * F.col("b.c")).alias("dot"),
            _dsum(F.col("a.c") * F.col("a.c")).alias("na2"),
            _dsum(F.col("b.c") * F.col("b.c")).alias("nb2"),
            _dsum(
                (F.col("a.c") - F.col("b.c")) * (F.col("a.c") - F.col("b.c"))
            ).alias("d2"),
        )
    )
    return pairs.select(
        "group_a",
        "group_b",
        F.col("n_dims").cast("bigint"),
        F.round(
            F.col("dot") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2"))), 6
        ).alias("cosine"),
        F.round(F.sqrt(F.col("d2")), 6).alias("l2_dist"),
    )


def int8_quantization_profile(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension int8 (0..255) quantization parameters and the
    reconstruction error they would cost — the go/no-go report before
    shrinking an embedding store 4x (float32 -> uint8 is the standard
    serving compression; whether it is safe depends on per-dimension
    range and the resulting MSE, both of which this computes exactly).

    Shape: ``posexplode`` is map-side; per-dim min/max is ONE map-side
    combinable shuffle with output cardinality = dims; the stats table
    rides a broadcast back onto the exploded stream, so the error pass
    adds no shuffle beyond the final per-dim aggregation. Nothing here
    grows with corpus size except the two dim-keyed combines.

    Determinism: min/max over doubles are exact; codes use
    ``floor(x + 0.5)`` (identical IEEE arithmetic in any engine — no
    round-half-to-even vs half-up divergence); the MSE sum is
    decimal-quantized so partial-aggregation order cannot change it.

    Output per dim: ``(dim, vmin, vmax, scale, mse, max_abs_err)``.
    """
    ex = df.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "dim", "val"
        )
    )
    stats = ex.groupBy("dim").agg(
        F.min("val").alias("vmin"), F.max("val").alias("vmax")
    )
    scale = F.when(
        F.col("vmax") > F.col("vmin"), (F.col("vmax") - F.col("vmin")) / F.lit(255.0)
    ).otherwise(F.lit(1.0))
    code = F.least(
        F.lit(255.0),
        F.greatest(
            F.lit(0.0),
            F.floor((F.col("val") - F.col("vmin")) / F.col("scale") + F.lit(0.5)),
        ),
    )
    err = (
        ex.join(F.broadcast(stats.withColumn("scale", scale)), "dim")
        .withColumn("code", code)
        .withColumn(
            "err", F.col("vmin") + F.col("code") * F.col("scale") - F.col("val")
        )
    )
    return (
        err.groupBy("dim", "vmin", "vmax", "scale")
        .agg(
            (
                F.sum((F.col("err") * F.col("err")).cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("mse"),
            F.max(F.abs(F.col("err"))).alias("max_abs_err"),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.round("vmin", 6).alias("vmin"),
            F.round("vmax", 6).alias("vmax"),
            F.round("scale", 6).alias("scale"),
            F.round("mse", 9).alias("mse"),
            F.round("max_abs_err", 6).alias("max_abs_err"),
        )
    )


def centroid_silhouette(
    df: DataFrame, id_col: str, label_col: str, vec_col: str
) -> DataFrame:
    """Per-label separation score from per-VECTOR centroid affinities —
    the label-quality gate for an embedding corpus: mean cosine of each
    vector to its own label centroid vs to its best other-label
    centroid (a centroid-based simplified silhouette; the exact
    silhouette's per-pair distances are O(N²) and add nothing at the
    label grain). Labels whose separation ~ 0 are not clusters — feed
    them back to relabeling before they poison a contrastive run.
    Complements :func:`group_centroid_shift` (centroid-to-centroid
    only, no per-vector dispersion).

    Shape: the centroid aggregation is one (label, dim) map-side
    combinable shuffle bounded by labels x dims, collapsed in-plan to
    per-label ARRAYS (labels rows) that ride a broadcast; each vector
    then scores against all centroids as per-row array folds — no
    exploded N x labels x dims stream ever exists (a first cut
    decimal-summed that stream and the BigDecimal accumulation, not
    the join, was ~3/4 of the runtime), and the only shuffle after the
    centroid build is the tiny label rollup.

    Determinism: centroid means are decimal-quantized sums
    (order-independent); the dot/norm folds are sequential over
    ascending dims (bit-identical to DuckDB's ``list_dot_product``,
    same as every ANN operator here); the best-other choice maxes over
    6dp-rounded cosines; label-rollup means are decimal-quantized.

    Output per label: ``(label, n_vecs, mean_self_cos,
    mean_best_other_cos, separation)``.
    """
    ex = df.select(
        F.col(label_col).alias("__clab"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "dim", "val"
        ),
    )
    cent = (
        ex.groupBy("__clab", "dim")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
        .groupBy("__clab")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("__s"))
        .select(
            "__clab", F.transform(F.col("__s"), lambda s: s["c"]).alias("carr")
        )
        .select("__clab", "carr", _norm(F.col("carr")).alias("cnorm"))
    )

    def _dsum(col: Column) -> Column:
        return F.sum(col.cast("decimal(38,6)")).cast("double")

    vecs = df.select(
        F.col(id_col).alias("__vid"),
        F.col(label_col).alias("__lab"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).select("__vid", "__lab", "v", _norm(F.col("v")).alias("vnorm"))
    affin = vecs.crossJoin(F.broadcast(cent)).select(
        "__vid",
        "__lab",
        "__clab",
        _cosine(F.col("v"), F.col("carr"), F.col("vnorm"), F.col("cnorm")).alias("cos"),
    )
    per_vec = affin.groupBy("__vid", "__lab").agg(
        F.max(F.when(F.col("__clab") == F.col("__lab"), F.col("cos"))).alias(
            "self_cos"
        ),
        F.max(F.when(F.col("__clab") != F.col("__lab"), F.col("cos"))).alias(
            "best_other"
        ),
    )
    return (
        per_vec.groupBy(F.col("__lab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(_dsum(F.col("self_cos")) / F.count(F.lit(1)), 6).alias(
                "mean_self_cos"
            ),
            F.round(_dsum(F.col("best_other")) / F.count(F.lit(1)), 6).alias(
                "mean_best_other_cos"
            ),
            F.round(
                (_dsum(F.col("self_cos")) - _dsum(F.col("best_other")))
                / F.count(F.lit(1)),
                6,
            ).alias("separation"),
        )
    )
