"""SemDeDup-style semantic deduplication: cluster, then prune in-cluster.

The two-stage shape from Abbas et al. 2023 ("SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): embeddings are
first bucketed by a coarse k-means assignment, then near-duplicate
pruning runs ONLY within each cluster — the all-pairs cosine step never
touches the full corpus, so cost is sum(|cluster|^2) instead of N^2.

Compared to the hash-blocked ``dedup.embedding_neardup_pairs`` (blocks =
a given label column), the blocks here are LEARNED from the vectors
themselves, which is what catches paraphrase-level duplicates that share
no exact surface features.

Spark shape (100 TB story):
1. assignment — broadcast the k centroids as one array row and compute
   the argmin entirely map-side (``kmeans._with_assignment``): no
   shuffle, no Python;
2. pair scan — one self-join keyed on the cluster id (a single shuffle
   on ``cid``); per-row norms are precomputed so each candidate pair
   pays exactly one dot product;
3. greedy survivor rule — a vector is dropped iff some lower-id vector
   in the same cluster is within the cosine threshold (the paper keeps
   one representative per epsilon-ball; lowest id is the deterministic
   stand-in for "the one closest to the centroid"). Aggregation over
   pairs, no iteration.

``max_cluster_size`` is the skew guard for the quadratic step: a
pathological mega-cluster (e.g. all-zero embeddings from a broken
encoder) would otherwise emit |cluster|^2 pairs. None = exact.

Determinism: distance fold and cosine are sequential double folds
(bit-identical to DuckDB's ``list_dot_product``; see functions/vectors),
cosine is rounded to 6 decimals before thresholding, argmin ties break
to the lower cid — so the whole operator is engine-reproducible and
oracle-checked end to end (no reference counterpart; beyond-parity
LLM-pipeline operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from de_polars_spark.functions import vectors as VX
from de_polars_spark.operators.kmeans import _with_assignment


def semantic_dedup_summary(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    seeds: list[list[float]],
    threshold: float,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Per-cluster dedup summary: ``(cid, n_members, n_dup_pairs,
    n_dropped, dropped_id_sum)``.

    ``n_dropped`` counts vectors with at least one lower-id in-cluster
    neighbor at ``cosine >= threshold`` (the greedy prune set);
    ``dropped_id_sum`` is the checksum of that set.
    """
    vecs = df.select(
        F.col(id_col), VX.as_double(F.col(vec_col)).alias("__v")
    )
    assigned = _with_assignment(vecs, id_col, seeds).select(
        F.col(id_col).alias("id"), "cid", "__v"
    )
    members = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    docs = assigned.select("id", "cid", "__v", VX.norm(F.col("__v")).alias("nrm"))
    if max_cluster_size is not None:
        docs = (
            docs.join(
                members.filter(F.col("n_members") <= max_cluster_size).select("cid"),
                "cid",
            )
        )
    a, b = docs.alias("a"), docs.alias("b")
    cos = VX.cosine(
        F.col("a.__v"), F.col("b.__v"), F.col("a.nrm"), F.col("b.nrm")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.cid").alias("cid"),
            F.col("b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    # ONE pass over the pair stream: grouping by (cid, id_b) first gives
    # both the pair count (sum of per-victim counts) and the distinct
    # dropped set (one row per victim) without a second scan — the naive
    # two-branch form (count agg + distinct agg) re-ran the whole
    # quadratic cosine join twice
    per_victim = pairs.groupBy("cid", "id_b").agg(
        F.count(F.lit(1)).alias("__k")
    )
    stats = per_victim.groupBy("cid").agg(
        F.sum("__k").alias("n_dup_pairs"),
        F.count(F.lit(1)).alias("n_dropped"),
        F.sum("id_b").alias("dropped_id_sum"),
    )
    return members.join(stats, "cid", "left").select(
        "cid",
        F.col("n_members").cast("long").alias("n_members"),
        F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
        F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        F.coalesce("dropped_id_sum", F.lit(0)).cast("long").alias(
            "dropped_id_sum"
        ),
    )
