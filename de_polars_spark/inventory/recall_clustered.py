"""Clustered-embedding recall fixtures (round-6, VERDICT r5 item 4).

The synthetic ``embeddings`` table is uniform on the unit sphere — the
worst case for every locality index, which puts a FLOOR under the
recall evals (IVF recall ~0.6s, bitext IVF pair recall 0.74, PQ recall
"honestly low"). Real corpora cluster. This module derives a
mixture-of-Gaussians-like table DETERMINISTICALLY from the existing
data — portable to both engines, so the DuckDB oracle reproduces the
exact same vectors:

    centroid(label) = embedding of the label's min-vec_id member
    v_clustered     = normalize(centroid(label) + ALPHA * embedding)

With ALPHA = 0.25 the 10 label clusters are tight around 10 near-
orthogonal unit centroids (uniform 64-d vectors are near-orthogonal),
which is the regime IVF/PQ/bitext mining are DESIGNED for. The uniform
queries stay in the inventory as the adversarial floor; the clustered
twins demonstrate the >0.9-recall operating point.

Scale design: the derivation is one broadcast join (10 centroid rows)
plus map-side array arithmetic — no extra shuffle at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_polars_spark.operators import similarity
from de_polars_spark.sources.registry import register_testdata
from de_polars_spark.inventory.training_ops import (
    _BITEXT_K,
    _BITEXT_NLIST,
    _BITEXT_NPROBE,
    _CENT_COS_XC,
    _COS,
)

QUERIES: dict = {}
ORACLES: dict = {}

_ALPHA = "0.25"  # rendered into BOTH engines' arithmetic verbatim

#: DuckDB CTE chain ending in ``e(vec_id, label, v)`` — the clustered
#: corpus every oracle below builds on (same column shape as the
#: uniform ``e`` in llm_ops/training_ops oracles).
CLUSTERED_E = f"""
    base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS bv
             FROM embeddings),
    cent0 AS (
        SELECT label, bv AS cv0 FROM (
            SELECT label, bv,
                   ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
            FROM base) c WHERE rn = 1),
    mixed AS (
        SELECT b.vec_id, b.label,
               list_transform(list_zip(c.cv0, b.bv),
                              z -> z[1] + {_ALPHA} * z[2]) AS uv
        FROM base b JOIN cent0 c USING (label)),
    normed AS (
        SELECT vec_id, label, uv,
               sqrt(list_aggregate(list_transform(uv, y -> y * y), 'sum'))
                   AS nrm
        FROM mixed),
    e AS (SELECT vec_id, label,
                 list_transform(uv, x -> x / nrm) AS v
          FROM normed)"""


def clustered_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`CLUSTERED_E` — identical arithmetic in the
    identical order (cast to double, centroid + ALPHA*v element-wise,
    index-order square-sum, sqrt, divide), so the derived vectors agree
    with the oracle's to the last ulp that 6-decimal rounding can see."""
    from pyspark.sql import Window

    t = register_testdata(spark, sf_dir)
    emb = t["embeddings"].select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("bv")
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    cent = (
        emb.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", F.col("bv").alias("cv0"))
    )
    alpha = float(_ALPHA)
    mixed = emb.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.zip_with("cv0", "bv", lambda c, b: c + F.lit(alpha) * b).alias("uv"),
    )
    nrm = F.sqrt(F.aggregate("uv", F.lit(0.0), lambda acc, x: acc + x * x))
    return mixed.select(
        "vec_id", "label", F.transform("uv", lambda x: x / nrm).alias("embedding")
    )


# ---------------------------------------------------------------- #
# IVF recall on clustered vectors. Same index family and parameters #
# as ann_recall_eval (nlist=8 sampled centroids, nprobe=2, k=3) but  #
# 20 queries (%25) for a tighter recall estimate. Uniform floor:     #
# ann_recall_eval; this is the designed-for operating point.         #
# ---------------------------------------------------------------- #
_RC_K = 3
_RC_NPROBE = 2
_RC_QMOD = 25


def q_ann_recall_eval_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.inventory.llm_ops import _ivf_recall

    # checkpoint: exact baseline, centroid sampler, and IVF probe all
    # re-reference the derived corpus (window+join lineage)
    corpus = clustered_embeddings(spark, sf_dir).localCheckpoint()
    return _ivf_recall(corpus, _RC_QMOD, _RC_K, _RC_NPROBE)


_QE = _COS.format(a="q.v", b="e.v")
QUERIES["ann_recall_eval_clustered"] = q_ann_recall_eval_clustered
ORACLES["ann_recall_eval_clustered"] = f"""
    WITH {CLUSTERED_E},
    q AS (SELECT * FROM e WHERE vec_id % {_RC_QMOD} = 0),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_QE} DESC, e.vec_id) AS rank
            FROM q JOIN e ON q.vec_id <> e.vec_id
        ) WHERE rank <= {_RC_K}
    ),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % 67 = 1 ORDER BY vec_id LIMIT 8),
    assign AS (
        SELECT vec_id, v, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS_XC} DESC, c.cid DESC) AS rn
            FROM e x CROSS JOIN cents c) a
        WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS_XC} DESC, c.cid DESC) AS rn
            FROM (SELECT * FROM e WHERE vec_id % {_RC_QMOD} = 0) x
            CROSS JOIN cents c) p
        WHERE rn <= {_RC_NPROBE}),
    ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_COS.format(a="p.qv", b="a.v")} DESC,
                                a.vec_id) AS rank
            FROM probes p JOIN assign a
              ON p.cell = a.cell AND p.query_id <> a.vec_id
        ) WHERE rank <= {_RC_K}
    ),
    hits AS (
        SELECT i.query_id, COUNT(*) AS c
        FROM ivf i JOIN exact x USING (query_id, neighbor_id)
        GROUP BY 1
    ),
    qn AS (SELECT query_id, COUNT(*) AS k FROM exact GROUP BY 1)
    SELECT qn.query_id,
           CAST(COALESCE(c, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(c, 0) / CAST(k AS DOUBLE), 6) AS recall
    FROM qn LEFT JOIN hits USING (query_id)
"""


# ---------------------------------------------------------------- #
# Bitext IVF pair recall on a PAIRED clustered corpus: margin        #
# mining's designed regime is "every A-side sentence has one true    #
# B-side translation, embedded nearby". Derive it deterministically: #
# side A = the clustered vector; side B (id + 1_000_000) =           #
# normalize(v + BETA * reverse(v)) — a ~0.98-cosine partner that     #
# stays in A's cluster (so IVF routes both to the same cell), while  #
# same-cluster distractors sit at ~0.94. Run BOTH miners (exact      #
# margin-mutual-NN and the IVF-routed sibling) and report pair-set   #
# recall in one row — the measured counterpart of training_ops'      #
# 0.74 uniform floor. Subsetted (vec_id % SUBMOD = 0) to bound the   #
# exact miner's A x B cross join at bench scale.                     #
# ---------------------------------------------------------------- #

_BETA = "0.2"
_BT_SUBMOD = 5
_B_ID_OFFSET = 1_000_000

#: extends CLUSTERED_E with a paired two-sided corpus ``e2(vec_id,
#: label, v)``: label 0 = A side, label 1 = the derived translations.
PAIRED_E2 = f"""
    sub AS (SELECT vec_id, v FROM e WHERE vec_id % {_BT_SUBMOD} = 0),
    bmix AS (
        SELECT vec_id,
               list_transform(list_zip(v, list_reverse(v)),
                              z -> z[1] + {_BETA} * z[2]) AS uv
        FROM sub),
    bnorm AS (
        SELECT vec_id, uv,
               sqrt(list_aggregate(list_transform(uv, y -> y * y), 'sum'))
                   AS nrm
        FROM bmix),
    e2 AS (
        SELECT vec_id, 0 AS label, v FROM sub
        UNION ALL
        SELECT vec_id + {_B_ID_OFFSET} AS vec_id, 1 AS label,
               list_transform(uv, x -> x / nrm) AS v
        FROM bnorm)"""


def paired_bitext_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`PAIRED_E2` (same arithmetic, same order)."""
    beta = float(_BETA)
    sub = clustered_embeddings(spark, sf_dir).filter(
        F.col("vec_id") % _BT_SUBMOD == 0
    )
    a_side = sub.select("vec_id", F.lit(0).alias("label"), "embedding")
    bmix = sub.select(
        "vec_id",
        F.zip_with(
            "embedding",
            F.reverse("embedding"),
            lambda v, r: v + F.lit(beta) * r,
        ).alias("uv"),
    )
    nrm = F.sqrt(F.aggregate("uv", F.lit(0.0), lambda acc, x: acc + x * x))
    b_side = bmix.select(
        (F.col("vec_id") + F.lit(_B_ID_OFFSET)).alias("vec_id"),
        F.lit(1).alias("label"),
        F.transform("uv", lambda x: x / nrm).alias("embedding"),
    )
    return a_side.unionByName(b_side)


def _bitext_exact_ctes(p: str, src: str = "e") -> str:
    """Exact-miner CTE chain over ``src``, prefixed so it composes with
    the IVF chain in one WITH; ends in ``{p}sel(id_a, id_b)``. Mirrors
    ORACLES['bitext_margin_mining'] (training_ops.py)."""
    ab = _COS.format(a="a.v", b="b.v")
    return f"""
    {p}scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {ab} AS cosine
        FROM (SELECT * FROM {src} WHERE label = 0) a
        CROSS JOIN (SELECT * FROM {src} WHERE label = 1) b
    ),
    {p}ranked AS (
        SELECT {p}scored.*,
               ROW_NUMBER() OVER (PARTITION BY id_a
                                  ORDER BY cosine DESC, id_b) AS rank_a,
               ROW_NUMBER() OVER (PARTITION BY id_b
                                  ORDER BY cosine DESC, id_a) AS rank_b
        FROM {p}scored
    ),
    {p}avg_a AS (
        SELECT id_a, CAST(SUM(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
                     / {_BITEXT_K}.0 AS avg_a
        FROM {p}ranked WHERE rank_a <= {_BITEXT_K} GROUP BY 1
    ),
    {p}avg_b AS (
        SELECT id_b, CAST(SUM(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
                     / {_BITEXT_K}.0 AS avg_b
        FROM {p}ranked WHERE rank_b <= {_BITEXT_K} GROUP BY 1
    ),
    {p}sel AS (
        SELECT m.id_a, m.id_b
        FROM {p}ranked m
        JOIN {p}avg_a USING (id_a)
        JOIN {p}avg_b USING (id_b)
        WHERE m.rank_a = 1 AND m.rank_b = 1
          AND m.cosine / ((avg_a + avg_b) / 2) > 1.0
    )"""


def _bitext_ivf_ctes(p: str, src: str = "e") -> str:
    """IVF-miner CTE chain over ``src``; ends in ``{p}sel(id_a, id_b)``.
    Mirrors ORACLES['bitext_margin_mining_ivf'] (training_ops.py)."""
    return f"""
    {p}cents AS (SELECT vec_id AS cid, v AS cv FROM {src}
                 WHERE vec_id % 67 = 1 ORDER BY vec_id LIMIT {_BITEXT_NLIST}),
    {p}asg AS (
        SELECT vec_id, label, v, cid, ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_CENT_COS_XC} DESC, c.cid DESC) AS rn
        FROM {src} x CROSS JOIN {p}cents c
    ),
    {p}cells AS (SELECT vec_id, label, v, cid AS cell FROM {p}asg WHERE rn = 1),
    {p}probes AS (SELECT vec_id, label, v, cid AS probe FROM {p}asg
                  WHERE rn <= {_BITEXT_NPROBE}),
    {p}cand_ab AS (
        SELECT p.vec_id AS id_a, t.vec_id AS id_b,
               {_COS.format(a="p.v", b="t.v")} AS cosine,
               TRUE AS in_ab, FALSE AS in_ba
        FROM {p}probes p JOIN {p}cells t ON p.probe = t.cell
        WHERE p.label = 0 AND t.label = 1
    ),
    {p}cand_ba AS (
        SELECT t.vec_id AS id_a, p.vec_id AS id_b,
               {_COS.format(a="t.v", b="p.v")} AS cosine,
               FALSE AS in_ab, TRUE AS in_ba
        FROM {p}probes p JOIN {p}cells t ON p.probe = t.cell
        WHERE p.label = 1 AND t.label = 0
    ),
    {p}cand AS (
        SELECT id_a, id_b, MAX(cosine) AS cosine,
               BOOL_OR(in_ab) AS in_ab, BOOL_OR(in_ba) AS in_ba
        FROM (SELECT * FROM {p}cand_ab UNION ALL SELECT * FROM {p}cand_ba) u
        GROUP BY 1, 2
    ),
    {p}r_ab AS (
        SELECT id_a, id_b, cosine,
               ROW_NUMBER() OVER (PARTITION BY id_a
                                  ORDER BY cosine DESC, id_b) AS rank_a
        FROM {p}cand WHERE in_ab
    ),
    {p}r_ba AS (
        SELECT id_a, id_b, cosine,
               ROW_NUMBER() OVER (PARTITION BY id_b
                                  ORDER BY cosine DESC, id_a) AS rank_b
        FROM {p}cand WHERE in_ba
    ),
    {p}avg_a AS (
        SELECT id_a, CAST(SUM(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
                     / {_BITEXT_K}.0 AS avg_a
        FROM {p}r_ab WHERE rank_a <= {_BITEXT_K} GROUP BY 1
    ),
    {p}avg_b AS (
        SELECT id_b, CAST(SUM(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
                     / {_BITEXT_K}.0 AS avg_b
        FROM {p}r_ba WHERE rank_b <= {_BITEXT_K} GROUP BY 1
    ),
    {p}sel AS (
        SELECT m.id_a, m.id_b
        FROM (SELECT ra.id_a, ra.id_b, ra.cosine
              FROM {p}r_ab ra JOIN {p}r_ba rb
                ON ra.id_a = rb.id_a AND ra.id_b = rb.id_b
              WHERE ra.rank_a = 1 AND rb.rank_b = 1) m
        JOIN {p}avg_a USING (id_a)
        JOIN {p}avg_b USING (id_b)
        WHERE m.cosine / ((avg_a + avg_b) / 2) > 1.0
    )"""


def q_bitext_ivf_pair_recall_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # checkpoint the derived corpus: BOTH miners (and the centroid sampler
    # inside each) re-reference it many times, and re-deriving the
    # window+join lineage per action is pure waste
    corpus = paired_bitext_embeddings(spark, sf_dir).localCheckpoint()
    exact = similarity.margin_mutual_pairs(
        corpus, "vec_id", "embedding", "label", 0, 1, k=_BITEXT_K
    ).select("id_a", "id_b")
    cents = similarity.fit_centroids_sample(
        corpus, "vec_id", "embedding", nlist=_BITEXT_NLIST, mod=67, rem=1
    )
    ivf = similarity.margin_mutual_pairs_ivf(
        corpus,
        "vec_id",
        "embedding",
        "label",
        0,
        1,
        cents,
        k=_BITEXT_K,
        nprobe=_BITEXT_NPROBE,
    ).select("id_a", "id_b")
    tagged = exact.withColumn("src", F.lit("x")).unionByName(
        ivf.withColumn("src", F.lit("i"))
    )
    both = tagged.groupBy("id_a", "id_b").agg(F.collect_set("src").alias("s"))
    return both.agg(
        F.sum(F.when(F.array_contains("s", "x"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.when(F.array_contains("s", "i"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_ivf"),
        F.sum(
            F.when(
                F.array_contains("s", "x") & F.array_contains("s", "i"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_common"),
    ).select(
        "n_exact",
        "n_ivf",
        "n_common",
        # NULL (not NaN/inf/error) when the exact miner selects no pairs:
        # Spark and DuckDB disagree on 0/0 styles, so both sides guard
        # the degenerate corpus explicitly (r6 ADVICE item).
        F.round(
            F.when(
                F.col("n_exact") > 0,
                F.col("n_common") / F.col("n_exact").cast("double"),
            ),
            6,
        ).alias("pair_recall"),
    )


# ---------------------------------------------------------------- #
# PQ/ADC recall on clustered vectors: the uniform floor is 0.13      #
# (ann_pq_recall_eval — 16 codewords can't cover a uniform 64-d      #
# sphere); on clustered data the subspace codebooks concentrate on   #
# the 10 occupied directions. Same fit/encode/ADC machinery and      #
# parameters, 20 queries (%25).                                      #
# ---------------------------------------------------------------- #
_PQ_QMOD = 25


def q_ann_pq_recall_eval_clustered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from de_polars_spark.inventory.llm_ops import _pq_recall

    return _pq_recall(clustered_embeddings(spark, sf_dir).localCheckpoint(), _PQ_QMOD)


def _pq_clustered_oracle() -> str:
    from de_polars_spark.inventory.llm_ops import (
        _pq_adc_scored,
        _pq_recall_tail,
        _pq_subspace_ctes,
    )

    return (
        f"\n    WITH {CLUSTERED_E}"
        + _pq_subspace_ctes()
        + _pq_adc_scored(qmod=_PQ_QMOD)
        + _pq_recall_tail()
    )


QUERIES["ann_pq_recall_eval_clustered"] = q_ann_pq_recall_eval_clustered
ORACLES["ann_pq_recall_eval_clustered"] = _pq_clustered_oracle()


# ---------------------------------------------------------------- #
# PQ/ADC recall on NEAR-DUPLICATE groups — PQ's designed regime.     #
# Tight mixture clusters are ADVERSARIAL for top-3 PQ (the recall     #
# ladder: uniform 0.13, clustered 0.4 — within-cluster noise sits    #
# below code resolution, so ADC cannot order cluster-mates). What a  #
# production PQ index is FOR is coarse/near-dup retrieval: groups of #
# 4 near-identical vectors (GAMMA=0.05 jitter around each group      #
# leader's uniform vector), so every query's true top-3 ARE its 3    #
# group-mates, mates share codes, and different groups collide on    #
# all M subspace codes with prob ~16^-4. Groups are consecutive ids  #
# (gid = vec_id - vec_id % 4) so the group SIZE stays 4 at every sf. #
# ---------------------------------------------------------------- #
_GAMMA = "0.05"

#: CTE chain ending in ``e(vec_id, v)`` — near-dup grouped corpus.
NEARDUP_E = f"""
    base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv
             FROM embeddings),
    leaders AS (SELECT vec_id AS gid, bv AS gv FROM base
                WHERE vec_id % 4 = 0),
    gmix AS (
        SELECT b.vec_id,
               list_transform(list_zip(g.gv, b.bv),
                              z -> z[1] + {_GAMMA} * z[2]) AS uv
        FROM base b JOIN leaders g ON b.vec_id - b.vec_id % 4 = g.gid),
    gnorm AS (
        SELECT vec_id, uv,
               sqrt(list_aggregate(list_transform(uv, y -> y * y), 'sum'))
                   AS nrm
        FROM gmix),
    e AS (SELECT vec_id, list_transform(uv, x -> x / nrm) AS v
          FROM gnorm)"""


def neardup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`NEARDUP_E` (same arithmetic, same order)."""
    t = register_testdata(spark, sf_dir)
    gamma = float(_GAMMA)
    emb = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("bv")
    )
    leaders = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("gid"), F.col("bv").alias("gv")
    )
    mixed = emb.withColumn(
        "gid", F.col("vec_id") - F.col("vec_id") % 4
    ).join(F.broadcast(leaders), "gid").select(
        "vec_id",
        F.zip_with("gv", "bv", lambda g, b: g + F.lit(gamma) * b).alias("uv"),
    )
    nrm = F.sqrt(F.aggregate("uv", F.lit(0.0), lambda acc, x: acc + x * x))
    return mixed.select(
        "vec_id", F.transform("uv", lambda x: x / nrm).alias("embedding")
    )


def q_ann_pq_recall_eval_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from de_polars_spark.inventory.llm_ops import _pq_recall

    return _pq_recall(neardup_embeddings(spark, sf_dir).localCheckpoint(), _PQ_QMOD)


def _pq_neardup_oracle() -> str:
    from de_polars_spark.inventory.llm_ops import (
        _pq_adc_scored,
        _pq_recall_tail,
        _pq_subspace_ctes,
    )

    return (
        f"\n    WITH {NEARDUP_E}"
        + _pq_subspace_ctes()
        + _pq_adc_scored(qmod=_PQ_QMOD)
        + _pq_recall_tail()
    )


QUERIES["ann_pq_recall_eval_neardup"] = q_ann_pq_recall_eval_neardup
ORACLES["ann_pq_recall_eval_neardup"] = _pq_neardup_oracle()


QUERIES["bitext_ivf_pair_recall_clustered"] = q_bitext_ivf_pair_recall_clustered
ORACLES["bitext_ivf_pair_recall_clustered"] = f"""
    WITH {CLUSTERED_E},
    {PAIRED_E2},
    {_bitext_exact_ctes("x", src="e2")},
    {_bitext_ivf_ctes("i", src="e2")}
    SELECT CAST((SELECT COUNT(*) FROM xsel) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM isel) AS BIGINT) AS n_ivf,
           CAST((SELECT COUNT(*) FROM xsel JOIN isel USING (id_a, id_b))
                AS BIGINT) AS n_common,
           CASE WHEN (SELECT COUNT(*) FROM xsel) = 0 THEN NULL
                ELSE ROUND((SELECT COUNT(*) FROM xsel
                            JOIN isel USING (id_a, id_b))
                           / CAST((SELECT COUNT(*) FROM xsel) AS DOUBLE), 6)
           END AS pair_recall
"""
