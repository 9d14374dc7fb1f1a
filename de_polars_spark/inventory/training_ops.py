"""Training-set construction inventory queries (round-4 additions).

Operators a large-scale training-data pipeline runs between "corpus
cleaned" and "tokens served", complementing the dedup/quality family in
``llm_ops.py`` and the provenance family in ``corpus_ops.py``:

- ``dedup_containment`` — asymmetric shingle containment |A∩B|/|A|
  (the subset/quotation duplicates Jaccard-gated dedup misses);
- ``hard_negative_mining`` — per-anchor top-k nearest embeddings with a
  DIFFERENT label (the contrastive-training batch builder; random
  negatives are covered by ``negative_pair_sample``);
- ``embedding_int8_quant`` — per-dimension uint8 quantization
  parameters + exact reconstruction error (the 4x-store-shrink gate);
- ``embedding_centroid_silhouette`` — per-label separation from
  per-vector centroid affinities (label-quality gate before a
  contrastive run);
- ``tokenizer_fertility`` — per (source, lang) whitespace-vs-wordlike
  token fertility and chars/token (the mixture planner's cost model:
  token budgets are tokenizer-relative, and fertility is how a corpus
  slice's byte budget converts);
- ``curriculum_phase_plan`` — histogram-CDF tertile phase plan over
  document token counts (shortest-first curriculum; bucket-grain
  assignment so the plan costs one bounded shuffle at any corpus size);
- ``timeseries_gapfill`` — generated hourly spine + LOCF fill;
- ``consistent_subset_sample`` — referentially-consistent p% dev cut;
- ``retrieval_mrr_ndcg`` — position-weighted ANN serving quality;
- ``bitext_margin_mining`` — margin-criterion mutual-NN alignment
  between corpus slices (hubness-robust);
- ``entity_resolution`` — fuzzy pairs → transitive closure → canonical
  representative per entity (MDM-style catalog dedupe).

Reference parity: none — beyond-parity LLM-pipeline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_polars_spark.functions import text as TX
from de_polars_spark.inventory.dialect_macros import render
from de_polars_spark.inventory.llm_ops import _shingles
from de_polars_spark.operators import dedup, similarity, vectors
from de_polars_spark.sources.registry import register_testdata

QUERIES: dict = {}
ORACLES: dict = {}

_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_COS = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _common(name: str, sql: str) -> None:
    def fn(spark: SparkSession, sf_dir: str, _sql: str = sql) -> DataFrame:
        register_testdata(spark, sf_dir)
        return spark.sql(render(_sql, "spark"))

    fn.__name__ = f"q_{name}"
    QUERIES[name] = fn
    ORACLES[name] = render(sql, "duckdb")


# ---------------------------------------------------------------- #
# Asymmetric containment dedup                                      #
# ---------------------------------------------------------------- #
_CONT_T = 0.5
_CONT_N = 3


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return dedup.containment_pairs(
        t["documents"], "doc_id", "text", "lang",
        threshold=_CONT_T, shingle_n=_CONT_N,
    )


QUERIES["dedup_containment"] = q_dedup_containment
ORACLES["dedup_containment"] = f"""
    WITH toks AS (SELECT doc_id, lang AS block, {_TOKS} AS toks FROM documents),
    post AS (
        SELECT doc_id, block, unnest({_shingles(_CONT_N)}) AS g FROM toks
    ),
    sizes AS (SELECT doc_id, block, COUNT(*) AS n_sh FROM post GROUP BY 1, 2),
    inter AS (
        SELECT a.block, a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS n_common
        FROM post a JOIN post b ON a.block = b.block AND a.g = b.g
                               AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT i.*, na.n_sh AS n_ia, nb.n_sh AS n_ib
        FROM inter i
        JOIN sizes na ON i.block = na.block AND i.ia = na.doc_id
        JOIN sizes nb ON i.block = nb.block AND i.ib = nb.doc_id
    )
    SELECT CASE WHEN n_ia < n_ib OR (n_ia = n_ib AND ia < ib)
                THEN ia ELSE ib END AS id_small,
           CASE WHEN n_ia < n_ib OR (n_ia = n_ib AND ia < ib)
                THEN ib ELSE ia END AS id_large,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(LEAST(n_ia, n_ib) AS BIGINT) AS n_small,
           CAST(GREATEST(n_ia, n_ib) AS BIGINT) AS n_large,
           ROUND(n_common / CAST(LEAST(n_ia, n_ib) AS DOUBLE), 6)
               AS containment
    FROM scored
    WHERE n_common / CAST(LEAST(n_ia, n_ib) AS DOUBLE) >= {_CONT_T}
"""


# ---------------------------------------------------------------- #
# Contrastive hard-negative mining                                  #
# ---------------------------------------------------------------- #
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    anchors = corpus.filter(F.col("vec_id") % 100 == 0)
    out = similarity.hard_negative_topk(
        corpus, anchors, "vec_id", "embedding", "label", k=5
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_QN_COS = _COS.format(a="q.v", b="e.v")
QUERIES["hard_negative_mining"] = q_hard_negative_mining
ORACLES["hard_negative_mining"] = f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               e.label AS neighbor_label, {_QN_COS} AS cosine
        FROM q JOIN e ON q.label <> e.label
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id)
                   AS rank
        FROM scored
    ) ranked
    WHERE rank <= 5
"""


# ---------------------------------------------------------------- #
# Hard negatives through IVF cells — the scale path the exact       #
# miner's docstring names (probe nprobe cells, label filter on the  #
# candidate set, rank within probed candidates). nprobe = nlist     #
# degenerates bit-for-bit to hard_negative_mining (property test).  #
# ---------------------------------------------------------------- #
_HN_NLIST, _HN_NPROBE = 8, 3
# centroid-assignment ranking mirrors _centroid_scores: cosine DESC,
# cid DESC (struct sort), unrounded
_CENT_COS_XC = (
    "(list_dot_product(x.v, c.cv) / "
    "(sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(c.cv, c.cv))))"
)


def q_hard_negative_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    anchors = corpus.filter(F.col("vec_id") % 100 == 0)
    cents = similarity.fit_centroids_sample(
        corpus, "vec_id", "embedding", nlist=_HN_NLIST, mod=67, rem=1
    )
    out = similarity.hard_negative_topk_ivf(
        corpus, anchors, "vec_id", "embedding", "label", cents,
        k=5, nprobe=_HN_NPROBE,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


QUERIES["hard_negative_mining_ivf"] = q_hard_negative_mining_ivf
ORACLES["hard_negative_mining_ivf"] = f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % 67 = 1 ORDER BY vec_id LIMIT {_HN_NLIST}),
    asg AS (
        SELECT vec_id, label, v, cid, ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_CENT_COS_XC} DESC, c.cid DESC) AS rn
        FROM e x CROSS JOIN cents c
    ),
    cells AS (SELECT vec_id, label, v, cid AS cell FROM asg WHERE rn = 1),
    probes AS (SELECT vec_id, label, v, cid AS cell FROM asg
               WHERE rn <= {_HN_NPROBE} AND vec_id % 100 = 0),
    scored AS (
        SELECT p.vec_id AS query_id, t.vec_id AS neighbor_id,
               t.label AS neighbor_label,
               {_COS.format(a="p.v", b="t.v")} AS cosine
        FROM probes p JOIN cells t
          ON p.cell = t.cell AND p.label <> t.label
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id)
                   AS rank
        FROM scored
    ) ranked
    WHERE rank <= 5
"""


# ---------------------------------------------------------------- #
# int8 quantization profile                                         #
# ---------------------------------------------------------------- #
def q_embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return vectors.int8_quantization_profile(t["embeddings"], "embedding")


QUERIES["embedding_int8_quant"] = q_embedding_int8_quant
ORACLES["embedding_int8_quant"] = """
    WITH ex AS (
        SELECT i AS dim, v[i] AS val
        FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             unnest(generate_series(1, len(v))) AS u(i)
    ),
    stats AS (
        SELECT dim, MIN(val) AS vmin, MAX(val) AS vmax,
               CASE WHEN MAX(val) > MIN(val)
                    THEN (MAX(val) - MIN(val)) / 255.0 ELSE 1.0 END AS scale
        FROM ex GROUP BY dim
    ),
    err AS (
        SELECT s.dim, s.vmin, s.vmax, s.scale,
               s.vmin + LEAST(255.0, GREATEST(0.0,
                   FLOOR((e.val - s.vmin) / s.scale + 0.5))) * s.scale - e.val
                   AS err
        FROM ex e JOIN stats s ON e.dim = s.dim
    )
    SELECT CAST(dim - 1 AS BIGINT) AS dim,
           ROUND(vmin, 6) AS vmin,
           ROUND(vmax, 6) AS vmax,
           ROUND(scale, 6) AS scale,
           ROUND(CAST(SUM(CAST(err * err AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 9) AS mse,
           ROUND(MAX(ABS(err)), 6) AS max_abs_err
    FROM err
    GROUP BY dim, vmin, vmax, scale
"""


# ---------------------------------------------------------------- #
# Centroid silhouette                                               #
# ---------------------------------------------------------------- #
def q_embedding_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return vectors.centroid_silhouette(t["embeddings"], "vec_id", "label", "embedding")


QUERIES["embedding_centroid_silhouette"] = q_embedding_centroid_silhouette
ORACLES["embedding_centroid_silhouette"] = """
    WITH ex AS (
        SELECT vec_id, label, i AS dim, v[i] AS val
        FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
             unnest(generate_series(1, len(v))) AS u(i)
    ),
    cent AS (
        SELECT clab, list(c ORDER BY dim) AS carr
        FROM (
            SELECT label AS clab, dim,
                   CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                       AS c
            FROM ex GROUP BY 1, 2
        ) GROUP BY clab
    ),
    affin AS (
        SELECT v.vec_id, v.label, c.clab,
               ROUND(list_dot_product(v.arr, c.carr)
                     / (sqrt(list_dot_product(v.arr, v.arr))
                        * sqrt(list_dot_product(c.carr, c.carr))), 6) AS cos
        FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS arr
              FROM embeddings) v
        CROSS JOIN cent c
    ),
    per_vec AS (
        SELECT vec_id, label,
               MAX(CASE WHEN clab = label THEN cos END) AS self_cos,
               MAX(CASE WHEN clab <> label THEN cos END) AS best_other
        FROM affin GROUP BY 1, 2
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(self_cos AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_self_cos,
           ROUND(CAST(SUM(CAST(best_other AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_best_other_cos,
           ROUND((CAST(SUM(CAST(self_cos AS DECIMAL(38,6))) AS DOUBLE)
                  - CAST(SUM(CAST(best_other AS DECIMAL(38,6))) AS DOUBLE))
                 / COUNT(*), 6) AS separation
    FROM per_vec GROUP BY label
"""


# ---------------------------------------------------------------- #
# Tokenizer fertility by corpus slice                               #
# ---------------------------------------------------------------- #
_common(
    "tokenizer_fertility",
    f"""
    WITH d AS (
        SELECT source, lang,
               ARRAY_LEN(TOKENS(text)) AS ws_toks,
               ARRAY_LEN(REGEXP_ALL(text, '{TX.WORDLIKE_PATTERN}'))
                   AS wl_toks,
               length(text) AS n_chars
        FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_toks) AS BIGINT) AS ws_tokens,
           CAST(SUM(wl_toks) AS BIGINT) AS wordlike_tokens,
           ROUND(SUM(wl_toks) / CAST(SUM(ws_toks) AS DOUBLE), 6)
               AS fertility,
           ROUND(SUM(n_chars) / CAST(SUM(wl_toks) AS DOUBLE), 6)
               AS chars_per_token
    FROM d GROUP BY source, lang
    """,
)


# ---------------------------------------------------------------- #
# Curriculum phase plan (histogram-CDF tertiles)                    #
# ---------------------------------------------------------------- #
# Shortest-first curriculum over document token counts, planned at the
# HISTOGRAM grain (same two-phase shape as quality_prune_plan): the
# per-(token-count) histogram is one map-side-combinable shuffle with
# bounded cardinality, and phase assignment walks its ascending CDF —
# a whole bucket takes the phase where its first document lands
# (floor(3 * docs_before / n_total)), so equal-length documents never
# straddle phases and no per-document rank is ever computed. Integer
# arithmetic throughout: engine-exact.
_common(
    "curriculum_phase_plan",
    """
    WITH scored AS (
        SELECT ARRAY_LEN(TOKENS(text)) AS n_tokens FROM documents
    ),
    hist AS (
        SELECT n_tokens, COUNT(*) AS n,
               CAST(COUNT(*) AS BIGINT) * n_tokens AS tok
        FROM scored GROUP BY n_tokens
    ),
    cume AS (
        SELECT n_tokens, n, tok,
               COALESCE(SUM(n) OVER (ORDER BY n_tokens
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_before,
               SUM(n) OVER () AS n_total
        FROM hist
    )
    SELECT CAST(IDIV(n_before * 3, n_total) + 1 AS INT) AS phase,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_doc_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens
    FROM cume
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------- #
# Time-series gap filling (spine + LOCF)                            #
# ---------------------------------------------------------------- #
# The resampling step in front of any forecast/drift model: a complete
# hourly spine per event type (generated, not scanned — the spine is
# bounds x types however large the corpus), actuals LEFT-joined on, and
# last-observation-carried-forward over the gaps. Scale shape: the
# bounds are one 1-row aggregate crossJoined into the generated spine
# (pct_of_total pattern); actuals are one map-side-combinable groupBy;
# the LOCF window partitions by event_type over the spine (bounded by
# hours x types, not event rows).
_GAPFILL_SPARK = """
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events
    ),
    spine AS (
        SELECT t.event_type, h.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT explode(sequence(h0, h1, interval 1 hour)) AS h
                    FROM bounds) h
    ),
    actual AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               COUNT(*) AS n_events, DSUM(value) AS hour_value
        FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, HOUR_STR(s.h) AS hour,
           CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
           a.hour_value AS hour_value,
           last_value(a.hour_value) IGNORE NULLS OVER (
               PARTITION BY s.event_type ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS locf_value,
           CAST(CASE WHEN a.n_events IS NULL THEN 1 ELSE 0 END AS INT)
               AS is_gap
    FROM spine s
    LEFT JOIN actual a ON s.event_type = a.event_type AND s.h = a.h
"""
_GAPFILL_DUCK = """
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events
    ),
    spine AS (
        SELECT t.event_type, h.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                        AS h FROM bounds) h
    ),
    actual AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               COUNT(*) AS n_events, DSUM(value) AS hour_value
        FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, HOUR_STR(s.h) AS hour,
           CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
           a.hour_value AS hour_value,
           last_value(a.hour_value IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS locf_value,
           CAST(CASE WHEN a.n_events IS NULL THEN 1 ELSE 0 END AS INT)
               AS is_gap
    FROM spine s
    LEFT JOIN actual a ON s.event_type = a.event_type AND s.h = a.h
"""


def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    return spark.sql(render(_GAPFILL_SPARK, "spark"))


QUERIES["timeseries_gapfill"] = q_timeseries_gapfill
ORACLES["timeseries_gapfill"] = render(_GAPFILL_DUCK, "duckdb")


# ---------------------------------------------------------------- #
# Consistent cross-table subset sample                              #
# ---------------------------------------------------------------- #
# The dev-dataset cut: sample p% of CUSTOMERS and keep each one's
# complete order/lineitem history, so every FK in the subset resolves
# (a per-table Bernoulli sample breaks referential integrity and makes
# join results meaningless). Scale shape: tables carrying the sample
# key filter MAP-ONLY on the key hash — no join, no shuffle, any table
# size; tables that do not carry it (lineitem) take exactly one
# semi-join hop through the narrowest parent projection. At 100 TB
# this is the only subsetting scheme whose cost is one scan per table.
_SUBSET_PCT = 5
_common(
    "consistent_subset_sample",
    f"""
    WITH kept_orders AS (
        SELECT o_orderkey FROM orders
        WHERE (HASH60(TO_STR(o_custkey)) % 100) < {_SUBSET_PCT}
    ),
    c AS (
        SELECT COUNT(*) AS n_total,
               SUM(CASE WHEN (HASH60(TO_STR(c_custkey)) % 100)
                             < {_SUBSET_PCT} THEN 1 ELSE 0 END) AS n_kept
        FROM customer
    ),
    o AS (
        SELECT COUNT(*) AS n_total,
               SUM(CASE WHEN (HASH60(TO_STR(o_custkey)) % 100)
                             < {_SUBSET_PCT} THEN 1 ELSE 0 END) AS n_kept
        FROM orders
    ),
    l AS (
        SELECT COUNT(*) AS n_total,
               SUM(CASE WHEN k.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_kept
        FROM lineitem LEFT JOIN kept_orders k
          ON lineitem.l_orderkey = k.o_orderkey
    )
    SELECT 'customer' AS table_name, CAST(n_total AS BIGINT) AS n_total,
           CAST(n_kept AS BIGINT) AS n_kept,
           ROUND(n_kept / CAST(n_total AS DOUBLE), 6) AS kept_frac
    FROM c
    UNION ALL
    SELECT 'orders', CAST(n_total AS BIGINT), CAST(n_kept AS BIGINT),
           ROUND(n_kept / CAST(n_total AS DOUBLE), 6)
    FROM o
    UNION ALL
    SELECT 'lineitem', CAST(n_total AS BIGINT), CAST(n_kept AS BIGINT),
           ROUND(n_kept / CAST(n_total AS DOUBLE), 6)
    FROM l
    """,
)


# ---------------------------------------------------------------- #
# Retrieval ranking metrics (MRR / nDCG@k of the IVF path)          #
# ---------------------------------------------------------------- #
# ann_recall_eval answers "how many of the true neighbors did the index
# return"; serving quality also depends on WHERE they landed — MRR is
# the first-relevant-rank number a search team tracks, nDCG@k the
# position-discounted one. Truth = the exact brute-force top-k (binary
# relevance); system = the IVF probe path with the same fixed-sample
# coarse quantizer as ann_recall_eval. Determinism: each DCG term
# 1/log2(rank+1) is ROUND-6 decimal-quantized before the per-query sum
# (order-free, engine-exact; same convention as token_entropy_by_source);
# MRR divides by an integer rank. Scale shape: both sides are the
# already-audited ANN plans; the metric layer is two broadcast-sized
# joins and one per-query aggregation.
_MRR_K = 5


def q_retrieval_mrr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators import similarity as SIM

    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    exact = SIM.cosine_topk(corpus, queries, "vec_id", "embedding", k=_MRR_K)
    cents = SIM.fit_centroids_sample(
        corpus, "vec_id", "embedding", nlist=8, mod=67, rem=1
    )
    approx = SIM.ivf_topk(
        corpus, queries, "vec_id", "embedding", cents, k=_MRR_K, nprobe=2
    )
    term = F.round(F.lit(1.0) / F.log2(F.col("rank") + F.lit(1.0)), 6).cast(
        "decimal(18,6)"
    )
    hits = approx.join(
        exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.min("rank").alias("first_hit_rank"),
        F.sum(term).cast("double").alias("dcg"),
    )
    ideal = exact.groupBy("query_id").agg(
        F.sum(term).cast("double").alias("idcg")
    )
    return ideal.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.coalesce(F.col("first_hit_rank").cast("bigint"), F.lit(0)).alias(
            "first_hit_rank"
        ),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_hit_rank"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(F.coalesce("dcg", F.lit(0.0)), 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.coalesce(F.col("dcg") / F.col("idcg"), F.lit(0.0)), 6).alias(
            "ndcg"
        ),
    )


_X_COS = _COS.format(a="q.v", b="e.v")
_C_COS = (
    "(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
).format(a="x.v", b="c.cv")
QUERIES["retrieval_mrr_ndcg"] = q_retrieval_mrr_ndcg
ORACLES["retrieval_mrr_ndcg"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
    exact AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_X_COS} DESC, e.vec_id) AS rank
            FROM q JOIN e ON q.vec_id <> e.vec_id
        ) WHERE rank <= {_MRR_K}
    ),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % 67 = 1 ORDER BY vec_id LIMIT 8),
    assign AS (
        SELECT vec_id, v, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_C_COS} DESC, c.cid DESC) AS rn
            FROM e x CROSS JOIN cents c) a
        WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_C_COS} DESC, c.cid DESC) AS rn
            FROM (SELECT * FROM e WHERE vec_id % 100 = 0) x
            CROSS JOIN cents c) p
        WHERE rn <= 2),
    ivf AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_COS.format(a="p.qv", b="a.v")} DESC,
                                a.vec_id) AS rank
            FROM probes p JOIN assign a
              ON p.cell = a.cell AND p.query_id <> a.vec_id
        ) WHERE rank <= {_MRR_K}
    ),
    hits AS (
        SELECT i.query_id, COUNT(*) AS n_hits, MIN(i.rank) AS first_hit_rank,
               CAST(SUM(CAST(ROUND(1.0 / log2(i.rank + 1.0), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS dcg
        FROM ivf i JOIN exact x USING (query_id, neighbor_id)
        GROUP BY 1
    ),
    ideal AS (
        SELECT query_id,
               CAST(SUM(CAST(ROUND(1.0 / log2(rank + 1.0), 6)
                             AS DECIMAL(18,6))) AS DOUBLE) AS idcg
        FROM exact GROUP BY 1
    )
    SELECT ideal.query_id,
           CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(first_hit_rank, 0) AS BIGINT) AS first_hit_rank,
           ROUND(COALESCE(1.0 / first_hit_rank, 0.0), 6) AS mrr,
           ROUND(COALESCE(dcg, 0.0), 6) AS dcg,
           ROUND(idcg, 6) AS idcg,
           ROUND(COALESCE(dcg / idcg, 0.0), 6) AS ndcg
    FROM ideal LEFT JOIN hits ON ideal.query_id = hits.query_id
"""


# ---------------------------------------------------------------- #
# Margin-based mutual-NN alignment (bitext mining criterion)        #
# ---------------------------------------------------------------- #
_BITEXT_K = 4


def q_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.similarity import margin_mutual_pairs

    t = register_testdata(spark, sf_dir)
    return margin_mutual_pairs(
        t["embeddings"], "vec_id", "embedding", "label", 0, 1, k=_BITEXT_K
    )


_AB_COS = _COS.format(a="a.v", b="b.v")
QUERIES["bitext_margin_mining"] = q_bitext_margin_mining
ORACLES["bitext_margin_mining"] = f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_AB_COS} AS cosine
        FROM (SELECT * FROM e WHERE label = 0) a
        CROSS JOIN (SELECT * FROM e WHERE label = 1) b
    ),
    ranked AS (
        SELECT scored.*,
               ROW_NUMBER() OVER (PARTITION BY id_a
                                  ORDER BY cosine DESC, id_b) AS rank_a,
               ROW_NUMBER() OVER (PARTITION BY id_b
                                  ORDER BY cosine DESC, id_a) AS rank_b
        FROM scored
    ),
    avg_a AS (
        SELECT id_a, CAST(SUM(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
                     / {_BITEXT_K}.0 AS avg_a
        FROM ranked WHERE rank_a <= {_BITEXT_K} GROUP BY 1
    ),
    avg_b AS (
        SELECT id_b, CAST(SUM(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
                     / {_BITEXT_K}.0 AS avg_b
        FROM ranked WHERE rank_b <= {_BITEXT_K} GROUP BY 1
    )
    SELECT m.id_a, m.id_b, m.cosine,
           ROUND(avg_a, 6) AS avg_a,
           ROUND(avg_b, 6) AS avg_b,
           ROUND(m.cosine / ((avg_a + avg_b) / 2), 6) AS margin
    FROM ranked m
    JOIN avg_a USING (id_a)
    JOIN avg_b USING (id_b)
    WHERE m.rank_a = 1 AND m.rank_b = 1
      AND m.cosine / ((avg_a + avg_b) / 2) > 1.0
"""


# ---------------------------------------------------------------- #
# Margin mining routed through IVF cells — the 100 TB path the      #
# exact miner's docstring promises. Both sides assign to coarse-    #
# quantizer cells map-only; candidates exist only where one side's  #
# nprobe probes hit the other side's cell, so the scored relation   #
# is a cell-keyed shuffle join (per-cell quadratic, never |A|x|B|). #
# nprobe = nlist degenerates bit-for-bit to the exact miner         #
# (property-tested); at nprobe=5/8 on the synthetic embeddings the  #
# mined-pair recall vs exact is 0.74 (real corpora cluster far      #
# better than uniform synthetic vectors — recall here is the floor).#
# ---------------------------------------------------------------- #
_BITEXT_NLIST, _BITEXT_NPROBE = 8, 5


def q_bitext_margin_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.similarity import (
        fit_centroids_sample,
        margin_mutual_pairs_ivf,
    )

    t = register_testdata(spark, sf_dir)
    emb = t["embeddings"]
    cents = fit_centroids_sample(
        emb, "vec_id", "embedding", nlist=_BITEXT_NLIST, mod=67, rem=1
    )
    return margin_mutual_pairs_ivf(
        emb,
        "vec_id",
        "embedding",
        "label",
        0,
        1,
        cents,
        k=_BITEXT_K,
        nprobe=_BITEXT_NPROBE,
    )


# centroid-assignment ranking mirrors _centroid_scores (cosine DESC,
# cid DESC, unrounded) — one canonical fragment, defined once above
_BX_CENT_COS = _CENT_COS_XC
QUERIES["bitext_margin_mining_ivf"] = q_bitext_margin_mining_ivf
ORACLES["bitext_margin_mining_ivf"] = f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % 67 = 1 ORDER BY vec_id LIMIT {_BITEXT_NLIST}),
    asg AS (
        SELECT vec_id, label, v, cid, ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_BX_CENT_COS} DESC, c.cid DESC) AS rn
        FROM e x CROSS JOIN cents c
    ),
    cells AS (SELECT vec_id, label, v, cid AS cell FROM asg WHERE rn = 1),
    probes AS (SELECT vec_id, label, v, cid AS probe FROM asg
               WHERE rn <= {_BITEXT_NPROBE}),
    cand_ab AS (
        SELECT p.vec_id AS id_a, t.vec_id AS id_b,
               {_COS.format(a="p.v", b="t.v")} AS cosine,
               TRUE AS in_ab, FALSE AS in_ba
        FROM probes p JOIN cells t ON p.probe = t.cell
        WHERE p.label = 0 AND t.label = 1
    ),
    cand_ba AS (
        SELECT t.vec_id AS id_a, p.vec_id AS id_b,
               {_COS.format(a="t.v", b="p.v")} AS cosine,
               FALSE AS in_ab, TRUE AS in_ba
        FROM probes p JOIN cells t ON p.probe = t.cell
        WHERE p.label = 1 AND t.label = 0
    ),
    cand AS (
        SELECT id_a, id_b, MAX(cosine) AS cosine,
               BOOL_OR(in_ab) AS in_ab, BOOL_OR(in_ba) AS in_ba
        FROM (SELECT * FROM cand_ab UNION ALL SELECT * FROM cand_ba) u
        GROUP BY 1, 2
    ),
    r_ab AS (
        SELECT id_a, id_b, cosine,
               ROW_NUMBER() OVER (PARTITION BY id_a
                                  ORDER BY cosine DESC, id_b) AS rank_a
        FROM cand WHERE in_ab
    ),
    r_ba AS (
        SELECT id_a, id_b, cosine,
               ROW_NUMBER() OVER (PARTITION BY id_b
                                  ORDER BY cosine DESC, id_a) AS rank_b
        FROM cand WHERE in_ba
    ),
    avg_a AS (
        SELECT id_a, CAST(SUM(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
                     / {_BITEXT_K}.0 AS avg_a
        FROM r_ab WHERE rank_a <= {_BITEXT_K} GROUP BY 1
    ),
    avg_b AS (
        SELECT id_b, CAST(SUM(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
                     / {_BITEXT_K}.0 AS avg_b
        FROM r_ba WHERE rank_b <= {_BITEXT_K} GROUP BY 1
    )
    SELECT m.id_a, m.id_b, m.cosine,
           ROUND(avg_a, 6) AS avg_a,
           ROUND(avg_b, 6) AS avg_b,
           ROUND(m.cosine / ((avg_a + avg_b) / 2), 6) AS margin
    FROM (SELECT ra.id_a, ra.id_b, ra.cosine
          FROM r_ab ra JOIN r_ba rb
            ON ra.id_a = rb.id_a AND ra.id_b = rb.id_b
          WHERE ra.rank_a = 1 AND rb.rank_b = 1) m
    JOIN avg_a USING (id_a)
    JOIN avg_b USING (id_b)
    WHERE m.cosine / ((avg_a + avg_b) / 2) > 1.0
"""


# ---------------------------------------------------------------- #
# Entity resolution: fuzzy pairs -> transitive closure -> canonical #
# ---------------------------------------------------------------- #
# The MDM-style dedupe every catalog/customer table needs: pair
# generation alone leaves A~B, B~C as two facts; the ENTITY is the
# transitive closure, and downstream systems want one canonical row per
# entity. Composes two already-verified operators — the blocked
# length-banded fuzzy matcher and the distributed min-label propagation
# — then selects the min-id group's name as canonical. Scale shape: the
# closure runs on the GROUP graph (one node per distinct lowered name
# per block — the identical-name collapse already happened), so the
# iterative step's size is bounded by name diversity, not row count.
_ER_K = 2


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.dedup import connected_components
    from de_polars_spark.operators.fuzzy import edit_distance_pairs

    t = register_testdata(spark, sf_dir)
    part = t["part"]
    groups = part.groupBy(
        F.col("p_brand").alias("block"), F.lower(F.col("p_name")).alias("nm")
    ).agg(
        F.min("p_partkey").alias("gid"), F.count(F.lit(1)).alias("cnt")
    )
    pairs = edit_distance_pairs(part, "p_partkey", "p_name", "p_brand", k=_ER_K)
    labels = connected_components(pairs.select("id_a", "id_b"))
    ent = (
        labels.join(groups, labels["node"] == groups["gid"])
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_name_variants"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
        )
    )
    canon = groups.select(
        F.col("gid").alias("component_id"), F.col("nm").alias("canonical_name")
    )
    return ent.join(canon, "component_id").select(
        F.col("component_id").alias("entity_id"),
        "canonical_name",
        "n_name_variants",
        "n_rows",
    )


QUERIES["entity_resolution"] = q_entity_resolution
ORACLES["entity_resolution"] = f"""
    WITH RECURSIVE g AS (
        SELECT p_brand AS block, lower(p_name) AS nm,
               MIN(p_partkey) AS gid, COUNT(*) AS cnt
        FROM part GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.gid AS id_a, b.gid AS id_b
        FROM g a JOIN g b ON a.block = b.block AND a.gid < b.gid
        WHERE levenshtein(a.nm, b.nm) BETWEEN 1 AND {_ER_K}
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
        SELECT u AS node, LEAST(u, MIN(v)) AS component_id
        FROM reach GROUP BY u
    ),
    ent AS (
        SELECT component_id,
               CAST(COUNT(*) AS BIGINT) AS n_name_variants,
               CAST(SUM(g.cnt) AS BIGINT) AS n_rows
        FROM comp JOIN g ON comp.node = g.gid
        GROUP BY component_id
    )
    SELECT ent.component_id AS entity_id,
           g.nm AS canonical_name,
           ent.n_name_variants,
           ent.n_rows
    FROM ent JOIN g ON ent.component_id = g.gid
"""


# ---------------------------------------------------------------- #
# Sequence packing plan (GPT-style concat-and-cut)                  #
# ---------------------------------------------------------------- #
# The last prep step before a training run: documents concatenate in a
# deterministic order and CUT into fixed-length sequences, so a doc may
# span sequences and a sequence holds many short docs. The plan is pure
# prefix-sum arithmetic — per-doc start offset = running token cumsum —
# and the cumsum is assembled two-phase (within-block window + block
# offsets over the tiny per-block relation, same trick as
# shard_packing's global rank) so no single-partition sort ever happens.
# Per sequence: docs touching it, docs starting in it, fill (the last
# sequence is the only ragged one).
_SEQ_L = 256
_SEQ_BLOCK = 100


def q_sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = register_testdata(spark, sf_dir)
    sized = t["documents"].select(
        "doc_id", F.size(TX.tokens(F.col("text"))).alias("n_tokens")
    ).withColumn("blk", (F.col("doc_id") / _SEQ_BLOCK).cast("bigint"))
    in_blk = W.partitionBy("blk").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    blk_tot = sized.groupBy("blk").agg(F.sum("n_tokens").alias("__bt"))
    blk_off = blk_tot.select(
        "blk",
        F.coalesce(
            F.sum("__bt").over(
                W.orderBy("blk").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    placed = (
        sized.withColumn("__c", F.sum("n_tokens").over(in_blk))
        .join(blk_off, "blk")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("__off") + F.col("__c") - F.col("n_tokens")).alias("start"),
            (F.col("__off") + F.col("__c")).alias("end"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    spans = placed.select(
        "doc_id",
        "start",
        F.explode(
            F.sequence(
                (F.col("start") / _SEQ_L).cast("bigint"),
                ((F.col("end") - 1) / _SEQ_L).cast("bigint"),
            )
        ).alias("seq_id"),
    )
    total = placed.agg(F.max("end").alias("__t"))
    return (
        spans.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_touching"),
            F.sum(
                ((F.col("start") / _SEQ_L).cast("bigint") == F.col("seq_id"))
                .cast("bigint")
            ).alias("n_docs_starting"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "seq_id",
            "n_docs_touching",
            "n_docs_starting",
            F.least(
                F.lit(_SEQ_L), F.col("__t") - F.col("seq_id") * _SEQ_L
            ).cast("bigint").alias("fill_tokens"),
        )
    )


QUERIES["sequence_packing_plan"] = q_sequence_packing_plan
ORACLES["sequence_packing_plan"] = f"""
    WITH sized AS (
        SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
    ),
    placed AS (
        -- SUM over BIGINT is HUGEINT in DuckDB; pin BIGINT so the
        -- generate_series bounds below type-match
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS BIGINT) AS start,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS "end"
        FROM sized
    ),
    nz AS (SELECT * FROM placed WHERE n_tokens > 0),
    spans AS (
        SELECT doc_id, start,
               unnest(generate_series(start // {_SEQ_L},
                                      ("end" - 1) // {_SEQ_L})) AS seq_id
        FROM nz
    ),
    total AS (SELECT MAX("end") AS t FROM nz)
    SELECT seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs_touching,
           CAST(SUM(CASE WHEN start // {_SEQ_L} = seq_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_starting,
           CAST(LEAST({_SEQ_L}, t - seq_id * {_SEQ_L}) AS BIGINT)
               AS fill_tokens
    FROM spans, total
    GROUP BY seq_id, t
"""


# ---------------------------------------------------------------- #
# Matryoshka truncation recall eval                                 #
# ---------------------------------------------------------------- #
# Serving embeddings at a prefix dimension cuts ANN memory ~4x per 4x
# truncation — IF recall holds. This grades dim-16-truncated cosine
# top-k against the full-dim exact top-k (same eval harness as
# ann_recall_eval: count overlap per query) — the number that decides
# whether the matryoshka cut ships.
_MAT_DIM = 16
_MAT_K = 5


def q_matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.similarity import cosine_topk

    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    full = cosine_topk(corpus, queries, "vec_id", "embedding", k=_MAT_K).select(
        "query_id", "neighbor_id"
    )
    # a nonzero full vector can still have an all-zero prefix, and the
    # truncated-cosine norm would then divide by zero (ANSI error in
    # Spark, NULL in DuckDB) — exclude such vectors in BOTH engines
    from de_polars_spark.functions.vectors import as_double as _vd
    from de_polars_spark.functions.vectors import dot as _vdot

    trunc = corpus.select(
        "vec_id", F.slice(F.col("embedding"), 1, _MAT_DIM).alias("tv")
    ).filter(_vdot(_vd(F.col("tv")), _vd(F.col("tv"))) > 0)
    tq = trunc.filter(F.col("vec_id") % 100 == 0)
    approx = cosine_topk(trunc, tq, "vec_id", "tv", k=_MAT_K).select(
        "query_id", "neighbor_id"
    )
    hits = (
        approx.join(full, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qn = full.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    return qn.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.col("k").cast("double"), 6
        ).alias("recall_at_truncation"),
    )


_M_FULL = _COS.format(a="q.v", b="e.v")
_M_TR = _COS.format(a="q.tv", b="e.tv")
QUERIES["matryoshka_recall_eval"] = q_matryoshka_recall_eval
ORACLES["matryoshka_recall_eval"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                      CAST(embedding[1:{_MAT_DIM}] AS DOUBLE[]) AS tv
               FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
    full_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_M_FULL} DESC, e.vec_id)
                       AS rank
            FROM q JOIN e ON q.vec_id <> e.vec_id
        ) WHERE rank <= {_MAT_K}
    ),
    trunc_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                      ORDER BY {_M_TR} DESC, e.vec_id)
                       AS rank
            FROM (SELECT * FROM q
                  WHERE list_dot_product(tv, tv) > 0) q
            JOIN (SELECT * FROM e
                  WHERE list_dot_product(tv, tv) > 0) e
              ON q.vec_id <> e.vec_id
        ) WHERE rank <= {_MAT_K}
    ),
    hits AS (
        SELECT t.query_id, COUNT(*) AS c
        FROM trunc_topk t JOIN full_topk f USING (query_id, neighbor_id)
        GROUP BY 1
    ),
    qn AS (SELECT query_id, COUNT(*) AS k FROM full_topk GROUP BY 1)
    SELECT qn.query_id,
           CAST(COALESCE(c, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(c, 0) / CAST(k AS DOUBLE), 6)
               AS recall_at_truncation
    FROM qn LEFT JOIN hits USING (query_id)
"""


# ---------------------------------------------------------------- #
# Longest exactly-shared token span per pair (exact-substring dedup) #
# ---------------------------------------------------------------- #
_SPAN_N = 8


def q_dedup_longest_shared_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return dedup.longest_shared_span(
        t["documents"], "doc_id", "text", "lang", shingle_n=_SPAN_N
    )


def _gram_pos(n: int) -> str:
    gram = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
    return gram


QUERIES["dedup_longest_shared_span"] = q_dedup_longest_shared_span
ORACLES["dedup_longest_shared_span"] = f"""
    WITH toks AS (SELECT doc_id, lang AS block, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id, block, i AS p, {_gram_pos(_SPAN_N)} AS gram
        FROM toks, unnest(generate_series(1, len(toks) - {_SPAN_N - 1}))
                   AS u(i)
        WHERE len(toks) >= {_SPAN_N}
    ),
    hits AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, a.p AS pa, a.p - b.p AS diag
        FROM g a JOIN g b ON a.block = b.block AND a.gram = b.gram
                         AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT ia, ib, diag,
               pa - ROW_NUMBER() OVER (PARTITION BY ia, ib, diag
                                       ORDER BY pa) AS grp
        FROM hits
    ),
    runs AS (
        SELECT ia, ib, COUNT(*) AS run
        FROM isl GROUP BY ia, ib, diag, grp
    )
    SELECT ia AS id_a, ib AS id_b,
           CAST(SUM(run) AS BIGINT) AS n_shared_positions,
           CAST(MAX(run) + {_SPAN_N - 1} AS BIGINT) AS longest_span_tokens
    FROM runs GROUP BY ia, ib
"""
