"""Corpus-provenance and distribution-profiling inventory queries.

Four whole-corpus diagnostics that run BEFORE mixing sources into a
training set (complementing the per-document dedup/quality family in
``llm_ops.py``):

- ``cross_source_overlap_matrix`` — which sources republish which
  (pairwise shared-shingle / Jaccard matrix);
- ``quality_prune_plan`` — per-source keep-the-top-30% pruning plan
  computed from the token-count histogram CDF (no per-document rank);
- ``zipf_token_slope`` — rank-frequency power-law fit over the top-1k
  vocabulary (corpus-health number);
- ``embedding_centroid_shift`` — pairwise cosine/L2 between per-label
  embedding centroids (distribution-level drift between corpus slices);
- ``k_anonymity_report`` / ``qi_uniqueness_ladder`` — privacy-governance
  gates over quasi-identifier groupings (the release check a pipeline
  runs before user-derived records enter a training corpus).

Reference parity: none — beyond-parity LLM-pipeline operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from de_polars_spark.inventory.dialect_macros import render
from de_polars_spark.inventory.llm_ops import _shingles
from de_polars_spark.operators import corpus, vectors
from de_polars_spark.sources.registry import register_testdata

QUERIES: dict = {}
ORACLES: dict = {}

_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_OVERLAP_N = 5


# ---------------------------------------------------------------- #
# Cross-source overlap matrix                                       #
# ---------------------------------------------------------------- #
def q_cross_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return corpus.source_overlap_matrix(
        t["documents"], "doc_id", "source", "text", shingle_n=_OVERLAP_N
    )


QUERIES["cross_source_overlap_matrix"] = q_cross_source_overlap_matrix
ORACLES["cross_source_overlap_matrix"] = f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    sh AS (
        SELECT DISTINCT source,
               CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) AS h
        FROM (SELECT source, unnest({_shingles(_OVERLAP_N)}) AS g FROM toks)
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           CAST(p.shared AS BIGINT) AS shared_grams,
           CAST(ta.n AS BIGINT) AS n_grams_a,
           CAST(tb.n AS BIGINT) AS n_grams_b,
           ROUND(p.shared / CAST(ta.n + tb.n - p.shared AS DOUBLE), 6)
               AS jaccard
    FROM pairs p
    JOIN tot ta ON p.source_a = ta.source
    JOIN tot tb ON p.source_b = tb.source
"""


# ---------------------------------------------------------------- #
# Per-source quality pruning plan (histogram-CDF threshold)          #
# ---------------------------------------------------------------- #
# Keep-the-top-30% per source, WITHOUT ranking individual documents:
# aggregate to the per-(source, token-count) histogram first (bounded
# cardinality however large the corpus), then walk its descending CDF
# to the smallest token count whose keep-fraction reaches 30%. The
# windows run over the HISTOGRAM, so the plan costs one corpus-sized
# map-side-combinable shuffle regardless of scale — the two-phase
# shape a 100 TB quality gate needs (per-document rank would put whole
# sources in single window partitions). Threshold rule is integer
# arithmetic (rank*10 >= docs*3): no float ceil, engine-identical.
_PRUNE_SQL = """
    WITH scored AS (
        SELECT source, ARRAY_LEN(TOKENS(text)) AS n_tokens FROM documents
    ),
    hist AS (
        SELECT source, n_tokens, COUNT(*) AS n,
               CAST(COUNT(*) AS BIGINT) * n_tokens AS tok
        FROM scored GROUP BY source, n_tokens
    ),
    cume AS (
        SELECT source, n_tokens,
               SUM(n) OVER (PARTITION BY source ORDER BY n_tokens DESC)
                   AS n_ge,
               SUM(tok) OVER (PARTITION BY source ORDER BY n_tokens DESC)
                   AS tok_ge,
               SUM(n) OVER (PARTITION BY source) AS n_docs
        FROM hist
    ),
    sel AS (
        SELECT source, n_docs, n_tokens, n_ge, tok_ge,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_tokens DESC) AS rn
        FROM cume WHERE n_ge * 10 >= n_docs * 3
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS cutoff_tokens,
           CAST(n_ge AS BIGINT) AS n_keep,
           CAST(tok_ge AS BIGINT) AS kept_tokens,
           ROUND(n_ge / CAST(n_docs AS DOUBLE), 6) AS keep_frac
    FROM sel WHERE rn = 1
"""


def q_quality_prune_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    return spark.sql(render(_PRUNE_SQL, "spark"))


QUERIES["quality_prune_plan"] = q_quality_prune_plan
ORACLES["quality_prune_plan"] = render(_PRUNE_SQL, "duckdb")


# ---------------------------------------------------------------- #
# Zipf rank-frequency slope                                         #
# ---------------------------------------------------------------- #
_ZIPF_K = 1000


def q_zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return corpus.zipf_slope_profile(t["documents"], "text", top_k=_ZIPF_K)


QUERIES["zipf_token_slope"] = q_zipf_token_slope
ORACLES["zipf_token_slope"] = render(
    f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
    tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
    ranked AS (
        SELECT tok, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
        FROM tf
    ),
    pts AS (
        SELECT ln(CAST(rnk AS DOUBLE)) AS lx,
               ln(CAST(cnt AS DOUBLE)) AS ly
        FROM ranked WHERE rnk <= {_ZIPF_K}
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               DSUM(lx) AS sx, DSUM(ly) AS sy, DSUM(lx * ly) AS sxy,
               DSUM(lx * lx) AS sxx, DSUM(ly * ly) AS syy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
                 6) AS zipf_intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
    "duckdb",
)


# ---------------------------------------------------------------- #
# Embedding centroid shift between labels                           #
# ---------------------------------------------------------------- #
def q_embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return vectors.group_centroid_shift(t["embeddings"], "label", "embedding")


QUERIES["embedding_centroid_shift"] = q_embedding_centroid_shift
ORACLES["embedding_centroid_shift"] = """
    WITH ex AS (
        SELECT label, i AS dim, v[i] AS val
        FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
             unnest(generate_series(1, len(v))) AS u(i)
    ),
    cent AS (
        SELECT label, dim,
               CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS c
        FROM ex GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.label AS group_a, b.label AS group_b,
               COUNT(*) AS n_dims,
               CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,6))) AS DOUBLE)
                   AS dot,
               CAST(SUM(CAST(a.c * a.c AS DECIMAL(38,6))) AS DOUBLE)
                   AS na2,
               CAST(SUM(CAST(b.c * b.c AS DECIMAL(38,6))) AS DOUBLE)
                   AS nb2,
               CAST(SUM(CAST((a.c - b.c) * (a.c - b.c) AS DECIMAL(38,6)))
                    AS DOUBLE) AS d2
        FROM cent a JOIN cent b
          ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT group_a, group_b,
           CAST(n_dims AS BIGINT) AS n_dims,
           ROUND(dot / (sqrt(na2) * sqrt(nb2)), 6) AS cosine,
           ROUND(sqrt(d2), 6) AS l2_dist
    FROM pairs
"""


# ---------------------------------------------------------------- #
# Privacy governance: k-anonymity / l-diversity report              #
# ---------------------------------------------------------------- #
# Group the table by its quasi-identifier tuple (nation, market
# segment), measure each group's size k and its sensitive-attribute
# diversity l (distinct account-balance thousands-buckets), then roll
# the groups into the k-bucket histogram a privacy review reads:
# singleton groups (k=1) are directly re-identifiable; k<5 groups are
# the standard suppression candidates; low-l groups leak the sensitive
# value even at large k (homogeneity attack). Scale shape: ONE
# map-side-combinable groupBy on the QI tuple, then a second tiny
# aggregation over the group table — group cardinality is bounded by
# the QI domain product, not the row count. All-integer arithmetic:
# engine-exact with no rounding anywhere.
_KANON_SQL = """
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               COUNT(*) AS k,
               COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                   AS l
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CASE WHEN k = 1 THEN '1'
                WHEN k < 5 THEN '2-4'
                WHEN k < 10 THEN '5-9'
                ELSE '10+' END AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT)
               AS rows_low_diversity
    FROM g
    GROUP BY 1
"""


def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    return spark.sql(render(_KANON_SQL, "spark"))


QUERIES["k_anonymity_report"] = q_k_anonymity_report
ORACLES["k_anonymity_report"] = render(_KANON_SQL, "duckdb")


# ---------------------------------------------------------------- #
# Privacy governance: quasi-identifier uniqueness ladder            #
# ---------------------------------------------------------------- #
# Re-identification risk as quasi-identifiers ACCUMULATE: the share of
# rows whose QI tuple is unique at each widening level (nation; +
# segment; + account-balance bucket). The ladder is the number a
# governance review asks for first — "how many columns until customers
# become singletons?" — and the jump between levels says which column
# to generalize. One groupBy per level (each map-side combinable,
# output bounded by the QI domain); the three level reports union into
# one ordered table. Integer counts; the only double is the final
# share, a ratio of identical BIGINTs in both engines.
_QI_LEVELS = (
    ("1:nation", "TO_STR(c_nationkey)"),
    ("2:+segment", "TO_STR(c_nationkey) || '|' || c_mktsegment"),
    (
        "3:+acctbal_k",
        "TO_STR(c_nationkey) || '|' || c_mktsegment || '|' "
        "|| TO_STR(CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))",
    ),
)

_QI_LEVEL_SQL = """
    SELECT '{label}' AS qi_level,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singleton_groups,
           ROUND(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END)
                 / CAST(SUM(k) AS DOUBLE), 6) AS unique_row_share
    FROM (SELECT {expr} AS qi, COUNT(*) AS k FROM customer GROUP BY 1) g
"""

_QI_SQL = "\nUNION ALL\n".join(
    _QI_LEVEL_SQL.format(label=label, expr=expr) for label, expr in _QI_LEVELS
)


def q_qi_uniqueness_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_testdata(spark, sf_dir)
    return spark.sql(render(_QI_SQL, "spark"))


QUERIES["qi_uniqueness_ladder"] = q_qi_uniqueness_ladder
ORACLES["qi_uniqueness_ladder"] = render(_QI_SQL, "duckdb")
