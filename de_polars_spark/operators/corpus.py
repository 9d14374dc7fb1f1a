"""Corpus-level provenance and distribution profiling.

Three whole-corpus diagnostics a training-data pipeline runs before
mixing sources into a training set:

- :func:`source_overlap_matrix` — which sources copy from which: the
  pairwise shared-shingle matrix (the contamination-provenance shape;
  a crawl that republishes another crawl shows up as a high-Jaccard
  pair long before document-level dedup finds the individual copies).
- :func:`zipf_slope_profile` — the token rank-frequency power-law fit;
  a corpus whose slope is far from ~-1 is boilerplate-heavy (flat) or
  template-degenerate (steep), the cheapest corpus-health number there
  is.

Reference parity: none (the reference has no corpus analytics);
beyond-parity LLM-pipeline operators (BASELINE.json north star).

Scale shape: everything funnels through hash-keyed aggregations whose
output cardinality is bounded by vocabulary / source-pair counts, never
by corpus size — the explode stages are map-side, every shuffle carries
a map-side partial aggregate, and no window runs over an unbounded
input. Determinism: float sums go through
DECIMAL(38,6) (order-independent), ranks carry total-order tiebreaks,
outputs round to 6dp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from de_polars_spark.functions import text as TX
from de_polars_spark.operators.dedup import _bucket_pairs


def _dsum(col: Column) -> Column:
    """Order-independent double sum (exact decimal accumulation)."""
    return F.sum(col.cast("decimal(38,6)")).cast("double")


def source_overlap_matrix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    shingle_n: int = 5,
) -> DataFrame:
    """Pairwise shared distinct word-``shingle_n``-gram counts between
    sources, with the Jaccard overlap of the two sources' shingle sets.

    The cross-crawl contamination matrix: exact-duplicate detection
    misses partial republication (a source that embeds another's
    paragraphs inside new boilerplate), but the shingle sets still
    intersect heavily. Output: one row per source pair with
    ``shared_grams``, each side's distinct-gram count, and
    ``jaccard = shared / (n_a + n_b - shared)``.

    Scale shape: grams build per row (``TX.ngrams``, a regex column in
    whole-stage codegen — no window, no interpreted HOF lambdas), collapse to
    DISTINCT (source, gram-hash) in one shuffle, then ONE groupBy on
    the gram hash emits in-executor source pairs via sorted
    ``collect_set`` (no self-join): per-gram pair fan-out is bounded by
    C(n_sources, 2), independent of corpus size, and the final pair
    aggregate is map-side combinable. The 60-bit md5 gram hash keeps
    shuffle rows fixed-width regardless of shingle text length.

    Each row shingles on its own, so ``id_col`` is not read: rows that
    share an id (two crawls numbering from 1) never splice into a gram.
    """
    sh = (
        df.select(
            F.col(source_col).alias("__src"),
            F.explode(TX.ngrams(F.col(text_col), shingle_n)).alias("__g"),
        )
        .select("__src", TX.hash60(F.col("__g")).alias("h"))
        .distinct()
    )
    totals = sh.groupBy("__src").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.groupBy("h")
        .agg(F.sort_array(F.collect_set("__src")).alias("srcs"))
        .where(F.size("srcs") >= 2)
        .select(F.explode(_bucket_pairs(F.col("srcs"))).alias("pr"))
        .groupBy(
            F.col("pr.id_a").alias("source_a"), F.col("pr.id_b").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    tot_a = F.broadcast(
        totals.select(F.col("__src").alias("source_a"), F.col("n").alias("na"))
    )
    tot_b = F.broadcast(
        totals.select(F.col("__src").alias("source_b"), F.col("n").alias("nb"))
    )
    return (
        pairs.join(tot_a, "source_a")
        .join(tot_b, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared").cast("bigint").alias("shared_grams"),
            F.col("na").cast("bigint").alias("n_grams_a"),
            F.col("nb").cast("bigint").alias("n_grams_b"),
            F.round(
                F.col("shared")
                / (F.col("na") + F.col("nb") - F.col("shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def zipf_slope_profile(
    df: DataFrame, text_col: str, top_k: int = 1000
) -> DataFrame:
    """Least-squares fit of log(frequency) vs log(rank) over the top-k
    token vocabulary — the Zipf power-law exponent plus fit quality.

    One row: ``n_terms``, ``zipf_slope`` (healthy natural text ≈ -1),
    ``zipf_intercept``, ``r2``. Slope drift flags template/boilerplate
    degeneracy; r2 drift flags mixed-register corpora.

    Scale shape: token explode is map-side; the term-frequency groupBy
    is the only corpus-sized shuffle (map-side combinable to vocabulary
    cardinality). The rank window then runs over the VOCABULARY
    aggregate, not the corpus — bounded input; for a multi-billion-term
    vocabulary swap in the distributed two-phase top-k
    (``operators/textrank.py``) before ranking. Regression sums go
    through DECIMAL(38,6) so partial-agg order cannot change the fit.
    Rank ties break on the token string (total order).
    """
    tf = (
        df.select(F.explode(TX.tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    pts = (
        tf.select("tok", "cnt", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= top_k)
        .select(
            F.log(F.col("rnk").cast("double")).alias("lx"),
            F.log(F.col("cnt").cast("double")).alias("ly"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dsum(F.col("lx")).alias("sx"),
        _dsum(F.col("ly")).alias("sy"),
        _dsum(F.col("lx") * F.col("ly")).alias("sxy"),
        _dsum(F.col("lx") * F.col("lx")).alias("sxx"),
        _dsum(F.col("ly") * F.col("ly")).alias("syy"),
    )
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(cov / dx, 6).alias("zipf_slope"),
        F.round((F.col("sy") - (cov / dx) * F.col("sx")) / F.col("n"), 6).alias(
            "zipf_intercept"
        ),
        F.round((cov * cov) / (dx * dy), 6).alias("r2"),
    )
