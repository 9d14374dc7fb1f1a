"""Corpus-statistics text scoring: TF-IDF, BM25 retrieval, inverted index.

Beyond-reference operators for the LLM-pipeline north star (the
reference's text handling stops at LIKE filters — SURVEY.md §2.8). All
JVM-side expressions: tokenize with ``split``/``filter``, explode once,
aggregate — no Python UDFs.

Scale shape (the part that matters at 100 TB):
- one explode + one (term[, doc]) groupBy each — document-frequency and
  term-frequency are classic map-side-combinable aggregations;
- corpus scalars (N, avgdl) are 1-row aggregates joined back by
  broadcast (Catalyst/AQE picks BroadcastHashJoin for the 1-row side);
- BM25 filters the exploded tokens to the query's terms FIRST, so the
  shuffled relation is |matching postings|, not |corpus tokens| — the
  inverted-index access path without materializing the index;
- the df join back to term rows shuffles on ``term``; skewed stopword
  terms are bounded by per-term partial aggregation upstream.

Determinism: scores are rounded to 6 decimals and every ranking orders
by (rounded score, tiebreak id/term), so Spark and the DuckDB oracle
produce identical rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from de_polars_spark.functions.local_relation import literal_column


def _tokens(text_col: str) -> F.Column:
    return F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))


def _term_freqs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, doc_len, term, tf) — one row per distinct term per doc."""
    base = docs.select(
        F.col(id_col), _tokens(text_col).alias("__toks")
    ).withColumn("doc_len", F.size("__toks"))
    return (
        base.select(id_col, "doc_len", F.explode("__toks").alias("term"))
        .groupBy(id_col, "doc_len", "term")
        .agg(F.count("*").alias("tf"))
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    doc_filter: F.Column | None = None,
) -> DataFrame:
    """Top-k terms per document by TF-IDF (tf/len * ln(N/df)).

    ``doc_filter`` restricts which documents are scored, but df/N are
    always corpus-wide (filtering after the stats, not before — the
    filter still prunes the tf explode for the scored side).
    """
    tf = _term_freqs(docs, id_col, text_col)
    df_ = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = tf if doc_filter is None else tf.where(doc_filter)
    scored = (
        scored.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("tf").cast("double") / F.col("doc_len"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(id_col, "term", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)); score = sum over query
    terms of idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
    """
    tf = _term_freqs(docs, id_col, text_col)
    # postings for query terms only — the shuffled data is tiny
    hits = tf.where(F.col("term").isin(query_terms))
    df_ = hits.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    stats = docs.select(_tokens(text_col).alias("__toks")).agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.size("__toks")).cast("double") / F.count("*")
        ).alias("avgdl"),
    )
    scored = (
        hits.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("doc_len") / F.col("avgdl")
                )
            ),
        )
    )
    # decimal accumulation: per-term parts arrive in shuffle order, and
    # double addition is not associative — quantize each part at 1e-6
    # (deterministic for both engines; see dialect_macros.DSUM note on
    # tie-safety) so the sum is exact and order-free
    per_doc = scored.groupBy(id_col).agg(
        F.round(
            F.sum(F.col("part").cast("decimal(38,6)")).cast("double"), 6
        ).alias("bm25"),
        F.count("*").cast("long").alias("n_terms_hit"),
    )
    return per_doc.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)


def inverted_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 1,
) -> DataFrame:
    """term -> (df, sorted posting list of doc ids).

    ``collect_set`` builds each posting list on the reducer for its
    term — per-term list size is the term's df, the natural postings
    cost; terms are distributed across reducers so no single node
    holds the index. For web-scale stopwords, cap with ``min_df``'s
    sibling (a max_df filter) or shard postings by id range.
    """
    postings = (
        _term_freqs(docs, id_col, text_col)
        .groupBy("term")
        .agg(
            F.countDistinct(id_col).cast("long").alias("df"),
            F.sort_array(F.collect_set(F.col(id_col))).alias("postings"),
        )
        .where(F.col("df") >= min_df)
    )
    return postings.orderBy("term")


def vocab_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ks: Sequence[int] = (100, 500, 1000),
) -> DataFrame:
    """Tokenizer-budget planning: what fraction of all corpus tokens the
    top-K most frequent words cover, for each K in ``ks``.

    Scale shape: one token-explode + word-count shuffle, then a
    DISTRIBUTED top-max(K) (orderBy + limit = per-partition top-k and a
    single-partition merge of max(K) rows — never a global sort of the
    full vocabulary), and the cumulative sum runs over those max(K)
    rows only. The corpus-total token count rides a separate scalar
    aggregate, cross-joined (1 row). A 100 TB corpus with a billions-row
    vocabulary never materializes more than max(K) rows outside the
    counting shuffle.

    Output per K: ``(k, covered_tokens, total_tokens, coverage)``
    (coverage rounded to 6dp; ties on count broken by word so the
    top-K cut is deterministic).
    """
    kmax = max(ks)
    toks = df.select(F.explode(_tokens(text_col)).alias("w"))
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    top = (
        counts.orderBy(F.desc("c"), F.asc("w"))
        .limit(kmax)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w"))),
        )
        .withColumn(
            "cum",
            F.sum("c").over(
                Window.orderBy(F.desc("c"), F.asc("w")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    total = toks.agg(F.count(F.lit(1)).alias("total_tokens"))
    # a vocabulary smaller than K must still produce a row: the cut rank
    # is min(K, |vocab|). nv is an aggregate over the <=kmax top rows.
    nv = top.agg(F.max("rank").alias("__nv"))
    cuts = literal_column([int(k) for k in ks], "array<int>")
    return (
        top.crossJoin(total)
        .crossJoin(nv)
        .withColumn("k", F.explode(cuts))
        .where(F.col("rank") == F.least(F.col("k"), F.lit(kmax), F.col("__nv")))
        .where(F.col("k").isin(*[int(k) for k in ks]))
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("cum").cast("bigint").alias("covered_tokens"),
            F.col("total_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.col("cum") / F.col("total_tokens"), 6).alias("coverage"),
        )
        .orderBy("k")
    )
