"""LLM-pipeline operator inventory: dedup, similarity search, text
analysis, multimodal plumbing — the beyond-reference operators a
100 TB training-data pipeline needs (BASELINE.json north star).

Spark implementations live in ``operators/`` and ``functions/``; this
module binds them to the testdata tables and generates the equivalent
DuckDB oracle SQL (md5-hex hashing makes signatures engine-reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_polars_spark.functions import text as TX
from de_polars_spark.functions.local_relation import values_df
from de_polars_spark.operators import dedup, multimodal, sampling, similarity
from de_polars_spark.sources.artifacts import artifact_path, publish
from de_polars_spark.sources.registry import register_testdata

QUERIES: dict = {}
ORACLES: dict = {}

# ---------------------------------------------------------------- #
# DuckDB oracle building blocks                                     #
# ---------------------------------------------------------------- #
_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _shingles(n: int = 2) -> str:
    """DuckDB list of the DISTINCT word ``n``-grams of ``toks`` (the
    oracle side of ``functions/text.ngrams``), shared by every inventory
    module's oracle."""
    gram = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_distinct(list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"i -> {gram})) ELSE []::VARCHAR[] END"
    )


_HASH60_T = "CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)"
_COS = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


# ---------------------------------------------------------------- #
# dedup: exact                                                      #
# ---------------------------------------------------------------- #
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return dedup.exact_dup_groups(t["documents"], "doc_id", F.col("text"))


QUERIES["dedup_exact"] = q_dedup_exact
ORACLES["dedup_exact"] = """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS group_size
    FROM documents GROUP BY 1
"""


# dedup: normalized sorted-word fingerprint
def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return dedup.exact_dup_groups(
        t["documents"], "doc_id", TX.sorted_word_fingerprint(F.col("text"))
    )


QUERIES["dedup_fingerprint"] = q_dedup_fingerprint
ORACLES["dedup_fingerprint"] = f"""
    SELECT md5(md5(array_to_string(list_sort(list_distinct(toks)), ' '))) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS group_size
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    GROUP BY 1
"""


# dedup: MinHash + LSH candidate pairs
_N_HASHES, _BAND_SIZE = 8, 2

# The production bucket cap (= operators/dedup.DEFAULT_MAX_BUCKET_SIZE).
# Since round 7 this is the DEFAULT for the shared pair graph and its
# six consumers (components, keep_best, pagerank, graph_stats,
# cluster_size_histogram, cluster_aware_split) — their oracles model
# the cap. The uncapped exact form stays as the documented opt-out,
# anchored by dedup_minhash_lsh's exact oracle (r6 verdict: the exact
# default measured quadratic at sf1 — 10x docs -> 158x pairs,
# graph_stats 448 s vs 1.0 s capped — so out-of-the-box must be capped).
_LSH_CAP = 16


def _lsh_graph_cap() -> int | None:
    """Bucket cap for the SHARED pair graph (default: capped).

    Returns :data:`_LSH_CAP` unless ``SPARK_GRAFT_LSH_CAP`` overrides
    it: a positive integer sets a different cap; ``0``/``none``/``exact``
    opt out into exact (uncapped) banding. The cap is part of the
    artifact's content address, so capped and exact graphs never
    cross-contaminate. NOTE: any override desynchronizes the six graph
    consumers from their committed cap-16 oracles —
    ``tools/check_correctness.py`` refuses to run with the override set."""
    import os

    raw = os.environ.get("SPARK_GRAFT_LSH_CAP", "").strip().lower()
    if not raw:
        return _LSH_CAP
    if raw in ("0", "none", "exact"):
        return None
    cap = int(raw)
    if cap <= 0:
        # a negative cap would filter size(ids) <= cap, dropping EVERY
        # bucket and silently materializing an empty pair graph for all
        # six consumers — refuse the typo instead
        raise ValueError(
            f"SPARK_GRAFT_LSH_CAP={raw!r}: cap must be a positive integer "
            "(or 0/none/exact for exact banding)"
        )
    return cap


def _pair_graph_key() -> str:
    """What shapes the shared MinHash pair graph: the LSH parameters (incl.
    the optional production bucket cap) and the generating implementation,
    so any edit to the MinHash/LSH code invalidates cached graphs."""
    import inspect

    impl = (
        inspect.getsource(TX.ngrams)
        + inspect.getsource(dedup._minhash_sig_df)
        + inspect.getsource(dedup.minhash_lsh_pairs)
    )
    return f"{impl}|{_N_HASHES}|{_BAND_SIZE}|shingle2|cap={_lsh_graph_cap()}"


def _pair_graph_artifact_dir(sf_dir: str) -> str:
    """Artifact path of the shared MinHash pair graph, keyed on the corpus
    (sf_dir basename — testdata is immutable) and ``_pair_graph_key``
    (``sources/artifacts.py``)."""
    return artifact_path("dedup_pairs", sf_dir, _pair_graph_key())


def _components_artifact_dir(sf_dir: str) -> str:
    """Derived artifact: connected-component labels over the pair graph
    (keyed on the pair graph's key + the components impl)."""
    import inspect

    return artifact_path(
        "dedup_comps", sf_dir, _pair_graph_key(),
        inspect.getsource(dedup.connected_components),
    )


def clear_dedup_pair_artifacts(sf_dir: str) -> None:
    """Delete the cached pair graph AND the derived component labels for
    ``sf_dir`` (bench warm-up calls this so the first graph-family
    query pays — and measures — the build instead of inheriting a
    previous session's artifact)."""
    import shutil

    shutil.rmtree(_pair_graph_artifact_dir(sf_dir), ignore_errors=True)
    shutil.rmtree(_components_artifact_dir(sf_dir), ignore_errors=True)


def _dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component labels of the shared pair graph, computed once.

    The min-label propagation is the expensive step downstream of the
    pair graph (~6 iterative jobs), and THREE inventory queries consume
    the identical labels (component summary, keep-best survivor
    selection, cluster-size histogram) — at 100 TB you run the closure
    once and every cluster analysis reads the label table. Published like
    the pair graph."""
    path = publish(
        _components_artifact_dir(sf_dir),
        lambda tmp: dedup.connected_components(
            _dedup_pair_graph(spark, sf_dir)
        ).write.parquet(tmp),
    )
    return spark.read.parquet(path)


def _dedup_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH near-dup pair graph over ``documents``, built once.

    Six inventory queries (minhash_lsh, components, keep_best, pagerank,
    graph_stats, cluster_size_histogram) analyze the IDENTICAL pair set;
    at 100 TB you shingle + sign the corpus once and every downstream
    graph analysis reads the materialized edges. This materializes the
    pairs as a content-addressed parquet artifact on first use per
    (corpus, params, implementation) and serves every later consumer
    from the column-pruned vectorized scan. ``publish`` keeps concurrent
    sessions safe (any completed write is interchangeable)."""
    t = register_testdata(spark, sf_dir)
    path = publish(
        _pair_graph_artifact_dir(sf_dir),
        lambda tmp: dedup.minhash_lsh_pairs(
            t["documents"], "doc_id", "text", _N_HASHES, _BAND_SIZE,
            shingle_n=2, max_bucket_size=_lsh_graph_cap(),
        ).write.parquet(tmp),
    )
    return spark.read.parquet(path)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The EXACT-banding oracle anchor (max_bucket_size=None is the
    # documented opt-out from the capped production default): every
    # bucket expanded, which is precisely what the DuckDB band
    # self-join below reproduces. The shared production artifact the
    # graph consumers read is the capped form (_dedup_pair_graph).
    t = register_testdata(spark, sf_dir)
    return dedup.minhash_lsh_pairs(
        t["documents"], "doc_id", "text", _N_HASHES, _BAND_SIZE,
        shingle_n=2, max_bucket_size=None,
    )


def _minhash_band_ctes() -> str:
    """Shared DuckDB CTE chain: shingles -> signatures -> LSH band keys."""
    sig_cols = ", ".join(
        "list_aggregate(list_transform(shingles, s -> md5(s || '#%d')), 'min') AS mh%d"
        % (i, i)
        for i in range(_N_HASHES)
    )
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, %d AS band_id, md5(mh%d || mh%d) AS band_key FROM sigs"
        % (b, b * _BAND_SIZE, b * _BAND_SIZE + 1)
        for b in range(_N_HASHES // _BAND_SIZE)
    )
    return f"""docs AS (
        SELECT doc_id, {_shingles(2)} AS shingles
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    sigs AS (SELECT doc_id, {sig_cols} FROM docs),
    bands AS ({bands})"""


def _minhash_oracle(cap: int | None = None) -> str:
    """DuckDB pair-set CTE: exact banding (``cap=None``) or the capped
    production form (a band bucket participates iff its DISTINCT-doc
    size is <= cap — the same predicate minhash_lsh_pairs applies to
    its collect_set bucket before pair expansion)."""
    if cap is None:
        return f"""
    WITH {_minhash_band_ctes()}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
    WHERE a.band_key IS NOT NULL
    """
    return f"""
    WITH {_minhash_band_ctes()},
    sized AS (
        SELECT band_id, band_key, COUNT(DISTINCT doc_id) AS n
        FROM bands WHERE band_key IS NOT NULL
        GROUP BY 1, 2
    ),
    ok AS (SELECT band_id, band_key FROM sized WHERE n <= {cap})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN ok USING (band_id, band_key)
    JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
    """


QUERIES["dedup_minhash_lsh"] = q_dedup_minhash_lsh
ORACLES["dedup_minhash_lsh"] = _minhash_oracle()


# ---------------------------------------------------------------- #
# Capped LSH banding — the PRODUCTION pair graph (the round-7       #
# default: uncapped banding is quadratic in the corpus at a fixed   #
# band-collision rate — measured at sf1: 10x docs -> 158x pairs,    #
# SURVEY §13 — so max_bucket_size drops the boilerplate buckets     #
# whose B^2 expansions drive that growth; sf0.1 -> sf1 capped:      #
# 31.9k -> 143k pairs, near-linear). This query serves the SHARED   #
# capped artifact every graph consumer reads, so its oracle         #
# certifies both the cap semantics (a bucket participates iff       #
# 2 <= |bucket| <= cap) and the artifact itself.                    #
# ---------------------------------------------------------------- #
def q_dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dedup_pair_graph(spark, sf_dir)


QUERIES["dedup_minhash_lsh_capped"] = q_dedup_minhash_lsh_capped
ORACLES["dedup_minhash_lsh_capped"] = _minhash_oracle(_LSH_CAP)


# ---------------------------------------------------------------- #
# Batch form of the streaming MinHash-LSH admission rule            #
# (streaming/neardup_ingest.py, which this binds to the oracle):    #
# a doc is rejected iff it shares a band key with a LOWER-id doc —  #
# the conservative closure-free online rule. Exercises the exact    #
# _band_keys code path the foreachBatch sink runs.                  #
# ---------------------------------------------------------------- #
def q_neardup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.streaming.neardup_ingest import _band_keys

    t = register_testdata(spark, sf_dir)
    bands = _band_keys(
        t["documents"], "doc_id", "text", _N_HASHES, _BAND_SIZE, 2
    )
    lower = bands.select(
        "band_id", "band_key", F.col("doc_id").alias("__lo")
    )
    rejected = (
        bands.alias("a")
        .join(
            lower.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("__lo") < F.col("a.doc_id")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    admitted = t["documents"].join(rejected, "doc_id", "left_anti")
    return admitted.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_admitted"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


QUERIES["neardup_admission"] = q_neardup_admission
ORACLES["neardup_admission"] = f"""
    WITH {_minhash_band_ctes()},
    rejected AS (
        SELECT DISTINCT a.doc_id
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                   AND b.doc_id < a.doc_id
        WHERE a.band_key IS NOT NULL
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_admitted,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM rejected)
    GROUP BY source
"""


# dedup: SimHash fingerprints
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return dedup.simhash_groups(t["documents"], "doc_id", "text")


def _simhash_oracle(bits: int = 16) -> str:
    votes = ", ".join(
        "list_aggregate(list_transform(toks, t -> CASE WHEN ({h} >> {j}) & 1 = 1 "
        "THEN 1 ELSE -1 END), 'sum') AS v{j}".format(h=_HASH60_T, j=j)
        for j in range(bits)
    )
    combine = " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(bits))
    return f"""
    WITH toksrc AS (
        SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
    ),
    votes AS (SELECT doc_id, {votes} FROM toksrc)
    SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM votes
    """


QUERIES["dedup_simhash"] = q_dedup_simhash
ORACLES["dedup_simhash"] = _simhash_oracle()


# dedup: SimHash near-dup pairs within hamming distance (pigeonhole
# bucketing on Spark; brute-force all-pairs in the oracle — exactness of
# the bucketing IS what this entry proves). 32-bit fingerprints: wide
# enough that "within 3 bits" means genuinely near-duplicate text; the
# result is aggregated per distance (with id-sum checksums pinning the
# exact pair set) so the bench collect stays O(distances) not O(pairs).
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    # max_bucket_size=None: the exact oracle anchor (the brute-force
    # XOR self-join below); production corpora keep the capped default.
    pairs = dedup.simhash_hamming_pairs(
        t["documents"], "doc_id", "text", max_distance=3, bits=32,
        max_bucket_size=None,
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("id_a").alias("sum_id_a"),
            F.sum("id_b").alias("sum_id_b"),
        )
        .orderBy("hamming")
    )


QUERIES["dedup_simhash_hamming"] = q_dedup_simhash_hamming
ORACLES["dedup_simhash_hamming"] = f"""
    WITH sims AS ({_simhash_oracle(32)}),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    )
    SELECT hamming, COUNT(*) AS n_pairs,
           CAST(SUM(id_a) AS BIGINT) AS sum_id_a,
           CAST(SUM(id_b) AS BIGINT) AS sum_id_b
    FROM pairs GROUP BY hamming ORDER BY hamming
"""


# ---------------------------------------------------------------- #
# Capped pigeonhole banding — the PRODUCTION DEFAULT of the SimHash #
# pair generator, oracle-checked end-to-end (the counterpart of     #
# dedup_minhash_lsh_capped for the Hamming family). The cap drops   #
# whole (chunk_idx, chunk_value) buckets whose DISTINCT-fingerprint #
# count exceeds DEFAULT_MAX_BUCKET_SIZE *before* candidate          #
# expansion; distance-0 pairs (identical fingerprints) never pass   #
# through buckets and are never dropped. The oracle mirrors the     #
# exact mechanics: collapse to distinct fingerprints, bucket by     #
# 8-bit chunks of the 32-bit hash, keep buckets 2..cap, verify      #
# bit_count(xor) in 1..3 at the fingerprint level, then expand to   #
# member pairs.                                                     #
# ---------------------------------------------------------------- #
def q_dedup_simhash_hamming_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    # no max_bucket_size argument: this entry certifies the DEFAULT
    pairs = dedup.simhash_hamming_pairs(
        t["documents"], "doc_id", "text", max_distance=3, bits=32
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("id_a").alias("sum_id_a"),
            F.sum("id_b").alias("sum_id_b"),
        )
        .orderBy("hamming")
    )


QUERIES["dedup_simhash_hamming_capped"] = q_dedup_simhash_hamming_capped
ORACLES["dedup_simhash_hamming_capped"] = f"""
    WITH sims AS ({_simhash_oracle(32)}),
    fp AS (SELECT DISTINCT simhash FROM sims),
    chunks AS (
        SELECT simhash, c AS chunk_idx,
               (simhash >> (c * 8)) & 255 AS chunk_val
        FROM fp, (SELECT unnest([0, 1, 2, 3]) AS c)
    ),
    sized AS (
        SELECT chunk_idx, chunk_val, COUNT(*) AS n
        FROM chunks GROUP BY 1, 2
    ),
    ok AS (SELECT chunk_idx, chunk_val FROM sized
           WHERE n BETWEEN 2 AND {dedup.DEFAULT_MAX_BUCKET_SIZE}),
    fp_pairs AS (
        SELECT DISTINCT a.simhash AS ha, b.simhash AS hb,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM chunks a
        JOIN ok USING (chunk_idx, chunk_val)
        JOIN chunks b ON a.chunk_idx = b.chunk_idx
                     AND a.chunk_val = b.chunk_val
                     AND a.simhash < b.simhash
        WHERE bit_count(xor(a.simhash, b.simhash)) BETWEEN 1 AND 3
    ),
    across AS (
        SELECT LEAST(sa.doc_id, sb.doc_id) AS id_a,
               GREATEST(sa.doc_id, sb.doc_id) AS id_b,
               p.hamming
        FROM fp_pairs p
        JOIN sims sa ON sa.simhash = p.ha
        JOIN sims sb ON sb.simhash = p.hb
    ),
    within AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
        FROM sims a JOIN sims b ON a.simhash = b.simhash
                                AND a.doc_id < b.doc_id
    ),
    pairs AS (SELECT * FROM across UNION ALL SELECT * FROM within)
    SELECT hamming, COUNT(*) AS n_pairs,
           CAST(SUM(id_a) AS BIGINT) AS sum_id_a,
           CAST(SUM(id_b) AS BIGINT) AS sum_id_b
    FROM pairs GROUP BY hamming ORDER BY hamming
"""


# dedup: n-gram Jaccard pairs (blocked by lang)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    # max_bucket_size=None: the exact oracle anchor (full posting-list
    # Jaccard below); production corpora keep the capped default.
    return dedup.ngram_jaccard_pairs(
        t["documents"], "doc_id", "text", "lang", threshold=0.3, shingle_n=2,
        max_bucket_size=None,
    )


QUERIES["dedup_ngram_jaccard"] = q_dedup_ngram_jaccard
ORACLES["dedup_ngram_jaccard"] = f"""
    WITH d AS (
        SELECT doc_id, lang AS block, {_shingles(2)} AS shingles
        FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
    ),
    ex AS (SELECT doc_id, block, unnest(shingles) AS shingle FROM d),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM d),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM ex a
        JOIN ex b ON a.block = b.block AND a.shingle = b.shingle
                 AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           ROUND(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN sizes sa ON common.id_a = sa.doc_id
    JOIN sizes sb ON common.id_b = sb.doc_id
    WHERE ROUND(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6) >= 0.3
"""


# dedup: embedding cosine near-dup pairs (blocked by label)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return dedup.embedding_neardup_pairs(
        t["embeddings"], "vec_id", "embedding", "label", threshold=0.4
    )


_PAIR_COS = _COS.format(a="a.v", b="b.v")
QUERIES["dedup_embedding_cosine"] = q_dedup_embedding_cosine
ORACLES["dedup_embedding_cosine"] = f"""
    WITH e AS (SELECT vec_id, label AS block, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_PAIR_COS} AS cosine
    FROM e a JOIN e b ON a.block = b.block AND a.vec_id < b.vec_id
    WHERE {_PAIR_COS} >= 0.4
"""


# dedup: connected components over the MinHash-LSH pair graph — the
# cluster-collapse step (A~B, B~C => one cluster {A,B,C} even when the
# pair generator never emitted (A, C)). Spark: Pregel-style min-label
# propagation with per-round lineage truncation; oracle: DuckDB
# recursive-CTE transitive closure over the identical pair set.
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.component_summary(_dedup_components(spark, sf_dir))


QUERIES["dedup_components"] = q_dedup_components
ORACLES["dedup_components"] = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle(_LSH_CAP)}),
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
    )
    SELECT component_id, COUNT(*) AS size, CAST(SUM(node) AS BIGINT) AS id_sum
    FROM comp GROUP BY component_id
"""


# ---------------------------------------------------------------- #
# similarity search                                                 #
# ---------------------------------------------------------------- #
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    out = similarity.cosine_topk(corpus, queries, "vec_id", "embedding", k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_QE_COS = _COS.format(a="q.v", b="e.v")
QUERIES["ann_cosine_topk"] = q_ann_cosine_topk
ORACLES["ann_cosine_topk"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {_QE_COS} AS cosine
        FROM q JOIN e ON q.vec_id <> e.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) ranked
    WHERE rank <= 5
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    out = similarity.lsh_bucketed_topk(
        corpus, queries, "vec_id", "embedding", k=3, bucket_dims=(1, 17, 33, 49)
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_BUCKET = (
    "(CASE WHEN embedding[1] > 0 THEN '1' ELSE '0' END) || "
    "(CASE WHEN embedding[17] > 0 THEN '1' ELSE '0' END) || "
    "(CASE WHEN embedding[33] > 0 THEN '1' ELSE '0' END) || "
    "(CASE WHEN embedding[49] > 0 THEN '1' ELSE '0' END)"
)
QUERIES["ann_lsh_topk"] = q_ann_lsh_topk
ORACLES["ann_lsh_topk"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_BUCKET} AS bucket
               FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {_QE_COS} AS cosine
        FROM q JOIN e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) ranked
    WHERE rank <= 3
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    cents = similarity.fit_centroids_sample(
        corpus, "vec_id", "embedding", nlist=8, mod=67, rem=1
    )
    out = similarity.ivf_topk(
        corpus, queries, "vec_id", "embedding", cents, k=3, nprobe=2
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# assignment tiebreak is cosine DESC, cid DESC — sort_array on (cos, cid)
# structs descending (see operators/similarity.py:_centroid_scores)
_CENT_COS = _COS.replace("ROUND(", "(").replace(", 6)", ")").format(
    a="x.v", b="c.cv"
)
QUERIES["ann_ivf_topk"] = q_ann_ivf_topk
ORACLES["ann_ivf_topk"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % 67 = 1 ORDER BY vec_id LIMIT 8),
    assign AS (
        SELECT vec_id, v, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM e x CROSS JOIN cents c) a
        WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM (SELECT * FROM e WHERE vec_id % 100 = 0) x
            CROSS JOIN cents c) p
        WHERE rn <= 2),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_COS.format(a="p.qv", b="a.v")} AS cosine
        FROM probes p JOIN assign a
          ON p.cell = a.cell AND p.query_id <> a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) ranked
    WHERE rank <= 3
"""


# ---------------------------------------------------------------- #
# text analysis                                                     #
# ---------------------------------------------------------------- #
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return (
        t["documents"]
        .select(F.col("lang"), TX.predict_lang(F.col("text")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_id_oracle() -> str:
    score_cols = ", ".join(
        "len(list_filter(toks, x -> list_contains([{words}], x))) AS sc_{lang}".format(
            words=", ".join(f"'{w}'" for w in ws), lang=lang
        )
        for lang, ws in TX.STOPWORDS.items()
    )
    # mirror predict_lang's fold: sorted langs, strict > to displace
    best_lang, best_score = "'und'", "0"
    for lang in sorted(TX.STOPWORDS):
        cond = f"sc_{lang} > {best_score}"
        best_lang = f"CASE WHEN {cond} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"CASE WHEN {cond} THEN sc_{lang} ELSE {best_score} END"
    return f"""
    WITH toksrc AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    scores AS (SELECT doc_id, lang, {score_cols} FROM toksrc)
    SELECT lang, {best_lang} AS predicted_lang, COUNT(*) AS n_docs
    FROM scores GROUP BY 1, 2
    """


QUERIES["text_lang_id"] = q_text_lang_id
ORACLES["text_lang_id"] = _lang_id_oracle()


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    feats = TX.quality_features(F.col("text"))
    return t["documents"].select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["distinct_ratio"].alias("distinct_ratio"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        TX.quality_score(F.col("text")).alias("quality_score"),
    )


_EN_WORDS = ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"])
QUERIES["text_quality"] = q_text_quality
ORACLES["text_quality"] = f"""
    WITH feat AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               ROUND(len(list_distinct(toks)) / NULLIF(CAST(len(toks) AS DOUBLE), 0), 6) AS distinct_ratio,
               ROUND(list_aggregate(list_transform(toks, t -> length(t)), 'sum')
                     / NULLIF(CAST(len(toks) AS DOUBLE), 0), 6) AS avg_token_len,
               ROUND(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
                     / NULLIF(CAST(length(text) AS DOUBLE), 0), 6) AS punct_ratio,
               ROUND(len(list_filter(toks, x -> list_contains([{_EN_WORDS}], x)))
                     / NULLIF(CAST(len(toks) AS DOUBLE), 0), 6) AS stopword_ratio
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    )
    SELECT doc_id, n_tokens, distinct_ratio, avg_token_len, punct_ratio, stopword_ratio,
           ROUND(
               (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.4
                     WHEN n_tokens >= 5 THEN 0.2 ELSE 0.0 END)
             + (CASE WHEN distinct_ratio >= 0.5 THEN 0.3
                     ELSE ROUND(distinct_ratio * 0.6, 6) END)
             + (CASE WHEN punct_ratio <= 0.2 THEN 0.3 ELSE 0.1 END), 6) AS quality_score
    FROM feat
"""


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    wordlike = TX.wordlike_token_count(F.col("text"))
    return t["documents"].select(
        "doc_id",
        F.size(toks).alias("ws_tokens"),
        wordlike.alias("wordlike_tokens"),
        F.round(
            F.length("text") / F.nullif(wordlike.cast("double"), F.lit(0.0)), 6
        ).alias("chars_per_token"),
    )


QUERIES["text_token_stats"] = q_text_token_stats
ORACLES["text_token_stats"] = f"""
    SELECT doc_id,
           len({_TOKS}) AS ws_tokens,
           len(regexp_extract_all(text, '{TX.WORDLIKE_PATTERN}')) AS wordlike_tokens,
           ROUND(length(text) / NULLIF(CAST(len(regexp_extract_all(text,
                 '{TX.WORDLIKE_PATTERN}')) AS DOUBLE), 0), 6) AS chars_per_token
    FROM documents
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return t["documents"].select(
        "doc_id", TX.sorted_word_fingerprint(F.col("text")).alias("fingerprint")
    )


QUERIES["text_fingerprint"] = q_text_fingerprint
ORACLES["text_fingerprint"] = f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
    FROM documents
"""


# ---------------------------------------------------------------- #
# multimodal plumbing (real BMP decode over Arrow batches)          #
# ---------------------------------------------------------------- #
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL bytes end-to-end: the fixture writes a genuine 24-bit BMP per
    # document (geometry seeded from md5(text)), and decode_images parses
    # the actual header — magic, int32 dims, bit depth. The oracle
    # predicts the decoded output analytically (width=1+b0%16,
    # height=1+b1%16, file size = 54 + height*rowstride).
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_bmp_payload(t["documents"], "doc_id", "text")
    return multimodal.decode_images(payload)


QUERIES["multimodal_image_decode"] = q_multimodal_image_decode
ORACLES["multimodal_image_decode"] = """
    WITH geo AS (
        SELECT doc_id,
               1 + CAST('0x' || substring(md5(text), 1, 2) AS INT) % 16
                   AS width,
               1 + CAST('0x' || substring(md5(text), 3, 2) AS INT) % 16
                   AS height
        FROM documents
    )
    SELECT doc_id, width, height, 'RGB' AS mode,
           CAST(54 + height * (((3 * width + 3) // 4) * 4) AS INT) AS n_bytes
    FROM geo
"""

def q_multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # feature extraction from REAL pixel bytes: the decoder slices the
    # aligned BGR rows out of each genuine BMP payload and reduces
    # integer channel sums; the oracle re-derives the deterministic
    # pixel fill (v = (seed + 7x + 13y) % 256, channels B=v, G=3v%256,
    # R=5v%256 — operators/multimodal.py encode_bmp) analytically
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_bmp_payload(t["documents"], "doc_id", "text")
    return multimodal.extract_bmp_channel_stats(payload)


QUERIES["multimodal_pixel_stats"] = q_multimodal_pixel_stats
ORACLES["multimodal_pixel_stats"] = """
    WITH geo AS (
        SELECT doc_id,
               1 + CAST('0x' || substring(md5(text), 1, 2) AS INT) % 16 AS w,
               1 + CAST('0x' || substring(md5(text), 3, 2) AS INT) % 16 AS h,
               CAST('0x' || substring(md5(text), 5, 2) AS INT) AS seed
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h,
               (seed + 7 * (p % w) + 13 * (p // w)) % 256 AS v
        FROM (SELECT doc_id, w, h, seed,
                     unnest(generate_series(0, w * h - 1)) AS p
              FROM geo) g
    )
    SELECT doc_id,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_b,
           CAST(SUM((v * 3) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((v * 5) % 256) AS BIGINT) AS sum_r,
           CAST(MAX(v) AS BIGINT) AS max_b
    FROM px GROUP BY doc_id, w, h
"""


def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # second REAL codec format, stdlib zlib only (VERDICT r5 #3): the
    # fixture writes a genuine 8-bit RGB PNG per document (row filters
    # CYCLE through None/Sub/Up/Average/Paeth), and decode_png_images
    # does the full inverse — chunk walk with CRC32 checks, IDAT
    # inflate, per-row filter reconstruction. The per-channel integer
    # sums cover every byte of every scanline, so a wrong reconstruction
    # anywhere breaks the strict hash; the oracle re-derives the
    # deterministic fill (v=(seed+7x+13y)%256; R=v, G=3v%256, B=5v%256
    # — operators/multimodal.py encode_png) analytically.
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_png_payload(t["documents"], "doc_id", "text")
    return multimodal.decode_png_images(payload)


QUERIES["multimodal_png_decode"] = q_multimodal_png_decode
ORACLES["multimodal_png_decode"] = """
    WITH geo AS (
        SELECT doc_id,
               1 + CAST('0x' || substring(md5(text), 1, 2) AS INT) % 16 AS w,
               1 + CAST('0x' || substring(md5(text), 3, 2) AS INT) % 16 AS h,
               CAST('0x' || substring(md5(text), 5, 2) AS INT) AS seed
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h,
               (seed + 7 * (p % w) + 13 * (p // w)) % 256 AS v
        FROM (SELECT doc_id, w, h, seed,
                     unnest(generate_series(0, w * h - 1)) AS p
              FROM geo) g
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           'RGB' AS mode,
           CAST(SUM(v) AS BIGINT) AS sum_r,
           CAST(SUM((v * 3) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((v * 5) % 256) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id, w, h
"""


def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # third REAL codec (r6 VERDICT item 8 "decide JPEG" — decided:
    # ship it): a genuine ITU-T.81 baseline grayscale bitstream per
    # document (Annex-K Huffman tables, zigzag RLE, 0xFF00 stuffing),
    # decoded by the full marker-walk/Huffman/dequant/IDCT path in
    # operators/multimodal.py. JPEG is lossy, so the fixture uses
    # 8x8-BLOCK-SOLID pixels under an all-ones quant table — the one
    # pattern baseline JPEG round-trips bit-exactly (a solid block's
    # DCT is an integral DC only) — making every decoded pixel
    # analytically predictable: v = (seed + 7*(x//8) + 13*(y//8)) % 256.
    # The AC/Huffman path on non-solid data is pytest-verified against
    # an independent quant-model reference (tests/test_operators.py).
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_jpeg_payload(t["documents"], "doc_id", "text")
    return multimodal.decode_jpeg_images(payload)


QUERIES["multimodal_jpeg_decode"] = q_multimodal_jpeg_decode
ORACLES["multimodal_jpeg_decode"] = """
    WITH geo AS (
        SELECT doc_id,
               1 + CAST('0x' || substring(md5(text), 1, 2) AS INT) % 40 AS w,
               1 + CAST('0x' || substring(md5(text), 3, 2) AS INT) % 40 AS h,
               CAST('0x' || substring(md5(text), 5, 2) AS INT) AS seed
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h,
               (seed + 7 * ((p % w) // 8) + 13 * ((p // w) // 8)) % 256 AS v
        FROM (SELECT doc_id, w, h, seed,
                     unnest(generate_series(0, w * h - 1)) AS p
              FROM geo) g
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           'L' AS mode,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(MAX(v) AS INT) AS max_v
    FROM px GROUP BY doc_id, w, h
"""


def q_multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # real PCM16 WAV bytes per document; decode_audio walks the actual
    # RIFF chunk list (fmt/data), so the oracle predicts the parsed
    # header analytically from the md5-seeded geometry
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_wav_payload(t["documents"], "doc_id", "text")
    return multimodal.decode_audio(payload)


QUERIES["multimodal_audio_decode"] = q_multimodal_audio_decode
ORACLES["multimodal_audio_decode"] = """
    WITH geo AS (
        SELECT doc_id,
               CASE CAST('0x' || substring(md5(text), 1, 2) AS INT) % 4
                    WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
               100 + (CAST('0x' || substring(md5(text), 3, 2) AS INT) * 256
                      + CAST('0x' || substring(md5(text), 5, 2) AS INT))
                     % 2000 AS n_samples
        FROM documents
    )
    SELECT doc_id, sample_rate, 1 AS n_channels, 16 AS bits, n_samples,
           CAST(n_samples * 1000000 // sample_rate AS BIGINT) AS duration_us,
           CAST(44 + 2 * n_samples AS INT) AS n_bytes
    FROM geo
"""


#: payload byte i (0-based) as INT, derived from the md5 fake payload
_PBYTE = "CAST('0x' || substring(md5(text), {pos}, 2) AS INT)"


def _pbyte(i: int) -> str:
    return _PBYTE.format(pos=2 * i + 1)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_fake_payload(t["documents"], "doc_id", "text")
    return multimodal.resize_images(payload, 224, 224)


QUERIES["multimodal_resize"] = q_multimodal_resize
ORACLES["multimodal_resize"] = f"""
    SELECT doc_id,
           {_pbyte(0)} AS width,
           {_pbyte(1)} AS height,
           224 AS out_width,
           224 AS out_height,
           ROUND(224.0 / GREATEST({_pbyte(0)}, 1), 6) AS scale_x,
           ROUND(224.0 / GREATEST({_pbyte(1)}, 1), 6) AS scale_y,
           CAST(224 * 224 * 3 AS BIGINT) AS out_bytes
    FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the operator returns array<double>; the driver-checked binding
    # flattens to scalar columns so the value-hash never depends on how an
    # engine's client renders list cells
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_fake_payload(t["documents"], "doc_id", "text")
    feats = multimodal.extract_features(payload, dim=4)
    return feats.select(
        "doc_id",
        *[F.element_at("features", i + 1).alias(f"f{i}") for i in range(4)],
    )


QUERIES["multimodal_features"] = q_multimodal_features
ORACLES["multimodal_features"] = f"""
    SELECT doc_id,
           ROUND({_pbyte(0)} / 255.0, 6) AS f0,
           ROUND({_pbyte(1)} / 255.0, 6) AS f1,
           ROUND({_pbyte(2)} / 255.0, 6) AS f2,
           ROUND({_pbyte(3)} / 255.0, 6) AS f3
    FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_fake_payload(t["documents"], "doc_id", "text")
    return multimodal.sample_frames(payload, frame_interval_s=0.5)


QUERIES["multimodal_frame_sample"] = q_multimodal_frame_sample
ORACLES["multimodal_frame_sample"] = f"""
    SELECT doc_id,
           CAST(unnest(generate_series(0, {_pbyte(3)} % 5)) AS INT) AS frame_id,
           ROUND(unnest(generate_series(0, {_pbyte(3)} % 5)) * 0.5, 6) AS frame_ts,
           ({_pbyte(4)} + 31 * unnest(generate_series(0, {_pbyte(3)} % 5))) % 256
               AS frame_checksum
    FROM documents
"""


def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL container bytes: a genuine YUV4MPEG2 stream per document
    # (text header + FRAME markers + raw C444 planes), parsed by the
    # pure-Python walker in operators/multimodal.py — frame count, rate,
    # and geometry come from the actual header, and each kept frame's
    # checksum sums its ACTUAL Y-plane bytes. The oracle predicts all of
    # it analytically from the md5-seeded synthesis formula (Y byte =
    # (seed + 13*frame + pixel) % 256), with the pixel sum evaluated
    # over a static unnest(range(48)) spine filtered to w*h — no lateral
    # needed. every_n=2 keeps even frames; timestamps are integer
    # microseconds at the parsed 4:1 fps (floor-division exactness, the
    # WAV duration_us rule).
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_y4m_payload(t["documents"], "doc_id", "text")
    return multimodal.sample_video_frames(payload, every_n=2)


QUERIES["multimodal_video_frames"] = q_multimodal_video_frames
ORACLES["multimodal_video_frames"] = f"""
    WITH geo AS (
        SELECT doc_id,
               4 + {_pbyte(0)} % 5 AS w,
               3 + {_pbyte(1)} % 4 AS h,
               1 + {_pbyte(2)} % 6 AS nf,
               {_pbyte(3)} AS seed
        FROM documents
    ),
    fids AS (SELECT unnest(range(6)) AS fid),
    px AS (SELECT unnest(range(48)) AS j),
    frames AS (
        SELECT g.doc_id, g.w, g.h, g.nf, g.seed, f.fid
        FROM geo g CROSS JOIN fids f
        WHERE f.fid < g.nf AND f.fid % 2 = 0
    )
    SELECT doc_id,
           CAST(fid AS INT) AS frame_id,
           CAST(fid * 1000000 // 4 AS BIGINT) AS frame_ts_us,
           CAST((SELECT SUM((seed + 13 * fid + px.j) % 256) FROM px
                 WHERE px.j < w * h) AS BIGINT) AS y_checksum,
           CAST(nf AS INT) AS n_frames
    FROM frames
"""


def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pixel path: parse the genuine BMP payload, gather with the
    # integer nearest-neighbor source map (out_idx * src_dim // out_dim)
    # over the ACTUAL BGR rows, and reduce the resized image to integer
    # channel sums. The oracle replays the same gather analytically from
    # the md5-seeded pixel formula over a static 8x8 output grid. The
    # fake-payload multimodal_resize entry stays (it checks the metadata
    # plumbing and keeps its driver row); this one checks the pixels.
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_bmp_payload(t["documents"], "doc_id", "text")
    return multimodal.resize_bmp_nearest(payload, 8, 8)


QUERIES["multimodal_resize_real"] = q_multimodal_resize_real
ORACLES["multimodal_resize_real"] = f"""
    WITH geo AS (
        SELECT doc_id,
               1 + {_pbyte(0)} % 16 AS w,
               1 + {_pbyte(1)} % 16 AS h,
               {_pbyte(2)} AS seed
        FROM documents
    ),
    grid AS (
        SELECT a.i, b.j
        FROM (SELECT unnest(range(8)) AS i) a
        CROSS JOIN (SELECT unnest(range(8)) AS j) b
    ),
    px AS (
        SELECT g.doc_id, g.w, g.h,
               (g.seed + 7 * (grid.i * g.w // 8)
                       + 13 * (grid.j * g.h // 8)) % 256 AS v
        FROM geo g CROSS JOIN grid
    )
    SELECT doc_id,
           CAST(MIN(w) AS INT) AS src_w,
           CAST(MIN(h) AS INT) AS src_h,
           CAST(8 AS INT) AS out_w,
           CAST(8 AS INT) AS out_h,
           CAST(SUM(v) AS BIGINT) AS sum_b,
           CAST(SUM((v * 3) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((v * 5) % 256) AS BIGINT) AS sum_r
    FROM px GROUP BY doc_id
"""


def q_multimodal_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pixel path for patch pooling: quadrant of pixel (x, y) is
    # (x*2 // w, y*2 // h) over the ACTUAL decoded BGR rows; the oracle
    # replays the same floor-quadrant assignment over a static 16x16
    # pixel spine filtered to (w, h) and aggregates the synthesis
    # formula per quadrant. The fake-payload multimodal_features entry
    # stays for its plumbing check and existing driver row.
    t = register_testdata(spark, sf_dir)
    payload = multimodal.attach_bmp_payload(t["documents"], "doc_id", "text")
    return multimodal.extract_bmp_block_features(payload)


QUERIES["multimodal_features_real"] = q_multimodal_features_real
ORACLES["multimodal_features_real"] = f"""
    WITH geo AS (
        SELECT doc_id,
               1 + {_pbyte(0)} % 16 AS w,
               1 + {_pbyte(1)} % 16 AS h,
               {_pbyte(2)} AS seed
        FROM documents
    ),
    grid AS (
        SELECT a.x, b.y
        FROM (SELECT unnest(range(16)) AS x) a
        CROSS JOIN (SELECT unnest(range(16)) AS y) b
    ),
    px AS (
        SELECT g.doc_id,
               grid.x * 2 // g.w AS qx,
               grid.y * 2 // g.h AS qy,
               (g.seed + 7 * grid.x + 13 * grid.y) % 256 AS v
        FROM geo g CROSS JOIN grid
        WHERE grid.x < g.w AND grid.y < g.h
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN qx = 0 AND qy = 0 THEN v END) AS BIGINT) AS sum_q00,
           CAST(SUM(CASE WHEN qx = 0 AND qy = 1 THEN v END) AS BIGINT) AS sum_q01,
           CAST(SUM(CASE WHEN qx = 1 AND qy = 0 THEN v END) AS BIGINT) AS sum_q10,
           CAST(SUM(CASE WHEN qx = 1 AND qy = 1 THEN v END) AS BIGINT) AS sum_q11,
           CAST(COUNT(CASE WHEN qx = 0 AND qy = 0 THEN 1 END) AS BIGINT) AS n_q00,
           CAST(COUNT(CASE WHEN qx = 0 AND qy = 1 THEN 1 END) AS BIGINT) AS n_q01,
           CAST(COUNT(CASE WHEN qx = 1 AND qy = 0 THEN 1 END) AS BIGINT) AS n_q10,
           CAST(COUNT(CASE WHEN qx = 1 AND qy = 1 THEN 1 END) AS BIGINT) AS n_q11
    FROM px GROUP BY doc_id
"""


# ---------------------------------------------------------------- #
# deterministic sampling (operators/sampling.py)                    #
# ---------------------------------------------------------------- #
_U32 = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
    " / 4294967296.0"
)


def q_sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return sampling.hash_bernoulli_sample(t["documents"], "doc_id", 0.1).select(
        "doc_id", "lang", "source"
    )


QUERIES["sample_hash_bernoulli"] = q_sample_hash_bernoulli
ORACLES["sample_hash_bernoulli"] = f"""
    SELECT doc_id, lang, source FROM documents WHERE {_U32} < 0.1
"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return sampling.stratified_quota_sample(
        t["documents"], ["lang", "source"], "doc_id", k=3
    ).select("doc_id", "lang", "source", "sample_rank")


QUERIES["sample_stratified"] = q_sample_stratified
ORACLES["sample_stratified"] = """
    SELECT doc_id, lang, source, sample_rank FROM (
        SELECT doc_id, lang, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INT) AS sample_rank
        FROM documents
    ) WHERE sample_rank <= 3
"""


def q_sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    split = sampling.split_train_val_test(
        t["documents"], "doc_id", val_fraction=0.05, test_fraction=0.05
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum")
    )


QUERIES["sample_train_split"] = q_sample_train_split
ORACLES["sample_train_split"] = f"""
    SELECT CASE WHEN {_U32} < 0.05 THEN 'val'
                WHEN {_U32} < 0.10 THEN 'test'
                ELSE 'train' END AS split,
           COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents GROUP BY 1
"""


# corpus stats: exact interpolated length quantiles per source. Exact
# percentile (not approx) is deliberate here — it IS oracle-checkable;
# the approximate path for 100 TB is percentile_approx with a
# documented error bound (same plan shape: one partial+final agg).
def q_corpus_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return t["documents"].groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99"),
    )


QUERIES["corpus_length_quantiles"] = q_corpus_length_quantiles
ORACLES["corpus_length_quantiles"] = """
    SELECT source, COUNT(*) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
           ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
           ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
    FROM documents GROUP BY source
"""


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return sampling.weighted_sample_topk(
        t["documents"], "doc_id", F.col("n_chars").cast("double"), k=50
    ).select("doc_id", "n_chars", "sample_rank")


def q_sample_weighted_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return sampling.weighted_sample_per_group(
        t["documents"], "source", "doc_id", F.col("n_chars").cast("double"), k=5
    ).select("source", "doc_id", "n_chars", "sample_rank")


QUERIES["sample_weighted_per_source"] = q_sample_weighted_per_source
ORACLES["sample_weighted_per_source"] = f"""
    SELECT source, doc_id, n_chars, sample_rank FROM (
        SELECT source, doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ROUND(pow({_U32}, 1.0 / CAST(n_chars AS DOUBLE)), 12)
                            DESC, doc_id
               ) AS INT) AS sample_rank
        FROM documents WHERE n_chars > 0
    ) WHERE sample_rank <= 5
"""


QUERIES["sample_weighted"] = q_sample_weighted
# A-ES key: u^(1/w) with the same md5-derived uniform, rounded to 12dp
# before ranking (see operators/sampling.py weighted_sample_topk)
ORACLES["sample_weighted"] = f"""
    SELECT doc_id, n_chars, sample_rank FROM (
        SELECT doc_id, n_chars,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY ROUND(pow({_U32}, 1.0 / CAST(n_chars AS DOUBLE)), 12)
                            DESC, doc_id
               ) AS INT) AS sample_rank
        FROM documents WHERE n_chars > 0
    ) WHERE sample_rank <= 50
"""


# ---------------------------------------------------------------- #
# The funnel: dedup -> quality gate -> language gate -> split ->    #
# per-split stats, one DAG — the curation pipeline every LLM corpus #
# goes through, composed from the operators above (exact dedup via  #
# min-id-per-content window, quality_features, hash split). Three   #
# shuffles total: content-hash window, split groupBy, and the       #
# map-side-combinable final aggregation.                            #
# ---------------------------------------------------------------- #
def q_pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = register_testdata(spark, sf_dir)
    feats = TX.quality_features(F.col("text"))
    base = t["documents"].select(
        "doc_id",
        "text",
        "lang",
        feats["n_tokens"].alias("n_tokens"),
        feats["distinct_ratio"].alias("distinct_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
    )
    kept = (
        base.withColumn(
            "__keep", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
        .where(F.col("doc_id") == F.col("__keep"))
        .where(
            (F.col("n_tokens") >= 20)
            & (F.col("distinct_ratio") >= 0.4)
            & (F.col("punct_ratio") <= 0.2)
            & (F.col("lang") == "en")
        )
    )
    split = sampling.split_train_val_test(kept, "doc_id", 0.05, 0.05)
    return split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("doc_id").alias("id_checksum"),
    )


QUERIES["pipeline_corpus_curation"] = q_pipeline_corpus_curation
ORACLES["pipeline_corpus_curation"] = f"""
    WITH feat AS (
        SELECT doc_id, text, lang,
               len(toks) AS n_tokens,
               ROUND(len(list_distinct(toks))
                     / NULLIF(CAST(len(toks) AS DOUBLE), 0), 6) AS distinct_ratio,
               ROUND(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
                     / NULLIF(CAST(length(text) AS DOUBLE), 0), 6) AS punct_ratio
        FROM (SELECT doc_id, text, lang, {_TOKS} AS toks FROM documents)
    ),
    kept AS (
        SELECT f.* FROM feat f
        JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keep
              FROM documents GROUP BY 1) d
          ON md5(f.text) = d.h AND f.doc_id = d.keep
        WHERE f.n_tokens >= 20 AND f.distinct_ratio >= 0.4
          AND f.punct_ratio <= 0.2 AND f.lang = 'en'
    )
    SELECT CASE WHEN {_U32} < 0.05 THEN 'val'
                WHEN {_U32} < 0.10 THEN 'test'
                ELSE 'train' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM kept
    GROUP BY 1
"""


# dedup graph: PageRank centrality over the MinHash-LSH pair graph —
# surfaces "template" docs whose near-copies pervade the corpus.
# Iterations are unrolled as chained CTEs in the oracle (SQL forbids
# aggregation in a recursive term); per-round sums are decimal-quantized
# in both engines so the float iteration is bit-identical.
_PR_ITers = 5


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.graph import pagerank

    pairs = _dedup_pair_graph(spark, sf_dir)
    return pagerank(pairs, iterations=_PR_ITers)


def _pagerank_oracle() -> str:
    its = []
    prev = "pr0"
    for k in range(1, _PR_ITers + 1):
        # contribution quantized as FLOOR(pr/deg*1e6 + 0.5) — pure IEEE
        # double ops, bit-identical to Spark's; a double->DECIMAL cast
        # is NOT (Spark rounds the shortest repr HALF_UP, DuckDB rounds
        # the binary value — they disagree on x.xxxxxx5 boundaries)
        its.append(
            f""",
    pr{k} AS (
        SELECT e.v AS u,
               CAST(CAST(0.15000000 AS DECIMAL(9,8))
                    + CAST(0.85000000 AS DECIMAL(9,8))
                      * CAST(SUM(CAST(FLOOR(p.pr / d.deg * 1000000 + 0.5)
                                      AS BIGINT)) AS DECIMAL(18,0))
                      * CAST(0.000001 AS DECIMAL(7,6))
                    AS DOUBLE) AS pr
        FROM edges e
        JOIN {prev} p ON e.u = p.u
        JOIN deg d ON d.u = e.u
        GROUP BY e.v
    )"""
        )
        prev = f"pr{k}"
    return f"""
    WITH pairs AS ({_minhash_oracle(_LSH_CAP)}),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    pr0 AS (SELECT u, 1.0 AS pr FROM deg){''.join(its)}
    SELECT u AS node, pr FROM {prev}
    """


QUERIES["dedup_pagerank"] = q_dedup_pagerank
ORACLES["dedup_pagerank"] = _pagerank_oracle()


# ---------------------------------------------------------------- #
# Benchmark decontamination: flag corpus docs sharing any 5-gram    #
# with a held-out benchmark set (the standard eval-contamination    #
# check before training). Shingles hash to 60-bit ints, benchmark   #
# shingle set joins broadcast (eval sets are tiny vs the corpus);   #
# one explode + one equi-join + one groupBy — scales linearly.      #
# ---------------------------------------------------------------- #
_CONTAM_N = 5


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    # the shared shingle relation is checkpointed so the benchmark and
    # corpus branches don't recompute it
    ex = (
        t["documents"]
        .select("doc_id", F.explode(TX.ngrams(F.col("text"), _CONTAM_N)).alias("__g"))
        .select("doc_id", TX.hash60(F.col("__g")).alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bench = (
        ex.where(F.col("doc_id") < 5).select("g").distinct()
    )
    hits = (
        ex.where(F.col("doc_id") >= 5)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_5grams"))
    )
    return hits.select(
        "doc_id", "n_shared_5grams", F.lit(True).alias("contaminated")
    )


def _contam_oracle() -> str:
    return f"""
    WITH docs AS (
        SELECT doc_id,
               list_transform({_shingles(_CONTAM_N)}, t -> {_HASH60_T}) AS sh
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(sh) AS g FROM docs),
    bench AS (SELECT DISTINCT g FROM ex WHERE doc_id < 5)
    SELECT e.doc_id, COUNT(*) AS n_shared_5grams, TRUE AS contaminated
    FROM ex e JOIN bench b ON e.g = b.g
    WHERE e.doc_id >= 5
    GROUP BY e.doc_id
    """


QUERIES["benchmark_contamination"] = q_benchmark_contamination
ORACLES["benchmark_contamination"] = _contam_oracle()


# ---------------------------------------------------------------- #
# Repetition statistics: C4/Gopher-style quality heuristics — the   #
# share of the most frequent bigram and the duplicate-token ratio.  #
# One explode + two aggregations, all map-side combinable.          #
# ---------------------------------------------------------------- #
def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    docs = t["documents"]
    per_doc = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks")).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    # positional (NON-distinct) bigrams
    top_bg = (
        docs.select("doc_id", F.explode(TX.ngrams(F.col("text"), 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"))
    )
    return (
        per_doc.where(F.col("n_toks") >= 2)
        .join(top_bg, "doc_id")
        .select(
            "doc_id",
            "n_toks",
            F.round(
                F.col("max_bg") / (F.col("n_toks") - 1).cast("double"), 6
            ).alias("top_bigram_share"),
            F.round(
                F.lit(1.0)
                - F.col("n_distinct") / F.col("n_toks").cast("double"),
                6,
            ).alias("dup_token_ratio"),
        )
    )


QUERIES["text_repetition_stats"] = q_text_repetition_stats
ORACLES["text_repetition_stats"] = f"""
    WITH base AS (
        SELECT doc_id, toks, len(toks) AS n_toks,
               len(list_distinct(toks)) AS n_distinct
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        WHERE len(toks) >= 2
    ),
    grams AS (
        SELECT doc_id, n_toks, n_distinct,
               unnest(list_transform(generate_series(1, n_toks - 1),
                      i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM base
    ),
    counts AS (
        SELECT doc_id, n_toks, n_distinct, bg, COUNT(*) AS c
        FROM grams GROUP BY 1, 2, 3, 4
    )
    SELECT doc_id, n_toks,
           ROUND(MAX(c) / CAST(n_toks - 1 AS DOUBLE), 6) AS top_bigram_share,
           ROUND(1.0 - n_distinct / CAST(n_toks AS DOUBLE), 6) AS dup_token_ratio
    FROM counts GROUP BY doc_id, n_toks, n_distinct
"""


# ---------------------------------------------------------------- #
# PII scrubbing: inject deterministic synthetic emails/phones into  #
# a slice of the corpus (the testdata vocabulary has none), then    #
# redact with the same RE2-compatible patterns in both engines and  #
# count redactions. Pure per-row regexp_replace — zero shuffle.     #
# ---------------------------------------------------------------- #
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    docs = t["documents"].withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    scrubbed = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias(
            "n_phones"
        ),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
                _PHONE_RE,
                "[PHONE]",
            )
        ).alias("scrubbed_md5"),
    )
    return scrubbed


QUERIES["text_pii_scrub"] = q_text_pii_scrub
ORACLES["text_pii_scrub"] = f"""
    WITH docs AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or 555-01'
                         || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                         || '-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           md5(regexp_replace(
               regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
               '{_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
    FROM docs
"""


# ---------------------------------------------------------------- #
# Training-shard packing: distribute documents into N shards with   #
# balanced token budgets — longest-first round-robin by size rank   #
# (a 4/3-approximation of optimal makespan, fully deterministic and #
# one window pass; the greedy bin-packer is inherently sequential). #
# ---------------------------------------------------------------- #
_N_SHARDS = 16


def q_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from de_polars_spark.functions import text as _TX

    t = register_testdata(spark, sf_dir)
    sized = t["documents"].select(
        "doc_id", F.size(_TX.tokens(F.col("text"))).alias("n_tokens")
    )
    # distributed global rank: a bare Window.orderBy sorts the whole
    # corpus into ONE partition, so the rank is assembled in two phases —
    # row_number within each n_tokens bucket (parallel across buckets) +
    # the cumulative count of larger buckets (a window over the tiny
    # per-bucket-count relation)
    in_bucket = Window.partitionBy("n_tokens").orderBy("doc_id")
    bucket_counts = sized.groupBy("n_tokens").agg(F.count("*").alias("__bc"))
    offsets = bucket_counts.select(
        "n_tokens",
        (
            F.sum("__bc").over(
                Window.orderBy(F.desc("n_tokens")).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("__off"),
    ).fillna(0, ["__off"])
    assigned = (
        sized.withColumn("__r", F.row_number().over(in_bucket))
        .join(offsets, "n_tokens")
        .withColumn(
            "shard_id",
            ((F.col("__off") + F.col("__r") - 1) % _N_SHARDS).cast("int"),
        )
    )
    return assigned.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
        F.sum("doc_id").alias("id_checksum"),
    )


QUERIES["shard_packing"] = q_shard_packing
ORACLES["shard_packing"] = f"""
    WITH sized AS (
        SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
    ),
    assigned AS (
        SELECT doc_id, n_tokens,
               CAST((ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
                    % {_N_SHARDS} AS INT) AS shard_id
        FROM sized
    )
    SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM assigned GROUP BY shard_id
"""


# ---------------------------------------------------------------- #
# Distributed k-means (2 Lloyd rounds) over the embedding corpus — #
# the IVF/topic-bucketing fit. Centroids stay driver-side (k x dim  #
# doubles) and broadcast into the assignment expression; updates    #
# are one decimal-quantized aggregation per round, so the float     #
# iteration is bit-identical to the unrolled-CTE oracle.            #
# ---------------------------------------------------------------- #
_KM_K, _KM_DIM, _KM_ITERS = 8, 64, 2


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.kmeans import kmeans_iterations

    t = register_testdata(spark, sf_dir)
    emb = t["embeddings"]
    seed_rows = (
        emb.where(F.col("vec_id") % 67 == 1)
        .orderBy("vec_id")
        .limit(_KM_K)
        .select("embedding")
        .collect()
    )
    seeds = [[float(x) for x in r["embedding"]] for r in seed_rows]
    assigned, cents = kmeans_iterations(
        emb, "vec_id", "embedding", seeds, iterations=_KM_ITERS
    )
    # squared norms folded driver-side, one VALUES row per centroid
    norms = values_df(
        spark,
        [(cid, float(sum(x * x for x in cent))) for cid, cent in enumerate(cents)],
        "cid int, sq double",
    ).select("cid", F.round(F.sqrt("sq"), 6).alias("centroid_norm"))
    summary = assigned.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.sum("vec_id").alias("id_sum"),
    )
    return summary.join(norms, "cid").select(
        "cid", "n_members", "id_sum", "centroid_norm"
    )


def _kmeans_chain() -> tuple[str, str, str]:
    """Unrolled-Lloyd WITH-clause text shared by the k-means oracle and
    the kmeans-fit IVF oracle. Returns (cte_text, final_assign_cte,
    final_centroid_cte)."""
    dist = (
        "list_aggregate(list_transform(generate_series(1, {d}), "
        "i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])), 'sum')"
    ).format(d=_KM_DIM)

    def assign(cname: str, aname: str) -> str:
        return f""",
    {aname} AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id ORDER BY {dist}, c.cid) AS rn
            FROM e, {cname} c
        ) WHERE rn = 1
    )"""

    def update(aname: str, prev: str, cname: str) -> str:
        return f""",
    {cname}_dims AS (
        SELECT a.cid, t.i,
               CAST(SUM(CAST(e.v[t.i] AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS m
        FROM {aname} a JOIN e USING (vec_id)
        CROSS JOIN generate_series(1, {_KM_DIM}) t(i)
        GROUP BY a.cid, t.i
    ),
    {cname} AS (
        SELECT p.cid,
               COALESCE(d.v, p.v) AS v
        FROM (SELECT cid, v FROM {prev}) p
        LEFT JOIN (SELECT cid, list(m ORDER BY i) AS v
                   FROM {cname}_dims GROUP BY cid) d
          ON p.cid = d.cid
    )"""

    parts = [
        f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
        FROM (SELECT vec_id, v FROM e WHERE vec_id % 67 = 1
              ORDER BY vec_id LIMIT {_KM_K})
    )"""
    ]
    prev_c = "c0"
    for it in range(_KM_ITERS):
        aname, cname = f"a{it}", f"c{it + 1}"
        parts.append(assign(prev_c, aname))
        parts.append(update(aname, prev_c, cname))
        prev_c = cname
    parts.append(assign(prev_c, f"a{_KM_ITERS}"))
    return "".join(parts), f"a{_KM_ITERS}", prev_c


def _kmeans_oracle() -> str:
    ctes, final_a, final_c = _kmeans_chain()
    return (
        ctes
        + f"""
    SELECT a.cid, COUNT(*) AS n_members,
           CAST(SUM(a.vec_id) AS BIGINT) AS id_sum,
           ROUND(sqrt(list_aggregate(list_transform(
               generate_series(1, {_KM_DIM}), i -> c.v[i] * c.v[i]),
               'sum')), 6) AS centroid_norm
    FROM {final_a} a JOIN {final_c} c ON a.cid = c.cid
    GROUP BY a.cid, c.v
    """
    )


QUERIES["kmeans_embeddings"] = q_kmeans_embeddings
ORACLES["kmeans_embeddings"] = _kmeans_oracle()


# ---------------------------------------------------------------- #
# Unigram log-probability scoring: the perplexity-proxy quality     #
# signal (docs full of rare/garbled tokens score low). p(tok) from  #
# corpus counts with add-one smoothing; per-doc mean of -ln p,      #
# decimal-quantized per token so the sum is order-independent.      #
# Two aggregations + one broadcast-ready join on the token column.  #
# ---------------------------------------------------------------- #
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    tok = t["documents"].select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    totals = tok.agg(F.count("*").alias("n_total"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    n_vocab = vocab.agg(F.count("*").alias("n_vocab"))
    # -ln((c + 1) / (n_total + n_vocab)), quantized at 1e-6 per token
    scored = (
        tok.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n_vocab))
        .withColumn(
            "__nlp",
            (
                -F.log(
                    (F.col("c") + F.lit(1)).cast("double")
                    / (F.col("n_total") + F.col("n_vocab"))
                )
            ).cast("decimal(38,6)"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum("__nlp").cast("double") / F.count("*"), 6
        ).alias("avg_neg_logprob"),
    )


QUERIES["text_unigram_logprob"] = q_text_unigram_logprob
ORACLES["text_unigram_logprob"] = f"""
    WITH tok AS (
        SELECT doc_id, unnest(toks) AS tok
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    totals AS (SELECT COUNT(*) AS n_total FROM tok),
    vocab AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    nv AS (SELECT COUNT(*) AS n_vocab FROM vocab),
    scored AS (
        SELECT t.doc_id,
               CAST(-ln(CAST(v.c + 1 AS DOUBLE) / (totals.n_total + nv.n_vocab))
                    AS DECIMAL(38,6)) AS nlp
        FROM tok t
        JOIN vocab v USING (tok)
        CROSS JOIN totals CROSS JOIN nv
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(nlp) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob
    FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------- #
# Source-mixture resampling with sqrt (temperature) smoothing: big  #
# sources are down-weighted toward sqrt of their share — the        #
# standard rebalancing for multi-source training corpora. Per-      #
# source keep fractions derive from one tiny counts aggregate       #
# (broadcast back), and membership is the deterministic md5 draw,   #
# so the sample is stable across runs and engines.                  #
# ---------------------------------------------------------------- #
def q_mixture_resample_sqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    docs = t["documents"]
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    frac = F.least(
        F.lit(1.0), F.lit(5.0) * F.sqrt(F.col("n_src")) / F.col("n_src")
    )
    keep = (
        docs.join(F.broadcast(counts.withColumn("keep_frac", frac)), "source")
        .where(sampling.hash_uniform(F.col("doc_id")) < F.col("keep_frac"))
    )
    return keep.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.max("n_src").alias("n_source_rows"),
        F.round(F.max("keep_frac"), 6).alias("keep_frac"),
        F.sum("doc_id").alias("id_checksum"),
    )


QUERIES["mixture_resample_sqrt"] = q_mixture_resample_sqrt
ORACLES["mixture_resample_sqrt"] = f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n_src,
               LEAST(1.0, 5.0 * sqrt(COUNT(*)) / COUNT(*)) AS keep_frac
        FROM documents GROUP BY source
    )
    SELECT d.source,
           COUNT(*) AS n_kept,
           MAX(c.n_src) AS n_source_rows,
           ROUND(MAX(c.keep_frac), 6) AS keep_frac,
           CAST(SUM(d.doc_id) AS BIGINT) AS id_checksum
    FROM documents d JOIN counts c ON d.source = c.source
    WHERE {_U32} < c.keep_frac
    GROUP BY d.source
"""


# ---------------------------------------------------------------- #
# Canonical-doc selection: after the dedup closure, which physical  #
# copy of each duplicate cluster SURVIVES. Highest quality          #
# (n_chars), ties to the lowest doc_id — a total order, so the      #
# choice is deterministic and oracle-checkable. One join + one      #
# aggregation (argmax rides the same aggregate as the counters).    #
# ---------------------------------------------------------------- #
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    comps = _dedup_components(spark, sf_dir)
    return dedup.select_canonical(comps, t["documents"], "doc_id", "n_chars")


QUERIES["dedup_keep_best"] = q_dedup_keep_best
ORACLES["dedup_keep_best"] = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle(_LSH_CAP)}),
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
    member AS (
        SELECT c.component_id, c.node, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.component_id
                                  ORDER BY d.n_chars DESC, c.node ASC) AS rk
        FROM comp c JOIN documents d ON c.node = d.doc_id
    )
    SELECT component_id,
           CAST(MAX(CASE WHEN rk = 1 THEN node END) AS BIGINT) AS kept_id,
           MAX(CASE WHEN rk = 1 THEN n_chars END) AS kept_quality,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           CAST(SUM(node) - MAX(CASE WHEN rk = 1 THEN node END) AS BIGINT)
               AS dropped_id_sum
    FROM member GROUP BY component_id
"""


# ---------------------------------------------------------------- #
# Token-window chunking: long docs -> model-context-sized windows   #
# with overlap (operators/chunking.py — map + generator explode,    #
# zero shuffle). chunk_hash pins the exact token content of every   #
# window cross-engine.                                              #
# ---------------------------------------------------------------- #
_CHUNK_W, _CHUNK_OV = 64, 16


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.chunking import chunk_documents

    t = register_testdata(spark, sf_dir)
    return chunk_documents(
        t["documents"], "doc_id", "text", window=_CHUNK_W, overlap=_CHUNK_OV
    )


_CHUNK_STRIDE = _CHUNK_W - _CHUNK_OV
QUERIES["chunk_documents"] = q_chunk_documents
ORACLES["chunk_documents"] = f"""
    WITH sized AS (
        SELECT doc_id, toks, len(toks) AS n
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        WHERE len(toks) > 0
    ),
    chunks AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(
                   0,
                   CASE WHEN n <= {_CHUNK_W} THEN 0
                        ELSE CAST(ceil((n - {_CHUNK_W}) / {_CHUNK_STRIDE}.0)
                                  AS INT) END
               )) AS chunk_idx
        FROM sized
    )
    SELECT doc_id,
           CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(chunk_idx * {_CHUNK_STRIDE} AS INT) AS chunk_start,
           CAST(LEAST({_CHUNK_W}, n - chunk_idx * {_CHUNK_STRIDE}) AS INT)
               AS chunk_len,
           md5(array_to_string(
               list_slice(toks,
                          chunk_idx * {_CHUNK_STRIDE} + 1,
                          chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_W}),
               ' ')) AS chunk_hash
    FROM chunks
"""


# ---------------------------------------------------------------- #
# Matryoshka truncation + L2 norms (operators/vectors.py): per-row  #
# vector folds only — no shuffle.                                   #
# ---------------------------------------------------------------- #
_TRUNC_DIM = 16


def q_embedding_truncate_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.vectors import truncate_normalize

    t = register_testdata(spark, sf_dir)
    return truncate_normalize(t["embeddings"], "vec_id", "embedding", _TRUNC_DIM)


QUERIES["embedding_truncate_norm"] = q_embedding_truncate_norm
ORACLES["embedding_truncate_norm"] = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    t AS (
        SELECT vec_id, v, list_slice(v, 1, {_TRUNC_DIM}) AS tv,
               CAST(len(v) AS INT) AS full_dim
        FROM e
    )
    SELECT vec_id, full_dim,
           ROUND(sqrt(list_dot_product(v, v)), 6) AS full_norm,
           ROUND(sqrt(list_dot_product(tv, tv)), 6) AS trunc_norm,
           ROUND(tv[1] / CASE WHEN sqrt(list_dot_product(tv, tv)) = 0
                              THEN 1.0
                              ELSE sqrt(list_dot_product(tv, tv)) END, 6)
               AS lead_component
    FROM t
"""


# ---------------------------------------------------------------- #
# Cross-document boilerplate: token windows recurring in >=2 docs   #
# (chunk-level dedup target even when the documents are not         #
# duplicates). Map + explode feeding one map-side-combinable        #
# groupBy on the chunk hash.                                        #
# ---------------------------------------------------------------- #
def q_chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.chunking import duplicate_chunks

    t = register_testdata(spark, sf_dir)
    return duplicate_chunks(
        t["documents"], "doc_id", "text",
        window=_CHUNK_W, overlap=_CHUNK_OV, min_docs=2,
    )


QUERIES["chunk_boilerplate"] = q_chunk_boilerplate
ORACLES["chunk_boilerplate"] = f"""
    WITH sized AS (
        SELECT doc_id, toks, len(toks) AS n
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        WHERE len(toks) > 0
    ),
    chunks AS (
        SELECT doc_id,
               CAST(LEAST({_CHUNK_W}, n - chunk_idx * {_CHUNK_STRIDE}) AS INT)
                   AS chunk_len,
               md5(array_to_string(
                   list_slice(toks,
                              chunk_idx * {_CHUNK_STRIDE} + 1,
                              chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_W}),
                   ' ')) AS chunk_hash
        FROM (
            SELECT doc_id, toks, n,
                   unnest(generate_series(
                       0,
                       CASE WHEN n <= {_CHUNK_W} THEN 0
                            ELSE CAST(ceil((n - {_CHUNK_W})
                                           / {_CHUNK_STRIDE}.0) AS INT) END
                   )) AS chunk_idx
            FROM sized
        )
    )
    SELECT chunk_hash,
           MAX(chunk_len) AS chunk_len,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
"""


# ---------------------------------------------------------------- #
# Vocabulary coverage: fraction of corpus tokens covered by the     #
# top-K words (tokenizer budget planning). Distributed top-k, never #
# a full-vocabulary global sort.                                    #
# ---------------------------------------------------------------- #
_VOCAB_KS = (10, 100, 500, 1000)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.textrank import vocab_coverage

    t = register_testdata(spark, sf_dir)
    return vocab_coverage(t["documents"], "doc_id", "text", ks=_VOCAB_KS)


QUERIES["vocab_coverage"] = q_vocab_coverage
ORACLES["vocab_coverage"] = f"""
    WITH tok AS (
        SELECT unnest({_TOKS}) AS w FROM documents
    ),
    counts AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    ranked AS (
        SELECT w, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rank,
               SUM(c) OVER (ORDER BY c DESC, w ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
        FROM counts
    ),
    total AS (SELECT COUNT(*) AS total_tokens FROM tok)
    SELECT CAST(k.k AS INT) AS k,
           CAST(r.cum AS BIGINT) AS covered_tokens,
           CAST(t.total_tokens AS BIGINT) AS total_tokens,
           ROUND(r.cum / CAST(t.total_tokens AS DOUBLE), 6) AS coverage
    FROM (SELECT unnest([{", ".join(str(k) for k in _VOCAB_KS)}]) AS k) k
    JOIN ranked r
      ON r.rank = LEAST(k.k, {max(_VOCAB_KS)},
                        (SELECT MAX(rank) FROM ranked))
    CROSS JOIN total t
    ORDER BY k
"""


# ---------------------------------------------------------------- #
# Canonical text normalization: lowercase + whitespace collapse     #
# (the hash-input form for exact dedup across formatting variants). #
# Pure per-row expressions.                                         #
# ---------------------------------------------------------------- #
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    norm = TX.normalize_text(F.col("text"))
    return t["documents"].select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("n_chars_norm"),
        (F.length(norm) != F.length("text")).alias("changed"),
    )


QUERIES["text_normalize"] = q_text_normalize
ORACLES["text_normalize"] = """
    WITH n AS (
        SELECT doc_id, text,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT doc_id, md5(norm) AS norm_hash,
           CAST(length(norm) AS INT) AS n_chars_norm,
           length(norm) != length(text) AS changed
    FROM n
"""


# ---------------------------------------------------------------- #
# Per-source corpus profile: the mixture-dashboard rollup every     #
# curation run starts from — doc/token volume, language mix, and    #
# quality-gate pass rate per source. One map-side-combinable        #
# aggregation over per-row expressions (the same quality features   #
# as text_quality; no second corpus scan per metric).               #
# ---------------------------------------------------------------- #
def q_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    feats = TX.quality_features(F.col("text"))
    per_doc = t["documents"].select(
        "source",
        "lang",
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        TX.quality_score(F.col("text")).alias("q"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("bigint")
            .alias("n_english"),
            F.round(
                F.sum(F.col("q").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_quality"),
            F.sum(F.when(F.col("q") >= 0.7, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("source")
    )


QUERIES["quality_by_source"] = q_quality_by_source
ORACLES["quality_by_source"] = f"""
    WITH feat AS (
        SELECT source, lang, doc_id,
               len(toks) AS n_tokens,
               ROUND(len(list_distinct(toks))
                     / NULLIF(CAST(len(toks) AS DOUBLE), 0), 6) AS distinct_ratio,
               ROUND(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))
                     / NULLIF(CAST(length(text) AS DOUBLE), 0), 6) AS punct_ratio
        FROM (SELECT source, lang, doc_id, text, {_TOKS} AS toks FROM documents)
    ),
    scored AS (
        SELECT source, lang, doc_id, n_tokens,
               ROUND(
                   (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.4
                         WHEN n_tokens >= 5 THEN 0.2 ELSE 0.0 END)
                 + (CASE WHEN distinct_ratio >= 0.5 THEN 0.3
                         ELSE ROUND(distinct_ratio * 0.6, 6) END)
                 + (CASE WHEN punct_ratio <= 0.2 THEN 0.3 ELSE 0.1 END), 6) AS q
        FROM feat
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_english,
           ROUND(CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
               AS avg_quality,
           CAST(SUM(CASE WHEN q >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM scored
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------- #
# MinHash signature-agreement estimate: the 100 TB verification     #
# fast path (O(n_hashes) per candidate pair, never a shingle-set    #
# intersection). Unbiased estimate of Jaccard with stderr           #
# ~ sqrt(J(1-J)/n); exact verification (dedup_ngram_jaccard) is     #
# the precision path.                                               #
# ---------------------------------------------------------------- #
def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pinned to the production cap (the r7 default — the uncapped
    # estimator's candidate set is quadratic like any exact banding:
    # measured 10.1M pairs at sf1 vs 143k capped); the oracle models
    # the same cap-16 bucket filter.
    t = register_testdata(spark, sf_dir)
    return dedup.minhash_estimate_pairs(
        t["documents"], "doc_id", "text", _N_HASHES, _BAND_SIZE,
        shingle_n=2, max_bucket_size=_LSH_CAP,
    )


def _minhash_estimate_oracle() -> str:
    matches = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(_N_HASHES)
    )
    return f"""
    WITH pairs AS ({_minhash_oracle(_LSH_CAP)}),
    docs2 AS (
        SELECT doc_id, {_shingles(2)} AS shingles
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    sigs2 AS (
        SELECT doc_id,
               {", ".join(
                   "list_aggregate(list_transform(shingles, s -> md5(s || '#%d')), 'min') AS mh%d"
                   % (i, i) for i in range(_N_HASHES)
               )}
        FROM docs2
    )
    SELECT p.id_a, p.id_b,
           CAST({matches} AS INT) AS n_match,
           ROUND(({matches}) / {_N_HASHES}.0, 6) AS jaccard_est
    FROM pairs p
    JOIN sigs2 sa ON p.id_a = sa.doc_id
    JOIN sigs2 sb ON p.id_b = sb.doc_id
    """


QUERIES["dedup_minhash_estimate"] = q_dedup_minhash_estimate
ORACLES["dedup_minhash_estimate"] = _minhash_estimate_oracle()


# ---------------------------------------------------------------- #
# Per-doc duplicated-span profile: fraction of a doc's distinct     #
# 8-grams appearing in other docs — the exact-substring-dedup       #
# filtering signal (docs built from spans seen elsewhere are        #
# boilerplate/near-copies even without a whole-doc match).          #
# ---------------------------------------------------------------- #
_DUPNG_N = 8


def q_ngram_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return dedup.ngram_duplication_profile(
        t["documents"], "doc_id", "text", n=_DUPNG_N, min_docs=2
    )


QUERIES["ngram_dup_profile"] = q_ngram_dup_profile
ORACLES["ngram_dup_profile"] = f"""
    WITH d AS (
        SELECT doc_id, {_shingles(_DUPNG_N)} AS gs
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM d),
    shared AS (
        SELECT g FROM ex GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT e.doc_id,
           COUNT(*) AS n_ngrams,
           CAST(COUNT(s.g) AS BIGINT) AS n_shared,
           ROUND(COUNT(s.g) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_ratio
    FROM ex e LEFT JOIN shared s ON e.g = s.g
    GROUP BY e.doc_id
"""


# ---------------------------------------------------------------- #
# Split-leakage check: fingerprints appearing in BOTH train and an  #
# eval split. The safety gate after any split: a doc_id-hash split  #
# puts exact duplicates on both sides of the wall, leaking eval     #
# content into training — dedup must run BEFORE splitting, and this #
# query is the assertion. One fingerprint groupBy over the split-   #
# labeled corpus (map-side combinable), no self-join.               #
# ---------------------------------------------------------------- #
def q_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    split = sampling.split_train_val_test(
        t["documents"], "doc_id", val_fraction=0.05, test_fraction=0.05
    )
    fp = split.select(
        F.md5("text").alias("fp"),
        "split",
        "doc_id",
    )
    per_fp = fp.groupBy("fp").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("split") != "train", 1).otherwise(0)).alias("in_eval"),
        F.count(F.lit(1)).alias("n_copies"),
        F.sum("doc_id").alias("id_sum"),
    )
    leaked = per_fp.where((F.col("in_train") == 1) & (F.col("in_eval") == 1))
    return leaked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_leaked_fingerprints"),
        F.coalesce(F.sum("n_copies"), F.lit(0)).cast("bigint").alias("n_leaked_docs"),
        F.coalesce(F.sum("id_sum"), F.lit(0)).cast("bigint").alias("id_checksum"),
    )


QUERIES["split_leakage_check"] = q_split_leakage_check
ORACLES["split_leakage_check"] = f"""
    WITH labeled AS (
        SELECT doc_id, md5(text) AS fp,
               CASE WHEN {_U32} < 0.05 THEN 'val'
                    WHEN {_U32} < 0.10 THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
    ),
    per_fp AS (
        SELECT fp,
               MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
               MAX(CASE WHEN split != 'train' THEN 1 ELSE 0 END) AS in_eval,
               COUNT(*) AS n_copies,
               SUM(doc_id) AS id_sum
        FROM labeled GROUP BY fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked_fingerprints,
           CAST(COALESCE(SUM(n_copies), 0) AS BIGINT) AS n_leaked_docs,
           CAST(COALESCE(SUM(id_sum), 0) AS BIGINT) AS id_checksum
    FROM per_fp WHERE in_train = 1 AND in_eval = 1
"""


# ---------------------------------------------------------------- #
# PII density per source: emails/phones per 1k whitespace tokens —  #
# which feeds need scrubbing hardest. Pure per-row regexp counting  #
# into one rollup (RE2-compatible patterns, same as text_pii_scrub).#
# ---------------------------------------------------------------- #
def q_pii_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    per_doc = t["documents"].select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phone"),
        F.size(TX.tokens(F.col("text"))).alias("n_toks"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").cast("bigint").alias("n_emails"),
            F.sum("n_phone").cast("bigint").alias("n_phones"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.round(
                (F.sum("n_email") + F.sum("n_phone"))
                * 1000.0
                / F.sum("n_toks"),
                6,
            ).alias("pii_per_1k_tokens"),
        )
        .orderBy("source")
    )


QUERIES["pii_density_by_source"] = q_pii_density_by_source
ORACLES["pii_density_by_source"] = f"""
    WITH per_doc AS (
        SELECT source,
               len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_email,
               len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phone,
               len({_TOKS}) AS n_toks
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS n_emails,
           CAST(SUM(n_phone) AS BIGINT) AS n_phones,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           ROUND((SUM(n_email) + SUM(n_phone)) * 1000.0 / SUM(n_toks), 6)
               AS pii_per_1k_tokens
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------- #
# SemDeDup-style semantic dedup (operators/semdedup.py): one        #
# map-only k-means assignment buckets the embeddings, then cosine   #
# near-dup pruning runs ONLY within each learned cluster — the      #
# quadratic step never touches the full corpus. Greedy survivor     #
# rule: drop a vector iff a lower-id in-cluster neighbor sits       #
# within the threshold. Abbas et al. 2023 shape, engine-exact.      #
# ---------------------------------------------------------------- #
_SEM_K, _SEM_DIM, _SEM_THRESHOLD = 8, 64, 0.35


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.semdedup import semantic_dedup_summary

    t = register_testdata(spark, sf_dir)
    emb = t["embeddings"]
    seed_rows = (
        emb.where(F.col("vec_id") % 67 == 1)
        .orderBy("vec_id")
        .limit(_SEM_K)
        .select("embedding")
        .collect()
    )
    seeds = [[float(x) for x in r["embedding"]] for r in seed_rows]
    return semantic_dedup_summary(
        emb, "vec_id", "embedding", seeds, _SEM_THRESHOLD
    )


_SEM_DIST = (
    "list_aggregate(list_transform(generate_series(1, {d}), "
    "i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])), 'sum')"
).format(d=_SEM_DIM)
_SEM_COS = _COS.format(a="a.v", b="b.v")
QUERIES["dedup_semantic"] = q_dedup_semantic
ORACLES["dedup_semantic"] = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
        FROM (SELECT vec_id, v FROM e WHERE vec_id % 67 = 1
              ORDER BY vec_id LIMIT {_SEM_K})
    ),
    a AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id ORDER BY {_SEM_DIST}, c.cid) AS rn
            FROM e, c0 c
        ) WHERE rn = 1
    ),
    m AS (SELECT a.vec_id, a.cid, e.v FROM a JOIN e USING (vec_id)),
    pairs AS (
        SELECT a.cid, b.vec_id AS id_b
        FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {_SEM_COS} >= {_SEM_THRESHOLD}
    ),
    members AS (SELECT cid, COUNT(*) AS n_members FROM a GROUP BY cid),
    p AS (SELECT cid, COUNT(*) AS n_dup_pairs FROM pairs GROUP BY cid),
    d AS (
        SELECT cid, COUNT(*) AS n_dropped, SUM(id_b) AS s
        FROM (SELECT DISTINCT cid, id_b FROM pairs) GROUP BY cid
    )
    SELECT members.cid,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(COALESCE(n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(COALESCE(s, 0) AS BIGINT) AS dropped_id_sum
    FROM members LEFT JOIN p USING (cid) LEFT JOIN d USING (cid)
"""


# ---------------------------------------------------------------- #
# Gopher-style composite quality gate (Rae et al. 2021 heuristics,  #
# integer-exact forms): word count bounds, mean word length bounds  #
# (as integer cross-multiplication, no float division), alphabetic- #
# word ratio, stopword presence. Per-source pass/fail profile in    #
# one map-side-combinable aggregation — the corpus-intake gate.     #
# ---------------------------------------------------------------- #
_GOPHER_STOPS = ("the", "and", "of", "to", "a", "in", "is", "that")


def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    from de_polars_spark.functions import text as _TX

    toks = _TX.tokens(F.col("text"))
    stops = [F.lit(s) for s in _GOPHER_STOPS]
    feats = t["documents"].select(
        "source",
        F.size(toks).alias("n_toks"),
        # sum of token lengths == chars that are not the split delimiter
        F.length(F.translate(F.col("text"), " ", "")).alias("sum_len"),
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).alias("n_alpha"),
        F.size(
            F.filter(toks, lambda x: F.lower(x).isin(list(_GOPHER_STOPS)))
        ).alias("n_stop"),
    )
    flagged = feats.select(
        "source",
        (~F.col("n_toks").between(5, 50000)).alias("f_count"),
        (
            ~(
                (F.col("sum_len") >= 2 * F.col("n_toks"))
                & (F.col("sum_len") <= 12 * F.col("n_toks"))
            )
        ).alias("f_wordlen"),
        (5 * F.col("n_alpha") < 4 * F.col("n_toks")).alias("f_alpha"),
        (F.col("n_stop") < 1).alias("f_stop"),
    )
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("f_count").cast("int")).cast("bigint").alias("fail_word_count"),
        F.sum(F.col("f_wordlen").cast("int")).cast("bigint").alias("fail_mean_word_len"),
        F.sum(F.col("f_alpha").cast("int")).cast("bigint").alias("fail_alpha_ratio"),
        F.sum(F.col("f_stop").cast("int")).cast("bigint").alias("fail_stopword"),
        F.sum(
            (
                ~(
                    F.col("f_count")
                    | F.col("f_wordlen")
                    | F.col("f_alpha")
                    | F.col("f_stop")
                )
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_pass"),
    )
    return agg.orderBy("source")


_GOPHER_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in _GOPHER_STOPS) + "]"
QUERIES["gopher_quality_filter"] = q_gopher_quality_filter
ORACLES["gopher_quality_filter"] = f"""
    WITH feats AS (
        SELECT source,
               len(toks) AS n_toks,
               length(replace(text, ' ', '')) AS sum_len,
               len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
               len(list_filter(toks,
                   x -> list_contains({_GOPHER_STOP_LIST}, lower(x)))) AS n_stop
        FROM (SELECT source, text, {_TOKS} AS toks FROM documents)
    ),
    flagged AS (
        SELECT source,
               NOT (n_toks BETWEEN 5 AND 50000) AS f_count,
               NOT (sum_len >= 2 * n_toks AND sum_len <= 12 * n_toks)
                   AS f_wordlen,
               5 * n_alpha < 4 * n_toks AS f_alpha,
               n_stop < 1 AS f_stop
        FROM feats
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN f_count THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_word_count,
           CAST(SUM(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_mean_word_len,
           CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_alpha_ratio,
           CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_stopword,
           CAST(SUM(CASE WHEN NOT (f_count OR f_wordlen OR f_alpha OR f_stop)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM flagged
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------- #
# Token diversity profile: per-doc type-token structure as EXACT    #
# integers — distinct count, top-token count, and the Simpson-index #
# numerator sum(c_i^2) (with n_tokens^2 as the denominator, 1 -     #
# simpson_num/n^2 is the repeated-token diversity) — the rational   #
# cousin of token entropy, hash-exact across engines. Two map-side- #
# combinable aggregations over exploded tokens.                     #
# ---------------------------------------------------------------- #
def q_token_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.functions import text as _TX

    t = register_testdata(spark, sf_dir)
    ex = t["documents"].select(
        "doc_id", F.explode(_TX.tokens(F.col("text"))).alias("tok")
    )
    cnt = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_tokens"),
        F.max("c").cast("bigint").alias("top_token_count"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("simpson_num"),
    )


QUERIES["token_diversity_profile"] = q_token_diversity_profile
ORACLES["token_diversity_profile"] = f"""
    WITH ex AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           CAST(MAX(c) AS BIGINT) AS top_token_count,
           CAST(SUM(c * c) AS BIGINT) AS simpson_num
    FROM cnt GROUP BY doc_id
"""


# ---------------------------------------------------------------- #
# Linear quality-classifier scoring with BROADCAST weights: the     #
# fasttext-style model-scoring shape (per-doc features x a weight   #
# vector that ships to every executor as data, not as recompiled    #
# literals). Integer milli-weights keep the score exact; the accept #
# decision is the training-corpus admission gate.                   #
# ---------------------------------------------------------------- #
_LOGREG_W = {"w0": -500, "w_tok": -2, "w_alpha": 3, "w_stop": 120}


def q_quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.functions import text as _TX

    t = register_testdata(spark, sf_dir)
    toks = _TX.tokens(F.col("text"))
    feats = t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).alias("n_alpha"),
        F.size(
            F.filter(toks, lambda x: F.lower(x).isin(list(_GOPHER_STOPS)))
        ).alias("n_stop"),
    )
    w = _LOGREG_W
    wdf = values_df(
        spark,
        [(w["w0"], w["w_tok"], w["w_alpha"], w["w_stop"])],
        "w0 int, w_tok int, w_alpha int, w_stop int",
    )
    score = (
        F.col("w0")
        + F.col("w_tok") * F.col("n_toks")
        + F.col("w_alpha") * F.col("n_alpha")
        + F.col("w_stop") * F.col("n_stop")
    ).cast("bigint")
    return (
        feats.crossJoin(F.broadcast(wdf))
        .select(
            "doc_id",
            score.alias("score_milli"),
            (score >= 0).cast("bigint").alias("accepted"),
        )
    )


_LOGREG_VALUES = "({w0}, {w_tok}, {w_alpha}, {w_stop})".format(**_LOGREG_W)
QUERIES["quality_logreg_score"] = q_quality_logreg_score
ORACLES["quality_logreg_score"] = f"""
    WITH w(w0, w_tok, w_alpha, w_stop) AS (VALUES {_LOGREG_VALUES}),
    feats AS (
        SELECT doc_id,
               len(toks) AS n_toks,
               len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha,
               len(list_filter(toks,
                   x -> list_contains({_GOPHER_STOP_LIST}, lower(x)))) AS n_stop
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )
    SELECT doc_id,
           CAST(w0 + w_tok * n_toks + w_alpha * n_alpha + w_stop * n_stop
               AS BIGINT) AS score_milli,
           CAST(CASE WHEN w0 + w_tok * n_toks + w_alpha * n_alpha
                          + w_stop * n_stop >= 0
                THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM feats CROSS JOIN w
"""


# ---------------------------------------------------------------- #
# Chunk -> document embedding average pooling                       #
# (operators/vectors.py average_pool): consecutive chunk vectors    #
# (vec_id // 5) pooled element-wise — the long-document retrieval   #
# representation. Same shuffle shape as the k-means centroid        #
# update; decimal-quantized means keep the floats engine-exact.     #
# ---------------------------------------------------------------- #
_POOL_GROUP = 5


def q_embedding_pool_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.vectors import average_pool

    t = register_testdata(spark, sf_dir)
    chunks = t["embeddings"].select(
        F.expr(f"vec_id div {_POOL_GROUP}").alias("gid"), "embedding"
    )
    return average_pool(chunks, "gid", "embedding")


QUERIES["embedding_pool_chunks"] = q_embedding_pool_chunks
ORACLES["embedding_pool_chunks"] = f"""
    WITH e AS (
        SELECT vec_id, vec_id // {_POOL_GROUP} AS gid,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    ex AS (
        SELECT gid, t.i AS dim, v[t.i] AS val
        FROM e CROSS JOIN generate_series(1, {_SEM_DIM}) t(i)
    ),
    dims AS (
        SELECT gid, dim,
               CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS m,
               COUNT(*) AS n
        FROM ex GROUP BY 1, 2
    )
    SELECT gid,
           CAST(MAX(n) AS BIGINT) AS n_members,
           ROUND(sqrt(CAST(SUM(CAST(m * m AS DECIMAL(38,6))) AS DOUBLE)), 6)
               AS pooled_norm,
           ROUND(CAST(SUM(CAST(m AS DECIMAL(38,6))) AS DOUBLE), 6) AS pooled_sum
    FROM dims GROUP BY gid
"""


# ---------------------------------------------------------------- #
# ANN index-quality gate: recall@k of the IVF index against the     #
# exact brute-force neighbors — the evaluation loop every ANN       #
# deployment needs before trusting an index at corpus scale. Both   #
# sides are deterministic (identical tiebreaks + cosine rounding),  #
# so per-query recall is engine-exact. Spark: one equi-join of the  #
# two neighbor sets on (query, neighbor) + a per-query count.       #
# ---------------------------------------------------------------- #
_RECALL_K = 3


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    exact = similarity.cosine_topk(
        corpus, queries, "vec_id", "embedding", k=_RECALL_K
    ).select("query_id", "neighbor_id")
    cents = similarity.fit_centroids_sample(
        corpus, "vec_id", "embedding", nlist=8, mod=67, rem=1
    )
    approx = similarity.ivf_topk(
        corpus, queries, "vec_id", "embedding", cents, k=_RECALL_K, nprobe=2
    ).select("query_id", "neighbor_id")
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qn = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    return qn.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.col("k").cast("double"), 6
        ).alias("recall"),
    )


QUERIES["ann_recall_eval"] = q_ann_recall_eval
ORACLES["ann_recall_eval"] = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_QE_COS} DESC, e.vec_id) AS rank
            FROM q JOIN e ON q.vec_id <> e.vec_id
        ) WHERE rank <= {_RECALL_K}
    ),
    cents AS (SELECT vec_id AS cid, v AS cv FROM e
              WHERE vec_id % 67 = 1 ORDER BY vec_id LIMIT 8),
    assign AS (
        SELECT vec_id, v, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM e x CROSS JOIN cents c) a
        WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM (SELECT * FROM e WHERE vec_id % 100 = 0) x
            CROSS JOIN cents c) p
        WHERE rn <= 2),
    ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_COS.format(a="p.qv", b="a.v")} DESC,
                                a.vec_id) AS rank
            FROM probes p JOIN assign a
              ON p.cell = a.cell AND p.query_id <> a.vec_id
        ) WHERE rank <= {_RECALL_K}
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
# Per-source document cap: every pretraining mix bounds how much    #
# any one domain may contribute (no single crawl swamping the mix). #
# Deterministic "keep" set: rank docs within each source by         #
# (md5(doc_id), doc_id) — a seeded uniform order — and keep the     #
# first N. One window shuffle on source; the summary is the         #
# audit artifact (kept/dropped volumes per source).                 #
# ---------------------------------------------------------------- #
_SOURCE_CAP = 18


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    from pyspark.sql import Window as _W

    w = _W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = t["documents"].select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("__rk"),
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("__rk") <= _SOURCE_CAP).cast("int"))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(
            F.when(F.col("__rk") <= _SOURCE_CAP, F.col("doc_id")).otherwise(0)
        )
        .cast("bigint")
        .alias("kept_id_sum"),
        F.sum(
            F.when(F.col("__rk") <= _SOURCE_CAP, F.col("n_chars")).otherwise(0)
        )
        .cast("bigint")
        .alias("kept_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).orderBy("source")


QUERIES["per_source_cap"] = q_per_source_cap
ORACLES["per_source_cap"] = f"""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rk <= {_SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rk <= {_SOURCE_CAP} THEN doc_id ELSE 0 END)
               AS BIGINT) AS kept_id_sum,
           CAST(SUM(CASE WHEN rk <= {_SOURCE_CAP} THEN n_chars ELSE 0 END)
               AS BIGINT) AS kept_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ranked
    GROUP BY source
    ORDER BY source
"""


# ---------------------------------------------------------------- #
# Multi-probe LSH top-k (operators/similarity.py lsh_multiprobe_    #
# topk): each query probes its own sign-bit bucket plus all buckets #
# at Hamming distance 1 — the standard recall fix (Lv et al. 2007)  #
# that costs probe-key fan-out on the SMALL query side only; the    #
# corpus keeps one bucket per row.                                  #
# ---------------------------------------------------------------- #
def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    out = similarity.lsh_multiprobe_topk(
        corpus, queries, "vec_id", "embedding", k=3, bucket_dims=(1, 17, 33, 49)
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _multiprobe_oracle() -> str:
    n_bits = 4
    flips = []
    for i in range(1, n_bits + 1):
        flips.append(
            "SELECT vec_id, v, "
            f"substr(bucket, 1, {i - 1}) || "
            f"(CASE WHEN substr(bucket, {i}, 1) = '1' THEN '0' ELSE '1' END)"
            f" || substr(bucket, {i + 1}, {n_bits - i}) AS bucket FROM q0"
        )
    probe_union = "\n        UNION ALL\n        ".join(
        ["SELECT vec_id, v, bucket FROM q0"] + flips
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {_BUCKET} AS bucket
               FROM embeddings),
    q0 AS (SELECT * FROM e WHERE vec_id % 100 = 0),
    probes AS (
        {probe_union}
    ),
    scored AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, {_QE_COS} AS cosine
        FROM probes q JOIN e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) ranked
    WHERE rank <= 3
"""


QUERIES["ann_multiprobe_topk"] = q_ann_multiprobe_topk
ORACLES["ann_multiprobe_topk"] = _multiprobe_oracle()


# ---------------------------------------------------------------- #
# IVF with a k-means-fitted coarse quantizer — the production path  #
# the sample-seeded ann_ivf_topk stands in for: 2 Lloyd rounds fit  #
# the centroids (operators/kmeans.py, decimal-exact), then the      #
# same map-only cell assignment + nprobe probing serve the top-k.   #
# End-to-end engine-exact: the oracle unrolls the identical Lloyd   #
# chain (shared _kmeans_chain CTEs) before the IVF stage.           #
# ---------------------------------------------------------------- #
def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.kmeans import kmeans_iterations

    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    seed_rows = (
        corpus.where(F.col("vec_id") % 67 == 1)
        .orderBy("vec_id")
        .limit(_KM_K)
        .select("embedding")
        .collect()
    )
    seeds = [[float(x) for x in r["embedding"]] for r in seed_rows]
    _, cents = kmeans_iterations(
        corpus, "vec_id", "embedding", seeds, iterations=_KM_ITERS
    )
    out = similarity.ivf_topk(
        corpus,
        queries,
        "vec_id",
        "embedding",
        list(enumerate(cents)),
        k=3,
        nprobe=2,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _ivf_kmeans_oracle() -> str:
    ctes, _final_a, final_c = _kmeans_chain()
    return (
        ctes
        + f""",
    cents AS (SELECT cid, v AS cv FROM {final_c}),
    assign AS (
        SELECT vec_id, v, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM e x CROSS JOIN cents c) a
        WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM (SELECT * FROM e WHERE vec_id % 100 = 0) x
            CROSS JOIN cents c) p
        WHERE rn <= 2),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_COS.format(a="p.qv", b="a.v")} AS cosine
        FROM probes p JOIN assign a
          ON p.cell = a.cell AND p.query_id <> a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) ranked
    WHERE rank <= 3
"""
    )


QUERIES["ann_ivf_kmeans_topk"] = q_ann_ivf_kmeans_topk
ORACLES["ann_ivf_kmeans_topk"] = _ivf_kmeans_oracle()


# ---------------------------------------------------------------- #
# IVF index persistence — build-once / query-many. The fit +        #
# assignment scan lands in cell-partitioned parquet artifacts       #
# (operators/similarity.py build_ivf_index / load_ivf_index);       #
# ann_ivf_index_build audits the inverted lists (per-cell counts    #
# + id checksums vs the oracle's unrolled Lloyd chain), and         #
# ann_ivf_index_query serves the EXACT ann_ivf_kmeans_topk result   #
# from the artifact — proving the persisted index is semantically   #
# identical to the inline fit+assign path.                          #
# ---------------------------------------------------------------- #
def _fit_km_centroids(corpus) -> list:
    from de_polars_spark.operators.kmeans import kmeans_iterations

    seed_rows = (
        corpus.where(F.col("vec_id") % 67 == 1)
        .orderBy("vec_id")
        .limit(_KM_K)
        .select("embedding")
        .collect()
    )
    seeds = [[float(x) for x in r["embedding"]] for r in seed_rows]
    _, cents = kmeans_iterations(
        corpus, "vec_id", "embedding", seeds, iterations=_KM_ITERS
    )
    return list(enumerate(cents))


def _ivf_index_impl() -> tuple:
    """Every function whose source shapes the cached IVF index.

    The tag must cover the FULL impl chain: _fit_km_centroids delegates
    the centroid math to kmeans_iterations (and its _with_assignment
    helper), build_ivf_index the assignment to _assign_cells and the
    centroid write to values_df, and _centroid_scores to the vector
    folds, the driver-side norm and the literal renderer; the query
    entries probe through _probe_cells — editing any of them must
    invalidate the cached index, not serve a stale one (ADVICE r4)."""
    from de_polars_spark.functions import local_relation as _lr
    from de_polars_spark.functions import vectors as _vx
    from de_polars_spark.operators import kmeans as _km

    return (
        similarity.build_ivf_index,
        similarity._assign_cells,
        similarity._probe_cells,
        similarity._normed,
        similarity._centroid_scores,
        similarity._py_norm,
        _vx.as_double,
        _vx.dot,
        _vx.norm,
        _lr.literal_column,
        _lr.sql_literal,
        _lr.values_df,
        _lr._split_schema,
        _lr._null_col,
        _fit_km_centroids,
        _km.kmeans_iterations,
        _km._with_assignment,
    )


def _ivf_index_dir(sf_dir: str) -> str:
    import inspect

    impl = "".join(inspect.getsource(f) for f in _ivf_index_impl())
    return artifact_path("ivf_index", sf_dir, f"{impl}|{_KM_K}|{_KM_ITERS}")


def clear_ivf_index_artifacts(sf_dir: str) -> None:
    """bench.py warm-up hook: the build (and append) queries must pay
    — and measure — the index construction inside the run."""
    import shutil

    base = _ivf_index_dir(sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(f"{base}_appended", ignore_errors=True)
    shutil.rmtree(f"{base}_appended_compacted", ignore_errors=True)


def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    def build(tmp: str) -> None:
        t = register_testdata(spark, sf_dir)
        cents = _fit_km_centroids(t["embeddings"])
        similarity.build_ivf_index(t["embeddings"], "vec_id", "embedding", cents, tmp)

    return publish(_ivf_index_dir(sf_dir), build)


def q_ann_ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _ensure_ivf_index(spark, sf_dir)
    _, postings = similarity.load_ivf_index(spark, path)
    return postings.groupBy(F.col("cell").cast("bigint").alias("cell")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("neighbor_id").cast("bigint").alias("id_checksum"),
        F.min("neighbor_id").cast("bigint").alias("min_id"),
    )


def _ivf_index_build_oracle() -> str:
    ctes, _final_a, final_c = _kmeans_chain()
    return (
        ctes
        + f""",
    cents AS (SELECT cid, v AS cv FROM {final_c}),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT x.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM e x CROSS JOIN cents c) a
        WHERE rn = 1)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
           CAST(MIN(vec_id) AS BIGINT) AS min_id
    FROM assign GROUP BY cell
"""
    )


QUERIES["ann_ivf_index_build"] = q_ann_ivf_index_build
ORACLES["ann_ivf_index_build"] = _ivf_index_build_oracle()


def q_ann_ivf_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    path = _ensure_ivf_index(spark, sf_dir)
    cents, postings = similarity.load_ivf_index(spark, path)
    queries = t["embeddings"].filter(F.col("vec_id") % 100 == 0)
    out = similarity.ivf_topk_from_index(
        postings, cents, queries, "vec_id", "embedding", k=3, nprobe=2
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


QUERIES["ann_ivf_index_query"] = q_ann_ivf_index_query
ORACLES["ann_ivf_index_query"] = _ivf_kmeans_oracle()


# ---------------------------------------------------------------- #
# Incremental index maintenance: a "new crawl" batch (the same      #
# embeddings with shifted ids, a deterministic stand-in) appends    #
# into a COPY of the persisted index with the quantizer frozen —    #
# map-only assignment, postings appended per cell, history never    #
# rewritten. The audit doubles every cell count and the oracle      #
# derives the exact same totals from one assignment CTE.            #
# ---------------------------------------------------------------- #
_APPEND_ID_SHIFT = 1_000_000


def q_ann_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    t = register_testdata(spark, sf_dir)
    base = _ensure_ivf_index(spark, sf_dir)

    def build(tmp: str) -> None:
        shutil.copytree(base, tmp)
        batch = t["embeddings"].select(
            (F.col("vec_id") + _APPEND_ID_SHIFT).alias("vec_id"), "embedding"
        )
        similarity.append_ivf_index(batch, "vec_id", "embedding", tmp)

    path = publish(f"{base}_appended", build)
    _, postings = similarity.load_ivf_index(spark, path)
    return postings.groupBy(F.col("cell").cast("bigint").alias("cell")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("neighbor_id").cast("bigint").alias("id_checksum"),
    )


def _ivf_index_append_oracle() -> str:
    ctes, _final_a, final_c = _kmeans_chain()
    return (
        ctes
        + f""",
    cents AS (SELECT cid, v AS cv FROM {final_c}),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT x.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM e x CROSS JOIN cents c) a
        WHERE rn = 1)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(2 * COUNT(*) AS BIGINT) AS n_vectors,
           CAST(2 * SUM(vec_id) + COUNT(*) * {_APPEND_ID_SHIFT} AS BIGINT)
               AS id_checksum
    FROM assign GROUP BY cell
"""
    )


QUERIES["ann_ivf_index_append"] = q_ann_ivf_index_append
ORACLES["ann_ivf_index_append"] = _ivf_index_append_oracle()


# ---------------------------------------------------------------- #
# Index compaction: after N append batches each cell dir holds N    #
# small files (probe latency goes file-open-bound). compact_ivf_    #
# index rewrites one contiguous file per cell — a PURE layout       #
# rewrite, staged + atomically renamed. The audit re-emits the      #
# appended index's per-cell counts/checksums FROM THE COMPACTED     #
# POSTINGS and checks them against the SAME oracle as the append    #
# query: identical rows = compaction changed bytes-on-disk layout   #
# and nothing else. The pytest side additionally asserts the file   #
# count collapsed and a probe query returns identical results.      #
# ---------------------------------------------------------------- #
def q_ann_ivf_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    # build on a COPY of the appended index (the append artifact itself
    # must stay multi-file so its own query keeps measuring that shape)
    q_ann_ivf_index_append(spark, sf_dir).collect()
    base = f"{_ensure_ivf_index(spark, sf_dir)}_appended"

    def build(tmp: str) -> None:
        shutil.copytree(base, tmp)
        stats = similarity.compact_ivf_index(spark, tmp)
        # layout collapsed (one task's output per cell), content untouched
        assert stats["files_after"] <= stats["files_before"]

    path = publish(f"{base}_compacted", build)
    _, postings = similarity.load_ivf_index(spark, path)
    return postings.groupBy(F.col("cell").cast("bigint").alias("cell")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("neighbor_id").cast("bigint").alias("id_checksum"),
    )


QUERIES["ann_ivf_index_compact"] = q_ann_ivf_index_compact
# identical oracle to the append audit BY DESIGN: compaction must not
# change a single row
ORACLES["ann_ivf_index_compact"] = _ivf_index_append_oracle()


# ---------------------------------------------------------------- #
# Embedding-norm profile: the broken-encoder gate. A batch of       #
# near-zero or wildly-scaled vectors (a crashed encoder shard, a    #
# normalization bug) poisons cosine math silently; this profiles    #
# per-label norm percentiles (exact rank-interpolation quantiles,   #
# operators/quantiles.py) plus near-zero counts in one pass over    #
# per-row norm folds.                                               #
# ---------------------------------------------------------------- #
def q_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.functions import vectors as VXF
    from de_polars_spark.operators.quantiles import exact_quantiles

    t = register_testdata(spark, sf_dir)
    norms = t["embeddings"].select(
        "label",
        F.round(VXF.norm(VXF.as_double(F.col("embedding"))), 6).alias("nrm"),
    )
    q = exact_quantiles(norms, ["label"], "nrm", [0.25, 0.5, 0.75])
    extra = norms.groupBy("label").agg(
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.sum((F.col("nrm") < 0.01).cast("int")).cast("bigint").alias(
            "n_near_zero"
        ),
    )
    return q.join(extra, "label")


QUERIES["embedding_norm_profile"] = q_embedding_norm_profile
ORACLES["embedding_norm_profile"] = """
    WITH norms AS (
        SELECT label, ROUND(sqrt(list_dot_product(v, v)), 6) AS nrm
        FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    )
    SELECT label,
           ROUND(quantile_cont(nrm, 0.25), 6) AS p25,
           ROUND(quantile_cont(nrm, 0.5), 6) AS p50,
           ROUND(quantile_cont(nrm, 0.75), 6) AS p75,
           COUNT(*) AS n_items,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm,
           CAST(SUM(CASE WHEN nrm < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_near_zero
    FROM norms
    GROUP BY label
"""


# ---------------------------------------------------------------- #
# Fuzzy entity matching (operators/fuzzy.py): edit-distance pairs   #
# within a blocking key — the record-linkage step for catalog /     #
# author / address dedup. Blocked + length-banded candidates, one   #
# JVM levenshtein per survivor (engine parity with DuckDB verified  #
# value-exact). Oracle is the brute-force in-block comparison, so   #
# the green row proves the pruning is lossless.                     #
# ---------------------------------------------------------------- #
_FUZZY_K = 2


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.fuzzy import edit_distance_pairs

    t = register_testdata(spark, sf_dir)
    return edit_distance_pairs(
        t["part"], "p_partkey", "p_name", "p_brand", k=_FUZZY_K
    )


QUERIES["fuzzy_part_names"] = q_fuzzy_part_names
ORACLES["fuzzy_part_names"] = f"""
    WITH g AS (
        SELECT p_brand AS block, lower(p_name) AS nm,
               MIN(p_partkey) AS gid, COUNT(*) AS cnt
        FROM part GROUP BY 1, 2
    )
    SELECT a.gid AS id_a, b.gid AS id_b,
           CAST(a.cnt AS BIGINT) AS n_a,
           CAST(b.cnt AS BIGINT) AS n_b,
           CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs,
           CAST(levenshtein(a.nm, b.nm) AS INT) AS distance
    FROM g a JOIN g b ON a.block = b.block AND a.gid < b.gid
    WHERE levenshtein(a.nm, b.nm) BETWEEN 1 AND {_FUZZY_K}
"""


# ---------------------------------------------------------------- #
# Join-key skew report: the pre-flight check before shuffling 100   #
# TB on a key — per candidate key column, cardinality and the       #
# hottest key's share (permille, integer-exact). A top share of     #
# 250permille means one reducer gets a quarter of the table: salt   #
# (operators/skew.py) or AQE skew-join before running the real job. #
# One stacked pass over the fact table, two map-side-combinable     #
# aggregations.                                                     #
# ---------------------------------------------------------------- #
_SKEW_KEY_COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")


def q_join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    stacked = t["lineitem"].select(
        F.expr(
            "stack({n}, {args}) AS (key_col, v)".format(
                n=len(_SKEW_KEY_COLS),
                args=", ".join(
                    f"'{c}', CAST({c} AS STRING)" for c in _SKEW_KEY_COLS
                ),
            )
        )
    )
    per_key = stacked.groupBy("key_col", "v").agg(F.count(F.lit(1)).alias("c"))
    return per_key.groupBy("key_col").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("max_key_count"),
        F.expr("div(1000 * max(c), sum(c))")
        .cast("bigint")
        .alias("top_share_permille"),
    ).orderBy("key_col")


_SKEW_UNION = "\n        UNION ALL\n        ".join(
    f"SELECT '{c}' AS key_col, CAST({c} AS VARCHAR) AS v FROM lineitem"
    for c in _SKEW_KEY_COLS
)
QUERIES["join_key_skew_report"] = q_join_key_skew_report
ORACLES["join_key_skew_report"] = f"""
    WITH stacked AS (
        {_SKEW_UNION}
    ),
    per_key AS (
        SELECT key_col, v, COUNT(*) AS c FROM stacked GROUP BY 1, 2
    )
    SELECT key_col,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS max_key_count,
           CAST((1000 * MAX(c)) // SUM(c) AS BIGINT) AS top_share_permille
    FROM per_key
    GROUP BY key_col
    ORDER BY key_col
"""


# ---------------------------------------------------------------- #
# Equi-depth histogram: NTILE buckets over a total order (value,    #
# tiebreak id) — the optimizer-statistics companion to the equal-   #
# width histogram_price. A literal unpartitioned NTILE window would #
# be a single-task global sort, so the bucket is computed from the  #
# exact DISTRIBUTED rank (operators/quantiles.with_global_rank:     #
# sketch-bounded range buckets -> tiny offset table -> per-bucket   #
# local rank) and NTILE's remainder arithmetic — bit-identical to   #
# the window form at any scale, parallelism = rank buckets.         #
# ---------------------------------------------------------------- #
_EDH_BUCKETS = 8


def q_histogram_equidepth_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.quantiles import with_global_rank

    t = register_testdata(spark, sf_dir)
    ranked = with_global_rank(
        t["lineitem"].select("l_extendedprice", "l_orderkey", "l_linenumber"),
        [],
        "l_extendedprice",
        tiebreaks=["l_orderkey", "l_linenumber"],
    )
    # NTILE(k) over N rows, 0-based rank rn: the first r = N % k buckets
    # hold q+1 = N div k + 1 rows, the rest hold q (integer `div` keeps
    # the arithmetic exact at any N; double division could misround)
    bucketed = ranked.select(
        "l_extendedprice",
        F.expr(
            f"""CAST(CASE
                WHEN __rn < (__n % {_EDH_BUCKETS}) * (__n div {_EDH_BUCKETS} + 1)
                THEN __rn div (__n div {_EDH_BUCKETS} + 1)
                ELSE (__n % {_EDH_BUCKETS})
                     + (__rn - (__n % {_EDH_BUCKETS}) * (__n div {_EDH_BUCKETS} + 1))
                       div (__n div {_EDH_BUCKETS})
            END + 1 AS INT)"""
        ).alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("bucket_sum"),
    ).orderBy("bucket")


QUERIES["histogram_equidepth_price"] = q_histogram_equidepth_price
ORACLES["histogram_equidepth_price"] = f"""
    WITH bucketed AS (
        SELECT l_extendedprice,
               NTILE({_EDH_BUCKETS}) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
        FROM lineitem
    )
    SELECT bucket,
           COUNT(*) AS n_rows,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS bucket_sum
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
"""


# ---------------------------------------------------------------- #
# Dedup-graph structure: nodes/edges/wedges/triangles of the        #
# MinHash pair graph. Near-dup clusters should look near-clique     #
# (high closure); a star-shaped cluster (hub template document      #
# touching many unrelated docs) is boilerplate, not duplication —   #
# this one-row profile is the cheap discriminator. Triangles via    #
# the ordered-edge join (x<y<z): two equi-joins on node ids, no     #
# explosion beyond the triangle count itself; wedges are a degree   #
# aggregation. 3*n_triangles / n_wedges is the global clustering    #
# coefficient, left as exact integers.                              #
# ---------------------------------------------------------------- #
def q_dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _dedup_pair_graph(spark, sf_dir).select(
        F.col("id_a").cast("bigint").alias("a"),
        F.col("id_b").cast("bigint").alias("b"),
    )
    pairs = pairs.localCheckpoint()
    deg = (
        pairs.select(F.col("a").alias("n"))
        .unionAll(pairs.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    e1 = pairs.alias("e1")
    e2 = pairs.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    ).alias("e2")
    closing = pairs.select(
        F.col("a").alias("ta"), F.col("b").alias("tc")
    )
    tri = (
        e1.join(e2, "b")
        .join(
            closing,
            (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    edges = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return node_stats.crossJoin(edges).crossJoin(tri)


QUERIES["dedup_graph_stats"] = q_dedup_graph_stats
ORACLES["dedup_graph_stats"] = f"""
    WITH pairs AS ({_minhash_oracle(_LSH_CAP)}),
    deg AS (
        SELECT n, COUNT(*) AS d FROM (
            SELECT id_a AS n FROM pairs
            UNION ALL
            SELECT id_b AS n FROM pairs
        ) GROUP BY n
    ),
    node_stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM pairs e1
        JOIN (SELECT id_a AS b, id_b AS c FROM pairs) e2 ON e1.id_b = e2.b
        WHERE EXISTS (SELECT 1 FROM pairs t
                      WHERE t.id_a = e1.id_a AND t.id_b = e2.c)
    ),
    edges AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
    SELECT n_nodes, n_wedges, n_edges, n_triangles
    FROM node_stats, edges, tri
"""


# ---------------------------------------------------------------- #
# Duplicate-cluster size histogram: how much of the corpus sits in  #
# clusters of each size — the before/after headline of any dedup    #
# run (and the denominator of "dedup will remove X% of docs":       #
# removable = sum over sizes of (size-1)*n_clusters). Rides the     #
# connected-components labels with two tiny aggregations.           #
# ---------------------------------------------------------------- #
def q_dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = _dedup_components(spark, sf_dir)
    sizes = comps.groupBy("component_id").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("size").cast("bigint").alias("n_docs"),
        ((F.col("size") - 1) * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_removable"),
    ).orderBy("size")


QUERIES["dedup_cluster_size_histogram"] = q_dedup_cluster_size_histogram
ORACLES["dedup_cluster_size_histogram"] = f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle(_LSH_CAP)}),
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
    sizes AS (
        SELECT component_id, COUNT(*) AS size FROM comp GROUP BY component_id
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs,
           CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM sizes
    GROUP BY size
    ORDER BY size
"""


# ---------------------------------------------------------------- #
# Product quantization — the memory-compression half of the        #
# production ANN stack (operators/pq.py). Four subspace codebooks  #
# fit with the same decimal-exact Lloyd machinery as the IVF       #
# coarse quantizer, a map-only encode (64 doubles -> 4 codes =     #
# 128x), and asymmetric-distance top-k served from CODES ONLY.     #
# The oracle unrolls all four subspace Lloyd chains and recomputes #
# the ADC sum as ROUND+DECIMAL terms, so the float pipeline is     #
# engine-exact end to end.                                         #
# ---------------------------------------------------------------- #
_PQ_M, _PQ_DSUB, _PQ_K, _PQ_ITERS = 4, 16, 8, 1


def _pq_seeds(corpus) -> list[list[float]]:
    rows = (
        corpus.where(F.col("vec_id") % 67 == 1)
        .orderBy("vec_id")
        .limit(_PQ_K)
        .select("embedding")
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


def _pq_art_path(sf_dir: str) -> str:
    """Content-addressed location of the fitted PQ codebooks — the
    ``sources/artifacts.py`` rule applied to driver-side model state:
    keyed on the fit implementation + parameters, so any code or
    parameter change re-fits instead of serving a stale model."""
    import inspect

    from de_polars_spark.operators import pq as PQ

    impl = inspect.getsource(PQ.fit_pq) + inspect.getsource(_pq_seeds)
    return artifact_path(
        "pq_codebooks", sf_dir, f"{impl}|{_PQ_M}|{_PQ_DSUB}|{_PQ_K}|{_PQ_ITERS}",
        suffix=".json",
    )


def clear_pq_artifacts(sf_dir: str) -> None:
    """bench.py warm-up hook: the first PQ query in the run pays — and
    measures — the codebook fit."""
    import contextlib
    import os

    with contextlib.suppress(FileNotFoundError):
        os.remove(_pq_art_path(sf_dir))


def _ensure_pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """Fit the subspace codebooks once per (corpus, params, impl) and
    reuse across the three PQ queries — at 100 TB you fit a quantizer
    once and every encoder/server loads it; refitting per query was
    ~1.5s x 3 of identical work per bench run. JSON round-trips Python
    floats exactly (repr), so the loaded model is bit-identical."""
    import json

    from de_polars_spark.operators import pq as PQ

    def build(tmp: str) -> None:
        corpus = register_testdata(spark, sf_dir)["embeddings"]
        cbs = PQ.fit_pq(
            corpus, "vec_id", "embedding", _pq_seeds(corpus), _PQ_M, _PQ_DSUB,
            iterations=_PQ_ITERS,
        )
        with open(tmp, "w") as f:
            json.dump(cbs, f)

    with open(publish(_pq_art_path(sf_dir), build)) as f:
        return json.load(f)


def _pq_codes(spark: SparkSession, sf_dir: str):
    """(codes DataFrame, codebooks, corpus) shared by the PQ queries."""
    from de_polars_spark.operators import pq as PQ

    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    cbs = _ensure_pq_codebooks(spark, sf_dir)
    return PQ.pq_encode(corpus, "vec_id", "embedding", cbs), cbs, corpus


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators import pq as PQ

    codes, cbs, corpus = _pq_codes(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    out = PQ.pq_adc_topk(codes, queries, "vec_id", "embedding", cbs, k=3)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _pq_chain() -> str:
    """Unrolled per-subspace Lloyd chains ending in codes{j} CTEs
    (vec_id -> cid + codeword), mirroring fit_pq + pq_encode."""
    return (
        """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )"""
        + _pq_subspace_ctes()
    )


def _pq_subspace_ctes() -> str:
    """The subspace-chain CTEs alone (no WITH header), so they compose
    with other chains over the same ``e`` (the IVF-PQ oracle prepends
    the coarse-quantizer Lloyd chain)."""
    parts = []
    dist = (
        f"list_aggregate(list_transform(generate_series(1, {_PQ_DSUB}), "
        "i -> (s.v[i] - c.v[i]) * (s.v[i] - c.v[i])), 'sum')"
    )
    for j in range(_PQ_M):
        off = j * _PQ_DSUB
        parts.append(
            f""",
    s{j} AS (SELECT vec_id, v[{off + 1}:{off + _PQ_DSUB}] AS v FROM e),
    c{j}_0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
        FROM (SELECT vec_id, v FROM s{j} WHERE vec_id % 67 = 1
              ORDER BY vec_id LIMIT {_PQ_K})
    )"""
        )
        prev = f"c{j}_0"
        for it in range(_PQ_ITERS):
            a, c = f"a{j}_{it}", f"c{j}_{it + 1}"
            parts.append(
                f""",
    {a} AS (
        SELECT vec_id, cid FROM (
            SELECT s.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                      ORDER BY {dist}, c.cid) AS rn
            FROM s{j} s, {prev} c
        ) WHERE rn = 1
    ),
    {c}_dims AS (
        SELECT a.cid, t.i,
               CAST(SUM(CAST(s.v[t.i] AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS m
        FROM {a} a JOIN s{j} s USING (vec_id)
        CROSS JOIN generate_series(1, {_PQ_DSUB}) t(i)
        GROUP BY a.cid, t.i
    ),
    {c} AS (
        SELECT p.cid, COALESCE(d.v, p.v) AS v
        FROM (SELECT cid, v FROM {prev}) p
        LEFT JOIN (SELECT cid, list(m ORDER BY i) AS v
                   FROM {c}_dims GROUP BY cid) d ON p.cid = d.cid
    )"""
            )
            prev = c
        parts.append(
            f""",
    codes{j} AS (
        SELECT vec_id, cid, cv FROM (
            SELECT s.vec_id, c.cid, c.v AS cv,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id
                                      ORDER BY {dist}, c.cid) AS rn
            FROM s{j} s, {prev} c
        ) WHERE rn = 1
    )"""
        )
    return "".join(parts)


def _pq_adc_scored(qmod: int = 100) -> str:
    """The shared q/scored CTE tail: ADC distance as a decimal sum of
    ROUNDed per-subspace terms (order-free, engine-exact). ``qmod``
    selects the query set (vec_id % qmod = 0)."""
    terms = []
    for j in range(_PQ_M):
        off = j * _PQ_DSUB
        terms.append(
            f"CAST(ROUND(list_aggregate(list_transform("
            f"generate_series(1, {_PQ_DSUB}), "
            f"i -> (q.qv[{off} + i] - k{j}.cv[i]) * (q.qv[{off} + i] - k{j}.cv[i])"
            f"), 'sum'), 6) AS DECIMAL(28,6))"
        )
    joins = "\n        ".join(
        f"JOIN codes{j} k{j} ON k{j}.vec_id = x.vec_id" for j in range(_PQ_M)
    )
    return f""",
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % {qmod} = 0),
    scored AS (
        SELECT q.query_id, x.vec_id AS neighbor_id,
               CAST(CAST({" + ".join(terms)} AS DECIMAL(38,6)) AS DOUBLE) AS adist
        FROM e x
        {joins}
        CROSS JOIN q
        WHERE q.query_id <> x.vec_id
    )"""


def _pq_topk_oracle() -> str:
    return (
        _pq_chain()
        + _pq_adc_scored()
        + """
    SELECT query_id, neighbor_id, adist, rank FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY adist, neighbor_id) AS rank
        FROM scored
    ) ranked
    WHERE rank <= 3
"""
    )


QUERIES["ann_pq_topk"] = q_ann_pq_topk
ORACLES["ann_pq_topk"] = _pq_topk_oracle()


def q_ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the PQ/ADC top-k against the exact L2 top-k — the
    acceptance gate a production quantized index ships behind."""
    from pyspark.sql import Window

    from de_polars_spark.operators import pq as PQ
    from de_polars_spark.functions import vectors as VX

    codes, cbs, corpus = _pq_codes(spark, sf_dir)
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    approx = PQ.pq_adc_topk(codes, queries, "vec_id", "embedding", cbs, k=3)

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        VX.as_double(F.col("embedding")).alias("cv"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        VX.as_double(F.col("embedding")).alias("qv"),
    )
    exact_scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("d2"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id")
    )
    exact = (
        exact_scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        approx.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_returned"))
        .join(hits, "query_id", "left")
        .fillna(0, ["n_hit"])
        .select(
            "query_id",
            "n_returned",
            F.col("n_hit").cast("bigint").alias("n_hit"),
            (F.col("n_hit") / F.lit(3.0)).alias("recall_at_3"),
        )
        .orderBy("query_id")
    )


def _pq_recall_tail() -> str:
    """The recall-scoring SQL after the ``e``/codes/``scored`` chain —
    shared by the uniform and clustered PQ recall oracles."""
    exact_d2 = (
        "ROUND(list_aggregate(list_transform(generate_series(1, 64), "
        "i -> (q.qv[i] - x.v[i]) * (q.qv[i] - x.v[i])), 'sum'), 6)"
    )
    return f""",
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                                ORDER BY adist, neighbor_id) AS rank
            FROM scored
        ) r WHERE rank <= 3
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, x.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {exact_d2}, x.vec_id) AS rank
            FROM e x CROSS JOIN q
            WHERE q.query_id <> x.vec_id
        ) r WHERE rank <= 3
    ),
    hits AS (
        SELECT a.query_id, COUNT(*) AS n_hit
        FROM approx a JOIN exact x
          ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
        GROUP BY a.query_id
    )
    SELECT a.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_returned,
           CAST(COALESCE(MAX(h.n_hit), 0) AS BIGINT) AS n_hit,
           COALESCE(MAX(h.n_hit), 0) / 3.0 AS recall_at_3
    FROM approx a LEFT JOIN hits h ON a.query_id = h.query_id
    GROUP BY a.query_id
    ORDER BY a.query_id
"""


def _pq_recall_oracle() -> str:
    return _pq_chain() + _pq_adc_scored() + _pq_recall_tail()


QUERIES["ann_pq_recall_eval"] = q_ann_pq_recall_eval
ORACLES["ann_pq_recall_eval"] = _pq_recall_oracle()


# ---------------------------------------------------------------- #
# IVF-PQ — the two halves composed: the k-means coarse quantizer    #
# partitions the corpus into cells (probe pruning), PQ codes are    #
# what each cell stores (memory), and a query scores only the       #
# nprobe probed cells' candidates from their codes. One map-only    #
# scan builds the whole serving index. The oracle prepends the      #
# shared coarse Lloyd chain to the four subspace chains and         #
# reproduces probe + ADC exactly.                                   #
# ---------------------------------------------------------------- #
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators import pq as PQ

    t = register_testdata(spark, sf_dir)
    corpus = t["embeddings"]
    # the coarse quantizer comes from the persisted IVF index artifact
    # (fit once, serve everywhere — its per-cell contents are what
    # ann_ivf_index_build's oracle audits against the unrolled Lloyd
    # chain); parquet float64 round-trips exactly, so these are the
    # same centroids an inline _fit_km_centroids would produce
    cents, _postings = similarity.load_ivf_index(
        spark, _ensure_ivf_index(spark, sf_dir)
    )
    cbs = _ensure_pq_codebooks(spark, sf_dir)
    index = PQ.ivfpq_index(corpus, "vec_id", "embedding", cents, cbs)
    queries = corpus.filter(F.col("vec_id") % 100 == 0)
    out = PQ.ivfpq_topk(
        index, queries, "vec_id", "embedding", cents, cbs, k=3, nprobe=2
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _ivfpq_oracle() -> str:
    km_ctes, _final_a, final_c = _kmeans_chain()
    terms = []
    for j in range(_PQ_M):
        off = j * _PQ_DSUB
        terms.append(
            f"CAST(ROUND(list_aggregate(list_transform("
            f"generate_series(1, {_PQ_DSUB}), "
            f"i -> (p.qv[{off} + i] - k{j}.cv[i]) * (p.qv[{off} + i] - k{j}.cv[i])"
            f"), 'sum'), 6) AS DECIMAL(28,6))"
        )
    joins = "\n        ".join(
        f"JOIN codes{j} k{j} ON k{j}.vec_id = x.vec_id" for j in range(_PQ_M)
    )
    return (
        km_ctes
        + _pq_subspace_ctes()
        + f""",
    cents AS (SELECT cid, v AS cv FROM {final_c}),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT x.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM e x CROSS JOIN cents c) a
        WHERE rn = 1),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, cid AS cell FROM (
            SELECT x.vec_id, x.v, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY x.vec_id
                                      ORDER BY {_CENT_COS} DESC, c.cid DESC) AS rn
            FROM (SELECT * FROM e WHERE vec_id % 100 = 0) x
            CROSS JOIN cents c) p
        WHERE rn <= 2),
    scored AS (
        SELECT p.query_id, x.vec_id AS neighbor_id,
               CAST(CAST({" + ".join(terms)} AS DECIMAL(38,6)) AS DOUBLE) AS adist
        FROM e x
        {joins}
        JOIN assign a ON a.vec_id = x.vec_id
        JOIN probes p ON p.cell = a.cell AND p.query_id <> x.vec_id
    )
    SELECT query_id, neighbor_id, adist, rank FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY adist, neighbor_id) AS rank
        FROM scored
    ) ranked
    WHERE rank <= 3
"""
    )


QUERIES["ann_ivfpq_topk"] = q_ann_ivfpq_topk
ORACLES["ann_ivfpq_topk"] = _ivfpq_oracle()


# ---------------------------------------------------------------- #
# DSIR-style importance resampling (hashed n-gram data selection,   #
# Xie et al. 2023): score every corpus doc by how much more likely  #
# its hashed-unigram profile is under a TARGET domain than under    #
# the raw corpus, then keep the global top-N. The bucket tables     #
# are tiny by construction (B=512 — that is the point of feature    #
# hashing: count state independent of vocab size), so both count    #
# joins broadcast; the only wide shuffle is the per-(doc, bucket)   #
# aggregation. Per-bucket log-ratios quantize to DECIMAL(18,6)      #
# BEFORE the per-doc sum (the text_unigram_logprob rule), so the    #
# float score is order-independent and engine-exact.                #
# ---------------------------------------------------------------- #
_DSIR_B = 512
_DSIR_TARGET = ("src0", "src1", "src2")
_DSIR_N = 50


def q_dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    docs = t["documents"]
    tb = docs.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).select(
        "doc_id", "source", (TX.hash60(F.col("tok")) % _DSIR_B).alias("b")
    )
    pd_ = tb.groupBy("doc_id", "source", "b").agg(F.count("*").alias("n_b"))
    raw = pd_.groupBy("b").agg(F.sum("n_b").alias("cr"))
    tgt = (
        pd_.where(F.col("source").isin(*_DSIR_TARGET))
        .groupBy("b")
        .agg(F.sum("n_b").alias("ct"))
    )
    tot = pd_.agg(
        F.sum("n_b").alias("nr"),
        F.sum(
            F.when(F.col("source").isin(*_DSIR_TARGET), F.col("n_b")).otherwise(
                F.lit(0)
            )
        ).alias("nt"),
    )
    sc = (
        raw.join(tgt, "b", "left")
        .fillna(0, ["ct"])
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                F.log(
                    (F.col("ct") + F.lit(1)).cast("double")
                    / (F.col("nt") + F.lit(_DSIR_B))
                )
                - F.log(
                    (F.col("cr") + F.lit(1)).cast("double")
                    / (F.col("nr") + F.lit(_DSIR_B))
                )
            )
            .cast("decimal(18,6)")
            .alias("s"),
        )
    )
    ds = (
        pd_.join(F.broadcast(sc), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n_b").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(
                    F.col("s") * F.col("n_b").cast("decimal(10,0)")
                ).cast("double"),
                6,
            ).alias("importance"),
        )
    )
    return ds.orderBy(F.col("importance").desc(), "doc_id").limit(_DSIR_N)


def _dsir_oracle() -> str:
    srcs = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
    return f"""
    WITH tok AS (
        SELECT doc_id, source, unnest(toks) AS t
        FROM (SELECT doc_id, source, {_TOKS} AS toks FROM documents)
    ),
    tb AS (
        SELECT doc_id, source, {_HASH60_T} % {_DSIR_B} AS b FROM tok
    ),
    pd AS (
        SELECT doc_id, source, b, COUNT(*) AS n_b
        FROM tb GROUP BY doc_id, source, b
    ),
    raw AS (SELECT b, SUM(n_b) AS cr FROM pd GROUP BY b),
    tgt AS (SELECT b, SUM(n_b) AS ct FROM pd
            WHERE source IN ({srcs}) GROUP BY b),
    tot AS (
        SELECT SUM(n_b) AS nr,
               SUM(CASE WHEN source IN ({srcs}) THEN n_b ELSE 0 END) AS nt
        FROM pd
    ),
    sc AS (
        SELECT r.b,
               CAST(ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)
                       / (tot.nt + {_DSIR_B}))
                    - ln(CAST(r.cr + 1 AS DOUBLE) / (tot.nr + {_DSIR_B}))
                    AS DECIMAL(18,6)) AS s
        FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tot
    ),
    ds AS (
        SELECT p.doc_id, p.source,
               CAST(SUM(p.n_b) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(sc.s * CAST(p.n_b AS DECIMAL(10,0)))
                          AS DOUBLE), 6) AS importance
        FROM pd p JOIN sc ON sc.b = p.b
        GROUP BY p.doc_id, p.source
    )
    SELECT doc_id, source, n_tokens, importance
    FROM ds ORDER BY importance DESC, doc_id LIMIT {_DSIR_N}
"""


QUERIES["dsir_importance_select"] = q_dsir_importance_select
ORACLES["dsir_importance_select"] = _dsir_oracle()


# ---------------------------------------------------------------- #
# Distributed BPE-style phrase-merge learning: k global merge       #
# rounds over the word stream (the collocation/phrase analogue of   #
# byte-pair encoding — each round counts adjacent symbol pairs,     #
# merges the most frequent one corpus-wide, and re-segments).       #
# Spark shape per round: ONE pair-count shuffle (adjacent symbols   #
# zipped per doc, no window) and a broadcast 1-row                  #
# argmax crossJoined into the re-segmentation replace — the whole   #
# k-round chain stays in ONE lazy plan, zero driver round-trips.    #
# Symbols ride in a \x02tok\x03-delimited string, so the pair       #
# replace is boundary-exact and left-to-right greedy in both        #
# engines (classic BPE apply semantics). Everything is integer      #
# counts + string ops — no floats, bit-exact by construction.       #
# At 100 TB you would localCheckpoint/persist the segmentation      #
# between rounds instead of re-deriving it lazily (k is small;     #
# each round is one linear pass either way).                        #
# ---------------------------------------------------------------- #
_BPE_ROUNDS = 5
_SY0, _SY1 = "\x02", "\x03"


def q_bpe_phrase_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    seg = t["documents"].select(
        "doc_id",
        F.when(F.size(TX.tokens(F.col("text"))) == 0, F.lit("")).otherwise(
            F.concat(
                F.lit(_SY0),
                F.array_join(TX.tokens(F.col("text")), _SY1 + _SY0),
                F.lit(_SY1),
            )
        ).alias("seg"),
    )
    merges: list[tuple] = []
    for r in range(1, _BPE_ROUNDS + 1):
        # adjacency is WITHIN each doc's segmented string, so pairs come
        # from zipping the symbol array against itself shifted by one —
        # a pure map (no lambda, no window shuffle; the LEAD-window form
        # measured 3x slower per round at sf0.1: 2.1s vs 0.7s)
        arr = seg.where(F.col("seg") != "").select(
            F.split(
                F.substring(F.col("seg"), 2, F.length("seg") - 2),
                _SY1 + _SY0,
            ).alias("a")
        )
        n1 = F.greatest(F.size("a") - 1, F.lit(0))
        pairs = arr.select(
            F.explode(
                F.arrays_zip(F.slice("a", 1, n1), F.slice("a", 2, n1))
            ).alias("z")
        ).select(F.col("z.0").alias("l"), F.col("z.1").alias("r"))
        # the round's single wide op: one map-side-combinable pair count;
        # the global argmax comes back as ONE row (the kmeans_iterations
        # driver-state pattern — centroids there, the merge rule here).
        # seg itself stays lazy: recomputing round r's segmentation is
        # the corpus scan + r cheap map-only replaces, so the suite does
        # exactly k counting passes total.
        rows = (
            pairs.groupBy("l", "r")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not rows:
            break
        bl, br, bc = rows[0]["l"], rows[0]["r"], int(rows[0]["c"])
        merges.append((r, bl, br, bc))
        seg = seg.select(
            "doc_id",
            F.replace(
                F.col("seg"),
                F.lit(_SY0 + bl + _SY1 + _SY0 + br + _SY1),
                F.lit(_SY0 + bl + br + _SY1),
            ).alias("seg"),
        )
    return values_df(
        spark,
        merges,
        "merge_rank int, left_sym string, right_sym string, pair_count bigint",
    ).orderBy("merge_rank")


def _bpe_oracle() -> str:
    sep = "chr(3) || chr(2)"
    parts = [
        f"""
    WITH s1 AS (
        SELECT doc_id,
               CASE WHEN len(toks) = 0 THEN ''
                    ELSE chr(2) || array_to_string(toks, {sep}) || chr(3)
               END AS seg
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    )"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(
            f""",
    y{r} AS (
        SELECT string_split(substr(seg, 2, len(seg) - 2), {sep}) AS syms
        FROM s{r} WHERE seg <> ''
    ),
    p{r} AS (
        SELECT u['l'] AS l, u['r'] AS r FROM (
            SELECT unnest(list_transform(
                generate_series(1, len(syms) - 1),
                i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS u
            FROM y{r} WHERE len(syms) >= 2
        )
    ),
    b{r} AS (
        SELECT l, r, COUNT(*) AS c FROM p{r}
        GROUP BY l, r ORDER BY c DESC, l, r LIMIT 1
    ),
    s{r + 1} AS (
        SELECT doc_id,
               replace(seg,
                       chr(2) || b.l || chr(3) || chr(2) || b.r || chr(3),
                       chr(2) || b.l || b.r || chr(3)) AS seg
        FROM s{r} CROSS JOIN b{r} b
    )"""
        )
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"CAST(c AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return "".join(parts) + f"""
    {sel}
    ORDER BY merge_rank
"""


QUERIES["bpe_phrase_merges"] = q_bpe_phrase_merges
ORACLES["bpe_phrase_merges"] = _bpe_oracle()


# ---------------------------------------------------------------- #
# Corpus diversity dashboard: Shannon token entropy per source.     #
# Two aggregations — (source, token) counts, then per-source        #
# entropy with each -(c/N) ln(c/N) term ROUND-6-quantized to        #
# DECIMAL before the sum (order-free, engine-exact; the             #
# text_unigram_logprob rule). The (source, token) relation is the   #
# only wide state and it is bounded by vocab x sources.             #
# ---------------------------------------------------------------- #
def q_token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    tc = (
        t["documents"]
        .select("source", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = tc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_vocab")
    )
    term = (
        -(F.col("c") / F.col("n_tokens"))
        * F.log(F.col("c") / F.col("n_tokens"))
    )
    return (
        tc.join(F.broadcast(totals), "source")
        .select(
            "source",
            "n_tokens",
            "n_vocab",
            F.round(term, 6).cast("decimal(28,6)").alias("__h"),
        )
        .groupBy("source")
        .agg(
            F.max("n_tokens").cast("bigint").alias("n_tokens"),
            F.max("n_vocab").cast("bigint").alias("n_vocab"),
            F.sum("__h").cast("double").alias("entropy_nats"),
        )
        .orderBy("source")
    )


QUERIES["token_entropy_by_source"] = q_token_entropy_by_source
ORACLES["token_entropy_by_source"] = f"""
    WITH tc AS (
        SELECT source, tok, COUNT(*) AS c FROM (
            SELECT source, unnest({_TOKS}) AS tok FROM documents
        ) GROUP BY source, tok
    ),
    totals AS (
        SELECT source, SUM(c) AS n_tokens, COUNT(*) AS n_vocab
        FROM tc GROUP BY source
    )
    SELECT t.source,
           CAST(MAX(tt.n_tokens) AS BIGINT) AS n_tokens,
           CAST(MAX(tt.n_vocab) AS BIGINT) AS n_vocab,
           CAST(SUM(CAST(ROUND(
               -(t.c / tt.n_tokens) * ln(t.c / tt.n_tokens), 6)
               AS DECIMAL(28,6))) AS DOUBLE) AS entropy_nats
    FROM tc t JOIN totals tt USING (source)
    GROUP BY t.source
    ORDER BY t.source
"""


# ---------------------------------------------------------------- #
# Distribution drift monitor: PSI (population stability index) of   #
# the event-value distribution, second half of the month vs the     #
# first — the standard production gate for "did my feature/input    #
# distribution move". Fixed literal bin edges (50-wide, overflow    #
# capped at bin 9) + Laplace-smoothed proportions so no bucket is   #
# ever zero; each (pa - pe) * ln(pa / pe) term quantizes to         #
# DECIMAL(28,6) before the (order-free) total. One scan, one        #
# 10-row aggregate, everything downstream scalar.                   #
# ---------------------------------------------------------------- #
_PSI_BINS, _PSI_W, _PSI_SPLIT = 10, 50.0, "2024-01-16"


def q_psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    ev = t["events"].select(
        # symmetric clamp: negative values land in bucket 0 just as
        # overflow lands in the top bin — a monitoring spine must count
        # EVERY row (an unclamped negative bucket would vanish through
        # the spine join and silently undercount)
        F.greatest(
            F.least(
                F.floor(F.col("value") / _PSI_W).cast("int"),
                F.lit(_PSI_BINS - 1),
            ),
            F.lit(0),
        ).alias("bucket"),
        (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("is_exp"),
    )
    spine = spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bucket"))
    counts = (
        spine.join(
            ev.groupBy("bucket").agg(
                F.sum(F.when(F.col("is_exp"), 1).otherwise(0)).alias("n_expected"),
                F.sum(F.when(~F.col("is_exp"), 1).otherwise(0)).alias("n_actual"),
            ),
            "bucket",
            "left",
        )
        # bins empty in BOTH halves still belong on the report (their
        # smoothed term is ~0 but a monitoring spine must be total)
        .fillna(0, ["n_expected", "n_actual"])
    )
    tot = counts.agg(
        F.sum("n_expected").alias("ne"), F.sum("n_actual").alias("na")
    )
    pe = (F.col("n_expected") + 1) / (F.col("ne") + _PSI_BINS)
    pa = (F.col("n_actual") + 1) / (F.col("na") + _PSI_BINS)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("n_expected").cast("bigint").alias("n_expected"),
            F.col("n_actual").cast("bigint").alias("n_actual"),
            F.round((pa - pe) * F.log(pa / pe), 6)
            .cast("decimal(28,6)")
            .cast("double")
            .alias("psi_term"),
        )
        .orderBy("bucket")
    )


QUERIES["psi_drift_report"] = q_psi_drift_report
ORACLES["psi_drift_report"] = f"""
    WITH ev AS (
        SELECT GREATEST(
                   LEAST(CAST(FLOOR(value / {_PSI_W}) AS INT),
                         {_PSI_BINS - 1}),
                   0) AS bucket,
               ts < TIMESTAMP '{_PSI_SPLIT}' AS is_exp
        FROM events
    ),
    observed AS (
        SELECT bucket,
               SUM(CASE WHEN is_exp THEN 1 ELSE 0 END) AS n_expected,
               SUM(CASE WHEN NOT is_exp THEN 1 ELSE 0 END) AS n_actual
        FROM ev GROUP BY bucket
    ),
    counts AS (
        SELECT s.bucket,
               COALESCE(o.n_expected, 0) AS n_expected,
               COALESCE(o.n_actual, 0) AS n_actual
        FROM (SELECT CAST(g.i AS INT) AS bucket
              FROM generate_series(0, {_PSI_BINS - 1}) g(i)) s
        LEFT JOIN observed o ON o.bucket = s.bucket
    ),
    tot AS (SELECT SUM(n_expected) AS ne, SUM(n_actual) AS na FROM counts)
    SELECT bucket,
           CAST(n_expected AS BIGINT) AS n_expected,
           CAST(n_actual AS BIGINT) AS n_actual,
           CAST(CAST(ROUND(
               ((n_actual + 1) / (na + {_PSI_BINS})
                - (n_expected + 1) / (ne + {_PSI_BINS}))
               * ln(((n_actual + 1) / (na + {_PSI_BINS}))
                    / ((n_expected + 1) / (ne + {_PSI_BINS}))), 6)
               AS DECIMAL(28,6)) AS DOUBLE) AS psi_term
    FROM counts CROSS JOIN tot
    ORDER BY bucket
"""


# ---------------------------------------------------------------- #
# Cluster-aware train/val/test split: whole near-dup clusters go    #
# to ONE split (hash the CLUSTER id, not the doc id) — the          #
# leakage-free way to split a corpus whose near-dups survived       #
# (C4/SemDeDup practice: a train doc's near-copy in the eval set    #
# is contamination). Reads the shared component-label artifact      #
# (one closure per corpus); singleton docs are their own cluster.   #
# The naive_leaky_clusters column quantifies the counterfactual:    #
# clusters that doc-id hashing WOULD have scattered across splits.  #
# ---------------------------------------------------------------- #
def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    labels = _dedup_components(spark, sf_dir)
    d = (
        t["documents"]
        .select("doc_id")
        .join(labels, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )
    uc = sampling.hash_uniform(F.col("cluster_id"), "split")
    un = sampling.hash_uniform(F.col("doc_id"), "split")

    def bucket(u):
        return (
            F.when(u < 0.1, F.lit("val"))
            .when(u < 0.2, F.lit("test"))
            .otherwise(F.lit("train"))
        )

    d = d.select(
        "doc_id",
        "cluster_id",
        bucket(uc).alias("split"),
        bucket(un).alias("naive_split"),
    )
    cl = d.groupBy("cluster_id", "split").agg(
        F.count(F.lit(1)).alias("n_docs_c"),
        F.sum("doc_id").alias("id_sum_c"),
        F.countDistinct("naive_split").alias("nn"),
    )
    return (
        cl.groupBy("split")
        .agg(
            F.sum("n_docs_c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("id_sum_c").cast("bigint").alias("id_checksum"),
            F.sum(F.when(F.col("nn") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("naive_leaky_clusters"),
        )
        .orderBy("split")
    )


def _cluster_split_oracle() -> str:
    def u32(expr: str) -> str:
        return (
            f"CAST('0x' || substring(md5(CAST({expr} AS VARCHAR) || 'split'),"
            f" 1, 8) AS BIGINT) / 4294967296.0"
        )

    def bucket(u: str) -> str:
        return (
            f"CASE WHEN {u} < 0.1 THEN 'val' "
            f"WHEN {u} < 0.2 THEN 'test' ELSE 'train' END"
        )

    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle(_LSH_CAP)}),
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
    d AS (
        SELECT doc_id,
               COALESCE(c.component_id, doc_id) AS cluster_id,
               {bucket(u32("COALESCE(c.component_id, doc_id)"))} AS split,
               {bucket(u32("doc_id"))} AS naive_split
        FROM documents LEFT JOIN comp c ON doc_id = c.node
    ),
    cl AS (
        SELECT cluster_id, split,
               COUNT(*) AS n_docs_c,
               SUM(doc_id) AS id_sum_c,
               COUNT(DISTINCT naive_split) AS nn
        FROM d GROUP BY cluster_id, split
    )
    SELECT split,
           CAST(SUM(n_docs_c) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(id_sum_c) AS BIGINT) AS id_checksum,
           CAST(SUM(CASE WHEN nn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS naive_leaky_clusters
    FROM cl GROUP BY split ORDER BY split
"""


QUERIES["cluster_aware_split"] = q_cluster_aware_split
ORACLES["cluster_aware_split"] = _cluster_split_oracle()


# ---------------------------------------------------------------- #
# Token-budget mixture planning: given per-source token counts and  #
# a total training budget (half the corpus here), allocate tokens   #
# per source under sqrt-temperature weighting with per-source caps  #
# (never allocate more than a source has) and ONE redistribution    #
# round of the capped surplus to uncapped sources — the planning    #
# step in front of mixture_resample_sqrt. The whole computation     #
# lives on the tiny per-source aggregate; sqrt weights quantize to  #
# DECIMAL(18,6) BEFORE the weight-sum (order-free), allocations     #
# are integer floors of identical double expressions, so every      #
# number is engine-exact.                                           #
# ---------------------------------------------------------------- #
def q_mixture_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    counts = (
        t["documents"]
        .select("source", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .withColumn(
            "w", F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(18,6)")
        )
    )
    tot = counts.agg(
        F.sum("n_tokens").alias("nt"), F.sum("w").alias("wt")
    )
    a1 = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "w",
        (F.col("nt").cast("bigint") / 2).cast("bigint").alias("budget"),
        F.least(
            F.col("n_tokens"),
            F.floor(
                F.col("w").cast("double")
                / F.col("wt").cast("double")
                * F.floor(F.col("nt") / 2)
            ).cast("bigint"),
        ).alias("a1"),
    )
    pass2 = a1.crossJoin(
        F.broadcast(
            a1.agg(
                F.sum("a1").alias("used"),
                F.sum(
                    F.when(F.col("a1") < F.col("n_tokens"), F.col("w")).otherwise(
                        F.lit(0).cast("decimal(18,6)")
                    )
                ).alias("w2"),
            )
        )
    )
    alloc = pass2.select(
        "source",
        "n_tokens",
        "w",
        "a1",
        F.when(
            (F.col("a1") < F.col("n_tokens")) & (F.col("w2") > 0),
            F.least(
                F.col("n_tokens") - F.col("a1"),
                F.floor(
                    F.col("w").cast("double")
                    / F.col("w2").cast("double")
                    * (F.col("budget") - F.col("used"))
                ).cast("bigint"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("a2"),
    )
    return alloc.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("w").cast("double").alias("weight"),
        (F.col("a1") + F.col("a2")).cast("bigint").alias("alloc_tokens"),
        ((F.col("a1") + F.col("a2")) == F.col("n_tokens")).alias("capped"),
        F.round(
            (F.col("a1") + F.col("a2")).cast("double") / F.col("n_tokens"), 6
        ).alias("epochs"),
    ).orderBy("source")


QUERIES["mixture_token_budget_plan"] = q_mixture_token_budget_plan
ORACLES["mixture_token_budget_plan"] = f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n_tokens,
               CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,6)) AS w
        FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
        GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS nt, SUM(w) AS wt FROM counts),
    a1 AS (
        SELECT source, n_tokens, w,
               CAST(FLOOR(nt / 2) AS BIGINT) AS budget,
               LEAST(
                   n_tokens,
                   CAST(FLOOR(CAST(w AS DOUBLE) / CAST(wt AS DOUBLE)
                              * FLOOR(nt / 2)) AS BIGINT)
               ) AS a1
        FROM counts CROSS JOIN tot
    ),
    agg2 AS (
        SELECT SUM(a1) AS used,
               SUM(CASE WHEN a1 < n_tokens THEN w
                        ELSE CAST(0 AS DECIMAL(18,6)) END) AS w2
        FROM a1
    ),
    alloc AS (
        SELECT source, n_tokens, w, a1,
               CASE WHEN a1 < n_tokens AND agg2.w2 > 0 THEN
                   LEAST(
                       n_tokens - a1,
                       CAST(FLOOR(CAST(w AS DOUBLE) / CAST(agg2.w2 AS DOUBLE)
                                  * (budget - agg2.used)) AS BIGINT)
                   )
               ELSE 0 END AS a2
        FROM a1 CROSS JOIN agg2
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(w AS DOUBLE) AS weight,
           CAST(a1 + a2 AS BIGINT) AS alloc_tokens,
           (a1 + a2) = n_tokens AS capped,
           ROUND(CAST(a1 + a2 AS DOUBLE) / n_tokens, 6) AS epochs
    FROM alloc ORDER BY source
"""


# ---------------------------------------------------------------- #
# JSONL source round trip (sources/jsonl.py). The documents table   #
# is rendered once as a content-addressed JSONL artifact, read back #
# with the explicit-schema line-splittable scan, and aggregated;    #
# the oracle aggregates the ORIGINAL table directly — equality      #
# proves the JSON encoding (string escaping included) round-trips   #
# losslessly. text_checksum sums a 48-bit md5 prefix per document,  #
# so one flipped text byte anywhere breaks the group's hash.        #
# ---------------------------------------------------------------- #
def q_jsonl_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.sources import jsonl as JS

    path = JS.ensure_documents_jsonl(spark, sf_dir)
    df = JS.read_jsonl(spark, path, JS.DOCUMENTS_JSONL_SCHEMA)
    text_hash = F.conv(F.substring(F.md5(F.col("text")), 1, 12), 16, 10).cast(
        "bigint"
    )
    return df.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
        F.sum(text_hash).cast("bigint").alias("text_checksum"),
    )


QUERIES["jsonl_source_roundtrip"] = q_jsonl_source_roundtrip
ORACLES["jsonl_source_roundtrip"] = """
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(CAST('0x' || substring(md5(text), 1, 12) AS BIGINT))
                AS BIGINT) AS text_checksum
    FROM documents GROUP BY 1, 2
"""
