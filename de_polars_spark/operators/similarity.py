"""Similarity search over an embedding column.

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Query set broadcast against the corpus (queries are small; the corpus
  scan is embarrassingly parallel, no corpus shuffle), then per-query
  top-k via window row_number (Catalyst plans a partial top-k per
  partition before the final shuffle of k rows per query).
- ``lsh_bucketed_topk``: the scale path — sign-bit LSH buckets shrink each
  query's candidate set to ~corpus/2^bits; same top-k afterwards. Recall
  trades off with bucket count; ``lsh_multiprobe_topk`` also probes the
  buckets one flipped bit away, a UNION of bucket keys on the query side
  (the same body, another probe column).
- ``ivf_topk``: the other classic scale path (IVF — inverted file index).
  A small centroid set partitions the corpus into cells; each query only
  scores the ``nprobe`` nearest cells. Cell assignment here is map-only:
  the centroid table (ids, vectors, driver-folded norms) enters the plan
  as ONE parsed literal array of structs (it is by construction tiny —
  the whole point of a coarse quantizer — and one literal crosses py4j
  in a constant number of round trips whatever its size), so the corpus
  is never shuffled for assignment, and the candidate join keys on the
  cell id exactly like the LSH variant. The assigned corpus is the part
  that does not change between calls: ``ivf_topk`` keeps it persisted
  in-process, keyed by the corpus's data version (``sources/artifacts.
  plan_version``: plan, files, listing, SQL conf) and the exact centroid
  table, so a repeated call over unchanged files only probes and scores.
  The cache is one ``sources/artifacts.Memo`` of ``MEMO_SIZE`` entries
  that unpersists what it evicts (``ivf_cache_info``, ``clear_ivf_cache``).
  ``build_ivf_index`` persists the same assignment as a cell-partitioned
  parquet index for use across processes. At 100 TB you would fit the
  centroids with k-means (e.g. one MLlib pass over a sample); the
  deterministic sample-fit used here keeps the operator oracle-checkable.

Every pairwise-cosine operator scores the same way: each side is
``_normed`` (id, vector as doubles, norm in a Project of its own), the
pair's score is ``VX.cosine`` (rounded to 6 decimals before any
comparison), and the top-k operators differ only in the candidate
predicate ``_scored_topk`` joins on: another row than the query (exact),
in the same LSH bucket or probed IVF cell, or with another label (hard
negatives). The two margin miners differ only in their scored pairs and
share ``_margin_tail``: k-NN averages, mutual top-1, NULL-safe margin.

Per-call intermediates that several branches read (the margin miners'
scored pairs) are ``localCheckpoint()``-ed: an RDD leaf no other plan is
served from, whose blocks go with the last frame that reads it. The IVF
memo is the package's one ``persist()``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from de_polars_spark.functions import vectors as VX
from de_polars_spark.functions.local_relation import literal_column, values_df
from de_polars_spark.sources.artifacts import Memo, plan_version, unpersist
# a no-op kept under this name for perfbench (sources/artifacts.release_cached)
from de_polars_spark.sources.artifacts import release_cached  # noqa: F401


def _scored_topk(c: DataFrame, q: DataFrame, on, k: int, *carry: str) -> DataFrame:
    """Per query, the ``k`` best-scoring pairs of the corpus side ``c``
    (``neighbor_id, cv, cn``) and the broadcast query side ``q``
    (``query_id, qv, qn``) that the join predicate ``on`` admits:
    ``(query_id, neighbor_id, *carry, cosine, rank)``, cosine descending,
    ties to the lower neighbor id. ``carry`` names corpus-side columns to
    keep (``neighbor_label``). Catalyst plans a partial top-k per partition
    before the final shuffle of k rows per query."""
    scored = c.join(F.broadcast(q), on).select(
        "query_id",
        "neighbor_id",
        *carry,
        VX.cosine(q["qv"], c["cv"], q["qn"], c["cn"]).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", *carry, "cosine", "rank")
    )


def _not_self() -> "F.Column":
    return F.col("query_id") != F.col("neighbor_id")


def _other_label() -> "F.Column":
    return F.col("query_label") != F.col("neighbor_label")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact brute-force cosine top-k for each query vector.

    Norms are precomputed per row on both sides so each of the Q×N pairs
    pays one dot-product fold, not three."""
    c, _ = _normed(corpus, id_col, vec_col, None, "neighbor")
    q, _ = _normed(queries, id_col, vec_col, None, "query")
    return _scored_topk(c, q, _not_self(), k)


def _py_norm(vec: list) -> float:
    """Driver-side L2 norm with EXACTLY the fold's IEEE operation order.

    ``VX.norm`` over a literal array evaluates ``sqrt(aggregate(
    zip_with(a, a, x*y), 0.0, acc+x))`` — a sequential left fold seeded
    0.0. CPython floats are IEEE binary64 with no FMA, so the same
    multiply/add sequence yields the bit-identical double; folding the
    literal centroid norms here (instead of per ROW in the plan) changes
    nothing downstream."""
    import math

    acc = 0.0
    for x in vec:
        x = float(x)
        acc = acc + x * x
    return math.sqrt(acc)


def _centroid_scores(
    vec: "F.Column", centroids: list, vnorm: "F.Column | None" = None
) -> "F.Column":
    """Array of (cosine, cid) structs vs every centroid, sorted best-first.

    Struct comparison is lexicographic on (cos, cid), so ``sort_array``
    descending orders by cosine DESC then cid DESC — mirror that tiebreak
    in any oracle. The centroid table is one plan literal,
    ``array(named_struct('cid', .., 'v', array(..), 'n', ..), ..)``
    (``literal_column``: the build costs the same py4j round trips for
    any nlist and dimension), and the expression is
    ``sort_array(transform(table, c -> struct(dot(vec, c.v) / (vn * c.n)
    AS cos, c.cid AS cid)), false)``: per-row work is ``nlist``
    dot-product folds over the same doubles, no join, no shuffle.

    ``vnorm``: the (attribute) column holding ``VX.norm(vec)``. Passing
    it drops the per-centroid recomputation of the row norm (nlist folds
    -> 0; callers already materialize the norm for the scoring join);
    the centroid norms are folded driver-side (``_py_norm``) — together
    the per-row fold count falls from 3x nlist to nlist."""
    vn = VX.norm(vec) if vnorm is None else vnorm
    table = literal_column(
        [
            {"cid": int(cid), "v": [float(x) for x in cvec], "n": _py_norm(cvec)}
            for cid, cvec in centroids
        ]
    )
    return F.sort_array(
        F.transform(
            table,
            lambda c: F.struct(
                (VX.dot(vec, c["v"]) / (vn * c["n"])).alias("cos"),
                c["cid"].alias("cid"),
            ),
        ),
        asc=False,
    )


def _normed(df: DataFrame, id_col: str, vec_col: str, label_col, side: str):
    """``(<side>_id[, <side>_label], v, n)`` and its column names: ``v`` the
    vector as doubles, ``n`` its norm in a Project of its own. The centroid
    scores then read the norm ATTRIBUTE: CollapseProject keeps the
    non-cheap fold un-inlined, so the row norm is computed once, not once
    per centroid."""
    v, n = ("cv", "cn") if side == "neighbor" else ("qv", "qn")
    cols = [F.col(id_col).alias(f"{side}_id")]
    if label_col is not None:
        cols.append(F.col(label_col).alias(f"{side}_label"))
    names = [f"{side}_id", f"{side}_label"][: len(cols)]
    out = df.select(*cols, VX.as_double(F.col(vec_col)).alias(v))
    return out.select(*names, v, VX.norm(F.col(v)).alias(n)), [*names, v, n]


def _assign_cells(
    corpus: DataFrame, id_col: str, vec_col: str, centroids: list, label_col=None
) -> DataFrame:
    """The IVF assignment: ``(neighbor_id[, neighbor_label], cv, cn, cell)``,
    each row in its nearest centroid's cell (map-only, the centroid table
    inlined as one plan literal)."""
    c, names = _normed(corpus, id_col, vec_col, label_col, "neighbor")
    return c.select(
        *names,
        F.element_at(
            _centroid_scores(F.col("cv"), centroids, F.col("cn")), 1
        )["cid"].alias("cell"),
    )


def _probe_cells(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list,
    nprobe: int,
    label_col=None,
) -> DataFrame:
    """The IVF probe: ``(query_id[, query_label], qv, qn, cell)``, one row
    per query and each of its ``nprobe`` nearest cells."""
    q, names = _normed(queries, id_col, vec_col, label_col, "query")
    probes = F.slice(_centroid_scores(F.col("qv"), centroids, F.col("qn")), 1, nprobe)
    return q.select(*names, F.explode(probes).alias("probe")).select(
        *names, F.col("probe")["cid"].alias("cell")
    )


#: assigned corpora ``ivf_topk`` keeps (least recently used out first,
#: unpersisted as they leave)
MEMO_SIZE = 4
_IVF_MEMO = Memo(MEMO_SIZE, on_evict=unpersist)


def _assigned_corpus(
    corpus: DataFrame, id_col: str, vec_col: str, centroids: list
) -> DataFrame:
    """``_assign_cells(corpus, ...)``, from the IVF cache when it can be.

    Cached: a corpus that reads at least one file scan and has a
    ``plan_version``. The key is the application, that version (plan,
    files' manifest and listing, SQL conf), the two column names and the
    exact centroid table. A miss stores the assignment ``persist()``ed at
    the default level; the first action over it fills it. The stored plan
    carries the version's digest as a constant column: Spark matches
    cached data by plan alone, so without it a plan over the same roots
    with other files in them would be served these rows. Any other corpus
    is assigned afresh (re-reading it costs nothing)."""
    version = plan_version(corpus)
    if version is None or not version.listed:
        return _assign_cells(corpus, id_col, vec_col, centroids)
    table = tuple((int(cid), tuple(float(x) for x in vec)) for cid, vec in centroids)
    key = (corpus.sparkSession.sparkContext.applicationId, version, id_col, vec_col, table)
    hit = _IVF_MEMO.get(key)
    if hit is not None:
        return hit
    digest = hashlib.md5(repr(version[1:]).encode()).hexdigest()
    built = _assign_cells(corpus, id_col, vec_col, centroids).withColumn(
        "data_version", F.lit(digest)
    )
    # racing misses build equal plans, which Spark caches once; the first
    # stored is the one kept (and unpersisted when it leaves)
    return _IVF_MEMO.put(key, built.persist())


def clear_ivf_cache() -> int:
    """Unpersist and drop every assigned corpus the IVF cache holds;
    returns the count."""
    return _IVF_MEMO.clear()


def ivf_cache_info() -> dict:
    """Hits, misses and entries of the IVF cache (see :func:`ivf_topk`);
    :func:`clear_ivf_cache` empties it."""
    return _IVF_MEMO.info()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    ``centroids`` is a list of ``(cid, vector)`` pairs — the fitted coarse
    quantizer (driver-side; tiny by design). Corpus rows are assigned to
    their nearest centroid's cell (map-only, the centroid table inlined as
    one plan literal); each query probes its ``nprobe`` nearest cells and
    scores only the candidates inside them (:func:`ivf_topk_from_index`).

    The assigned corpus is kept per data version in an in-process LRU of
    ``MEMO_SIZE`` entries (``_assigned_corpus``), so repeated calls over
    unchanged files only probe and score; the rows are the same either
    way."""
    postings = _assigned_corpus(corpus, id_col, vec_col, centroids)
    return ivf_topk_from_index(postings, centroids, queries, id_col, vec_col, k, nprobe)


def fit_centroids_sample(
    corpus: DataFrame, id_col: str, vec_col: str, nlist: int, mod: int = 67, rem: int = 1
) -> list:
    """Deterministic sample 'fit' for the IVF coarse quantizer: the first
    ``nlist`` corpus vectors (by id) with ``id % mod == rem``. A stand-in
    for a k-means fit with identical downstream plumbing; collects only
    ``nlist`` rows to the driver."""
    rows = (
        corpus.filter(F.col(id_col) % mod == rem)
        .orderBy(F.col(id_col))
        .limit(nlist)
        .select(F.col(id_col).alias("cid"), VX.as_double(F.col(vec_col)).alias("cv"))
        .collect()
    )
    return [(r["cid"], list(r["cv"])) for r in rows]


def build_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list,
    path: str,
) -> None:
    """Persist a fitted IVF index as parquet artifacts under ``path``:
    ``postings/`` (cell-partitioned ``(neighbor_id, cv, cn)``) and
    ``centroids/`` (the coarse quantizer, ``(cid, cv)``).

    This turns ``ivf_topk``'s fit+assign+query into build-once /
    query-many — the shape a production embedding store needs: the
    assignment scan runs once, ``partitionBy(cell)`` lays each inverted
    list out as its own parquet partition (so a probe reads ONLY its
    cells — Spark prunes the partition dirs via dynamic partition
    pruning on the broadcast cell join), and per-vector norms are paid
    at build time, not per query."""
    import os

    c = _assign_cells(corpus, id_col, vec_col, centroids)
    # cluster by cell before the partitioned write: a partitionBy write
    # from an N-partition scan emits up to N files PER cell dir (a
    # 100 TB scan has thousands of partitions — tiny-file storm, slow
    # probes); repartition("cell") bounds it to one task's output per
    # cell, the contiguous inverted-list layout a probe reads. At bench
    # scale the scan is 1-3 partitions either way (A/B: 0.34s vs 0.44s
    # write) — this is for the write shape at scale, not local timing.
    c.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "postings")
    )
    # JVM-side VALUES relation: a createDataFrame here made this tiny
    # 8-row write cost ~5 s per build (Python worker round trip on the
    # pickled local relation) — functions/local_relation.py
    cdf = values_df(
        corpus.sparkSession,
        [(int(cid), [float(x) for x in cv]) for cid, cv in centroids],
        "cid bigint, cv array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def append_ivf_index(
    corpus: DataFrame, id_col: str, vec_col: str, path: str
) -> None:
    """Incrementally add vectors to a persisted IVF index — the
    maintenance path a production embedding store runs nightly: the
    coarse quantizer is FROZEN (loaded from the index, not refit), new
    vectors are assigned map-only against the broadcast centroids, and
    their postings APPEND as new files inside the existing cell
    partitions. No touched history, no shuffle of the old postings, no
    refit — the standard IVF trade-off that assignment quality decays
    as the corpus drifts from the fitted centroids (rebuild via
    ``build_ivf_index`` when recall drops)."""
    import os

    cents, _ = load_ivf_index(corpus.sparkSession, path)
    c = _assign_cells(corpus, id_col, vec_col, cents)
    c.write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, "postings")
    )


def compact_ivf_index(spark, path: str) -> dict:
    """Rewrite the postings of a persisted IVF index into one contiguous
    file per cell — the maintenance op a production embedding store runs
    after N incremental :func:`append_ivf_index` batches, each of which
    adds one small file per touched cell (the classic small-file storm:
    probe latency becomes file-open-bound, not scan-bound).

    Pure LAYOUT rewrite: rows, values, and cell assignment are
    untouched, so every query over the compacted index is bit-identical
    to the uncompacted one (the inventory entry proves it by reusing
    the append audit's oracle verbatim). Write path mirrors
    ``build_ivf_index``: repartition("cell") bounds output to one
    task's file per cell dir, staged into a tmp dir and swapped in.

    SWAP SEMANTICS, stated honestly: the swap is TWO directory renames
    (old→.pre-compact, tmp→postings), because a single rename cannot
    replace a non-empty directory on HDFS/posix. A reader in the
    instant between them sees a missing ``postings/`` and should
    retry; a crash in that window is RECOVERABLE — this function (and
    any caller) can detect ``.pre-compact`` with no ``postings/`` and
    restore it, which is exactly what the re-entry guard below does.
    A serving deployment that cannot tolerate the retry window should
    compact into a COPY and flip a pointer instead (the inventory
    entry's own shape).

    Returns ``{"files_before": int, "files_after": int}`` (data files
    only), counted through the Hadoop FileSystem API so the op works on
    any scheme, not just local disk.
    """
    import os

    from de_polars_spark.streaming import fsutil

    postings_dir = os.path.join(path, "postings")
    old = f"{postings_dir}.pre-compact"
    # crash recovery: a previous run that died between the two swap
    # renames left the data stranded in .pre-compact — restore it
    if not fsutil.exists(spark, postings_dir) and fsutil.exists(spark, old):
        fsutil.rename(spark, old, postings_dir)

    def _count_data_files(d: str) -> int:
        fs, jpath = fsutil._fs_path(spark, d)
        n = 0
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            name = it.next().getPath().getName()
            if not name.startswith(("_", ".")):
                n += 1
        return n

    before = _count_data_files(postings_dir)
    df = spark.read.parquet(postings_dir)
    tmp = f"{postings_dir}.compact-tmp"
    (
        df.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )
    fsutil.delete(spark, old)
    fsutil.rename(spark, postings_dir, old)
    fsutil.rename(spark, tmp, postings_dir)
    fsutil.delete(spark, old)
    return {"files_before": before, "files_after": _count_data_files(postings_dir)}


def load_ivf_index(spark, path: str) -> tuple[list, DataFrame]:
    """Load a persisted IVF index: ``(centroids, postings)``.

    Centroids come back driver-side (tiny by construction, exact float64
    parquet round-trip); postings stay a cell-partitioned DataFrame."""
    import os

    cents = sorted(
        (int(r["cid"]), list(r["cv"]))
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )
    postings = spark.read.parquet(os.path.join(path, "postings"))
    return cents, postings


def ivf_topk_from_index(
    postings: DataFrame,
    centroids: list,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF top-k served from a persisted index (``build_ivf_index``).

    Identical output to ``ivf_topk`` over the same corpus and centroids —
    the index is just the materialized assignment — but the per-query
    cost drops to probing ``nprobe`` inverted lists; no corpus scan, no
    re-assignment, no norm recomputation."""
    q = _probe_cells(queries, id_col, vec_col, centroids, nprobe)
    return _scored_topk(postings, q, (postings["cell"] == q["cell"]) & _not_self(), k)


def hard_negative_topk_ivf(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    centroids: list,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """:func:`hard_negative_topk` served through IVF cells — the scale
    composition its docstring promises ("swap the brute scan for the
    persisted IVF index and apply the same label filter to its probe
    output").

    The label-inequality predicate joins the CANDIDATE filter (before
    ranking), so per-anchor work is bounded by its ``nprobe`` cells'
    populations, never the corpus. ``nprobe >= nlist`` degenerates
    bit-for-bit to the exact miner (property-tested). Output schema
    matches the exact form: ``(query_id, neighbor_id, neighbor_label,
    cosine, rank)``.
    """
    c = _assign_cells(corpus, id_col, vec_col, centroids, label_col)
    q = _probe_cells(anchors, id_col, vec_col, centroids, nprobe, label_col)
    on = (c["cell"] == q["cell"]) & _other_label()
    return _scored_topk(c, q, on, k, "neighbor_label")


def margin_mutual_pairs_ivf(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    side_a,
    side_b,
    centroids: list,
    k: int = 4,
    margin_threshold: float = 1.0,
    nprobe: int = 2,
) -> DataFrame:
    """:func:`margin_mutual_pairs` routed through IVF cells — the scale
    path the exact form's docstring promises ("at corpus scale bucket
    both sides with the IVF index and score within probed cells").

    The exact miner scores the full A×B relation (a broadcast
    nested-loop — the one named scale-killer in the r4 audit). Here both
    sides are assigned to their nearest coarse-quantizer cell (map-only:
    centroids are plan literals, no shuffle), each row probes its
    ``nprobe`` nearest cells, and candidate pairs exist only where one
    side's probe hits the other side's cell. The candidate join keys on
    the CELL id, so at 100 TB it is a shuffle-hash join co-partitioned
    by cell — per-cell work is |A∩cell| × |B∩probe set|, bounded by the
    quantizer's balance, never |A|×|B|. Ranks, k-NN neighborhood
    averages, and the margin are computed over the probed candidate set
    (the standard FAISS-backed approximation in CCMatrix-scale mining).

    Exactness property: with ``nprobe >= nlist`` every row probes every
    cell, the candidate set IS A×B, and the output equals
    :func:`margin_mutual_pairs` bit-for-bit (same round-6 cosines, same
    tie-breaks) — the degeneracy gate ``tests/test_operators.py`` pins.

    Determinism matches the exact form: cosines round-6 before any
    comparison, cell assignment ties break to the higher cid
    (``_centroid_scores``), rank ties to the lower neighbor id, and the
    ANSI-safe margin guard emits NULL on a zero denominator.
    """
    def probed_pairs(from_a: bool) -> DataFrame:
        """``(id_a, id_b, cosine, in_ab, in_ba)``: each row of one side
        (A if ``from_a``) against the other side's rows assigned to the
        cells it probes."""
        x, y = (side_a, side_b) if from_a else (side_b, side_a)
        q = _probe_cells(
            corpus.filter(F.col(label_col) == x), id_col, vec_col, centroids, nprobe
        )
        c = _assign_cells(corpus.filter(F.col(label_col) == y), id_col, vec_col, centroids)
        id_a, id_b = ("query_id", "neighbor_id") if from_a else ("neighbor_id", "query_id")
        return c.join(q, c["cell"] == q["cell"]).select(
            F.col(id_a).alias("id_a"),
            F.col(id_b).alias("id_b"),
            VX.cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")).alias("cosine"),
            F.lit(from_a).alias("in_ab"),
            F.lit(not from_a).alias("in_ba"),
        )

    cand = (
        probed_pairs(True)
        .unionByName(probed_pairs(False))
        # a pair probed from both directions is one candidate (cosines
        # are identical round-6 values — max is a no-op dedup)
        .groupBy("id_a", "id_b")
        .agg(
            F.max("cosine").alias("cosine"),
            F.max("in_ab").alias("in_ab"),
            F.max("in_ba").alias("in_ba"),
        )
    )
    cand = cand.localCheckpoint()
    return _margin_tail(
        cand.filter("in_ab"), cand.filter("in_ba"), k, margin_threshold
    )


def _lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    bucket_dims: tuple[int, ...],
    probes,
) -> DataFrame:
    """Top-k among the corpus rows whose sign bucket is one of the query's
    ``probes(bucket)`` (a column of one bucket key, or an exploded set)."""
    dims = list(bucket_dims)
    c, _ = _normed(corpus, id_col, vec_col, None, "neighbor")
    q, _ = _normed(queries, id_col, vec_col, None, "query")
    c = c.withColumn("bucket", VX.sign_bucket(F.col("cv"), dims))
    q = q.withColumn("bucket", probes(VX.sign_bucket(F.col("qv"), dims)))
    return _scored_topk(c, q, (c["bucket"] == q["bucket"]) & _not_self(), k)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    bucket_dims: tuple[int, ...] = (1, 17, 33, 49),
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket."""
    return _lsh_topk(corpus, queries, id_col, vec_col, k, bucket_dims, lambda b: b)


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    bucket_dims: tuple[int, ...] = (1, 17, 33, 49),
) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket PLUS every
    bucket at Hamming distance 1 (one sign bit flipped).

    The standard recall fix for sign-bit LSH (Lv et al. 2007): a true
    neighbor straddling one hyperplane lands one bit away, so probing the
    ``len(bucket_dims)`` adjacent buckets recovers it without adding hash
    tables. Cost: the query side explodes to ``1 + len(bucket_dims)``
    probe keys (queries are the small side — the corpus still carries ONE
    bucket per row and is never replicated), then the same bucket
    equi-join + per-query top-k as :func:`lsh_bucketed_topk`. The probe
    explosion is a UNION of bucket keys, not a new algorithm — at 100 TB
    the corpus-side layout (partitioned by bucket) is unchanged.
    """
    n_bits = len(bucket_dims)

    def flips(bucket):  # bucket: Column of '0'/'1' strings, len n_bits
        variants = [bucket]
        for i in range(1, n_bits + 1):
            flipped_bit = F.when(
                F.substring(bucket, i, 1) == "1", F.lit("0")
            ).otherwise(F.lit("1"))
            variants.append(
                F.concat(
                    F.substring(bucket, 1, i - 1),
                    flipped_bit,
                    F.substring(bucket, i + 1, n_bits - i),
                )
            )
        return F.explode(F.array_distinct(F.array(*variants)))

    return _lsh_topk(corpus, queries, id_col, vec_col, k, bucket_dims, flips)


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the
    top-k most-similar corpus vectors carrying a DIFFERENT label — the
    negatives that actually move a contrastive loss (random negatives,
    :func:`~de_polars_spark.inventory.scale_ops` ``negative_pair_sample``,
    are mostly easy; training batches mined near the decision boundary
    converge far faster — the standard hard-negative recipe from dense
    retrieval, e.g. DPR/ANCE).

    Shape: identical to :func:`cosine_topk` — anchors ride a broadcast,
    the corpus scan is map-only, the label inequality joins the filter,
    so the only shuffle is the per-anchor top-k window on the scored
    pairs. At corpus scale swap the brute scan for the persisted IVF
    index (:func:`ivf_topk_from_index`) and apply the same label filter
    to its probe output; this exact form is the recall oracle for that
    composition.

    Output: ``(query_id, neighbor_id, neighbor_label, cosine, rank)``,
    ties broken by neighbor_id.
    """
    c, _ = _normed(corpus, id_col, vec_col, label_col, "neighbor")
    q, _ = _normed(anchors, id_col, vec_col, label_col, "query")
    return _scored_topk(c, q, _other_label(), k, "neighbor_label")


def margin_mutual_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    side_a,
    side_b,
    k: int = 4,
    margin_threshold: float = 1.0,
) -> DataFrame:
    """Margin-based mutual-nearest-neighbor alignment between two corpus
    slices — the bitext-mining criterion (Artetxe & Schwenk 2019): a
    pair (x ∈ A, y ∈ B) aligns when each is the other's top-1 neighbor
    AND their cosine stands out against both local neighborhoods,
    ``margin = cos(x,y) / ((avg_k(x→B) + avg_k(y→A)) / 2)``. Raw-cosine
    thresholds fail under hubness (some vectors are everyone's
    neighbor); the margin normalizes by the neighborhood level, which
    is what made large-scale parallel-corpus mining (CCMatrix/LASER)
    work. Same machinery aligns any two corpus slices by embedding:
    translated document pairs, code↔doc pairs, image↔caption.

    Shape: ONE scored A×B relation (B rides a broadcast; at corpus
    scale bucket both sides with the IVF index and score within probed
    cells), then both rank directions as two windows over the SAME
    relation — no second scoring pass — each folded into one aggregate
    per row (k-NN average and top-1 partner), |A| + |B| rows joined once
    for the mutual pairs (``_margin_tail``). Determinism: cosines round-6;
    neighborhood averages are decimal-quantized sums over exactly k
    ranked neighbors; top-1 ties break on neighbor id.

    Output: ``(id_a, id_b, cosine, avg_a, avg_b, margin)`` for mutual
    top-1 pairs with margin > ``margin_threshold``.

    PRECONDITION: vectors must be nonzero (norms divide; Spark's ANSI
    mode turns 0/0 into an error, same as every cosine operator in this
    module — filter zero vectors upstream). A zero-sum k-NN
    neighborhood (all-orthogonal cosines) is handled: its margin is
    NULL and the threshold filter drops it in both engines.
    """
    # B rides the broadcast: it is the query side of the scored pairs
    a, _ = _normed(
        corpus.filter(F.col(label_col) == side_a), id_col, vec_col, None, "neighbor"
    )
    b, _ = _normed(
        corpus.filter(F.col(label_col) == side_b), id_col, vec_col, None, "query"
    )
    scored = a.crossJoin(F.broadcast(b)).select(
        F.col("neighbor_id").alias("id_a"),
        F.col("query_id").alias("id_b"),
        VX.cosine(F.col("cv"), F.col("qv"), F.col("cn"), F.col("qn")).alias("cosine"),
    )
    scored = scored.localCheckpoint()
    return _margin_tail(scored, scored, k, margin_threshold)


def _margin_tail(
    ab: DataFrame, ba: DataFrame, k: int, margin_threshold: float
) -> DataFrame:
    """The margin criterion over scored pairs ``(id_a, id_b, cosine)``:
    ``ab`` holds the pairs each A row ranks, ``ba`` those each B row
    ranks (the same relation for the exact miner). Ranks order by cosine
    descending, ties to the lower id; each side's k-NN average is a
    decimal-quantized sum over its ``k`` best divided by ``k``; a pair is
    kept when each side is the other's top-1 and the margin clears
    ``margin_threshold``. Output ``(id_a, id_b, cosine, avg_a, avg_b,
    margin)``."""

    def nearest(pairs: DataFrame, side: str, other: str) -> DataFrame:
        """Per ``id_<side>`` row, from ONE ranking: its k-NN average
        ``avg_<side>``, its top-1 partner ``top_<side>`` and their cosine
        ``cos_<side>``."""
        w = Window.partitionBy(f"id_{side}").orderBy(
            F.col("cosine").desc(), F.col(f"id_{other}")
        )
        top1 = F.col("rank") == 1
        return (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .groupBy(f"id_{side}")
            .agg(
                (
                    F.sum(F.col("cosine").cast("decimal(38,6)")).cast("double")
                    / F.lit(float(k))
                ).alias(f"avg_{side}"),
                F.max(F.when(top1, F.col(f"id_{other}"))).alias(f"top_{side}"),
                F.max(F.when(top1, F.col("cosine"))).alias(f"cos_{side}"),
            )
        )

    mutual = nearest(ab, "a", "b").join(
        nearest(ba, "b", "a"),
        (F.col("top_a") == F.col("id_b")) & (F.col("top_b") == F.col("id_a")),
    )
    # guard the zero-neighborhood denominator (all-orthogonal k-NN sets
    # sum to exactly 0): Spark's ANSI mode throws on x/0 where DuckDB
    # yields NULL — the when() makes both engines emit NULL, which the
    # threshold filter then drops identically
    denom = (F.col("avg_a") + F.col("avg_b")) / 2
    raw_margin = F.when(denom != 0.0, F.col("cos_a") / denom)
    return (
        mutual
        # threshold on the RAW ratio (the rounded display value would
        # shift the boundary by up to 5e-7); the averages themselves are
        # engine-exact (decimal sum over exactly k terms / k)
        .filter(raw_margin > margin_threshold)
        .select(
            "id_a",
            "id_b",
            F.col("cos_a").alias("cosine"),
            F.round("avg_a", 6).alias("avg_a"),
            F.round("avg_b", 6).alias("avg_b"),
            F.round(raw_margin, 6).alias("margin"),
        )
    )
