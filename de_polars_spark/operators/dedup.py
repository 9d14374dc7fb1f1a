"""Deduplication operators for large-scale corpus cleaning.

Five strategies, all shuffle-frugal and 100 TB-minded:

- exact:      hash-groupBy on content hash; one shuffle on a short key.
- fingerprint: exact on the *normalized* sorted-word fingerprint
              (catches word-order shuffles).
- MinHash+LSH: per-row signature in ONE array pass (zero shuffle), band
              keys, then ONE groupBy into (band, key) buckets with pairs
              generated inside each bucket — no self-join, so the
              signature pipeline is computed once, not twice.
- SimHash:    per-row 16-bit fingerprint; identical-hash grouping.
- n-gram Jaccard: shingle posting lists per blocking key (one groupBy),
              pairs generated per posting list, exact Jaccard from
              intersection counts.
- embedding near-dup: cosine over vectors within a blocking key, norms
              precomputed per row (not per pair).

Hot-path discipline (measured, see functions/text.py notes): token and
shingle arrays are materialized as real columns in chained selects —
interpreted HOF evaluation re-executes inlined subexpressions per element,
which made the naive forms 8-16× slower. Per-row signature work is all
JVM expression trees; the only shuffles are the bucket groupBys, which is
the minimum any candidate-pair algorithm needs. Word n-grams ("shingles")
all come from one column, ``functions/text.ngrams``: a per-row regex, no
window, so each row shingles on its own and no shuffle precedes the
consumer's own aggregation.

At 100 TB the known hazard is posting-list / bucket skew (boilerplate
shingles, near-identical boilerplate docs): both pair generators go
quadratic in bucket size by necessity (that IS the output). Every
generator therefore takes an explicit cap (``max_bucket_size`` /
``max_df`` / ``max_block_size``), and since round 7 the bucket cap
DEFAULTS to :data:`DEFAULT_MAX_BUCKET_SIZE` — the measured sf1 A/B
(SURVEY §13: 10x docs -> 158x pairs uncapped vs 4.5x capped;
dedup_graph_stats 448 s -> 1.0 s) showed the uncapped form is the
scale-killer and an out-of-the-box run must get the near-linear path.
``max_bucket_size=None`` is the documented exact/oracle opt-out (every
bucket expanded — what a DuckDB self-join reproduces).
No relation is ever broadcast wholesale BY HINT: the verification
joins let AQE pick the strategy — at small scale it broadcasts the
per-block doc-set side (the cheaper side even though its sf1 build
serializes ~1 GiB — a forced SMJ instead shuffles and sorts the
array-ANNOTATED candidate intermediates, measured at sf1 as tens of
GB of sort spill), and at corpus scale its size estimates grow with
the relation and it falls back to SMJ. The harness sessions raise
spark.driver.maxResultSize to 4g for exactly this build.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from de_polars_spark.functions import text as TX
from de_polars_spark.functions import vectors as VX
from de_polars_spark.functions.local_relation import literal_column, sql_literal
# a no-op kept under this name for perfbench (sources/artifacts.release_cached)
from de_polars_spark.sources.artifacts import release_cached  # noqa: F401

#: Production default for every pair generator's bucket cap: a bucket
#: of B ids emits B^2/2 candidate pairs, so uncapped banding is
#: quadratic in corpus size at a fixed collision rate (measured at sf1,
#: SURVEY §13). 16 bounds any bucket's expansion at 120 pairs while
#: keeping near-dup recall (real duplicate clusters collide in MANY
#: bands; boilerplate mega-buckets are the ones dropped). Cap semantics
#: are oracle-checked end-to-end by ``dedup_minhash_lsh_capped``. Pass
#: ``max_bucket_size=None`` for exact oracle-matching semantics.
DEFAULT_MAX_BUCKET_SIZE = 16

def exact_dup_groups(df: DataFrame, id_col: str, content: Column) -> DataFrame:
    """Group rows by exact content hash; emit one row per duplicate group
    with the canonical (min-id) keeper and the group size."""
    return (
        df.select(F.col(id_col), F.md5(content).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def _bucket_pairs(ids: Column) -> Column:
    """All ordered pairs (ids[i], ids[j]), i<j, from a sorted id array —
    pair generation stays inside the bucket's executor, no join."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _minhash_sig_df(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int, shingle_n: int
) -> DataFrame:
    """Per-doc MinHash signature as columns ``(id, mh0..mh{n-1})``.

    Each slot is the lexicographic MIN of ``md5(gram || '#seed')`` over
    the doc's grams — MIN over the repeated gram stream equals MIN over
    the distinct set, so no dedup pass is needed. One map-side-combinable
    groupBy; same values as the interpreted per-row array-fold form this
    replaced (seeded md5 minima over the distinct shingle set).

    The ``n_hashes`` aggregates are ONE parsed expression, a struct of
    MINs over the internal ``__g`` column with the seed suffixes as
    literals, so building it costs the same py4j round trips for any
    ``n_hashes``; the struct is built once per doc after the aggregation
    and unpacked by the projection above it."""
    grams = df.select(
        F.col(id_col), F.explode(TX.ngrams(F.col(text_col), shingle_n)).alias("__g")
    )
    slots = ", ".join(
        f"'mh{i}', min(md5(concat(__g, {sql_literal(f'#{i}')})))"
        for i in range(n_hashes)
    )
    return (
        grams.groupBy(id_col)
        .agg(F.expr(f"named_struct({slots})").alias("__mh"))
        .select(id_col, "__mh.*")
    )


def _band_structs(slot: str, n_bands: int, band_size: int) -> Column:
    """``array(named_struct('band_id', b, 'band_key', md5(concat(<band
    b's signature slots>))), ..)`` as one parsed expression: constant
    py4j cost for any band count. ``slot`` formats slot ``i`` (0-based)
    as SQL over the operator's OWN signature columns, never a caller's."""
    bands = ", ".join(
        f"named_struct('band_id', {sql_literal(b)}, 'band_key', md5(concat("
        + ", ".join(slot.format(i=b * band_size + j) for j in range(band_size))
        + ")))"
        for b in range(n_bands)
    )
    return F.expr(f"array({bands})")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    n-gram stream → per-doc n-hash signature (``n_hashes`` MIN
    aggregates in one map-side-combinable groupBy — see
    :func:`_minhash_sig_df`) → per-band md5 bucket keys → ONE groupBy
    collecting each bucket's ids → in-bucket pair expansion → distinct.
    The classic shingle→minhash→band→bucket pipeline, three shuffles
    (signature groupBy, bucket groupBy, final distinct), all codegen'd.

    ``max_bucket_size`` drops buckets larger than the cap (boilerplate
    skew guard for production corpora: a bucket of B ids emits B² pairs).
    None = exact semantics (every bucket expanded)."""
    assert n_hashes % band_size == 0
    n_bands = n_hashes // band_size
    sig = _minhash_sig_df(df, id_col, text_col, n_hashes, shingle_n)
    # docs with no shingles are already absent from sig (the gram
    # explode emits nothing for them), so no NULL-key filter is needed
    bands = (
        sig.select(
            F.col(id_col),
            F.explode(_band_structs("mh{i}", n_bands, band_size)).alias("band"),
        )
        .select(id_col, "band.band_id", "band.band_key")
    )
    buckets = bands.groupBy("band_id", "band_key").agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    return (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def simhash_groups(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """Per-doc ``bits``-bit SimHash; identical hashes are near-dup groups.

    Bit-votes are ``bits`` conditional SUMs over exploded distinct
    tokens — one map-side-combinable groupBy, fully codegen'd — instead
    of a per-token array fold, whose higher-order lambdas evaluate
    interpreted and dominated the runtime (same class of fix as
    ngram_duplication_profile).
    ``explode_outer`` keeps token-less docs: their votes are all -1 (the
    NULL token row takes every WHEN's otherwise-branch), so they emit
    simhash 0 exactly like the oracle's NULL list_aggregate votes."""
    toks = df.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(TX.tokens(F.col(text_col)))).alias("__t"),
    ).select(F.col(id_col), TX.hash60(F.col("__t")).alias("__h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias(f"__v{j}")
            for j in range(bits)
        ]
    )
    out = F.lit(0)
    for j in range(bits):
        out = out + F.when(F.col(f"__v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
    return votes.select(F.col(id_col), out.cast("bigint").alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 3,
    bits: int = 16,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup pairs whose SimHashes differ in <= ``max_distance`` bits.

    Pigeonhole bucketing makes this exact without an all-pairs join: the
    ``bits``-bit hash splits into ``max_distance + 1`` chunks, and a pair
    within distance d must agree on at least one whole chunk (d corrupted
    bits touch at most d chunks). Docs are first collapsed to DISTINCT
    fingerprints (duplicate-heavy corpora — the target workload — shrink
    by their duplication factor before any quadratic step); candidates
    share a (chunk_idx, chunk_value) bucket, are verified inside the
    bucket equi-join's condition with ``bit_count(xor)``, deduped at the
    fingerprint level, and only then joined back to member-id arrays and
    expanded to member pairs. All shuffles are on fingerprints or bucket
    keys — member ids never enter the candidate path; ``max_bucket_size``
    drops oversized buckets from a tiny count aggregate BEFORE any pair
    forms, trading exactness for a hard candidate bound.
    """
    n_chunks = max_distance + 1
    chunk_size = bits // n_chunks
    sims = simhash_groups(df, id_col, text_col, bits)
    # Near-dup corpora (the whole reason to run this) put many docs on the
    # SAME fingerprint; collapse them first so the quadratic pair
    # expansion runs over distinct fingerprints, not documents — identical
    # output, and bucket sizes shrink by the duplication factor.
    clusters = sims.groupBy("simhash").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    ).localCheckpoint()
    # one row per distinct fingerprint (small, linear): checkpointing it is
    # what keeps the expensive tokenize->vote pipeline from re-running
    # once per consuming branch — the within self-join, the two chunk
    # sides and the two id join-backs would otherwise re-derive it 8x
    # (measured at sf3: the suite stalled on exactly that). The checkpoint
    # is EAGER: a lazily filled cache under a single downstream action
    # lets the consuming stages race to fill it and still re-run the
    # pipeline (measured 161s vs 24s for the same join).
    # distance-0: pairs within one fingerprint cluster. Duplicate-heavy
    # corpora make this the OUTPUT-bound part (sum over clusters of
    # C(k,2) — 345M true pairs at test sf3), and a plain self-join on
    # the fingerprint funnels a giant cluster's whole quadratic output
    # through ONE task (a join key cannot be split by AQE; measured
    # ~220s single-task at sf3). Triangular tile partitioning splits
    # each cluster's pair space over T(T+1)/2 tasks: every member gets a
    # deterministic tile t = hash(id) % T; a pair from tiles (i <= j) is
    # produced exactly once by task (i, j) — the left row replicates to
    # tasks (t, j>=t), the right row to tasks (i<=t, t), and equal-tile
    # tasks dedup by id order.
    T = 16
    members = (
        clusters.filter(F.size("ids") > 1)
        .select("simhash", F.explode("ids").alias("id"))
        .withColumn("__t", F.pmod(F.xxhash64("id"), F.lit(T)).cast("int"))
    )
    # explicit repartition on the join keys: (a) a broadcast hash join
    # would probe IN PLACE — the giant cluster's members sit in one
    # cached partition (one pre-explode row), so without a shuffle on
    # the tile keys every tile task lands back in that single task and
    # the tiling does nothing (measured: >540s vs 24s for the same 345M
    # pairs); (b) AQE coalescing merges these exchanges by INPUT size
    # (~MBs of tile rows), blind to the quadratic join output behind
    # them — a user repartition satisfies the join's distribution and is
    # never coalesced.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    left = members.withColumn(
        "__j", F.explode(F.expr(f"sequence(__t, {T - 1})"))
    ).repartition(n_part, "simhash", "__t", "__j")
    right = members.withColumn(
        "__i", F.explode(F.expr("sequence(0, __t)"))
    ).repartition(n_part, "simhash", "__i", "__t")
    within = (
        left.hint("merge")
        .alias("wa")
        .join(
            right.alias("wb"),
            (F.col("wa.simhash") == F.col("wb.simhash"))
            & (F.col("wa.__t") == F.col("wb.__i"))
            & (F.col("wa.__j") == F.col("wb.__t"))
            & (
                (F.col("wa.__t") < F.col("wb.__t"))
                | (F.col("wa.id") < F.col("wb.id"))
            ),
        )
        .select(
            F.least("wa.id", "wb.id").alias("id_a"),
            F.greatest("wa.id", "wb.id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    # Candidate generation runs over BARE fingerprints — member-id
    # arrays join back only after the (tiny) verified fingerprint-pair
    # set exists. The previous shape collect_set'ed (simhash, ids)
    # structs per bucket and let the cap filter discard the arrays it
    # had just built: with chunk_size-bit chunk values there are only
    # n_chunks x 2^chunk_size bucket keys, so every fingerprint + its
    # ids was materialized into one of ~1024 giant sorted arrays first
    # (measured: OOM/10-minute stall at sf3 where the fixed shape ran in
    # seconds at sf1).
    chunks = clusters.select(
        "simhash",
        F.explode(literal_column(list(range(n_chunks)), "array<int>")).alias(
            "chunk_idx"
        ),
    ).select(
        "simhash",
        "chunk_idx",
        F.expr(f"shiftright(simhash, chunk_idx * {chunk_size})")
        .bitwiseAND(F.lit((1 << chunk_size) - 1))
        .alias("chunk_val"),
    )
    # bucket sizes = distinct-fingerprint counts: a map-side-combinable
    # aggregate over at most n_chunks x 2^chunk_size keys; the cap (and
    # the size>1 floor) filters buckets BEFORE any pair is formed
    sizes = chunks.groupBy("chunk_idx", "chunk_val").agg(
        F.count("*").alias("__bsz")
    )
    live = sizes.filter(F.col("__bsz") > 1)
    if max_bucket_size is not None:
        live = live.filter(F.col("__bsz") <= max_bucket_size)
    cands = chunks.join(
        F.broadcast(live.select("chunk_idx", "chunk_val")),
        ["chunk_idx", "chunk_val"],
    ).withColumn("__ft", F.pmod(F.xxhash64("simhash"), F.lit(T)).cast("int"))
    # fingerprint-level candidates: bucket equi-join with the Hamming
    # check in the join condition (filters during the merge, so the
    # unverified pair set is never materialized), deduped on the
    # fingerprint pair BEFORE the member expansion. The same triangular
    # tiling as `within`: SimHash bits are NOT uniform (vote bits follow
    # token frequencies), so uncapped runs concentrate fingerprints into
    # few (chunk_idx, chunk_val) buckets and a plain equi-join puts each
    # such bucket's quadratic scan in ONE task (measured 78s vs 47s at
    # sf1 for the exact anchor before tiling). Equal fingerprints share
    # a tile, so the strict < in the equal-tile branch also keeps
    # hamming > 0 pairs only.
    fa = cands.withColumn(
        "__fj", F.explode(F.expr(f"sequence(__ft, {T - 1})"))
    ).repartition(n_part, "chunk_idx", "chunk_val", "__ft", "__fj")
    fb = cands.withColumn(
        "__fi", F.explode(F.expr("sequence(0, __ft)"))
    ).repartition(n_part, "chunk_idx", "chunk_val", "__fi", "__ft")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    fp_pairs = (
        fa.hint("merge")
        .alias("a")
        .join(
            fb.alias("b"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.__ft") == F.col("b.__fi"))
            & (F.col("a.__fj") == F.col("b.__ft"))
            & (
                (F.col("a.__ft") < F.col("b.__ft"))
                | (F.col("a.simhash") < F.col("b.simhash"))
            )
            & (hamming <= max_distance),
        )
        .select(
            F.least("a.simhash", "b.simhash").alias("sim_a"),
            F.greatest("a.simhash", "b.simhash").alias("sim_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )
    across = (
        fp_pairs.join(
            clusters.select(
                F.col("simhash").alias("sim_a"), F.col("ids").alias("ids_a")
            ),
            "sim_a",
        )
        .join(
            clusters.select(
                F.col("simhash").alias("sim_b"), F.col("ids").alias("ids_b")
            ),
            "sim_b",
        )
        .select(F.explode("ids_a").alias("ia"), "ids_b", "hamming")
        # round-robin between the two explodes: a single fingerprint
        # pair of two large clusters otherwise expands its whole
        # |ids_a| x |ids_b| output inside one task (explode output
        # cannot be split); spreading the already-exploded ia rows
        # first bounds any task at |ids_b| rows per input row
        .repartition(n_part)
        .select("ia", F.explode("ids_b").alias("ib"), "hamming")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "hamming",
        )
    )
    return within.unionByName(across)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.3,
    shingle_n: int = 2,
    max_df: int | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    minhash_prefilter: int | None = None,
    minhash_prefilter_margin: float = 0.15,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing a blocking key,
    via prefix filtering (the AllPairs/PPJoin candidate bound).

    Blocking bounds the candidate space (at 100 TB an unblocked all-pairs
    join is impossible). Each doc's shingles are ordered by ascending
    (document frequency, shingle); a pair with J >= t MUST share a shingle
    in each doc's first ``|d| - ceil(t*|d|) + 1`` positions (prefix-filter
    lemma, same global order both sides), so hot boilerplate shingles —
    last in the order — rarely generate candidates. Candidates are then
    verified exactly with ``array_intersect`` against the per-doc shingle
    sets; the verification joins carry NO join hints — AQE broadcasts
    the per-block doc-set side while its estimate stays small (the
    cheaper choice even at sf1, where the build serializes ~1 GiB:
    forcing SMJ instead shuffles and sorts the array-ANNOTATED
    candidate intermediates — measured as tens of GB of sort spill)
    and falls back to SMJ as its size estimate grows with the corpus.
    Measured 2.6x over naive posting-list counting at sf0.1; exact
    same output.

    Skew guards for production corpora (None = exact oracle semantics):
    ``max_df`` drops shingles appearing in more than that many docs per
    block *before* prefix construction; ``max_bucket_size`` drops
    candidate buckets larger than the cap.

    ``minhash_prefilter`` (opt-in, default None = exact) prescreens the
    surviving candidate pairs with a k-hash MinHash signature-agreement
    estimate before the exact ``array_intersect`` verification: pairs
    whose estimated Jaccard falls below ``threshold -
    minhash_prefilter_margin`` skip verification. This is the standard
    production play at corpus scale — exact verification of billions of
    candidate pairs dominates, and an Arrow-free k-column agreement
    check over a broadcast-size signature table is ~free — but it is
    APPROXIMATE: a true pair is dropped when its estimate undershoots
    by more than the margin, P ≈ binomial tail P(Bin(k, J) < k·(t−m)),
    e.g. k=16, J=t=0.3, m=0.15: ~7%. Leave it None wherever oracle
    exactness matters (the inventory query does).

    The distinct shingle postings are local-checkpointed: they are
    consumed by three branches (document frequencies, prefixes,
    verification) and recomputation — not data volume — dominates
    otherwise. Their blocks are freed with the frames that read them.
    """
    # shingles are 64-bit hashes, not strings: every downstream
    # shuffle/sort/intersect works on fixed-width bigints (measured ~2x on
    # the verification joins at sf0.1). Exact string-Jaccard semantics
    # modulo 64-bit collisions (P < 1e-11 per block at 1e4 distinct
    # shingles). xxhash64, not the md5-based hash60: these hashes never
    # leave the operator (the oracle computes string Jaccard directly),
    # so the engine-reproducibility md5 buys is unused here and xxhash64
    # is a single native codegen call per shingle instead of
    # md5 -> substring -> base-16 conv.
    grams = _hashed_gram_postings(df, id_col, text_col, block_col, shingle_n)
    ex = grams.select(id_col, "block", "shingle").distinct().localCheckpoint()
    # per-doc shingle sets for the verification join, rebuilt from the
    # (already distinct) postings; docs with no shingles can never be
    # candidates, so their absence here is harmless
    docs = ex.groupBy(id_col, "block").agg(
        F.collect_list("shingle").alias("shingles")
    )
    # document frequency as a window count over the (already per-doc
    # distinct) postings — one (block, shingle) shuffle instead of a
    # groupBy + join-back (the join re-shuffled the postings a second
    # time on the same key)
    wfreq = Window.partitionBy("block", "shingle")
    exf = ex.withColumn("df", F.count(F.lit(1)).over(wfreq))
    if max_df is not None:
        exf = exf.filter(F.col("df") <= max_df)
    prefix_len = (
        F.size("ordered") - F.ceil(F.lit(threshold) * F.size("ordered")) + 1
    ).cast("int")
    # the sorted (df, shingle) structs are sliced and exploded as-is —
    # no transform() lambda (higher-order functions evaluate interpreted,
    # outside whole-stage codegen); the shingle is projected out of the
    # struct AFTER the explode, which codegen handles natively
    pre = (
        exf.groupBy(id_col, "block")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias(
                "ordered"
            )
        )
        .select(
            id_col,
            "block",
            F.slice("ordered", 1, prefix_len).alias("prefix"),
            F.size("ordered").alias("__n"),
        )
    )
    # bucket members carry their shingle-set size and the token's prefix
    # POSITION, enabling two per-pair prunes before the expensive
    # distinct+verify (both lossless — identical output measured at sf0.1):
    # - AllPairs LENGTH filter: J >= t requires min(n) >= t * max(n)
    #   (J = c/(na+nb-c), c <= min(na,nb));
    # - PPJoin position bound: overlap via a token at positions (pa, pb)
    #   is at most 1 + min(na - pa, nb - pb), and J >= t needs overlap
    #   >= t/(1+t) * (na+nb). A pair sharing several prefix tokens is
    #   kept if ANY occurrence passes (max-ubound occurrence >= PPJoin's
    #   first-occurrence bound, so this prunes less aggressively than
    #   textbook PPJoin — never more).
    cand_buckets = (
        pre.select(
            "block",
            F.col("__n"),
            F.col(id_col).alias("__id"),
            F.posexplode("prefix").alias("p", "pref"),
        )
        .select(
            "block",
            F.col("pref")["shingle"].alias("shingle"),
            F.struct(
                F.col("__id").alias("id"),
                F.col("__n").alias("n"),
                (F.col("p") + 1).alias("pos"),
            ).alias("m"),
        )
        .groupBy("block", "shingle")
        .agg(F.array_sort(F.collect_set("m")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        cand_buckets = cand_buckets.filter(F.size("ids") <= max_bucket_size)
    # pair expansion via two generator explodes: posexplode + slice streams
    # pairs through whole-stage codegen instead of materializing a B²/2
    # struct array per bucket in one interpreted HOF (measured ~2.5x on the
    # 6M-candidate sf0.1 corpus)
    required_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n") + F.col("b.n"))
    )
    position_ubound = 1 + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    candidates = (
        cand_buckets.select("ids", F.posexplode("ids").alias("i", "a"))
        .select("a", F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("b"))
        .filter(
            (F.least("a.n", "b.n") >= F.lit(threshold) * F.greatest("a.n", "b.n"))
            & (position_ubound >= required_overlap)
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if minhash_prefilter is not None:
        # k-slot signature agreement as a Jaccard estimator: each slot
        # agrees with probability J, so mean agreement estimates J with
        # sd sqrt(J(1-J)/k). The per-doc signature table is compact (k
        # fixed-width columns, no arrays); AQE broadcasts it while
        # small and falls back to SMJ as it grows — same no-hint rule
        # as the verification joins below.
        k = minhash_prefilter
        sig = _minhash_sig_df(df, id_col, text_col, k, shingle_n)
        agree = sum(
            F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0)
            for i in range(k)
        )
        sig_a = sig.select(
            F.col(id_col).alias("id_a"),
            *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(k)],
        )
        sig_b = sig.select(
            F.col(id_col).alias("id_b"),
            *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(k)],
        )
        candidates = (
            candidates.join(sig_a, "id_a")
            .join(sig_b, "id_b")
            .filter(
                agree / F.lit(float(k))
                >= F.lit(threshold - minhash_prefilter_margin)
            )
            .select("id_a", "id_b")
        )
    sa = docs.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = docs.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    jac = F.round(
        F.col("n_common")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        6,
    )
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .select("id_a", "id_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
    max_block_size: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs within a blocking key.

    Norms are precomputed per row (N sqrt-folds, not N² — the pair side
    only pays one dot product). Cosine is a sequential double fold
    (bit-reproducible: dot/(sqrt(aa)*sqrt(bb)) is the oracle's exact
    operation order); rounding to 6 decimals before thresholding keeps
    the cut deterministic across engines.

    The per-block pair join is inherently quadratic in block size;
    ``max_block_size`` skips blocks above the cap (production skew
    guard — a 1M-row block would emit 10^12 pairs). None = exact."""
    docs = df.select(
        F.col(id_col),
        F.col(block_col).alias("block"),
        VX.as_double(F.col(vec_col)).alias("v"),
    ).select(
        id_col, "block", "v", VX.norm(F.col("v")).alias("nrm")
    )
    if max_block_size is not None:
        sizes = docs.groupBy("block").agg(F.count(F.lit(1)).alias("__bn"))
        docs = (
            docs.join(sizes.filter(F.col("__bn") <= max_block_size), "block")
            .drop("__bn")
        )
    a, b = docs.alias("a"), docs.alias("b")
    cos = VX.cosine(F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Collapse a duplicate-pair graph into connected components.

    The step every pair generator above feeds at scale: LSH/Jaccard/
    cosine emit *pairs*, but "keep one doc per duplicate cluster" needs
    the transitive closure — A~B and B~C put A,C in one cluster even if
    no generator ever emitted (A, C).

    Algorithm: distributed min-label propagation (Pregel-style). Each
    node starts labeled with itself; every round each node adopts the
    minimum label in its closed neighborhood; converged when no label
    changes. Rounds = graph diameter, which for near-dup clusters
    (dense, near-clique) is small and bounded; each round is one shuffle
    join (edges ⋈ labels on a single key) plus one groupBy — both on the
    node-id key, so AQE coalesces and co-partitions them. Lineage is
    truncated every round with ``localCheckpoint`` (eager) — without it
    the plan doubles per iteration and the driver, not the data, becomes
    the bottleneck. For graphs with genuinely long chains the
    alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) converges
    in O(log n) rounds with the same per-round shuffle shape; label
    propagation is chosen here because dedup graphs are diameter-bounded
    and it needs half the joins per round.

    Reference parity: the reference engine has no graph step (its dedup
    story stops at pair emission); this is a beyond-parity operator per
    SURVEY §7 Phase 5.

    Returns one row per node that appears in ``pairs``:
    ``(node, component_id)`` where ``component_id`` is the minimum node
    id in the component.
    """
    sym = pairs.select(
        F.col(id_a).cast("bigint").alias("u"), F.col(id_b).cast("bigint").alias("v")
    )
    edges = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # partition by v: that is the recurring join key (neighbor-label
    # lookup), so the big edge relation never re-shuffles inside the loop
    # — only the small label frame moves each round
    edges = edges.repartition("v").localCheckpoint(eager=True)

    # round 1 needs no join at all: label(u) = min(u, min neighbor) is a
    # single aggregation over the symmetric edge list
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select("u", F.least(F.col("u"), F.col("__mv")).alias("label"))
        .localCheckpoint(eager=True)
    )

    def _propagate(lbl: DataFrame) -> DataFrame:
        nbr = (
            edges.join(lbl.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("__nl"))
        )
        return lbl.join(nbr, "u", "left").select(
            "u",
            F.least(F.col("label"), F.coalesce("__nl", F.col("label"))).alias(
                "label"
            ),
        )

    # two propagation hops per materialized round (halves the checkpoint +
    # action count for a given diameter); convergence is read off the
    # label sum, which strictly decreases while any node still changes
    # (labels only ever decrease), so no changed-flag join is needed
    prev_sum = None
    for _ in range(max_iterations):
        labels = _propagate(_propagate(labels)).localCheckpoint(eager=True)
        s = labels.agg(F.sum("label")).collect()[0][0]
        if s == prev_sum:
            break
        prev_sum = s

    return labels.select(F.col("u").alias("node"), F.col("label").alias("component_id"))


def component_summary(components: DataFrame) -> DataFrame:
    """Per-component rollup: size and id-sum checksum (pins the exact
    membership without materializing O(cluster²) output)."""
    return components.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("size"),
        F.sum("node").alias("id_sum"),
    )


def select_canonical(
    components: DataFrame,
    docs: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Per duplicate cluster, pick the single doc to KEEP: highest
    ``quality_col``, ties to the lowest id (a total order, so the choice
    is deterministic). This is the collapse step after
    :func:`connected_components` — the cluster membership says "these
    are one document"; this says which physical copy survives.

    Output: one row per component —
    ``(component_id, kept_id, kept_quality, n_dropped, dropped_id_sum)``
    (the id-sum checksum pins the exact dropped set without O(cluster)
    output rows).

    Scale: one broadcast-or-shuffle join components ⋈ docs on the id,
    then a single map-side-combinable aggregation; the argmax rides the
    same aggregate as the counters (max over (quality, -id) structs), so
    no window / second pass over the corpus.
    """
    member = components.join(
        docs.select(
            F.col(id_col).alias("node"), F.col(quality_col).alias("__q")
        ),
        "node",
    )
    best = F.max(F.struct(F.col("__q"), (-F.col("node")).alias("__negid")))
    return (
        member.groupBy("component_id")
        .agg(
            best.alias("__b"),
            F.count(F.lit(1)).alias("__sz"),
            F.sum("node").alias("__idsum"),
        )
        .select(
            "component_id",
            (-F.col("__b.__negid")).cast("bigint").alias("kept_id"),
            F.col("__b.__q").alias("kept_quality"),
            (F.col("__sz") - F.lit(1)).cast("bigint").alias("n_dropped"),
            (F.col("__idsum") + F.col("__b.__negid")).cast("bigint").alias(
                "dropped_id_sum"
            ),
        )
    )


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """LSH candidate pairs with the SIGNATURE-AGREEMENT Jaccard estimate
    (matching minhash slots / n_hashes) instead of exact verification.

    This is the 100 TB fast path next to :func:`ngram_jaccard_pairs`:
    the estimator touches only the n_hashes-slot signatures — fixed-width
    rows, no shingle-set join, no ``array_intersect`` over full shingle
    arrays — so the verification cost per candidate pair is O(n_hashes)
    regardless of document length. The estimate is unbiased with
    stderr ~ sqrt(J(1-J)/n_hashes); exact verification remains the
    precision path.

    The signature relation is local-checkpointed (consumed by banding
    AND the pair-side joins).
    """
    assert n_hashes % band_size == 0
    sig = _minhash_sig_df(df, id_col, text_col, n_hashes, shingle_n).select(
        F.col(id_col),
        F.expr(
            f"array({', '.join(f'mh{i}' for i in range(n_hashes))})"
        ).alias("__sig"),
    ).localCheckpoint()

    bands = (
        sig.select(
            F.col(id_col),
            F.explode(
                _band_structs(
                    "element_at(__sig, {i} + 1)", n_hashes // band_size, band_size
                )
            ).alias("band"),
        )
        .select(id_col, "band.band_id", "band.band_key")
    )
    buckets = bands.groupBy("band_id", "band_key").agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = (
        buckets.filter(F.size("ids") > 1)
        .select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("__sig").alias("__sa"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("__sig").alias("__sb"))
    n_match = F.size(
        F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda a, b: a == b),
            lambda x: x,
        )
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_match.cast("int").alias("n_match"),
            F.round(n_match / F.lit(float(n_hashes)), 6).alias("jaccard_est"),
        )
    )


def ngram_duplication_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-span signal: the fraction of a doc's
    distinct word n-grams that also appear in other documents — the
    filtering feature exact-substring dedup pipelines threshold on
    (docs mostly made of spans seen elsewhere are boilerplate or
    near-copies even when no whole-document match exists).

    Shape: explode distinct n-gram hashes (xxhash64 — internal key, the
    output is counts), then ONE shuffle on the gram hash: because each
    doc's grams are distinct, a per-gram window ``count(*)`` IS the
    containing-doc count, so no ``count_distinct``, no groupBy+join-back
    (which re-evaluated the whole shingle explode a second time —
    measured 2x the query), and the postings stream stays a single
    pass into the final per-doc aggregation. At corpus scale a handful
    of universal grams would make hot window partitions; add an
    upstream frequency cap if the gram distribution is Zipfian.

    Output: ``(id, n_ngrams, n_shared, dup_ratio)``; docs with fewer
    than ``n`` tokens have no n-grams and emit no row.
    """
    ex = (
        df.select(F.col(id_col), F.explode(TX.ngrams(F.col(text_col), n)).alias("__g"))
        .select(id_col, F.xxhash64("__g").alias("g"))
        .distinct()
    )
    w = Window.partitionBy("g")
    return (
        ex.withColumn("__nd", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
            F.sum((F.col("__nd") >= min_docs).cast("bigint"))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_ngrams"), 6).alias("dup_ratio"),
        )
    )


def _hashed_gram_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int,
) -> DataFrame:
    """``(id, block, p, shingle)``: each row's xxhash64'd word n-grams
    with the position of their first token, shared by the Jaccard, the
    containment and the shared-span miners. Drop ``p``/dedupe downstream
    as the consumer needs."""
    return df.select(
        F.col(id_col),
        F.col(block_col).alias("block"),
        F.posexplode(TX.ngrams(F.col(text_col), shingle_n)).alias("p", "__g"),
    ).select(id_col, "block", "p", F.xxhash64("__g").alias("shingle"))


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: ``|A ∩ B| / |A|`` with A the
    smaller shingle set — the subset/quotation detector Jaccard-based
    dedup misses (a tweet quoted inside an article has containment ~1.0
    but Jaccard ~0, so it survives every MinHash/Jaccard gate; Broder's
    original resemblance paper treats containment as the second primary
    measure for exactly this case).

    Shape: distinct per-doc shingle postings (the per-row gram build
    shared with :func:`ngram_jaccard_pairs`), then ONE
    self-join of the postings on ``(block, shingle)`` feeding a map-side
    combinable pair count — the candidate space IS the co-occurrence
    join, no all-pairs expansion ever materializes. The prefix-filter
    trick that prunes the Jaccard verifier does not transfer: containment
    bounds overlap only against the SMALLER side (``|A ∩ B| >= t·|A|``
    says nothing per-position about B), so the B side must index all its
    shingles; posting-list counting is the exact play, and the pair
    count it shuffles is bounded by the co-occurrence volume, which
    ``max_df`` caps against Zipfian boilerplate shingles (the same hot
    keys that would skew any scheme; None = exact oracle semantics).

    Output: ``(id_small, id_large, n_common, n_small, n_large,
    containment)`` for pairs with containment >= threshold; ties in set
    size break toward the smaller id as ``id_small``.
    """
    grams = _hashed_gram_postings(df, id_col, text_col, block_col, shingle_n)
    # the distinct postings feed both self-join sides — checkpoint so the
    # tokenize/gram/distinct chain runs once (same recompute-dominated
    # profile ngram_jaccard_pairs measured)
    post = grams.select(id_col, "block", "shingle").distinct().localCheckpoint()
    if max_df is not None:
        wfreq = Window.partitionBy("block", "shingle")
        post = post.withColumn("df", F.count(F.lit(1)).over(wfreq)).filter(
            F.col("df") <= max_df
        ).drop("df")
    # per-doc set size rides the posting rows (a window count over the
    # already-distinct postings), so the verification needs NO size-table
    # joins after the pair count — sizes travel through the self-join and
    # come out of the pair groupBy as FIRST() (constant within the group)
    wsz = Window.partitionBy("block", id_col)
    sized = post.withColumn("n_sh", F.count(F.lit(1)).over(wsz))
    a = sized.select(
        F.col("block"),
        F.col("shingle"),
        F.col(id_col).alias("__ia"),
        F.col("n_sh").alias("n_ia"),
    )
    b = sized.select(
        F.col("block"),
        F.col("shingle"),
        F.col(id_col).alias("__ib"),
        F.col("n_sh").alias("n_ib"),
    )
    scored = (
        a.join(b, ["block", "shingle"])
        .filter(F.col("__ia") < F.col("__ib"))
        .groupBy("block", "__ia", "__ib")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.first("n_ia").cast("bigint").alias("n_ia"),
            F.first("n_ib").cast("bigint").alias("n_ib"),
        )
    )
    small_is_a = (F.col("n_ia") < F.col("n_ib")) | (
        (F.col("n_ia") == F.col("n_ib")) & (F.col("__ia") < F.col("__ib"))
    )
    raw = F.col("n_common") / F.least("n_ia", "n_ib").cast("double")
    return (
        scored
        # threshold on the RAW ratio, matching the oracle's filter — a
        # rounded display value would shift the boundary by up to 5e-7
        # (same convention as margin_mutual_pairs)
        .filter(raw >= threshold)
        .select(
            F.when(small_is_a, F.col("__ia"))
            .otherwise(F.col("__ib"))
            .alias("id_small"),
            F.when(small_is_a, F.col("__ib"))
            .otherwise(F.col("__ia"))
            .alias("id_large"),
            F.col("n_common"),
            F.least("n_ia", "n_ib").alias("n_small"),
            F.greatest("n_ia", "n_ib").alias("n_large"),
            F.round(raw, 6).alias("containment"),
        )
    )


def longest_shared_span(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Longest exactly-shared token span per document pair — the
    exact-substring dedup measure (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): two documents sharing
    a 50-token span are near-copies even when whole-document Jaccard is
    low, and the SPAN LENGTH (not just "shares an n-gram") is what the
    removal threshold binds on.

    Positions matter here, so the gram build keeps them (no distinct):
    a shared n-gram at positions (pa, pb) lies on diagonal ``pa - pb``,
    and a run of k consecutive diagonal hits IS a shared span of
    ``k + n - 1`` tokens. Runs fall out of gaps-and-islands —
    ``pa - row_number()`` is constant within a run — so the whole
    computation is one posting self-join on the gram hash plus two
    windows over the hit list, never a string alignment. ``max_df``
    caps Zipfian grams before the join (None = exact); candidate volume
    is bounded by per-gram co-occurrence exactly like
    :func:`containment_pairs`.

    Output: ``(id_a, id_b, n_shared_positions, longest_span_tokens)``
    per pair sharing at least one n-gram (implied minimum span =
    ``shingle_n``).
    """
    post = _hashed_gram_postings(
        df, id_col, text_col, block_col, shingle_n
    ).withColumnRenamed("shingle", "h")
    if max_df is not None:
        wfreq = Window.partitionBy("block", "h")
        post = (
            post.withColumn("df", F.count(F.lit(1)).over(wfreq))
            .filter(F.col("df") <= max_df)
            .drop("df")
        )
    post = post.localCheckpoint()
    a = post.select(
        "block", "h", F.col(id_col).alias("__ia"), F.col("p").alias("pa")
    )
    b = post.select(
        "block", "h", F.col(id_col).alias("__ib"), F.col("p").alias("pb")
    )
    hits = (
        a.join(b, ["block", "h"])
        .filter(F.col("__ia") < F.col("__ib"))
        .select("__ia", "__ib", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    wisl = Window.partitionBy("__ia", "__ib", "diag").orderBy("pa")
    runs = (
        hits.withColumn("__grp", F.col("pa") - F.row_number().over(wisl))
        .groupBy("__ia", "__ib", "diag", "__grp")
        .agg(F.count(F.lit(1)).alias("__run"))
    )
    return (
        runs.groupBy(
            F.col("__ia").alias("id_a"), F.col("__ib").alias("id_b")
        )
        .agg(
            F.sum("__run").cast("bigint").alias("n_shared_positions"),
            (F.max("__run") + F.lit(shingle_n - 1))
            .cast("bigint")
            .alias("longest_span_tokens"),
        )
    )
