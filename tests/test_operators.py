"""Direct unit tests of the LLM-pipeline operators on tiny inline data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from de_polars_spark.functions import text as T
from de_polars_spark.functions import vectors as V
from de_polars_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog"),
        (2, "en", "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "en", "the quick brown fox jumped over the lazy dog"),  # near dup
        (4, "en", "completely different text about spark engines"),
        (5, "fr", "le renard brun rapide saute par dessus le chien"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "lang", "text"])


def test_exact_dup_groups(docs):
    out = dedup.exact_dup_groups(docs, "doc_id", F.col("text")).collect()
    by_keeper = {r["keep_id"]: r["group_size"] for r in out}
    assert by_keeper[1] == 2  # docs 1 and 2 are byte-identical
    assert by_keeper[4] == 1
    assert len(out) == 4  # 5 docs, one merged pair


def test_minhash_pairs_find_exact_dup(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=8, band_size=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs collide in every band
    assert all(a < b for a, b in got)  # canonical pair ordering


def test_ngram_jaccard_exact_similarity(docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.5
    )
    sim = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert sim[(1, 2)] == 1.0
    assert 0.5 <= sim[(1, 3)] < 1.0
    assert not any(5 in p for p in sim)  # different block never compared


def test_ngram_jaccard_answers_from_a_file_rewritten_in_place(spark, tmp_path):
    """The postings the operator reads in several branches are checkpointed,
    not cached by plan: once a corpus's part file is overwritten in place
    and the directory read again, a second call answers from the new rows."""
    import os
    import shutil

    def write(path, texts):
        (spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
         .withColumn("blk", F.lit(0)).coalesce(1).write.parquet(path))
        return os.path.join(path, next(n for n in sorted(os.listdir(path))
                                       if n.endswith(".parquet")))

    def crc(path):
        return os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")

    def pairs(path):
        return sorted(map(tuple, dedup.ngram_jaccard_pairs(
            spark.read.parquet(path), "doc_id", "text", "blk").collect()))

    corpus, other = str(tmp_path / "corpus"), str(tmp_path / "other")
    dst = write(corpus, ["a b c d e f g h i j", "a b c d e f g h i k"])
    before = pairs(corpus)
    src = write(other, ["a b c d e f g h i j", "a b c d e f x y z w"])
    for a, b in ((src, dst), (crc(src), crc(dst))):
        shutil.copyfile(a, b)
    assert pairs(corpus) == pairs(other) != before


def test_gram_strings_duplicate_ids_do_not_interleave(spark):
    # two physical rows sharing an id must shingle independently — an
    # id-partitioned LEAD window would interleave their token positions
    # and fabricate cross-row n-grams
    df = spark.createDataFrame(
        [(1, "a b"), (1, "c d"), (2, "e f")], "doc_id bigint, text string"
    )
    grams = {
        (r["doc_id"], r["g"])
        for r in df.select(
            "doc_id", F.explode(T.ngrams(F.col("text"), 2)).alias("g")
        ).collect()
    }
    assert grams == {(1, "a b"), (1, "c d"), (2, "e f")}


def test_ngram_jaccard_minhash_prefilter(docs):
    exact = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.5
    )
    exact_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    # margin >= threshold prunes nothing: output identical to exact
    loose = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.5,
        minhash_prefilter=8, minhash_prefilter_margin=0.5,
    )
    assert {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in loose.collect()
    } == exact_pairs
    # any margin: prefiltered output is a subset of the exact output,
    # and surviving pairs carry identical exact Jaccard values
    tight = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="lang", threshold=0.5,
        minhash_prefilter=8, minhash_prefilter_margin=0.1,
    )
    tight_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in tight.collect()}
    assert set(tight_pairs) <= set(exact_pairs)
    assert all(exact_pairs[p] == v for p, v in tight_pairs.items())
    # identical docs agree on every hash slot: never pruned
    assert (1, 2) in tight_pairs


def test_simhash_identical_docs_same_hash(docs):
    out = dedup.simhash_groups(docs, "doc_id", "text").collect()
    h = {r["doc_id"]: r["simhash"] for r in out}
    assert h[1] == h[2]
    assert 0 <= h[1] < 2**16


def test_embedding_neardup_pairs(spark):
    rows = [
        (1, "b", [1.0, 0.0]),
        (2, "b", [1.0, 0.0]),
        (3, "b", [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, ["emb_id", "block", "vec"])
    out = dedup.embedding_neardup_pairs(emb, "emb_id", "vec", "block", 0.99)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_cosine_topk_self_most_similar(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["emb_id", "vec"])
    out = similarity.cosine_topk(emb, emb, "emb_id", "vec", k=1)
    best = {r["query_id"]: r["neighbor_id"] for r in out.collect()}
    assert best[1] == 2 and best[2] == 1


def test_vector_functions(spark):
    df = spark.createDataFrame([([3.0, 4.0], [3.0, 4.0])], ["a", "b"])
    row = df.select(
        V.dot(F.col("a"), F.col("b")).alias("dot"),
        V.norm(F.col("a")).alias("norm"),
        V.cosine(F.col("a"), F.col("b")).alias("cos"),
    ).collect()[0]
    assert row["dot"] == 25.0
    assert row["norm"] == 5.0
    assert abs(row["cos"] - 1.0) < 1e-12


def test_text_functions(spark):
    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog!",)], ["t"]
    )
    row = df.select(
        T.wordlike_token_count(F.col("t")).alias("n"),
        T.predict_lang(F.col("t")).alias("lang"),
        T.quality_score(F.col("t")).alias("q"),
        T.sorted_word_fingerprint(F.col("t")).alias("fp"),
    ).collect()[0]
    assert row["n"] == 10  # 9 words + '!'
    assert row["lang"] == "en"
    assert 0.0 <= row["q"] <= 1.0
    assert row["fp"] is not None


def test_predict_lang_tie_break_and_no_match(spark):
    # languages are tried in sorted order and only a strictly higher score
    # displaces the best: 'der' (de) and 'the' (en) tie, so de keeps it;
    # 'la la' scores 2 for es and fr, so es; no stopword, empty and NULL
    # text are 'und'
    df = spark.createDataFrame(
        [(0, "der the"), (1, "the der la la"), (2, "xyz"), (3, ""), (4, None)],
        "i int, t string",
    )
    got = {
        r["i"]: r["lang"]
        for r in df.select("i", T.predict_lang(F.col("t")).alias("lang")).collect()
    }
    assert got == {0: "de", 1: "es", 2: "und", 3: "und", 4: "und"}


def test_fingerprint_is_word_order_insensitive(spark):
    df = spark.createDataFrame(
        [("alpha beta gamma", "gamma alpha beta")], ["t1", "t2"]
    )
    row = df.select(
        T.sorted_word_fingerprint(F.col("t1")).alias("f1"),
        T.sorted_word_fingerprint(F.col("t2")).alias("f2"),
    ).collect()[0]
    assert row["f1"] == row["f2"]


def test_multimodal_decode_plumbing(docs):
    # decode is a deterministic fake (no image libs in container) but the
    # Spark plumbing — binary payload, mapInPandas schema, batching — is real.
    with_payload = multimodal.attach_fake_payload(docs, "doc_id", "text")
    out = multimodal.decode_images(with_payload)
    rows = out.collect()
    assert len(rows) == docs.count()
    r = rows[0]
    assert r["n_bytes"] == 16 and r["width"] >= 0 and r["mode"] in ("RGB", "L", "RGBA")


def test_multimodal_codec_formats_still_raise(spark):
    bad = spark.createDataFrame(
        [(1, bytearray(b"0123456789abcdef"), {"format": "jpeg", "n_bytes": 16})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        multimodal.decode_images(bad).collect()


def test_bmp_encode_decode_roundtrip():
    # pure-Python, no Spark: the encoder writes a REAL BMP file and the
    # parser reads the actual header bytes back
    b = multimodal.encode_bmp(13, 7, seed=42)
    assert b[:2] == b"BM"
    w, h, mode, n = multimodal.parse_bmp(b)
    assert (w, h, mode) == (13, 7, "RGB")
    assert n == len(b) == 54 + 7 * ((3 * 13 + 3) // 4 * 4)
    with pytest.raises(ValueError):
        multimodal.parse_bmp(b"XX" + b[2:])  # corrupt magic fails loudly
    with pytest.raises(ValueError):
        # bit depth 16 is not a shipped mode
        bad = bytearray(b)
        bad[28:30] = (16).to_bytes(2, "little")
        multimodal.parse_bmp(bytes(bad))


def test_wav_encode_decode_roundtrip():
    b = multimodal.encode_wav(777, 22050, seed=5)
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    rate, ch, bits, n, size = multimodal.parse_wav(b)
    assert (rate, ch, bits, n) == (22050, 1, 16, 777)
    assert size == len(b) == 44 + 2 * 777
    with pytest.raises(ValueError):
        multimodal.parse_wav(b"RIFX" + b[4:])
    with pytest.raises(ValueError):
        # non-PCM encoding (format tag 3 = float) is not shipped
        bad = bytearray(b)
        bad[20:22] = (3).to_bytes(2, "little")
        multimodal.parse_wav(bytes(bad))


def test_multimodal_real_wav_decode_end_to_end(docs):
    with_payload = multimodal.attach_wav_payload(docs, "doc_id", "text")
    out = {r["doc_id"]: r for r in multimodal.decode_audio(with_payload).collect()}
    assert len(out) == docs.count()
    import hashlib

    for row in docs.select("doc_id", "text").collect():
        dig = hashlib.md5(row["text"].encode()).hexdigest()
        rate = (8000, 16000, 22050, 44100)[int(dig[0:2], 16) % 4]
        n = 100 + (int(dig[2:4], 16) * 256 + int(dig[4:6], 16)) % 2000
        got = out[row["doc_id"]]
        assert (got["sample_rate"], got["n_samples"], got["n_channels"],
                got["bits"]) == (rate, n, 1, 16)
        assert got["n_bytes"] == 44 + 2 * n


def test_bmp_pixel_stats_match_handcount(spark):
    # 2x2 image, seed 10: v(x,y) = (10 + 7x + 13y) % 256
    # pixels: (0,0)=10 (1,0)=17 (0,1)=23 (1,1)=30 -> sum_b=80
    payload = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_bmp(2, 2, seed=10)),
          {"format": "bmp"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    r = multimodal.extract_bmp_channel_stats(payload).collect()[0]
    vals = [10, 17, 23, 30]
    assert r["n_pixels"] == 4 and r["sum_b"] == sum(vals)
    assert r["sum_g"] == sum(v * 3 % 256 for v in vals)
    assert r["sum_r"] == sum(v * 5 % 256 for v in vals)
    assert r["max_b"] == 30


def test_multimodal_real_bmp_decode_end_to_end(docs):
    # real payload bytes flow through Spark: binary column in, parsed
    # header fields out, geometry matching the md5-seeded fixture
    with_payload = multimodal.attach_bmp_payload(docs, "doc_id", "text")
    first = with_payload.orderBy("doc_id").first()
    assert bytes(first["payload"][:2]) == b"BM"  # genuine file bytes
    out = {r["doc_id"]: r for r in multimodal.decode_images(with_payload).collect()}
    assert len(out) == docs.count()
    import hashlib

    for row in docs.select("doc_id", "text").collect():
        dig = hashlib.md5(row["text"].encode()).hexdigest()
        w = 1 + int(dig[0:2], 16) % 16
        h = 1 + int(dig[2:4], 16) % 16
        got = out[row["doc_id"]]
        assert (got["width"], got["height"], got["mode"]) == (w, h, "RGB")
        assert got["n_bytes"] == 54 + h * ((3 * w + 3) // 4 * 4)


def test_ivf_topk_probes_right_cells(spark):
    # two well-separated clusters; centroids = one member of each
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.95, 0.05, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.9, 0.1]),
    ]
    emb = spark.createDataFrame(rows, ["emb_id", "vec"])
    cents = [(1, [1.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0])]
    queries = emb.filter(F.col("emb_id") == 2)
    # nprobe=1: candidates limited to the query's own cluster cell
    out = similarity.ivf_topk(emb, queries, "emb_id", "vec", cents, k=4, nprobe=1)
    got = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert got == [3, 1]  # cluster mates only, best first
    # nprobe=2 widens to both cells
    out2 = similarity.ivf_topk(emb, queries, "emb_id", "vec", cents, k=10, nprobe=2)
    assert {r["neighbor_id"] for r in out2.collect()} == {1, 3, 10, 11}


def test_margin_mutual_pairs_ivf_degenerates_to_exact(spark):
    # nprobe = nlist => every row probes every cell => candidate set is
    # the full A x B relation => the IVF miner must equal the exact
    # miner bit-for-bit (same round-6 cosines, same tie-breaks)
    import random

    rng = random.Random(7)
    rows = [
        (i, i % 2, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["emb_id", "label", "vec"])
    cents = similarity.fit_centroids_sample(emb, "emb_id", "vec", nlist=4, mod=3, rem=1)
    exact = sorted(
        map(tuple, similarity.margin_mutual_pairs(
            emb, "emb_id", "vec", "label", 0, 1, k=3).collect())
    )
    ivf = sorted(
        map(tuple, similarity.margin_mutual_pairs_ivf(
            emb, "emb_id", "vec", "label", 0, 1, cents, k=3, nprobe=4
        ).collect())
    )
    assert exact and ivf == exact


def test_margin_mutual_pairs_ivf_prunes_to_probed_cells(spark):
    # two orthogonal cluster pairs; nprobe=1 must mine within-cluster
    # pairs only and never see the cross-cluster relation
    rows = [
        (1, 0, [1.0, 0.0, 0.0, 0.0]),
        (2, 1, [0.9, 0.1, 0.0, 0.0]),
        (10, 0, [0.0, 0.0, 1.0, 0.0]),
        (11, 1, [0.0, 0.0, 0.9, 0.1]),
    ]
    emb = spark.createDataFrame(rows, ["emb_id", "label", "vec"])
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])]
    out = similarity.margin_mutual_pairs_ivf(
        emb, "emb_id", "vec", "label", 0, 1, cents, k=1, nprobe=1,
        margin_threshold=0.0,
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2), (10, 11)}


def test_hard_negative_topk_ivf_degenerates_to_exact(spark):
    import random

    rng = random.Random(11)
    rows = [
        (i, i % 3, [rng.uniform(-1, 1) for _ in range(5)]) for i in range(36)
    ]
    emb = spark.createDataFrame(rows, ["emb_id", "label", "vec"])
    anchors = emb.filter(F.col("emb_id") % 6 == 0)
    cents = similarity.fit_centroids_sample(emb, "emb_id", "vec", nlist=4, mod=5, rem=2)
    exact = sorted(map(tuple, similarity.hard_negative_topk(
        emb, anchors, "emb_id", "vec", "label", k=3).collect()))
    ivf = sorted(map(tuple, similarity.hard_negative_topk_ivf(
        emb, anchors, "emb_id", "vec", "label", cents, k=3, nprobe=4).collect()))
    assert exact and ivf == exact


def test_fit_centroids_sample_deterministic(spark):
    rows = [(i, [float(i), 1.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, ["emb_id", "vec"])
    cents = similarity.fit_centroids_sample(emb, "emb_id", "vec", nlist=3, mod=2, rem=0)
    assert [c[0] for c in cents] == [0, 2, 4]


def test_multimodal_resize_features_frames(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "spark")], ["doc_id", "text"])
    payload = multimodal.attach_fake_payload(df, "doc_id", "text")
    resized = {r["doc_id"]: r for r in multimodal.resize_images(payload, 224, 224).collect()}
    assert resized[1]["out_width"] == 224 and resized[1]["out_bytes"] == 224 * 224 * 3
    assert abs(resized[1]["scale_x"] - round(224 / max(resized[1]["width"], 1), 6)) < 1e-9
    feats = multimodal.extract_features(payload, dim=4).collect()
    assert all(len(r["features"]) == 4 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["features"])
    frames = multimodal.sample_frames(payload).collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in per_doc.items():
        assert 1 <= len(rows) <= 5  # 1 + b[3] % 5 fan-out
        assert sorted(r["frame_id"] for r in rows) == list(range(len(rows)))


def test_simhash_hamming_pairs_exact_vs_bruteforce(spark):
    rows = [(i, f"doc number {i} shared body of words " + ("alpha " * (i % 4))) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_hamming_pairs(
            df, "doc_id", "text", 3, max_bucket_size=None
        ).collect()
    }
    sims = {r["doc_id"]: r["simhash"] for r in dedup.simhash_groups(df, "doc_id", "text").collect()}
    want = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for a in sims for b in sims
        if a < b and bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    assert got == want and want  # bucketing loses nothing vs brute force


def test_connected_components_chain_and_clique(spark):
    # two components: a 4-node chain 1-2-3-4 (multi-round convergence)
    # and a triangle 10-11-12; node 20-21 pair as a third
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    comps = {
        r["node"]: r["component_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_component_summary_checksums(spark):
    pairs = spark.createDataFrame([(5, 6), (6, 7)], "id_a bigint, id_b bigint")
    out = dedup.component_summary(dedup.connected_components(pairs)).collect()
    assert len(out) == 1
    row = out[0]
    assert (row["component_id"], row["size"], row["id_sum"]) == (5, 3, 18)


def test_stratified_two_phase_matches_single_window(spark):
    from de_polars_spark.operators import sampling

    rows = [(i, "en" if i % 7 else "de") for i in range(1, 301)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    one = sampling.stratified_quota_sample(
        df, ["lang"], "doc_id", k=5, n_salts=None
    )
    two = sampling.stratified_quota_sample(df, ["lang"], "doc_id", k=5, n_salts=4)
    key = lambda r: (r["lang"], r["sample_rank"], r["doc_id"])
    assert sorted(map(key, one.collect())) == sorted(map(key, two.collect()))
    # exactly k per stratum (both strata have >= k rows)
    per = {r["lang"]: 0 for r in one.collect()}
    for r in one.collect():
        per[r["lang"]] += 1
    assert per == {"en": 5, "de": 5}


def test_split_deterministic_and_exhaustive(spark):
    from de_polars_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(1, 501)], "doc_id bigint")
    s1 = sampling.split_train_val_test(df, "doc_id", 0.1, 0.1)
    s2 = sampling.split_train_val_test(df, "doc_id", 0.1, 0.1)
    c1 = {r["split"]: r["n"] for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    c2 = {r["split"]: r["n"] for r in s2.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert c1 == c2 and sum(c1.values()) == 500 and c1["train"] > c1["val"] > 0


def test_hash_bernoulli_is_a_pure_filter(spark):
    from de_polars_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(1, 2001)], "doc_id bigint")
    out = sampling.hash_bernoulli_sample(df, "doc_id", 0.25)
    n = out.count()
    assert 380 < n < 620  # ~500 expected, deterministic
    assert n == sampling.hash_bernoulli_sample(df, "doc_id", 0.25).count()
    # no shuffle in the plan: a pure filter over the scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_semantic_dedup_summary(spark):
    from de_polars_spark.operators.semdedup import semantic_dedup_summary

    # two well-separated seed directions; ids 3 and 4 are near-copies of
    # their cluster-mates and must be greedily dropped
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.99, 0.01, 0.0]),   # ~cos 1.0 with id 1 -> dropped
        (4, [0.01, 0.995, 0.0]),  # ~cos 1.0 with id 2 -> dropped
        (5, [-0.2, 0.9, 0.3]),    # same cluster as 2 but below threshold
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_summary(
        df, "vec_id", "embedding", seeds=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]],
        threshold=0.95,
    )
    got = {r["cid"]: r for r in out.collect()}
    assert got[0]["n_members"] == 2 and got[0]["n_dropped"] == 1
    assert got[0]["dropped_id_sum"] == 3
    assert got[1]["n_members"] == 3 and got[1]["n_dropped"] == 1
    assert got[1]["dropped_id_sum"] == 4


def test_semantic_dedup_max_cluster_size_cap(spark):
    from de_polars_spark.operators.semdedup import semantic_dedup_summary

    rows = [(i, [1.0, 0.0]) for i in range(5)] + [(10, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_summary(
        df, "vec_id", "embedding", seeds=[[1.0, 0.0], [0.0, 1.0]],
        threshold=0.9, max_cluster_size=3,
    ).collect()
    got = {r["cid"]: r for r in out}
    # oversized cluster 0 is skipped by the quadratic step (skew guard)
    # but still reports its membership
    assert got[0]["n_members"] == 5 and got[0]["n_dup_pairs"] == 0
    assert got[1]["n_members"] == 1 and got[1]["n_dropped"] == 0


def test_average_pool(spark):
    from de_polars_spark.operators.vectors import average_pool

    rows = [
        (0, [1.0, 0.0]),
        (0, [3.0, 0.0]),   # group 0 mean = [2, 0] -> norm 2, sum 2
        (1, [0.0, 5.0]),   # singleton group
    ]
    df = spark.createDataFrame(rows, "gid long, embedding array<double>")
    got = {r["gid"]: r for r in average_pool(df, "gid", "embedding").collect()}
    assert got[0]["n_members"] == 2
    assert got[0]["pooled_norm"] == 2.0 and got[0]["pooled_sum"] == 2.0
    assert got[1]["n_members"] == 1 and got[1]["pooled_norm"] == 5.0


def test_bloom_prefilter_no_false_negatives(spark):
    from de_polars_spark.operators import bloom

    dim = spark.createDataFrame([(k,) for k in range(0, 50, 5)], ["key"])
    probe = spark.createDataFrame([(i, i % 60) for i in range(200)], ["rid", "key"])
    bits = bloom.bloom_bits(dim, "key", m=256, k=3)
    assert bits.count() <= 30  # <= k * n_dim_keys distinct positions
    flagged = bloom.bloom_flag(probe, "key", bits, m=256, k=3)
    assert flagged.count() == 200  # broadcast joins never duplicate rows
    rows = {r["rid"]: r["bloom_hit"] for r in flagged.collect()}
    dim_keys = set(range(0, 50, 5))
    for rid in range(200):
        if rid % 60 in dim_keys:
            assert rows[rid], f"false negative at rid={rid}"


def test_ngram_duplication_profile_unigrams(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "x y z")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["n_ngrams"], r["n_shared"])
        for r in dedup.ngram_duplication_profile(
            docs, "doc_id", "text", n=1
        ).collect()
    }
    assert out[1] == (3, 2)  # a, b shared with doc 2
    assert out[2] == (3, 2)
    assert out[3] == (3, 0)


def test_ngram_duplication_profile_rows_sharing_an_id_shingle_apart(spark):
    # doc 1 is two rows (two crawls both numbering from 1): its bigrams
    # are "a b" and "c d", never a spliced "a c" or "b d"
    docs = spark.createDataFrame(
        [(1, "a b"), (1, "c d"), (2, "a c a x b d b")], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: (r["n_ngrams"], r["n_shared"])
        for r in dedup.ngram_duplication_profile(docs, "doc_id", "text", n=2).collect()
    }
    assert out == {1: (2, 0), 2: (6, 0)}


def test_ivf_index_roundtrip(spark, tmp_path):
    from de_polars_spark.operators import similarity

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.95, 0.05, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.9, 0.1]),
    ]
    emb = spark.createDataFrame(rows, ["emb_id", "vec"])
    cents = [(1, [1.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0])]
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "emb_id", "vec", cents, path)
    loaded_cents, postings = similarity.load_ivf_index(spark, path)
    assert loaded_cents == [(1, [1.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0])]
    assert postings.count() == 5
    # served result identical to the inline fit+assign path
    queries = emb.filter(F.col("emb_id") == 2)
    inline = similarity.ivf_topk(emb, queries, "emb_id", "vec", cents, k=4, nprobe=1)
    from_idx = similarity.ivf_topk_from_index(
        postings, loaded_cents, queries, "emb_id", "vec", k=4, nprobe=1
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, from_idx.collect())
    )


def test_ivf_index_append_frozen_quantizer(spark, tmp_path):
    from de_polars_spark.operators import similarity

    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (10, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, ["emb_id", "vec"])
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "emb_id", "vec", cents, path)
    batch = spark.createDataFrame(
        [(20, [0.95, 0.05]), (21, [0.1, 0.9])], ["emb_id", "vec"]
    )
    similarity.append_ivf_index(batch, "emb_id", "vec", path)
    loaded_cents, postings = similarity.load_ivf_index(spark, path)
    assert loaded_cents == [(0, [1.0, 0.0]), (1, [0.0, 1.0])]  # frozen
    cells = {r["neighbor_id"]: r["cell"] for r in postings.collect()}
    assert len(cells) == 5  # history intact + batch appended
    assert cells[20] == 0 and cells[21] == 1  # assigned by frozen centroids


def test_ivf_index_compaction_is_pure_layout(spark, tmp_path):
    from de_polars_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [1.0 - i / 100.0, i / 100.0]) for i in range(20)],
        ["emb_id", "vec"],
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, "emb_id", "vec", cents, path)
    # three append batches -> several small files per touched cell
    for shift in (100, 200, 300):
        batch = emb.select((F.col("emb_id") + shift).alias("emb_id"), "vec")
        similarity.append_ivf_index(batch, "emb_id", "vec", path)
    queries = emb.limit(3)
    c0, p0 = similarity.load_ivf_index(spark, path)
    before = sorted(map(tuple, similarity.ivf_topk_from_index(
        p0, c0, queries, "emb_id", "vec", k=3, nprobe=2).collect()))
    rows_before = sorted(
        (r["neighbor_id"], r["cell"]) for r in p0.collect()
    )
    stats = similarity.compact_ivf_index(spark, path)
    assert stats["files_after"] < stats["files_before"]
    c1, p1 = similarity.load_ivf_index(spark, path)
    assert c1 == c0
    assert sorted((r["neighbor_id"], r["cell"]) for r in p1.collect()) == rows_before
    after = sorted(map(tuple, similarity.ivf_topk_from_index(
        p1, c1, queries, "emb_id", "vec", k=3, nprobe=2).collect()))
    assert after == before  # probe results bit-identical post-compaction


def test_y4m_encode_parse_roundtrip():
    b = multimodal.encode_y4m(5, 4, 3, fps_num=4, fps_den=1, seed=7)
    assert b.startswith(b"YUV4MPEG2 ")
    w, h, num, den, offs = multimodal.parse_y4m(b)
    assert (w, h, num, den, len(offs)) == (5, 4, 4, 1, 3)
    # each offset points at real Y-plane data: first byte of frame fid
    # is (seed + 13*fid + 0) % 256
    for fid, off in enumerate(offs):
        assert b[off] == (7 + 13 * fid) % 256
    with pytest.raises(ValueError):
        multimodal.parse_y4m(b"XUV4MPEG2" + b[9:])  # bad magic
    with pytest.raises(ValueError):
        multimodal.parse_y4m(b[: len(b) - 5])  # truncated frame data
    with pytest.raises(ValueError):
        # unshipped colorspace fails loudly, not misparsed strides
        multimodal.parse_y4m(b.replace(b"C444", b"C420", 1))


def test_y4m_frame_sampling_end_to_end(spark):
    import numpy as np

    payload = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_y4m(3, 2, 5, seed=9)),
          {"format": "y4m"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    rows = {r["frame_id"]: r
            for r in multimodal.sample_video_frames(payload, every_n=2).collect()}
    # frames 0, 2, 4 kept; checksum = sum((9 + 13*fid + j) % 256, j<6)
    assert sorted(rows) == [0, 2, 4]
    for fid, r in rows.items():
        assert r["n_frames"] == 5
        assert r["frame_ts_us"] == fid * 1_000_000 // 4
        assert r["y_checksum"] == sum((9 + 13 * fid + j) % 256 for j in range(6))
    # unshipped formats raise the documented loud error
    bad = spark.createDataFrame(
        [(2, bytearray(b"\x00\x01"), {"format": "mp4"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    with pytest.raises(Exception, match="ffmpeg"):
        multimodal.sample_video_frames(bad).collect()


def test_bmp_resize_real_matches_handcount(spark):
    # 5x3 source, seed 11, resized to 2x2: sx=[0,2], sy=[0,1]
    payload = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_bmp(5, 3, seed=11)),
          {"format": "bmp"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    r = multimodal.resize_bmp_nearest(payload, 2, 2).collect()[0]
    picks = [(11 + 7 * x + 13 * y) % 256 for x in (0, 2) for y in (0, 1)]
    assert (r["src_w"], r["src_h"], r["out_w"], r["out_h"]) == (5, 3, 2, 2)
    assert r["sum_b"] == sum(picks)
    assert r["sum_g"] == sum((v * 3) % 256 for v in picks)
    assert r["sum_r"] == sum((v * 5) % 256 for v in picks)
    # upscale: every source pixel appears >= once, sums bounded
    r2 = multimodal.resize_bmp_nearest(payload, 10, 6).collect()[0]
    assert (r2["out_w"], r2["out_h"]) == (10, 6)
    # unshipped formats raise the documented loud error
    bad = spark.createDataFrame(
        [(2, bytearray(b"\x00"), {"format": "jpeg"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    with pytest.raises(Exception, match="PIL"):
        multimodal.resize_bmp_nearest(bad, 2, 2).collect()


def test_bmp_block_features_match_handcount(spark):
    # 3x2 source, seed 5: qx=[0,0,1], qy=[0,1]
    payload = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_bmp(3, 2, seed=5)),
          {"format": "bmp"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    r = multimodal.extract_bmp_block_features(payload).collect()[0]
    v = {(x, y): (5 + 7 * x + 13 * y) % 256 for x in range(3) for y in range(2)}
    assert r["sum_q00"] == v[(0, 0)] + v[(1, 0)] and r["n_q00"] == 2
    assert r["sum_q01"] == v[(0, 1)] + v[(1, 1)] and r["n_q01"] == 2
    assert r["sum_q10"] == v[(2, 0)] and r["n_q10"] == 1
    assert r["sum_q11"] == v[(2, 1)] and r["n_q11"] == 1
    # 1x1 image: right/bottom quadrants are EMPTY -> NULL sums, 0 counts
    tiny = spark.createDataFrame(
        [(2, bytearray(multimodal.encode_bmp(1, 1, seed=9)),
          {"format": "bmp"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    r2 = multimodal.extract_bmp_block_features(tiny).collect()[0]
    assert r2["sum_q00"] == 9 and r2["n_q00"] == 1
    assert r2["sum_q11"] is None and r2["n_q11"] == 0


def _bmp_payload(spark, b):
    return spark.createDataFrame(
        [(1, bytearray(b), {"format": "bmp"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )


def test_bmp_reducers_read_pixels_from_the_declared_offset(spark):
    # the 2x2 seed-10 image with a 4-byte gap before its pixels: the
    # header's bfOffBits (bytes 10-13) says 58, not 54
    import struct

    b = bytearray(multimodal.encode_bmp(2, 2, seed=10))
    b[54:54] = b"\xff" * 4
    struct.pack_into("<I", b, 2, len(b))
    struct.pack_into("<I", b, 10, 58)
    payload = _bmp_payload(spark, b)
    v = {(x, y): (10 + 7 * x + 13 * y) % 256 for x in range(2) for y in range(2)}
    vals = list(v.values())
    sums = (sum(vals), sum(3 * c % 256 for c in vals), sum(5 * c % 256 for c in vals))
    r = multimodal.extract_bmp_channel_stats(payload).collect()[0]
    assert (r["sum_b"], r["sum_g"], r["sum_r"], r["max_b"]) == (*sums, 30)
    r = multimodal.resize_bmp_nearest(payload, 2, 2).collect()[0]
    assert (r["sum_b"], r["sum_g"], r["sum_r"]) == sums
    r = multimodal.extract_bmp_block_features(payload).collect()[0]
    assert [r[f"sum_q{x}{y}"] for x in (0, 1) for y in (0, 1)] == [
        v[(x, y)] for x in (0, 1) for y in (0, 1)]


def test_bmp_pixel_reducers_refuse_a_32_bit_bmp(spark):
    # 2x2, every pixel B=10 G=20 R=30 A=255: the 24-bit slicer would read
    # the alpha bytes as colour, so the pixel decoder refuses it
    import struct

    pix = bytes((10, 20, 30, 255)) * 4
    b = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
         + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 32, 0, len(pix), 2835, 2835, 0, 0)
         + pix)
    assert multimodal.parse_bmp(b)[2] == "RGBA"  # the header still parses
    with pytest.raises(ValueError, match="24-bit"):
        multimodal.decode_bmp_pixels(b)
    with pytest.raises(Exception, match="24-bit"):
        multimodal.extract_bmp_channel_stats(_bmp_payload(spark, b)).collect()


def test_png_encode_decode_roundtrip():
    # pure-Python, stdlib zlib only: encoder writes a REAL PNG (varied
    # row filters) and the decoder reconstructs every pixel exactly
    import numpy as np

    for w, h, seed in [(1, 1, 0), (5, 3, 7), (16, 16, 200), (2, 9, 4)]:
        b = multimodal.encode_png(w, h, seed)
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        assert multimodal.parse_png_header(b) == (w, h, "RGB", len(b))
        px = multimodal.decode_png_pixels(b)
        want = np.zeros((h, w, 3), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                v = (seed + 7 * x + 13 * y) % 256
                want[y, x] = (v, (v * 3) % 256, (v * 5) % 256)
        assert (px == want).all()
    # height >= 5 cycles all five filter types ((seed+y) % 5)
    assert {(0 + y) % 5 for y in range(5)} == {0, 1, 2, 3, 4}
    with pytest.raises(ValueError):
        multimodal.parse_png_header(b"XPNG" + b[4:])  # bad signature
    bad = bytearray(multimodal.encode_png(4, 4, 1))
    bad[40] ^= 0xFF  # flip an IDAT byte -> CRC mismatch fails loudly
    with pytest.raises(ValueError):
        multimodal.decode_png_pixels(bytes(bad))
    # mid-chunk truncation (length field pointing past the buffer) must
    # raise the documented loud ValueError, not struct.error (ADVICE r6)
    import struct as _struct

    full = multimodal.encode_png(4, 4, 1)
    pos = 8
    while True:
        (length,) = _struct.unpack_from(">I", full, pos)
        if full[pos + 4 : pos + 8] == b"IDAT":
            break
        pos += 12 + length
    with pytest.raises(ValueError, match="truncated PNG chunk stream"):
        multimodal.decode_png_pixels(full[: pos + 8 + length - 2])


def test_jpeg_block_solid_roundtrip_is_exact():
    # baseline grayscale JPEG, all-ones quant table: a block-solid
    # image's DCT is an integral DC only, so the lossy codec round-trips
    # BIT-EXACTLY — the analytic-oracle contract of the fixture
    import numpy as np

    for w, h, seed in [(1, 1, 0), (8, 8, 5), (17, 9, 200), (40, 33, 123)]:
        b = multimodal.encode_jpeg(w, h, seed)
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        assert multimodal.parse_jpeg_header(b) == (w, h, "L", len(b))
        px = multimodal.decode_jpeg_pixels(b)
        want = np.empty((h, w), dtype=np.uint8)
        for y in range(h):
            want[y] = [(seed + 7 * (x // 8) + 13 * (y // 8)) % 256 for x in range(w)]
        assert (px == want).all()


def test_jpeg_header_rejects_misaligned_and_post_sos_sof():
    # r7 ADVICE: the header walk must enforce 0xFF marker alignment and
    # stop at SOS — a 0xC0 byte inside entropy data is NOT a SOF0
    import struct as _s

    import pytest as _pt

    real = multimodal.encode_jpeg(8, 8, 3)
    # corrupt the byte that should be a 0xFF marker lead-in right after
    # the SOI so the walk lands misaligned
    bad = bytearray(real)
    bad[2] = 0x00
    with _pt.raises(ValueError, match="expected marker"):
        multimodal.parse_jpeg_header(bytes(bad))
    # craft: SOI, one APP0 segment, SOS, then entropy bytes containing a
    # spurious ff c0 pattern followed by plausible dims — must NOT parse
    app0 = b"\xff\xe0" + _s.pack(">H", 4) + b"\x00\x00"
    sos = b"\xff\xda" + _s.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    entropy = b"\x12\xff\x00\x34" + b"\xff\xc0" + _s.pack(">HBHHB", 11, 8, 9, 9, 1)
    crafted = b"\xff\xd8" + app0 + sos + entropy + b"\xff\xd9"
    with _pt.raises(ValueError, match="missing SOF0"):
        multimodal.parse_jpeg_header(crafted)


def test_jpeg_nonsolid_matches_independent_quant_model():
    # the AC path (run/size Huffman, ZRL, amplitude extend, byte
    # stuffing) on dense random blocks: the decoder must agree
    # BIT-EXACTLY with an independent DCT->round->IDCT quant model that
    # never touches the bitstream code, and stay within 1 of the source
    import math

    import numpy as np

    rng = np.random.default_rng(42)
    src = rng.integers(0, 256, (24, 21), dtype=np.uint8)
    got = multimodal.decode_jpeg_pixels(multimodal.encode_jpeg_gray(src))
    C = np.array(
        [
            [
                (math.sqrt(0.125) if u == 0 else 0.5)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                for x in range(8)
            ]
            for u in range(8)
        ]
    )
    pad = np.empty((24, 24))
    pad[:, :21] = src
    pad[:, 21:] = src[:, 20:21]
    ref = np.empty((24, 24))
    for by in range(3):
        for bx in range(3):
            blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            ref[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                C.T @ np.rint(C @ blk @ C.T) @ C + 128.0
            )
    ref = np.clip(np.rint(ref[:24, :21]), 0, 255).astype(np.uint8)
    assert (got == ref).all()
    assert np.abs(got.astype(int) - src.astype(int)).max() <= 1


def test_jpeg_malformed_payloads_fail_loudly():
    b = multimodal.encode_jpeg(16, 16, 9)
    with pytest.raises(ValueError):
        multimodal.decode_jpeg_pixels(b"\x00" + b)  # bad SOI
    with pytest.raises(ValueError):
        multimodal.decode_jpeg_pixels(b[:-20])  # truncated stream
    prog = bytearray(b)
    i = prog.index(b"\xff\xc0")
    prog[i + 1] = 0xC2  # claim progressive
    with pytest.raises(ValueError, match="SOF"):
        multimodal.decode_jpeg_pixels(bytes(prog))


def test_decode_jpeg_images_spark_path(spark):
    payload = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_jpeg(10, 9, seed=10)), {"format": "jpeg"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    r = multimodal.decode_jpeg_images(payload).collect()[0]
    # blocks: (bx,by) in {0,1}x{0,1}; v = (10 + 7bx + 13by) % 256
    vals = {(0, 0): 10, (1, 0): 17, (0, 1): 23, (1, 1): 30}
    want = sum(
        vals[(x // 8, y // 8)] for y in range(9) for x in range(10)
    )
    assert (r["width"], r["height"], r["mode"]) == (10, 9, "L")
    assert r["sum_v"] == want
    assert r["max_v"] == 30


def test_decode_images_handles_png_format(spark):
    # the generic decode path recognizes the png metadata format and
    # parses the real IHDR (mixed-format batch with bmp)
    payload = spark.createDataFrame(
        [
            (1, bytearray(multimodal.encode_png(6, 4, seed=3)), {"format": "png"}),
            (2, bytearray(multimodal.encode_bmp(5, 2, seed=9)), {"format": "bmp"}),
            (3, bytearray(multimodal.encode_jpeg(9, 7, seed=1)), {"format": "jpeg"}),
        ],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    out = {r["doc_id"]: r for r in multimodal.decode_images(payload).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["mode"]) == (6, 4, "RGB")
    assert (out[2]["width"], out[2]["height"], out[2]["mode"]) == (5, 2, "RGB")
    assert (out[3]["width"], out[3]["height"], out[3]["mode"]) == (9, 7, "L")
    # a format with no shipped codec still refuses loudly
    gif = spark.createDataFrame(
        [(4, bytearray(b"GIF89afake"), {"format": "gif"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    with pytest.raises(Exception, match="NotImplementedError|gif"):
        multimodal.decode_images(gif).collect()


def test_png_channel_sums_match_handcount(spark):
    # 2x2, seed 10 -> same fill as the BMP handcount test but RGB order:
    # R=v, G=3v%256, B=5v%256
    payload = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_png(2, 2, seed=10)), {"format": "png"})],
        "doc_id bigint, payload binary, media_meta map<string,string>",
    )
    r = multimodal.decode_png_images(payload).collect()[0]
    vals = [10, 17, 23, 30]
    assert (r["width"], r["height"], r["mode"]) == (2, 2, "RGB")
    assert r["sum_r"] == sum(vals)
    assert r["sum_g"] == sum(v * 3 % 256 for v in vals)
    assert r["sum_b"] == sum(v * 5 % 256 for v in vals)
    # a format with no shipped pixel decoder refuses loudly, like its siblings
    bmp = _bmp_payload(spark, multimodal.encode_bmp(2, 2, seed=10))
    with pytest.raises(Exception, match="NotImplementedError.*PIL"):
        multimodal.decode_png_images(bmp).collect()


def test_pair_graph_cap_switch(spark, sf_dir, monkeypatch):
    """The SHARED pair-graph artifact is capped (near-linear) by DEFAULT
    since r7 (SURVEY §13 A/B: uncapped banding is quadratic in the
    corpus); SPARK_GRAFT_LSH_CAP=exact/0/none opts out into the exact
    oracle-anchored graph under a distinct content address."""
    import de_polars_spark.inventory.llm_ops as L

    monkeypatch.delenv("SPARK_GRAFT_LSH_CAP", raising=False)
    assert L._lsh_graph_cap() == L._LSH_CAP  # capped out of the box
    p_capped = L._pair_graph_artifact_dir(sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_LSH_CAP", "exact")
    assert L._lsh_graph_cap() is None
    p_exact = L._pair_graph_artifact_dir(sf_dir)
    assert p_exact != p_capped  # capped and exact graphs never mix
    n_exact = L._dedup_pair_graph(spark, sf_dir).count()

    monkeypatch.setenv("SPARK_GRAFT_LSH_CAP", "0")
    assert L._lsh_graph_cap() is None  # 0 and none alias exact
    monkeypatch.setenv("SPARK_GRAFT_LSH_CAP", "8")
    assert L._lsh_graph_cap() == 8  # a positive int overrides the cap

    monkeypatch.delenv("SPARK_GRAFT_LSH_CAP")
    n_capped = L._dedup_pair_graph(spark, sf_dir).count()
    from de_polars_spark.operators.dedup import minhash_lsh_pairs
    from de_polars_spark.sources.registry import register_testdata

    t = register_testdata(spark, sf_dir)
    want = minhash_lsh_pairs(
        t["documents"], "doc_id", "text", L._N_HASHES, L._BAND_SIZE,
        shingle_n=2, max_bucket_size=L._LSH_CAP,
    ).count()
    assert n_capped == want  # the default artifact IS the capped graph
    assert n_exact >= n_capped


# ------------------------------------------------------------------ #
# quantiles: NULL group keys and NaN values (r9 ADVICE regressions)   #
# ------------------------------------------------------------------ #


def test_global_rank_null_group_key(spark):
    """NULL is a real group (Window.partitionBy semantics): rows whose
    key is NULL must survive the offset equi-join (r9 ADVICE: a plain
    names-list join silently dropped them) and rank within their own
    group."""
    from de_polars_spark.operators.quantiles import (
        exact_quantiles,
        with_global_rank,
    )

    rows = [("a", 1.0), ("a", 3.0), (None, 2.0), (None, 4.0), (None, 6.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = with_global_rank(df, ["g"], "v").collect()
    assert len(out) == 5  # nothing dropped
    null_rows = sorted(
        ((r["v"], r["__rn"]) for r in out if r["g"] is None)
    )
    assert null_rows == [(2.0, 0), (4.0, 1), (6.0, 2)]
    assert all(r["__n"] == 3 for r in out if r["g"] is None)

    q = exact_quantiles(df, ["g"], "v", [0.5]).collect()
    got = {r["g"]: (r["p50"], r["n_items"]) for r in q}
    assert got["a"] == (2.0, 2)
    assert got[None] == (4.0, 3)


def test_global_rank_nan_sorts_last(spark):
    """Spark sorts NaN LAST among doubles, but width_bucket(NaN) is
    NULL: without explicit routing a NaN row coalesced to bucket 0 and
    ranked near 0 (r9 ADVICE). NaN must take the top ranks; NULL stays
    first; the NaN row must not poison the sampled range either."""
    import math

    from de_polars_spark.operators.quantiles import with_global_rank

    nan = float("nan")
    rows = [(i, float(i)) for i in range(1, 9)] + [(0, nan), (9, None)]
    df = spark.createDataFrame(rows, "id int, v double")
    # single (empty-key) group exercises the crossJoin bounds path too
    out = with_global_rank(df, [], "v", n_buckets=4).collect()
    by_rank = {r["__rn"]: r for r in out}
    assert len(by_rank) == 10  # ranks are a permutation of 0..9
    assert by_rank[0]["v"] is None  # NULLS FIRST
    assert math.isnan(by_rank[9]["v"])  # NaN LAST
    assert [by_rank[i]["v"] for i in range(1, 9)] == [
        float(i) for i in range(1, 9)
    ]


def _quantile_parquet(spark, tmp_path, rows):
    path = str(tmp_path / "q.parquet")
    spark.createDataFrame(rows, "g string, v double").write.parquet(path)
    return spark.read.parquet(path)


def _medians(df, fractions=(0.5,), **kw) -> dict:
    from de_polars_spark.operators import quantiles as Q

    return {r["g"]: r["p50"] for r in Q.exact_quantiles(df, ["g"], "v", fractions, **kw).collect()}


def test_probe_memo_follows_the_data_not_a_label(spark, tmp_path):
    """The probe memo is keyed by the frame's data version: a repeated call
    reuses the probe, and a filtered frame over the same files is probed
    afresh instead of answered from the unfiltered frame's counts."""
    from de_polars_spark.operators import quantiles as Q

    Q.clear_probe_memo()
    df = _quantile_parquet(spark, tmp_path, [("a", float(i)) for i in range(101)])
    before = Q._PROBE_MEMO.info()
    assert _medians(df) == _medians(df) == {"a": 50.0}
    after = Q._PROBE_MEMO.info()
    assert (after["hits"] - before["hits"], after["misses"] - before["misses"]) == (1, 1)
    assert _medians(df.filter("v >= 50")) == {"a": 75.0}
    assert Q._PROBE_MEMO.info()["misses"] - after["misses"] == 1
    assert Q._PROBE_MEMO.info()["size"] == 2
    Q.clear_probe_memo()


def test_quantile_probe_memo_reuse(spark, tmp_path):
    """A second call over the same data (even with different fractions)
    reuses the probe and returns identical results."""
    from de_polars_spark.operators import quantiles as Q

    Q.clear_probe_memo()
    df = _quantile_parquet(
        spark, tmp_path,
        [("a", float(i)) for i in range(101)] + [("b", float(2 * i)) for i in range(51)],
    )
    cold = _medians(df)
    assert Q._PROBE_MEMO.info()["size"] == 1
    # different fractions, same probe (bounds+counts are fraction-free)
    warm = _medians(df, (0.25, 0.5))
    assert cold == warm == {"a": 50.0, "b": 50.0}
    # a different bucket count must NOT collide
    Q.exact_quantiles(df, ["g"], "v", [0.5], n_buckets=7)
    assert Q._PROBE_MEMO.info()["size"] == 2
    assert Q.clear_probe_memo() == 2
    assert Q._PROBE_MEMO.info()["size"] == 0


def test_median_abs_deviation_probes_nothing_the_second_time(spark, sf_dir, monkeypatch):
    """The deviation pass joins the medians as a local relation, so it has a
    data version: each of the query's probes has a memo key, and a second
    run is answered from the memo with no new probe."""
    from de_polars_spark.inventory import relational_ext as R
    from de_polars_spark.operators import quantiles as Q

    memo_key, keys = Q._memo_key, []
    monkeypatch.setattr(Q, "_memo_key", lambda *a: keys.append(memo_key(*a)) or keys[-1])
    Q.clear_probe_memo()
    first = sorted(R.q_median_abs_deviation(spark, sf_dir).collect())
    before = Q._PROBE_MEMO.info()
    assert sorted(R.q_median_abs_deviation(spark, sf_dir).collect()) == first
    after = Q._PROBE_MEMO.info()
    assert keys and None not in keys
    assert after["misses"] == before["misses"]
    assert after["hits"] - before["hits"] == len(keys) // 2
    Q.clear_probe_memo()


def test_frame_without_a_version_is_probed_fresh(spark):
    """A frame read from driver rows (an RDD leaf) has no data version: it
    is answered right and its probe is not stored."""
    from de_polars_spark.operators import quantiles as Q

    Q.clear_probe_memo()
    df = spark.createDataFrame([("a", float(i)) for i in range(101)], "g string, v double")
    assert _medians(df) == _medians(df) == {"a": 50.0}
    assert Q.probe_bounds(df, ["g"], "v") is None
    assert Q._PROBE_MEMO.info()["size"] == 0


def test_quantile_bounds_rows_load_balance_only(spark):
    """Caller-supplied bounds_rows replace the probe's sample scan but can
    never change a quantile: adversarially wrong ranges (too narrow, too
    wide, inverted, missing group) all yield the no-hint results — rows
    outside the range land in width_bucket's overflow cells and the exact
    counts still drive the ranks."""
    from de_polars_spark.operators import quantiles as Q

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(101)]
        + [("b", float(3 * i)) for i in range(67)],
        "g string, v double",
    )
    expect = {
        (r["g"]): (r["p25"], r["p50"], r["p95"], r["n_items"])
        for r in Q.exact_quantiles(df, ["g"], "v", [0.25, 0.5, 0.95]).collect()
    }
    for hint in (
        [("a", 40.0, 60.0), ("b", 0.0, 198.0)],      # far too narrow for a
        [("a", -1e9, 1e9), ("b", -1e9, 1e9)],        # absurdly wide
        [("a", 60.0, 40.0), ("b", 0.0, 198.0)],      # inverted (lo >= hi)
        [("b", 10.0, 20.0)],                          # group a missing
        [],                                            # empty hint
    ):
        got = {
            (r["g"]): (r["p25"], r["p50"], r["p95"], r["n_items"])
            for r in Q.exact_quantiles(
                df, ["g"], "v", [0.25, 0.5, 0.95], bounds_rows=hint
            ).collect()
        }
        assert got == expect, hint


def test_probe_bounds_returns_memoized_rows(spark, tmp_path):
    from de_polars_spark.operators import quantiles as Q

    Q.clear_probe_memo()
    df = _quantile_parquet(spark, tmp_path, [("a", float(i)) for i in range(200)])
    assert Q.probe_bounds(df, ["g"], "v") is None  # not yet memoized
    Q.exact_quantiles(df, ["g"], "v", [0.5])
    rows = Q.probe_bounds(df, ["g"], "v")
    assert rows is not None and len(rows) == 1
    r = rows[0]
    assert r["g"] == "a" and r["__blo"] >= 0.0 and r["__bhi"] <= 199.0
    Q.clear_probe_memo()
