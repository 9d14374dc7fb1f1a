"""Corpus-provenance operators vs tiny in-memory reference models.

The oracle suite pins these to DuckDB on the fixed documents/embeddings
tables; here the same operators face randomized small inputs where the
model is a few lines of plain Python — shared shingles across sources,
degenerate single-token docs, centroid geometry checked against numpy.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from de_polars_spark.operators.corpus import (
    source_overlap_matrix,
    zipf_slope_profile,
)
from de_polars_spark.operators.vectors import group_centroid_shift

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# tiny vocabulary so shingles collide across docs and sources
_doc = st.lists(st.sampled_from(list("abcd")), min_size=0, max_size=8).map(
    lambda toks: " ".join(toks)
)


def _model_shingles(text: str, n: int) -> set[str]:
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(docs=st.lists(st.tuples(st.integers(0, 2), _doc), min_size=1, max_size=10))
@settings(**_SETTINGS)
def test_source_overlap_matches_model(spark, docs):
    n = 2
    df = spark.createDataFrame(
        [(i, f"s{src}", text) for i, (src, text) in enumerate(docs)],
        "doc_id int, source string, text string",
    )
    got = {
        (r.source_a, r.source_b): (r.shared_grams, r.n_grams_a, r.n_grams_b)
        for r in source_overlap_matrix(df, "doc_id", "source", "text", n).collect()
    }
    sets: dict[str, set[str]] = {}
    for src, text in docs:
        sets.setdefault(f"s{src}", set()).update(_model_shingles(text, n))
    expect = {}
    srcs = sorted(sets)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(sets[a] & sets[b])
            if shared:
                expect[(a, b)] = (shared, len(sets[a]), len(sets[b]))
    assert got == expect


def test_source_overlap_rows_sharing_an_id_shingle_apart(spark):
    # two crawls both numbering from 1: s1's doc 1 and s2's doc 1 give
    # "a b" and "c d", never a spliced "a c" or "b d" that s3 holds
    df = spark.createDataFrame(
        [(1, "s1", "a b"), (1, "s2", "c d"), (2, "s3", "a c a x b d b"),
         (3, "s4", "a b")],
        "doc_id int, source string, text string",
    )
    got = {
        (r.source_a, r.source_b): (r.shared_grams, r.n_grams_a, r.n_grams_b)
        for r in source_overlap_matrix(df, "doc_id", "source", "text", 2).collect()
    }
    assert got == {("s1", "s4"): (1, 1, 1)}


def test_zipf_slope_matches_least_squares(spark):
    # frequencies 16,8,4,2,1 over ranks 1..5 -> fit by hand
    counts = {"a": 16, "b": 8, "c": 4, "d": 2, "e": 1}
    text = " ".join(" ".join([w] * c) for w, c in counts.items())
    df = spark.createDataFrame([(text,)], "text string")
    row = zipf_slope_profile(df, "text", top_k=10).collect()[0]
    xs = [math.log(r) for r in range(1, 6)]
    ys = [math.log(c) for c in sorted(counts.values(), reverse=True)]
    nx = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (nx * sxy - sx * sy) / (nx * sxx - sx * sx)
    assert row.n_terms == 5
    assert abs(row.zipf_slope - slope) < 1e-4
    assert 0.9 < row.r2 <= 1.0


def test_centroid_shift_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (int(g), [float(x) for x in rng.normal(g, 0.1, 4)])
        for g in (0, 1, 2)
        for _ in range(5)
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    got = {
        (r.group_a, r.group_b): (r.cosine, r.l2_dist)
        for r in group_centroid_shift(df, "label", "embedding").collect()
    }
    cents = {
        g: np.mean(
            [np.array(v, dtype=np.float64) for gg, v in rows if gg == g], axis=0
        )
        for g in (0, 1, 2)
    }
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    for (a, b), (cos, l2) in got.items():
        ca, cb = cents[a], cents[b]
        exp_cos = float(ca @ cb / (np.linalg.norm(ca) * np.linalg.norm(cb)))
        exp_l2 = float(np.linalg.norm(ca - cb))
        assert abs(cos - exp_cos) < 1e-3, (a, b)
        assert abs(l2 - exp_l2) < 1e-3, (a, b)
