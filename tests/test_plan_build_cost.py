"""Corpus operators' constant data crosses py4j as one literal.

Building an operator's plan must cost a number of py4j round trips that
does not grow with its constant data (IVF nlist and dimension, MinHash
hash count, language-ID stopword lists), and the literal form must give
bit-identical centroid scores. The IVF index artifact key must cover
every repo function the centroid scoring calls, so editing any of them
invalidates the cache.
"""

from __future__ import annotations

import ast
import gc
import inspect
import random
import struct
import textwrap

import pytest
from pyspark.sql import functions as F

from de_polars_spark.functions import vectors as VX
from de_polars_spark.functions.local_relation import values_df
from de_polars_spark.operators import dedup, similarity


@pytest.fixture
def build_cost(monkeypatch):
    """``build_cost(fn)``: py4j call and reflection commands sent while
    ``fn`` runs (GC-release messages are left out; gc is off meanwhile so
    none of them interleave)."""
    from py4j import clientserver

    state = {"on": False, "n": 0}
    send = clientserver.ClientServerConnection.send_command

    def counting_send(self, command, *args, **kwargs):
        if state["on"] and command[:1] in ("c", "r"):
            state["n"] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(
        clientserver.ClientServerConnection, "send_command", counting_send
    )

    def measure(fn) -> int:
        gc.disable()
        state["n"], state["on"] = 0, True
        try:
            fn()
        finally:
            state["on"] = False
            gc.enable()
        return state["n"]

    return measure


def _centroids(nlist: int, dim: int) -> list:
    rng = random.Random(nlist * 1000 + dim)
    return [(cid, [rng.uniform(-1, 1) for _ in range(dim)]) for cid in range(nlist)]


def test_ivf_build_cost_does_not_grow_with_the_centroids(spark, build_cost):
    corpus = spark.range(8).select(
        F.col("id"), F.array(F.lit(0.5), F.lit(-0.25)).alias("v")
    )

    def build(nlist: int, dim: int):
        cents = _centroids(nlist, dim)
        return lambda: similarity.ivf_topk(corpus, corpus, "id", "v", cents, k=3, nprobe=2)

    build_cost(build(4, 8))  # first-use lookups out of the way
    counts = {(n, d): build_cost(build(n, d)) for n, d in ((4, 8), (16, 8), (16, 32))}
    assert counts[(4, 8)] > 0, "no py4j traffic seen: counter not wired"
    assert len(set(counts.values())) == 1, counts


def test_minhash_build_cost_does_not_grow_with_the_hash_count(spark, build_cost):
    docs = spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
    )

    def build(n_hashes: int):
        return lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n_hashes=n_hashes, band_size=2
        )

    build_cost(build(8))
    counts = {n: build_cost(build(n)) for n in (8, 16)}
    assert counts[8] > 0, "no py4j traffic seen: counter not wired"
    assert counts[8] == counts[16], counts


def test_lang_id_build_cost_does_not_grow_with_the_stopword_lists(
    spark, build_cost, monkeypatch
):
    from de_polars_spark.functions import text as TX

    def build(n_langs: int, n_words: int):
        table = {f"l{i}": tuple(f"w{i}_{j}" for j in range(n_words)) for i in range(n_langs)}

        def go():
            monkeypatch.setattr(TX, "STOPWORDS", table)
            TX.predict_lang(F.col("text"))

        return go

    build_cost(build(2, 3))
    counts = {(n, w): build_cost(build(n, w)) for n, w in ((2, 3), (5, 7), (9, 40))}
    assert counts[(2, 3)] > 0, "no py4j traffic seen: counter not wired"
    assert len(set(counts.values())) == 1, counts


# ------------------------------------------------------------------ #
# bit identity of the literal centroid table                          #
# ------------------------------------------------------------------ #
#: hostile values: signed zero, the smallest subnormal, a square that
#: underflows, mixed exponents, and cids 2 and 3 sharing one vector so
#: the (cos, cid) DESC tie-break decides their order
_HOSTILE_CENTROIDS = [
    (0, [-0.0, 5e-324, 1e-300, 1.0]),
    (1, [1e-150, 3.5e10, -2.25e-7, 7.0]),
    (2, [0.1, 0.2, 0.3, 0.4]),
    (3, [0.1, 0.2, 0.3, 0.4]),
    (7, [-1.0, -0.0, 2.5e-308, 1e-300]),
    (5, [5e-324, -5e-324, 1.0, -1.0]),
]
_QUERIES = [
    [0.3, -0.7, 1e-300, 2.0],
    [1.0, 0.0, -0.0, 0.0],
    [-0.0, 1e-200, 1.0, 1.0],
    [0.1, 0.2, 0.3, 0.4],
    [6.02e23, -1.6e-19, 2.99792458e8, 1.0],
]


def _model_scores(vec: list, centroids: list) -> list:
    """Left-fold float64 dot, ``_py_norm`` norms, sorted (cos, cid) DESC."""
    vn = similarity._py_norm(vec)
    scores = []
    for cid, cvec in centroids:
        acc = 0.0
        for x, y in zip(vec, cvec):
            acc = acc + x * y
        scores.append((acc / (vn * similarity._py_norm(cvec)), cid))
    return sorted(scores, reverse=True)


def _bits(scores) -> list:
    return [(struct.pack("d", cos), cid) for cos, cid in scores]


@pytest.mark.parametrize("row_norm", ["inline", "attribute"])
def test_centroid_scores_bit_identical_to_python_model(spark, row_norm):
    rows = values_df(spark, list(enumerate(_QUERIES)), "i bigint, v array<double>")
    rows = rows.select("i", "v", VX.norm(F.col("v")).alias("n"))
    vnorm = F.col("n") if row_norm == "attribute" else None
    got = {
        r["i"]: [(s["cos"], s["cid"]) for s in r["s"]]
        for r in rows.select(
            "i", similarity._centroid_scores(F.col("v"), _HOSTILE_CENTROIDS, vnorm).alias("s")
        ).collect()
    }
    for i, vec in enumerate(_QUERIES):
        assert _bits(got[i]) == _bits(_model_scores(vec, _HOSTILE_CENTROIDS)), i
    # the tie really is exercised: equal vectors, equal cosines, cid 3 first
    ranked = [cid for _, cid in got[3]]
    assert ranked.index(3) + 1 == ranked.index(2)


# ------------------------------------------------------------------ #
# IVF index artifact key                                              #
# ------------------------------------------------------------------ #
def _repo_callees(fn, seen: set) -> set:
    """Repo functions ``fn`` calls, transitively (names resolved through
    each function's own module globals)."""
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name):
            target = fn.__globals__.get(f.id)
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            target = getattr(fn.__globals__.get(f.value.id), f.attr, None)
        else:
            continue
        if (
            inspect.isfunction(target)
            and target.__module__.startswith("de_polars_spark")
            and target not in seen
        ):
            seen.add(target)
            _repo_callees(target, seen)
    return seen


def test_ivf_index_key_covers_the_centroid_scoring_chain():
    from de_polars_spark.functions.local_relation import literal_column, sql_literal
    from de_polars_spark.inventory import llm_ops

    callees = _repo_callees(similarity._centroid_scores, set())
    # the walk must see through the helper modules, or it proves nothing
    assert {literal_column, sql_literal, similarity._py_norm, VX.dot} <= callees
    keyed = set(llm_ops._ivf_index_impl())
    assert similarity._centroid_scores in keyed
    missing = sorted(f"{f.__module__}.{f.__name__}" for f in callees - keyed)
    assert not missing, f"IVF index key does not cover: {missing}"


def test_ivf_index_key_covers_everything_the_build_calls():
    from de_polars_spark.inventory import llm_ops

    callees = _repo_callees(similarity.build_ivf_index, set())
    assert {similarity._assign_cells, similarity._centroid_scores} <= callees
    keyed = set(llm_ops._ivf_index_impl())
    assert similarity._probe_cells in keyed
    missing = sorted(f"{f.__module__}.{f.__name__}" for f in callees - keyed)
    assert not missing, f"IVF index key does not cover: {missing}"
