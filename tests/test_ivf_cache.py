"""The IVF cell-assignment cache behind ``operators/similarity.ivf_topk``:
an assigned corpus is reused while its files, listing, SQL conf, plan and
centroids stay the same, and computed again when any of them changes."""

from __future__ import annotations

import math
import os
import random
import shutil
import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from de_polars_spark.operators import similarity

SCHEMA = "vec_id long, embedding array<double>"
CENTS = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.5])]


@pytest.fixture(autouse=True)
def empty_cache(monkeypatch):
    """Each test starts with an empty cache and zeroed counters."""
    similarity.clear_ivf_cache()
    monkeypatch.setattr(similarity._IVF_MEMO, "hits", 0)
    monkeypatch.setattr(similarity._IVF_MEMO, "misses", 0)
    yield
    similarity.clear_ivf_cache()


def _rows(seed: int, ids) -> list:
    rng = random.Random(seed)
    return [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in ids]


def _write(spark, path: str, rows: list, mode: str = "overwrite") -> None:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(mode).parquet(path)


def _crc(path: str) -> str:
    return os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")


def _part(path: str) -> str:
    return os.path.join(path, next(n for n in sorted(os.listdir(path))
                                   if n.endswith(".parquet")))


@pytest.fixture()
def corpus_dir(spark, tmp_path):
    path = str(tmp_path / "emb")
    _write(spark, path, _rows(1, range(40)))
    return path


@pytest.fixture()
def queries(spark):
    return spark.createDataFrame(_rows(2, range(100, 104)), SCHEMA)


def _topk(corpus, queries, cents=CENTS) -> list:
    out = similarity.ivf_topk(corpus, queries, "vec_id", "embedding", cents, k=3, nprobe=2)
    return sorted(map(tuple, out.collect()))


def _fresh(corpus, queries, cents=CENTS) -> list:
    """The same answer computed without the cache."""
    postings = similarity._assign_cells(corpus, "vec_id", "embedding", cents)
    out = similarity.ivf_topk_from_index(postings, cents, queries, "vec_id", "embedding",
                                         k=3, nprobe=2)
    return sorted(map(tuple, out.collect()))


def _counts() -> tuple:
    info = similarity.ivf_cache_info()
    return info["hits"], info["misses"], info["size"]


def _stored(corpus, cents=CENTS):
    """The cached assignment of ``corpus`` (counts as a hit)."""
    return similarity._assigned_corpus(corpus, "vec_id", "embedding", cents)


def test_hit_equals_a_fresh_computation(spark, corpus_dir, queries):
    corpus = spark.read.parquet(corpus_dir)
    first = _topk(corpus, queries)
    second = _topk(spark.read.parquet(corpus_dir), queries)
    assert _counts() == (1, 1, 1)
    assert first == second == _fresh(corpus, queries)
    assert len(first) == 12


def test_hit_reads_the_cached_assignment_not_the_file(spark, corpus_dir, queries):
    corpus = spark.read.parquet(corpus_dir)
    first = _topk(corpus, queries)
    out = similarity.ivf_topk(corpus, queries, "vec_id", "embedding", CENTS, k=3, nprobe=2)
    assert "InMemoryRelation" in out._jdf.queryExecution().optimizedPlan().toString()
    # the key is taken; with the corpus file gone, only the cache can answer
    os.remove(_part(corpus_dir))
    assert sorted(map(tuple, out.collect())) == first


def test_appended_file_misses_with_the_new_answer(spark, corpus_dir, queries):
    before = _topk(spark.read.parquet(corpus_dir), queries)
    _write(spark, corpus_dir, _rows(2, range(200, 204)), mode="append")
    corpus = spark.read.parquet(corpus_dir)
    after = _topk(corpus, queries)
    assert _counts() == (0, 2, 2)
    assert after == _fresh(corpus, queries) != before


def test_file_rewritten_in_place_misses_with_the_new_answer(spark, corpus_dir, queries,
                                                            tmp_path):
    before = _topk(spark.read.parquet(corpus_dir), queries)
    other = str(tmp_path / "other")
    _write(spark, other, _rows(3, range(40)))
    src, dst = _part(other), _part(corpus_dir)
    for a, b in ((src, dst), (_crc(src), _crc(dst))):
        shutil.copyfile(a, b)
    corpus = spark.read.parquet(corpus_dir)
    after = _topk(corpus, queries)
    assert _counts() == (0, 2, 2)
    assert after == _fresh(corpus, queries) != before


def test_changed_centroids_or_one_changed_bit_miss(spark, corpus_dir, queries):
    corpus = spark.read.parquet(corpus_dir)
    nudged = [(cid, list(v)) for cid, v in CENTS]
    nudged[1][1][0] = math.nextafter(nudged[1][1][0], 1.0)
    moved = [(cid, [x * 0.5 + 0.1 for x in v]) for cid, v in CENTS]
    for cents in (CENTS, nudged, moved):
        assert _topk(corpus, queries, cents) == _fresh(corpus, queries, cents)
    assert _counts() == (0, 3, 3)


@pytest.mark.parametrize("kind", ["createDataFrame", "range", "rand-filtered file"])
def test_corpora_without_a_versioned_file_scan_bypass(spark, corpus_dir, queries, kind):
    if kind == "createDataFrame":
        corpus = spark.createDataFrame(_rows(1, range(40)), SCHEMA)
    elif kind == "range":
        corpus = spark.range(40).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.sin(F.col("id") + i) for i in range(4)]).alias("embedding"))
    else:
        corpus = spark.read.parquet(corpus_dir).filter(F.rand(7) < 0.7)
    assert _topk(corpus, queries) == _topk(corpus, queries) == _fresh(corpus, queries)
    assert _counts() == (0, 0, 0)


def test_the_entry_stays_until_clear_unpersists_it(spark, corpus_dir, queries):
    corpus = spark.read.parquet(corpus_dir)
    _topk(corpus, queries)
    assert _counts()[2] == 1
    stored = _stored(corpus)
    assert stored.storageLevel != StorageLevel.NONE
    assert similarity.clear_ivf_cache() == 1
    assert _counts()[2] == 0 and stored.storageLevel == StorageLevel.NONE


def test_lru_evicts_and_unpersists_the_least_recently_used(spark, corpus_dir, queries,
                                                           monkeypatch):
    monkeypatch.setattr(similarity._IVF_MEMO, "maxsize", 2)
    corpus = spark.read.parquet(corpus_dir)
    tables = [[(cid, [x + d for x in v]) for cid, v in CENTS] for d in (0.0, 0.25, 0.5)]
    oldest = _stored(corpus, tables[0])
    _stored(corpus, tables[1])
    assert oldest.storageLevel != StorageLevel.NONE
    newest = _stored(corpus, tables[2])
    assert _counts() == (0, 3, 2)
    assert oldest.storageLevel == StorageLevel.NONE
    assert newest.storageLevel != StorageLevel.NONE
    assert _topk(corpus, queries, tables[0]) == _fresh(corpus, queries, tables[0])


def test_racing_threads_agree_and_store_one_entry(spark, corpus_dir, queries):
    corpus = spark.read.parquet(corpus_dir)
    start = threading.Barrier(4)
    outs: list = []

    def race():
        start.wait()
        outs.append(_topk(corpus, queries))

    threads = [threading.Thread(target=race) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    hits, misses, size = _counts()
    assert len(outs) == 4 and all(o == outs[0] for o in outs)
    assert outs[0] == _fresh(corpus, queries)
    assert size == 1 and hits + misses == 4 and misses >= 1
    assert _stored(corpus).storageLevel != StorageLevel.NONE
