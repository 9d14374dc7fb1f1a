"""SparkSession factory with scale-ready defaults.

Defaults are chosen for correctness against a UTC-naive oracle (session
timezone pinned to UTC) and for large-cluster behavior: AQE on (runtime
join-strategy switches, partition coalescing, skew-join splitting),
Arrow-accelerated Python interchange, and shuffle partitions sized by the
caller (local[N] tests pass N; a 1000-executor deployment would raise it
or rely on AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import Callable, Hashable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

_DEFAULTS: dict[str, str] = {
    # AQE: re-plan at runtime — broadcast switch, partition coalesce, skew split.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas()/pandas_udf transfer (reference used Arrow-first
    # result transfer, duckdb_engine.py:289-306).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic comparisons vs UTC-naive engines (DuckDB oracle).
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: match DuckDB's permissive casts in translated SQL.
    "spark.sql.ansi.enabled": "false",
    # 100 TB posture: cap single-file partition splits so scans parallelize;
    # keep broadcast threshold generous — dims here are tiny vs the fact table.
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB
    "spark.sql.autoBroadcastJoinThreshold": "67108864",  # 64 MiB
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Split generated expression code into sub-methods earlier (default
    # 1024 bytes): the KPI view chain's wide CASE-ladder projections fused
    # into aggregate stages exceed the JVM's 64 KB method limit at the
    # default, silently falling back to interpreted (non-codegen)
    # evaluation — measured 2-5x slower on kpi_tracker. 256 keeps every
    # generated method compilable (and under HotSpot's JIT inline limit).
    "spark.sql.codegen.methodSplitThreshold": "256",
}


def session_size() -> tuple[int, str]:
    """(task slots, driver memory) for a local session on this machine.

    One slot per core this process may run on and half the physical
    memory for the driver, leaving the rest to the Python workers and the
    OS. ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override them."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        mem = f"{max(1024, phys_mb // 2)}m"
    return cpus, mem


def get_spark(
    app_name: str = "de_polars_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[N]`` with N from :func:`session_size`;
    on a cluster, leave unset and submit normally.
    """
    cpus, driver_mem = session_size()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.setdefault("spark.driver.memory", driver_mem)
    conf.setdefault("spark.ui.enabled", "false")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def new_session(parent: SparkSession) -> SparkSession:
    """A session of its own on ``parent``'s SparkContext (its own temp
    views, functions and SQL conf) whose conf starts as a copy of
    ``parent``'s.

    ``newSession()`` alone starts from the SparkContext's conf. That holds
    what :func:`get_spark` sets only when get_spark made the context;
    after another builder made it, a bare new session would have ANSI on,
    Spark's default shuffle width and codegen split threshold."""
    child = parent.newSession()
    theirs = child.conf.getAll
    for key, value in parent.conf.getAll.items():
        if theirs.get(key) != value and child.conf.isModifiable(key):
            child.conf.set(key, value)
    return child


#: session -> {key: (source, value)} (:func:`registered`)
_REGISTRY: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
_REGISTRY_LOCK = threading.Lock()


def registered(spark: SparkSession, key: str, source: Hashable,
               register: Callable[[], T]) -> T:
    """What ``register()`` returned when it last registered ``key`` in
    ``spark`` from ``source``; it runs again when the source differs.

    A session keeps one entry per key, the last source only, so a switch
    A -> B -> A registers again each time: the temp view names are shared.
    The entries are weakly keyed by the session object and go with it, so
    two sessions of one application each register their own views and
    conf, and no entry outlives its session to be found by another."""
    with _REGISTRY_LOCK:
        entries = _REGISTRY.setdefault(spark, {})
    entry = entries.get(key)
    if entry is not None and entry[0] == source:
        return entry[1]
    value = register()
    entries[key] = (source, value)
    return value


def forget(spark: SparkSession, key: str) -> None:
    """Drop ``spark``'s entry for ``key``: the next :func:`registered`
    call registers again."""
    with _REGISTRY_LOCK:
        _REGISTRY.get(spark, {}).pop(key, None)
