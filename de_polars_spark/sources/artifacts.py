"""Content-addressed derived-data artifacts: one way to key and publish them.

Derived datasets (the synthetic CUR, the pinned KPI views, the MinHash pair
graph, IVF indexes, PQ codebooks, the JSONL fixture) are written once under
the repo's ``.cache`` and served from disk afterwards — the reference's
pattern of materializing view results to parquet
(data_partitioner.py:105-142). Every artifact is

- **keyed** by :func:`artifact_path`: the input directory's basename plus an
  md5 over whatever shapes the content (SQL text, parameters, the source of
  the generating functions, the input files' :func:`manifest_tag`), so an
  edit to any of them writes a new artifact instead of serving a stale one;
- **published** by :func:`publish`: built under a private temporary sibling,
  then renamed into place, so a concurrent reader never sees a half-written
  artifact and any completed write is interchangeable with another.

:func:`plan_version` is the in-process counterpart for caches of Spark
results: what a DataFrame's answer depends on, or ``None`` when that cannot
be told. :class:`Memo` is the one in-process cache: a bounded, locked LRU
with hit and miss counts. The API response memo, the IVF cell-assignment
cache and the quantile probe memo are each one ``Memo`` keyed by a
``plan_version`` (the GET routes by the CUR's ``manifest_tag``).
:func:`keep` and :func:`release_cached` are the one list of per-call
persisted frames.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import os
import shutil
import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable, Iterable, Iterator, NamedTuple, Optional
from urllib.parse import urlsplit

#: plan leaves a versioned plan may read: a file scan, versioned by the
#: manifest of its roots, and leaves whose rows are in the plan itself
_FILE_SCAN = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FILES = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
_PURE_LEAVES = {f"org.apache.spark.sql.catalyst.plans.logical.{n}"
                for n in ("LocalRelation", "OneRowRelation", "Range")}


def cache_root() -> str:
    """The repo's ``.cache`` directory, where every artifact lives."""
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(repo, ".cache")


def artifact_path(kind: str, sf_dir: str, *key_parts: str, suffix: str = "") -> str:
    """``<cache>/{kind}_{basename(sf_dir)}_{md5(key_parts)[:8]}{suffix}``.

    The key parts are concatenated before hashing."""
    tag = hashlib.md5("".join(key_parts).encode()).hexdigest()[:8]
    name = f"{kind}_{os.path.basename(os.path.normpath(sf_dir))}_{tag}{suffix}"
    return os.path.join(cache_root(), name)


def manifest_tag(paths: Iterable[str]) -> str:
    """md5 fingerprint of the files under ``paths``: the one way the package
    tells whether input data changed.

    A directory contributes every file below it (relative path, size,
    ``mtime_ns``) from a fresh walk; a file contributes its own size and
    ``mtime_ns``. ``file:`` URIs are stat-ed as local paths; a URI that
    cannot be stat-ed contributes its text alone, which still beats keying
    on nothing."""
    parts = []
    for uri in sorted(paths):
        parts.append(uri)
        path = uri[5:] if uri.startswith("file:") else uri
        if os.path.isdir(path):
            parts.extend(_file_stats(path, ""))
        else:
            with contextlib.suppress(OSError):
                st = os.stat(path)
                parts.append(f":{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()


def _file_stats(path: str, rel: str) -> Iterator[str]:
    """``rel/name:size:mtime_ns`` of every file below ``path``, sorted;
    whatever is deleted mid-walk is skipped (the next walk sees it gone)."""
    try:
        with os.scandir(path) as it:
            entries = sorted(it, key=lambda e: e.name)
    except FileNotFoundError:
        return
    for entry in entries:
        if entry.is_dir():
            yield from _file_stats(entry.path, f"{rel}{entry.name}/")
            continue
        try:
            st = entry.stat()
        except FileNotFoundError:
            continue
        yield f"{rel}{entry.name}:{st.st_size}:{st.st_mtime_ns}"


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def publish(path: str, build: Callable[[str], object]) -> str:
    """Make ``path`` exist and return it.

    If it is missing, ``build(tmp)`` writes the artifact (a directory or a
    file) to a temporary sibling private to this process and thread, which
    is then renamed to ``path``. When another writer published first, the
    rename fails and this writer's copy is deleted; a failed build leaves no
    temporary behind either."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
    _remove(tmp)
    try:
        build(tmp)
        os.rename(tmp, path)
    except BaseException as exc:
        _remove(tmp)
        # a rename refused because another writer published first is fine
        if not (isinstance(exc, OSError) and os.path.exists(path)):
            raise
    return path


class _SameResult:
    """A plan in a cache key: hashed by its ``semanticHash``, equal to any
    plan it ``sameResult``s with, so the hash only picks the bucket."""

    __slots__ = ("plan", "_hash")

    def __init__(self, plan):
        self.plan = plan
        self._hash = plan.semanticHash()

    def __hash__(self) -> int:
        return self._hash

    def __eq__(self, other) -> bool:
        return isinstance(other, _SameResult) and self.plan.sameResult(other.plan)


class PlanVersion(NamedTuple):
    """What a DataFrame's answer depends on (:func:`plan_version`)."""

    plan: _SameResult
    #: ``manifest_tag`` of every file root the plan reads
    files: str
    #: the bytes in Spark's listing of each file scan, one per scan
    listed: tuple
    #: md5 of the session's SQL conf
    conf: str


def _seq(seq) -> list:
    """A Scala ``Seq`` behind py4j as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


@functools.lru_cache(maxsize=None)
def _clock_pattern(jvm):
    """The ``CURRENT_LIKE`` tree pattern, resolved once per JVM: a py4j
    class lookup costs a round trip per package."""
    return jvm.org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE()


def plan_version(df) -> Optional[PlanVersion]:
    """The data version of ``df``'s answer, or ``None`` when it cannot be
    told and the answer must be computed fresh.

    It holds the OPTIMIZED plan, compared with ``sameResult`` (the analyzer
    has seeded ``rand()`` and the like into it). Refused: a plan or
    subquery that is not deterministic, a plan that reads the clock, and
    any leaf but a file scan over local files, a ``LocalRelation``, a
    ``OneRowRelation`` or a ``Range`` (not an RDD, a cached table, a DSv2
    source or a shared CTE), since only those are versioned. Plans over the
    same file roots are equal whatever the files hold, so the version holds
    the roots' ``manifest_tag``, and the bytes in each scan's file listing:
    that listing is the one taken when the DataFrame was read, so files
    that land after it give another version once it is read again. The
    session's SQL conf is digested: not every conf that changes an answer
    shows in the plan (``timeParserPolicy``)."""
    qe = df._jdf.queryExecution()
    plan, analyzed = qe.optimizedPlan(), qe.analyzed()
    plans = [plan, *_seq(plan.subqueriesAll())]
    if not all(p.deterministic() for p in plans):
        return None
    clock = _clock_pattern(df.sparkSession._jvm)
    if any(p.containsPattern(clock) for p in [analyzed, *_seq(analyzed.subqueriesAll())]):
        return None
    roots: list[str] = []
    listed: list[int] = []
    for leaf in (leaf for p in plans for leaf in _seq(p.collectLeaves())):
        kind = leaf.getClass().getName()
        if kind == _FILE_SCAN:
            relation = leaf.relation()
            if relation.getClass().getName() != _FILES:
                return None
            location = relation.location()
            roots += location.rootPaths().mkString("\n").split("\n")
            listed.append(location.sizeInBytes())
        elif kind not in _PURE_LEAVES:
            return None
    if any(urlsplit(root).scheme not in ("", "file") for root in roots):
        return None
    conf = df.sparkSession._jsparkSession.sessionState().conf().getAllConfs()
    return PlanVersion(_SameResult(plan), manifest_tag(roots), tuple(listed),
                       hashlib.md5(conf.toString().encode()).hexdigest())


class Memo:
    """A bounded in-process LRU, safe across threads.

    :meth:`get` counts a hit or a miss; :meth:`put` keeps the first value
    stored under a key, so racing writers agree on one. Entries past
    ``maxsize`` leave least recently used first, and every entry that
    leaves (by eviction or :meth:`clear`) is passed to ``on_evict``, outside
    the lock. ``None`` is never a stored value: it is what a miss reads."""

    def __init__(self, maxsize: int, on_evict: Optional[Callable[[Any], object]] = None):
        self.maxsize = maxsize
        self.on_evict = on_evict or (lambda value: None)
        self.hits = self.misses = 0
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key: Hashable) -> Any:
        """The value stored under ``key``, made most recently used, or
        ``None``."""
        with self._lock:
            value = self._entries.get(key)
            if value is None:
                self.misses += 1
            else:
                self.hits += 1
                self._entries.move_to_end(key)
        return value

    def put(self, key: Hashable, value: Any) -> Any:
        """Store ``value`` unless ``key`` holds one already; returns the
        value that is stored."""
        with self._lock:
            stored = self._entries.setdefault(key, value)
            self._entries.move_to_end(key)
            evicted = [self._entries.popitem(last=False)[1]
                       for _ in range(len(self._entries) - self.maxsize)]
        for old in evicted:
            self.on_evict(old)
        return stored

    def clear(self) -> int:
        """Drop every entry; returns how many there were."""
        with self._lock:
            evicted = list(self._entries.values())
            self._entries.clear()
        for old in evicted:
            self.on_evict(old)
        return len(evicted)

    def info(self) -> dict:
        with self._lock:
            return {"hits": self.hits, "misses": self.misses,
                    "size": len(self._entries), "maxsize": self.maxsize}


def unpersist(df) -> bool:
    """``df.unpersist()``; ``False`` when its session is gone (and its
    blocks with it)."""
    try:
        df.unpersist()
        return True
    except Exception:
        return False


#: frames persisted for the length of one call (:func:`keep`)
_KEPT: list = []


def keep(df):
    """``df.persist()``, remembered until :func:`release_cached`: for an
    intermediate that several branches of one query read."""
    _KEPT.append(df.persist())
    return df


def release_cached() -> int:
    """Unpersist every frame :func:`keep` persisted; returns how many were
    released. Call it between jobs in a long session, while none runs.
    The IVF cache is not released here (``similarity.clear_ivf_cache``)."""
    n = 0
    while _KEPT:
        n += unpersist(_KEPT.pop())
    return n
