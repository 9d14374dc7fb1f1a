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
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import threading
from typing import Callable, Iterable, Iterator


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
