"""Tracked persist: bounded cache lifetime for operator-internal caches.

Several pipeline operators persist an intermediate frame that feeds multiple
consumers inside ONE returned plan (e.g. MinHash-LSH's shingle frame feeds
the signature build and both verify sides). The cache must outlive the
operator call — the caller materializes the returned DataFrame later — so the
operator cannot unpersist it itself. Left alone, a long session running
hundreds of such queries accumulates cached blocks until executor storage
memory is all evictable-but-resident garbage.

Contract: operators register internal caches via ``persist_tracked``; batch
drivers (bench.py, test fixtures, long-running jobs) call ``release_caches()``
after materializing each query's result. Spark's LRU would eventually evict
stale blocks under pressure, but explicit release keeps storage memory for
the caches that are actually live.

Builders that write files and return a lazy read of them have the same
problem with disk: the directory must outlive the call. They take it from
``tracked_temp_dir``, and the same ``release_caches()`` / ``tracked_caches()``
calls remove it.
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LIVE_CACHES: list[DataFrame] = []
_LIVE_DIRS: list[str] = []


def persist_tracked(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` + registration for later ``release_caches()``."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _LIVE_CACHES.append(df)
    return df


def tracked_temp_dir(prefix: str) -> str:
    """``tempfile.mkdtemp(prefix=prefix)`` registered for removal by the next
    ``release_caches()`` (or the enclosing ``tracked_caches()`` scope)."""
    path = tempfile.mkdtemp(prefix=prefix)
    _LIVE_DIRS.append(path)
    return path


def _release(caches: list[DataFrame], dirs: list[str]) -> None:
    for df in caches:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped; nothing to release
    for path in dirs:
        shutil.rmtree(path, ignore_errors=True)


def release_caches() -> int:
    """Unpersist every tracked cache (non-blocking) and remove every tracked
    temp dir; returns how many caches."""
    n = len(_LIVE_CACHES)
    _release(_LIVE_CACHES, _LIVE_DIRS)
    _LIVE_CACHES.clear()
    _LIVE_DIRS.clear()
    return n


@contextmanager
def tracked_caches():
    """Scoped release for non-bench callers: caches registered INSIDE the
    block are unpersisted when it closes, without touching caches that were
    already live. Materialize results before the block exits:

        with tracked_caches():
            rows = QUERIES["pipe_bm25"].build(spark, sf).collect()
        # BM25's internal token cache is released here

    Nesting works (inner scopes release only their own registrations), and
    a global ``release_caches()`` remains correct inside or outside a scope
    (already-released frames are skipped harmlessly).
    """
    mark, dir_mark = len(_LIVE_CACHES), len(_LIVE_DIRS)
    try:
        yield
    finally:
        _release(_LIVE_CACHES[mark:], _LIVE_DIRS[dir_mark:])
        del _LIVE_CACHES[mark:]
        del _LIVE_DIRS[dir_mark:]
