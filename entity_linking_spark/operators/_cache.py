"""Tracked persist + release for operator intermediates.

Operators persist intermediates that their returned (lazy) plans consume
several times (blocking key streams, packed embedding sides, dedup
signatures).  Left alone, those caches outlive the query — a slow leak in
a long-lived session (VERDICT r02 finding #4 / ADVICE r02).  Every
operator persist goes through ``track``, so callers can either

- wrap a unit of work in ``cache_scope()`` — the ``with``-style lifetime:
  everything tracked inside the scope is unpersisted on exit — or
- call ``release_cached()`` between queries (bench.py does this after
  each headline query's sink action).

Releasing is safe at any point: an unpersisted plan recomputes instead of
failing, so a scope that closes "too early" only costs recompute time,
never correctness.  One-shot jobs that exit the JVM after a single query
need neither.

WHAT IS TRACKED: ``track`` covers ``persist`` — frames an operator reuses
inside one plan.  It does NOT cover lineage cuts: the input cut and
the distributed rounds of ``connected_components`` and the stage outputs
of ``clean_corpus`` are ``localCheckpoint`` RDDs that Spark's
ContextCleaner unpersists once nothing references them (a small graph's
CC result is a driver-built Arrow relation, holding nothing at all).  A
scope never releases them, and a frame built on a cut keeps its data
after the scope closes (a
persist does not shorten the logical plan; a cut does, which is why a
multi-stage composition cuts instead of persisting).

THREADING (ADVICE r03): the registry is ``threading.local`` — drivers
that submit jobs from parallel threads (a normal Spark pattern) get one
independent registry per thread, so concurrent ``cache_scope()`` blocks
can no longer interleave their position marks and unpersist each other's
frames.  Corollary: ``release_cached()`` / scope exit only releases
frames tracked ON THE SAME THREAD — build and release an operator's
plan on one thread.  A thread that tracks outside any scope and never
calls ``release_cached()`` holds its frames until the thread (or
session) dies, exactly like a bare ``.persist()`` would.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LOCAL = threading.local()


def _tracked() -> list[DataFrame]:
    lst = getattr(_LOCAL, "tracked", None)
    if lst is None:
        lst = _LOCAL.tracked = []
    return lst


def track(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)`` + register for later release; returns df.

    Double-tracking the same frame is harmless (persist at the same level
    is a no-op; the extra unpersist is too)."""
    df = df.persist(level)
    _tracked().append(df)
    return df


def release_cached() -> int:
    """Unpersist every frame tracked on THIS thread; returns the count."""
    n = len(_tracked())
    _release_to(0)
    return n


def _release_to(mark: int) -> None:
    lst = _tracked()
    while len(lst) > mark:
        df = lst.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to leak


@contextmanager
def cache_scope():
    """Release (only) the frames tracked inside the scope on exit.

    Materialize results before the scope closes (collect/write) — after
    exit the returned plan still works but recomputes its intermediates.
    Scopes are per-thread (see module docstring): a scope never touches
    frames tracked by other threads."""
    mark = len(_tracked())
    try:
        yield
    finally:
        _release_to(mark)
