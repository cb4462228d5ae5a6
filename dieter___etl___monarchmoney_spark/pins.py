"""The one place the package caches and releases intermediates.

An operator caches an intermediate when several branches of the plan it
returns read it (the reference gets the same sharing for free: its
remote server answers every branch of a report from one request). The
returned frame is lazy, so the operator cannot release what it cached;
it records the cache here instead, and whoever consumes the frame
releases it:

- :func:`pin` persists a frame; :func:`checkpoint` takes an eager,
  lineage-truncating ``localCheckpoint`` and records its RDD id;
- a builder whose cache is consumed before it returns takes its pins
  inside :func:`scope`, which releases them on exit;
- every other pin waits for :func:`release`. The registry's ``@query``
  wrapper calls it on entry, so a registry call frees the previous
  call's pins; harnesses call it after their last action.

Release is explicit because neither kind of pin is garbage collected in
time: a ``persist()`` lives in the JVM CacheManager until an
``unpersist()`` (dropping the Python frame never frees it), and a
checkpoint's blocks are not CacheManager entries at all (``unpersist()``
on the frame is a no-op), so the ContextCleaner frees them only after
both the Python and JVM references have been collected. Only caches
taken here are released; a cache the caller made is never touched.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import DataFrame


@dataclass(frozen=True)
class _Pin:
    sc: SparkContext
    free: Callable[[], object]


#: pins taken outside any scope, released by :func:`release`
_unscoped: list[_Pin] = []
#: the pin lists of the open scopes, innermost last
_scopes: list[list[_Pin]] = []


def _record(sc: SparkContext, free: Callable[[], object], outer: bool = False) -> None:
    levels = [_unscoped, *_scopes]
    levels[-2 if outer and _scopes else -1].append(_Pin(sc, free))


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and record it for release. A frame whose plan is
    already cached is returned as is and not recorded: that cache
    belongs to whoever made it."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df
    df = df.persist()
    _record(df.sparkSession.sparkContext, df.unpersist)
    return df


def checkpoint(df: DataFrame, *, outer: bool = False) -> DataFrame:
    """An eager ``localCheckpoint`` of ``df``, recorded for release by
    its RDD id. Every consumer reads the same blocks and the lineage is
    gone, so nothing is ever silently recomputed: reading it after its
    release fails loudly. Raises at once if the checkpointed RDD cannot
    be found, rather than leaking it.

    ``outer=True`` records it one level out (in the enclosing scope, or
    for :func:`release`), so it outlives the innermost scope: for a loop
    that runs inside a scope and returns its last checkpoint."""
    cp = df.localCheckpoint(eager=True)
    sc = cp.sparkSession.sparkContext
    # the eager checkpoint leaves a LogicalRDD over the checkpointed RDD
    # as the frame's whole plan
    rdd_id = cp._jdf.queryExecution().analyzed().rdd().id()
    if sc._jsc.getPersistentRDDs().get(rdd_id) is None:
        raise RuntimeError(f"localCheckpoint RDD {rdd_id} is not persisted")

    def free() -> None:
        rdd = sc._jsc.getPersistentRDDs().get(rdd_id)
        if rdd is not None:
            rdd.unpersist(False)

    _record(sc, free, outer)
    return cp


def _release(held: list[_Pin]) -> int:
    """Release and forget every pin in ``held``; return how many were
    released. A pin of a stopped session is dropped (its blocks went
    with the session). Any other failure is raised once every other pin
    has been released, so one bad pin never leaks the rest."""
    n, errors = 0, []
    while held:
        p = held.pop()
        if p.sc._jsc is None:  # SparkContext.stop() clears it
            continue
        try:
            p.free()
            n += 1
        except Exception as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)
    if errors:
        raise RuntimeError(
            f"{len(errors)} of {n + len(errors)} pins failed to release"
        ) from errors[0]
    return n


@contextmanager
def scope() -> Iterator[None]:
    """Release, on exit, every pin taken inside the block."""
    held: list[_Pin] = []
    _scopes.append(held)
    try:
        yield
    finally:
        _scopes.pop()
        _release(held)


def release() -> int:
    """Release every pin taken outside a scope since the last call and
    return how many were released. Call it after the actions that read
    the pinned frames: an action after the release recomputes a
    persisted input and fails on a released checkpoint."""
    return _release(_unscoped)
