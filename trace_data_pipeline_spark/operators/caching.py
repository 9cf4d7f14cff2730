"""Tracked persist: cache reused subframes without leaking them.

Spark has no cross-branch common-subplan reuse, so a frame feeding
several consumers (a shingle index, a hot-key diagnostic) must be
`.persist()`-ed — but a catalog entry returns a *lazy* DataFrame, so
the entry itself has no "after the action" point to unpersist at. In a
long-lived session those caches accumulate.

`tracked_persist` registers every cache it creates; the driver of the
session (bench.py between queries, run.py at pipeline end, a notebook
user at will) calls `release_caches()` once the consuming actions are
done. The registry holds STRONG references on purpose: the persisting
call site is usually a catalog builder whose local Python wrapper dies
on return, while the JVM CacheManager entry survives — a weakref would
be dead before release time and the cache would leak for the session
lifetime. The registry is the lifecycle owner; `release_caches()` pops
(and thereby drops) every reference it releases.
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_LOCAL = threading.local()
_RELEASE_HOOKS: list = []


def register_release_hook(fn) -> None:
    """Register a zero-arg callable run by every `release_caches()`
    sweep — for operators whose builders materialize state OUTSIDE the
    Spark cache manager (e.g. the a1s streaming replay's per-session
    memo) and must drop it at the same query boundary so repeated
    measurements stay independent. Idempotent per function object."""
    if fn not in _RELEASE_HOOKS:
        _RELEASE_HOOKS.append(fn)


def tracked_persist(df: DataFrame) -> DataFrame:
    """`df.persist()` + registration for later release: into the
    CURRENT THREAD's innermost `scoped_caches` if one is active (the
    scope owns and releases those frames), else the session-global
    registry drained by `release_caches()`."""
    df = df.persist()
    scopes = getattr(_LOCAL, "scopes", None)
    if scopes:
        scopes[-1].append(df)
    else:
        _TRACKED.append(df)
    return df


class scoped_caches:
    """Context manager releasing ONLY the frames tracked inside its
    body ON THIS THREAD — for callers embedded in a larger live session
    (a streaming foreachBatch sink, a library routine) where the global
    `release_caches()` sweep would also free checkpoint blocks owned by
    unrelated in-flight work (those have truncated lineage and cannot
    be recomputed — see release_caches' contract).

    Thread discipline: the scope is a THREAD-LOCAL collector, so two
    concurrent sinks on one session (each foreachBatch runs on its own
    thread) cannot release each other's frames, and tracked_persist
    calls from other threads keep flowing to the global registry — a
    global length-mark scheme would free whatever any thread tracked
    during the window. Scoped frames never enter the global registry,
    so release_caches' tracked drain cannot double-release them (its
    final whole-session RDD sweep remains global by contract)."""

    def __enter__(self):
        if not hasattr(_LOCAL, "scopes"):
            _LOCAL.scopes = []
        self._frames: list[DataFrame] = []
        _LOCAL.scopes.append(self._frames)
        return self

    def __exit__(self, *exc):
        _LOCAL.scopes.pop()
        for df in self._frames:
            try:
                df.unpersist()
            except Py4JError:  # session already stopped — nothing to free
                pass
        self._frames.clear()
        return False


def release_caches() -> int:
    """Unpersist every tracked frame, then sweep any remaining
    persistent RDD blocks (e.g. eager-localCheckpoint storage, which
    DataFrame.unpersist cannot reach); returns how many tracked frames
    were released. The sweep keeps a long-lived session leak-free even
    when an operator's checkpoint lineage outlives its query.

    CONTRACT: call at a query boundary, after every result you intend
    to reuse has been fully consumed. The sweep frees localCheckpoint
    blocks of frames the caller may still hold — such a frame has
    truncated lineage and CANNOT be recomputed, so its next action
    fails with a missing-block error (a plain `.persist()`-ed frame
    merely re-materializes). bench.py between queries and run.py at
    pipeline end satisfy this; do not call it mid-query."""
    released = 0
    spark = None
    for hook in _RELEASE_HOOKS:
        try:
            hook()
        except Exception:  # a hook must never block the sweep
            pass
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            spark = df.sparkSession
            df.unpersist()
            released += 1
        except Py4JError:  # session already stopped — nothing to free
            pass
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    # a stopped session's context has dropped its Java handle
    if spark is not None and spark.sparkContext._jsc is not None:
        sc = spark.sparkContext
        try:
            unpersist_rdd_ids(sc, persistent_rdd_ids(sc))
        except Py4JError:  # session stopped mid-sweep — nothing to free
            pass
    return released


def persistent_rdd_ids(sc) -> set[int]:
    """Ids of all RDDs currently holding storage blocks (includes the
    RDDs backing localCheckpoints, which DataFrame.unpersist cannot
    reach). Single owner of the private-JVM getPersistentRDDs walk —
    release_caches' final sweep and connected_components' per-round
    checkpoint hygiene both route through here."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdd_ids(sc, ids: set[int]) -> None:
    """Free the storage blocks of the given RDD ids (non-blocking)."""
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)
