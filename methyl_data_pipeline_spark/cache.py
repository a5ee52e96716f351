"""Tracked persist: library operators cache intermediates whose
lifetime outlives the function that created them (the returned lazy
DataFrame still references them), so they cannot unpersist eagerly.
Instead every such persist registers here, and harnesses (bench, the
pipeline runner, long-lived sessions) release them at a safe point —
after the dependent action has run — with :func:`release_all`.

Without this, a session that runs many limma/ComBat/LSH queries
accumulates storage-memory blocks until Spark's LRU eviction starts
churning (VERDICT r2, "cache leak"). A reuse point whose lineage must
not be re-planned per reference is cut instead (:func:`cut`).
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame

# Strong refs, cleared by release_all: the JVM-side cache outlives the
# Python wrapper, so a WeakSet would drop the handle (and the ability
# to unpersist) as soon as the caller's variable goes out of scope.
_TRACKED: list[DataFrame] = []


def track(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` and register it for later :func:`release_all`."""
    persisted = df.persist(storage_level) if storage_level is not None else df.persist()
    _TRACKED.append(persisted)
    return persisted


def cut(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Materialize ``df`` and truncate its lineage, so every later
    reference reads a block scan. ``persist()`` is not enough at a
    reuse point referenced many times: each reference re-inlines the
    cached frame's whole logical subtree (CCNet's composed plan
    measured 991 exchanges / 288 broadcast joins — ~30 s of pure
    Catalyst analysis before the first task).

    ``reliable=True`` writes to the configured checkpoint dir (survives
    executor loss, as dynamic allocation needs); the default keeps
    executor-local blocks, the right trade on a stable cluster. Not
    tracked: ``unpersist`` does not free checkpoint blocks (only
    cache-manager entries); ContextCleaner does once the references
    drop."""
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)


def release_all(blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame, then hand the JVM the handles
    Python has dropped (:func:`_send_dropped_handles`); returns how many
    frames were unpersisted. Safe to call repeatedly — unpersist on a
    non-cached frame is a no-op."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _send_dropped_handles()
    return n


def _send_dropped_handles() -> None:
    """Release on the JVM, from this thread, every object whose Python
    handle is gone.

    A dropped DataFrame's handle often sits in a reference cycle (py4j
    caches a JavaMember on its JavaObject, and the member points back),
    so only the cycle collector frees it; 50-70 of a methyl run's
    handles are freed that way, in about 0.07 s. py4j then queues their
    releases for a finalizer thread that sleeps a second whenever its
    queue is empty, so a run's last DataFrames stay pinned on the JVM,
    with their checkpoint blocks and broadcast hash relations (one 64 MB
    page each at the default page size), for up to a second after the
    run. Whether a following GC sees them as garbage then depends on
    that thread's phase: on the methyl_dmp benchmark the heap read after
    the run settled at 79 MB in most runs and at 221-292 MB in about one
    run in four. Sent here, they are released when this returns (about
    100 handles per methyl run)."""
    from pyspark import SparkContext

    gc.collect()
    client = getattr(SparkContext._gateway, "_gateway_client", None)
    pending = getattr(client, "finalizer_deque", None)
    if pending is None:  # no gateway, or py4j releases synchronously
        return
    while True:
        try:
            task = pending.pop()
        except IndexError:
            return
        if not isinstance(task, tuple):  # the worker's shutdown marker
            pending.append(task)
            return
        java_client, target_id = task
        java_client.garbage_collect_object(target_id, enqueue=False)
