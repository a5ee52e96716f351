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
    """Unpersist every tracked DataFrame; returns how many were
    released. Safe to call repeatedly — unpersist on a non-cached frame
    is a no-op."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
