"""Session-scoped registry for operator-internal persists (r13, guide §5).

Many operators persist a shared subtree so that multiple consumers inside
ONE query plan read a single materialization (the r12 optimization round's
main pattern). Within a query that is correct; but operators return lazy
DataFrames, so they cannot unpersist before the caller materializes the
result — and a long-lived session that runs many queries (the bench's
174-query session, a notebook, the streaming loops) accumulates every
such cache. Measured r12: pinned storage + block-manager bookkeeping from
~10² stale entries dragged late-bench-order queries 1.5-2× at 32 cores
(q_ivfpq_topk 11.2 s vs 5.1 s at 8 cores, where the same caches fit).

The fix is a cache SCOPE: operators register their persists here via
``scoped_persist``; the scope is released — every registered frame
unpersisted — when the next top-level query build begins (queries.py
wraps every registered query with ``release_scope``) or when a streaming
batch completes. Releasing before the next build means each query runs
with exactly its own caches warm, and a session holds at most one
query's worth of pinned storage. Unpersisting is always semantically
safe: a consumer materialized later simply recomputes from lineage —
so only pure-optimization persists belong here (a load-bearing cache,
as in ``sources/jsonl.quarantine_split``, is a checkpoint instead). Each
call site persists unconditionally; there is no size or lineage policy.

Nothing here caches data across runs — ``scoped_persist`` only persists
frames computed inside the running query, and the scope makes their
lifetime SHORTER than the unscoped ``.persist()`` it replaces.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

# SparkSession -> list of persisted DataFrames awaiting release. Weak keys:
# a GC'd session drops its entries (its caches died with the session).
_SCOPES: "weakref.WeakKeyDictionary[SparkSession, list[DataFrame]]" = (
    weakref.WeakKeyDictionary())


def scoped_persist(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + register for release at the next query boundary."""
    out = df.persist() if storage_level is None else df.persist(storage_level)
    _SCOPES.setdefault(out.sparkSession, []).append(out)
    return out


def release_scope(spark: SparkSession) -> int:
    """Unpersist every frame registered for this session; returns the
    count. Async (blocking=False): removal is block-manager bookkeeping,
    not a job. Safe to call at any time — consumers recompute."""
    frames = _SCOPES.pop(spark, None) or []
    for f in frames:
        try:
            f.unpersist(False)
        except Exception:  # noqa: BLE001 — release must never fail a query
            pass
    return len(frames)
