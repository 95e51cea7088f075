"""Session-scoped materialized relations (build-once, reference-many).

persist() + temp view is NOT enough for relations that are self-joined or
referenced from several branches of one plan: Catalyst's cache substitution
silently fails when a cached plan containing a Generate (explode/posexplode)
is self-joined — the analyzer's relation dedup re-ids the generator output
before the cache lookup — so every reference re-runs the full upstream
pipeline. localCheckpoint() materializes to a leaf plan (LogicalRDD) that
every reference scans directly.

At cluster scale the equivalent is writing the relation to storage once
(functions/scale.py::write_bucketed on the join key) and scanning it
thereafter; this memo is the session-lifetime form of that artifact.

Keyed on SparkSession identity (not applicationId): a checkpointed DataFrame
is bound to the session that built it — ``newSession()`` in the same
application has its own catalog and must not be handed a foreign DataFrame.
The value keeps a strong reference to the session, so CPython cannot recycle
the id() for a new session while the entry is alive. Assumes the inputs the
builder reads are immutable for the session's lifetime (true for the
driver's read-only fixtures and for driver-side literals).

Locking is per key. A short global lock guards the memo dicts: without it,
stale-entry eviction iterates a dict while another thread inserts
(RuntimeError). Each key's build runs under that key's own lock, so of the
threads asking for one relation (the driver runs queries at 5- and 32-way
parallelism) one builds and the rest wait and reuse it, while a slow build
no longer holds up threads that want other keys.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_Memo = dict[tuple[int, str], tuple[SparkSession, DataFrame]]

_CACHE: _Memo = {}
_PCACHE: _Memo = {}
# guards both memo dicts and _KEY_LOCKS; never held across a build
_LOCK = threading.Lock()
# RLock, not Lock: a build function may itself call materialized() for its
# inputs (dedup_clusters materializes the minhash pair relation, whose
# build materializes the LSH index relations). Such nesting follows the
# build's input graph, which has no cycle, so two threads never wait on
# each other's key.
_KEY_LOCKS: dict[tuple[int, int, str], threading.RLock] = {}


def _memo(
    cache: _Memo,
    spark: SparkSession,
    key: str,
    build: Callable[[], DataFrame],
    drop: Callable[[DataFrame], None] = lambda df: None,
) -> DataFrame:
    """``cache``'s relation for (session, ``key``), built by ``build()`` under
    the key's own lock on first use. Entries and key locks of other sessions
    are evicted (``drop`` frees an evicted relation): they can never be used
    again, and a long-lived process recreating sessions must not pin old
    plans."""
    sid = id(spark)
    k = (sid, key)
    with _LOCK:
        stale = [s for s in cache if s[0] != sid]
        dropped = [cache.pop(s)[1] for s in stale]
        for lk in [lk for lk in _KEY_LOCKS if lk[0] == id(cache) and lk[1] != sid]:
            del _KEY_LOCKS[lk]
        hit = cache.get(k)
        lock = _KEY_LOCKS.setdefault((id(cache), *k), threading.RLock())
    for df in dropped:
        drop(df)
    if hit is not None:
        return hit[1]
    with lock:
        with _LOCK:
            hit = cache.get(k)
        if hit is not None:  # built while this thread waited
            return hit[1]
        df = build()
        with _LOCK:
            cache[k] = (spark, df)
    return df


def materialized(
    spark: SparkSession, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the session's materialized relation for ``key``, building it
    with ``build()`` (then localCheckpoint) on first use."""
    return _memo(_CACHE, spark, key, lambda: build().localCheckpoint())


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:  # session already stopped — nothing to free
        pass


def persisted(
    spark: SparkSession, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Session-scoped persist() memo for BROADCAST-SIDE relations.

    localCheckpoint (above) is the right form for relations scanned by
    shuffle stages, but a relation that feeds a per-execution
    BroadcastExchange rebuilds its hash relation every execution either
    way — and building it from persist()'s in-memory columnar batches
    measures ~30% faster than from a LogicalRDD (revenue_by_nation bridge:
    0.44 s vs 0.62 s steady). Same session-identity keying, staleness and
    locking assumptions as `materialized`; include the input dir in `key`
    when the relation depends on it. The first execution both computes and
    caches (persist is lazy) — no separate materialization job. At cluster
    scale this is the session dimension cache every warehouse engine keeps
    (the bridge is dimension-sized: |orders| rows, 2 int columns)."""
    return _memo(_PCACHE, spark, key, lambda: build().persist(), _unpersist)
