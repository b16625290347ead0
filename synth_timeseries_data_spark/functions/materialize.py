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

Both memos live in the session's state (:func:`session.session_state`), so
an entry lives exactly as long as its session and is only ever handed to the
session that built it. Assumes the inputs the builder reads are immutable
for the session's lifetime (true for the driver's read-only fixtures and for
driver-side literals).

Builds run under the session's lock on purpose: the driver runs queries at
5- and 32-way parallelism, and without it racing threads would rebuild the
same relation redundantly — one thread materializes, the rest reuse.
"""

from __future__ import annotations

import weakref
from typing import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from ..session import session_state


def materialized(
    spark: SparkSession, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the session's materialized relation for ``key``, building it
    with ``build()`` (then localCheckpoint) on first use."""
    state = session_state(spark)
    with state.lock:
        memo = state.setdefault("materialized", {})
        df = memo.get(key)
        if df is None:
            df = memo[key] = build().localCheckpoint()
    return df


def persisted(
    spark: SparkSession, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Session-scoped persist() memo for BROADCAST-SIDE relations.

    localCheckpoint (above) is the right form for relations scanned by
    shuffle stages, but a relation that feeds a per-execution
    BroadcastExchange rebuilds its hash relation every execution either
    way — and building it from persist()'s in-memory columnar batches
    measures ~30% faster than from a LogicalRDD (revenue_by_nation bridge:
    0.44 s vs 0.62 s steady). Same session lifetime, staleness and locking
    assumptions as `materialized`; include the input dir in `key` when the
    relation depends on it. The first execution both computes and caches
    (persist is lazy) — no separate materialization job. At cluster scale
    this is the session dimension cache every warehouse engine keeps (the
    bridge is dimension-sized: |orders| rows, 2 int columns).

    Spark's cache manager is shared by every session of the application
    and matches cached data by plan: a session persisting a plan that
    another live session already cached reuses that cache. The relation is
    unpersisted when its session is garbage-collected; a live session that
    shared the plan keeps correct results and recomputes them."""
    state = session_state(spark)
    with state.lock:
        memo = state.setdefault("persisted", {})
        df = memo.get(key)
        if df is None:
            df = memo[key] = build().persist()
            # the finalizer holds only the JVM handle: a DataFrame would
            # refer to the session and keep it alive
            weakref.finalize(spark, _unpersist, df._jdf).atexit = False
    return df


def _unpersist(jdf) -> None:
    try:
        jdf.unpersist(False)
    except Py4JError:  # the JVM is already gone — nothing to free
        pass
