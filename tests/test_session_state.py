"""Per-session state lives exactly as long as its session.

Every memo the engine keeps for a session (the load catalog, the
materialized and persisted relations, the spread views) belongs to that
session alone: a dropped session is freed with everything it built, two live
sessions never evict each other, and a dropped session's persisted relations
leave the application-wide cache manager.
"""

from __future__ import annotations

import gc
import sys
import threading
import weakref

from synth_timeseries_data_spark.functions.materialize import (
    materialized,
    persisted,
)
from synth_timeseries_data_spark.functions.spread import register_spread_view
from synth_timeseries_data_spark.sources import load


def test_dropped_sessions_are_freed(spark, smoke_sf_dir):
    refs = []
    for _ in range(5):
        s = spark.newSession()
        load(s, smoke_sf_dir, "region")
        materialized(s, "ids", lambda: s.range(3))
        refs.append(weakref.ref(s))
        del s
    gc.collect()
    # pyspark binds RDD.toDF to the newest session, which keeps it alive
    alive = sum(r() is not None for r in refs)
    assert alive <= 1, f"{alive} of 5 dropped sessions still reachable"


def test_live_sessions_keep_their_own_memos(spark):
    a, b = spark.newSession(), spark.newSession()
    built = {"materialized": [], "spread": []}

    def counted(kind, s):
        def build():
            built[kind].append(s)
            return s.range(4)

        return build

    for _ in range(3):
        for s in (a, b):
            materialized(s, "ids", counted("materialized", s))
            register_spread_view(s, "ids_spread", counted("spread", s), "src")
    assert built["materialized"] == [a, b]
    assert built["spread"] == [a, b]
    for s in (a, b):
        assert s.table("ids_spread").count() == 4


def test_dropped_session_unpersists(spark):
    s = spark.newSession()
    df = persisted(s, "triples", lambda: s.range(7).selectExpr("id * 3 AS x"))
    assert df.count() == 7  # persist is lazy: the first action caches
    jdf = df._jdf
    assert jdf.storageLevel().useMemory()
    del s, df
    spark.newSession()  # moves pyspark's RDD.toDF pin off the dropped one
    gc.collect()
    assert not jdf.storageLevel().useMemory()


def test_concurrent_first_use_builds_once(spark):
    # more threads than cores race on a fresh session's first memo call:
    # they must share one state (and lock) and run the builder once
    s = spark.newSession()
    built, got = [], []
    barrier = threading.Barrier(16)

    def build():
        built.append(1)
        return s.range(2)

    def worker():
        barrier.wait()
        got.append(materialized(s, "ids", build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(built) == 1
    assert len(got) == 16 and all(df is got[0] for df in got)
