"""Width-conditional repartition for compute-bound pipelines.

The driver fixture is one parquet row group per table, so a scan is ONE
task and any explode/hash/math-heavy pipeline downstream runs
single-threaded regardless of core count. ``spread`` repartitions up to the
session's default parallelism — but ONLY when the input is narrower than
that: at cluster scale the same scan already arrives in thousands of
partitions and the extra exchange would be pure waste. ``getNumPartitions``
reads the planned partitioning driver-side (no job).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import session_state


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ``df`` to defaultParallelism on ``cols`` (hash) or
    round-robin, unless it is already at least that wide.

    ``getNumPartitions`` costs a physical-planning pass (~170 ms measured);
    per-build callers should go through :func:`register_spread_view`, which
    memoizes the probe + registration per session."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def register_spread_view(
    spark: SparkSession,
    view: str,
    build: Callable[[], DataFrame],
    key: str,
    *cols: str,
) -> None:
    """Register ``view`` as the spread form of ``build()`` once per
    (session, key) — repeat builds of the same query skip the planning
    probe entirely. ``key`` is the data source (sf_dir); a session that
    switches sources re-registers. The ``{view: key}`` memo lives in the
    session's state, as long as the session and its temp views do."""
    state = session_state(spark)
    with state.lock:
        views = state.setdefault("spread_views", {})
        # the existence check (cheap catalog lookup, ~ms) guards against a
        # caller having dropped the temp view since we registered it — the
        # memo alone would then skip and leave the query unresolvable
        if views.get(view) == key and spark.catalog.tableExists(view):
            return
        spread(build(), *cols).createOrReplaceTempView(view)
        views[view] = key
