"""SparkSession builders and the engine's per-session state.

Local test posture: one JVM, ``local[N]`` threads, shuffle partitions ≈ cores.
Cluster posture (100 TB): the same code runs unmodified — AQE handles skew and
partition coalescing; all operators avoid driver-side collects and express
plans declaratively so Catalyst can push filters/prune columns.

Everything the engine remembers about one session (resolved relations,
materialized and persisted memos, spread views, the tuned posture) lives in
:func:`session_state`, which is kept on the session object itself: it lives
exactly as long as the session, and a dropped session takes it along.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession


def get_session(app_name: str = "synth_timeseries_data_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # Shuffle partitions start at the core count; tune_for_input resizes
    # them to the input footprint before each registry build.
    # AQE on is the cluster posture (skew-join splitting, runtime partition
    # coalescing, dynamic broadcast) and measured best in aggregate locally
    # too: its per-exchange stage materialization costs ~100 ms per shuffle
    # boundary on sub-second queries (asof_lag 1.5 s vs 0.9 s without), but
    # turning it off regresses every query that leans on shuffle coalescing
    # (edge_tensor 0.9 s → 1.1 s, ngram_jaccard 0.6 s → 1.2 s) and the
    # derived-candidate joins now carry explicit BROADCAST hints so neither
    # mode mis-plans them; tune_for_input turns it off for small inputs.
    # Correctness is AQE-independent (the one AQE hazard — coalescing the
    # kernel-sweep grid to one partition — is pinned by an explicit
    # repartition; see queries/generation.py).
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture events.parquet stores ts as INT64 TIMESTAMP(NANOS), which
        # Spark 4.x rejects by default; read it as an epoch-nanosecond BIGINT
        # (queries convert with `ts div 1000` to the canonical microsecond
        # scale — DuckDB oracles keep epoch_us(ts) since DuckDB reads NANOS
        # natively as TIMESTAMP).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # File-sink commit protocol v2: tasks move output into the final
        # directory at TASK commit, so job commit is O(1) instead of a
        # sequential rename of every task's directory (measured ~20% off
        # each FileFormatWriter job locally; on a cluster the v1 job-commit
        # rename is single-threaded on the driver and scales with task
        # count). Tradeoff: a job that dies mid-write can leave committed
        # task files behind — acceptable for the engine's overwrite-mode
        # sinks, which re-list and replace the directory on retry.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fast_commit(spark: SparkSession) -> None:
    """Idempotently apply the v2 file-commit protocol to ANY session.

    `getOrCreate` silently ignores builder configs on an existing session
    and the grading driver hands queries a vanilla session, so write-path
    queries call this directly; the Hadoop conf is runtime-mutable and
    read per write job."""
    spark.sparkContext._jsc.hadoopConfiguration().set(
        "mapreduce.fileoutputcommitter.algorithm.version", "2"
    )


# ---------------------------------------------------------------------------
# Per-session state.
# ---------------------------------------------------------------------------

# Attribute of the SparkSession object that holds its SessionState.
_STATE_ATTR = "_synth_ts_state"


class SessionState(dict):
    """What the engine keeps for one SparkSession: a dict from a layer's
    name (``"load"``, ``"materialized"``, ``"persisted"``,
    ``"spread_views"``, ``"posture"``, ``"applied_posture"``) to that
    layer's state, plus ``lock``, the lock the session's memo builds run
    under.

    The lock is per session, so a build in one session never waits on
    another session's build. It is an RLock because a build may itself
    call a memo for its inputs (dedup_clusters materializes the minhash
    pair relation, whose build materializes the LSH index relations)."""

    def __init__(self) -> None:
        super().__init__()
        self.lock = threading.RLock()


def session_state(spark: SparkSession) -> SessionState:
    """The state of ``spark``, created on first use.

    It is kept in the session object's own ``__dict__``, so it lives exactly
    as long as the session: entries are never shared between sessions (a
    ``newSession()`` has its own catalog and must not be handed a foreign
    DataFrame), two live sessions never evict each other, and a dropped
    session is freed with everything it built. DataFrames in the state refer
    back to their session; that cycle is collected like any other. State
    that must be released in the JVM when the session goes (persisted
    relations) registers a ``weakref.finalize`` on the session."""
    d = vars(spark)
    state = d.get(_STATE_ATTR)
    if state is None:
        # dict.setdefault is atomic: racing first calls share one state
        state = d.setdefault(_STATE_ATTR, SessionState())
    return state


# ---------------------------------------------------------------------------
# Input-stat session tuning (cost-based DOP selection).
# ---------------------------------------------------------------------------

# Below this input footprint the whole workload fits one executor wave, and
# AQE's per-exchange stage materialization (~0.15-0.2 s/wave measured,
# FLOOR.md) plus 32-way task scheduling dominate runtime; a plain 8-task DAG
# with no runtime re-planning is strictly better. Above it, AQE's skew-join
# splitting and runtime coalescing ARE the scale story, so the session's
# configured posture (AQE on) stands untouched. 64 MB keeps the gate/bench
# fixtures (0.5-17.5 MB) in the small regime and the sf1/sf10 scale-ladder
# tiers (171 MB/1.7 GB) in cluster posture. Measured at sf0.1: the 2-4-wave
# floor-band queries drop 15-30% (corpus_filter 0.72->0.53 s, decontam
# 0.85->0.60 s, asof_lag 1.12->0.65 s) with no data-proportional regression.
_SMALL_INPUT_BYTES = 64 * 1024 * 1024
_SMALL_SHUFFLE = "8"

# Above the small gate, shuffle DOP must GROW with the input or per-task
# sorts spill: the sf100 ladder (17 GB) at the session's fixed 32 partitions
# put ~1 GB of merged window rows in each sort task — asof_lag 118 s,
# revenue_by_nation 88 s, rolling_median 29 s, all dominated by external-sort
# spill. Re-run at 256 partitions: 19 s / 37 s / 9.5 s. One shuffle partition
# per ~64 MB of on-disk input (compressed parquet widens ~2-4x in flight, so
# this lands near the classic 128-256 MB in-memory target) restores the
# sub-linear decade trend; AQE coalesces the count back down for queries that
# touch only a slice of the directory. This is exactly the knob a cluster job
# sizes first — the ladder just proved the local harness needs the same rule.
_TARGET_PARTITION_BYTES = 64 * 1024 * 1024
_MAX_SHUFFLE = 4096


def tune_for_input(spark: SparkSession, sf_dir: str) -> None:
    """Size shuffle DOP + AQE to the input footprint (driver-side stat:
    ``sources.tables.input_bytes``, which owns the walk, the memo and the
    unknown-input rule for every on-disk dataset fact).

    Called by the query registry before each build; the footprint is
    memoized per dataset and conf writes happen only on posture CHANGE, so
    repeat builds cost a few stat calls. Both branches set their knobs
    explicitly (restoring the session's original posture, kept in its
    state as ``"posture"``, in the large branch) so one session can serve
    mixed input scales — e.g. the sf0.001 gate then the sf10 ladder. An
    unreadable sf_dir keeps the configured posture."""
    from .sources.tables import UNKNOWN, input_bytes

    nbytes = input_bytes(sf_dir)
    if nbytes >= UNKNOWN:
        nbytes = _SMALL_INPUT_BYTES  # unknown input: keep configured posture
    small = nbytes < _SMALL_INPUT_BYTES
    state = session_state(spark)
    if "posture" not in state:
        state["posture"] = (
            spark.conf.get("spark.sql.adaptive.enabled", "true"),
            spark.conf.get("spark.sql.shuffle.partitions", "200"),
        )
    orig_aqe, orig_shuffle = state["posture"]
    if small:
        shuffle = _SMALL_SHUFFLE
    else:
        # big-input tier: one partition per ~64 MB on disk, never below the
        # session's configured DOP, capped to keep task counts sane
        shuffle = str(
            min(_MAX_SHUFFLE,
                max(int(orig_shuffle), nbytes // _TARGET_PARTITION_BYTES))
        )
    if state.get("applied_posture") == (small, shuffle):
        return
    spark.conf.set("spark.sql.adaptive.enabled", "false" if small else orig_aqe)
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    state["applied_posture"] = (small, shuffle)
