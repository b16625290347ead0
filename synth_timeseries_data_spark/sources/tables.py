"""Fixture-table loaders and the engine's one reader of on-disk dataset facts.

The driver materializes a TPC-H-ish star schema plus event/text/vector tables
as one parquet file per table per scale factor (TESTDATA.md). Parquet scans
get predicate pushdown + column pruning from Catalyst for free; callers should
``select`` only needed columns so ``ReadSchema`` stays narrow.

Every size gate in the engine (the session posture, broadcast caps, the
numpy-vs-SQL strategy gates, footer-verified write summaries) reads its
driver-side facts about a parquet dataset from this module, under three
rules:

- **Recursive walk.** A dataset is a single file or a directory whose part
  files may nest under hive ``key=value`` subdirectories at any depth; every
  ``*.parquet`` file below it counts. A top-level-only listing reads a
  partitioned dataset as 0 bytes/rows, which every gate takes for "tiny".
- **Fingerprint memo.** ``table_rows``/``table_bytes``/``input_bytes`` are
  memoized per path against ``_fingerprint`` (mtime and size, folding in a
  directory's direct entries), so a dataset rewritten in place is measured
  again. ``parquet_rows`` (written outputs) is not memoized.
- **Unknown counts as huge.** An unreadable input, or a dataset directory
  with no part files, measures ``UNKNOWN`` (2**62): the safe failure mode of
  a size gate is the plan for big inputs (no broadcast hint, shuffle-safe
  joins), never the one for tiny inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import session_state

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.01"

# Resolved-relation cache (the engine's catalog): `spark.read.parquet` costs
# ~50 ms of driver work per call (file listing, footer/schema read, py4j
# round-trips) — pure metadata, re-done identically on every query over the
# same immutable fixture. A real engine resolves a table once per catalog
# entry; DuckDB's oracle likewise creates its views once per connection. The
# cache key includes the file's (mtime, size) so a rewritten dataset is
# re-resolved, and the stat() costs microseconds. DataFrames are immutable
# logical plans, so sharing one across queries is safe by construction.
# The cache is the session's ``"load"`` state (session.session_state), so its
# entries die with their session.


class _LoadCatalog:
    """Read access to every session's resolved-relation cache:
    ``_LOAD_CACHE.get(spark, default)`` is ``spark``'s ``{key: DataFrame}``.
    perfbench/tracing.py counts ``load`` misses by the growth of its length."""

    @staticmethod
    def get(spark: SparkSession, default=None):
        return session_state(spark).get("load", default)


_LOAD_CACHE = _LoadCatalog()


def _fingerprint(path: str) -> tuple[float, int]:
    """(mtime, size) cache key component. For a directory dataset (a
    Spark-written parquet dir) rewriting part files in place may leave the
    directory's own mtime/size unchanged, so fold in the newest direct
    entry's mtime and the entry count as well."""
    try:
        st = os.stat(path)
    except OSError:
        return 0.0, -1
    mtime, size = st.st_mtime, st.st_size
    if os.path.isdir(path):
        try:
            with os.scandir(path) as it:
                entries = [e.stat().st_mtime for e in it]
            if entries:
                mtime = max(mtime, *entries)
                size += len(entries)
        except OSError:
            pass
    return mtime, size


UNKNOWN = 2**62

# Dataset-stat memo: file metadata, not session state, so a plain module
# dict keyed by (path, kind), storing (fingerprint, n) — a rewritten
# dataset gets a new fingerprint and is measured again, REPLACING its entry
# (keying by fingerprint would strand one dead entry per rewrite forever in
# a long generate→query session).
_STATS: dict[tuple[str, str], tuple[tuple, int]] = {}


def _part_files(path: str) -> list[str]:
    """The parquet part files of the dataset at ``path``: the file itself,
    or every ``*.parquet`` file at any depth below a dataset directory."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _footer_rows(part: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(part).num_rows


def _memo(path: str, kind: str, measure) -> int:
    """``measure(path)`` memoized against ``_fingerprint(path)``; any
    failure to measure is ``UNKNOWN``."""
    fp = _fingerprint(path)
    hit = _STATS.get((path, kind))
    if hit is not None and hit[0] == fp:
        return hit[1]
    try:
        n = measure(path)
    except Exception:
        n = UNKNOWN
    _STATS[(path, kind)] = (fp, n)
    return n


def _rows(path: str) -> int:
    parts = _part_files(path)
    # a dataset directory with no part files is UNKNOWN, not empty
    return sum(map(_footer_rows, parts)) if parts else UNKNOWN


def _bytes(path: str) -> int:
    return sum(map(os.path.getsize, _part_files(path)))


def parquet_rows(path: str) -> int:
    """Exact row count of a parquet file or dataset directory from its
    footers — driver-side, no Spark job, no memo. For outputs the engine
    has just written (footer-verified write summaries): an unreadable path
    raises, and a directory with no part files counts 0."""
    return sum(map(_footer_rows, _part_files(path)))


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    a pure driver-side stat (<100 ms even for a 17 GB multi-part dataset,
    memoized after the first call), no Spark job.

    Used to size-gate broadcast hints: a hint like ``F.broadcast(bridge)``
    is unconditional — Spark obeys it regardless of actual size — so a
    derived relation that is FACT-proportional (one row per order, one row
    per document) must check the fact table's cardinality before hinting.
    The sf100 ladder caught exactly this: a 150M-row order bridge serialized
    past ``spark.driver.maxResultSize`` (1 GiB) and killed the job.

    Unknown/unreadable footers return ``UNKNOWN`` (treat as huge): the safe
    failure mode is *no hint* — the plan stays correct and AQE can still
    broadcast at runtime from observed shuffle stats.
    """
    return _memo(os.path.join(sf_dir, f"{name}.parquet"), "rows", _rows)


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a fixture table's part files (memoized; ``UNKNOWN``
    when unreadable or an empty dataset directory) — the cheap upper-bound
    proxy the vocab-broadcast gates read for corpus volume."""
    n = _memo(os.path.join(sf_dir, f"{name}.parquet"), "bytes", _bytes)
    # 0 bytes is a dataset directory with no part files: UNKNOWN, not empty
    return n or UNKNOWN


def input_bytes(sf_dir: str) -> int:
    """On-disk footprint of ``sf_dir``: the part-file bytes of every
    top-level ``*.parquet`` entry, each walked recursively and memoized
    like ``table_bytes``; ``UNKNOWN`` when ``sf_dir`` or an entry is
    unreadable. An empty dataset directory adds 0 — the footprint sums
    what is there."""
    try:
        with os.scandir(sf_dir) as it:
            entries = [e.path for e in it if e.name.endswith(".parquet")]
    except OSError:
        return UNKNOWN
    return sum(_memo(e, "bytes", _bytes) for e in entries)


def ts_unit(path: str) -> str:
    """Physical unit of ``events.ts`` in the dataset's first part-file
    footer: ``"ns"`` for INT64 TIMESTAMP(NANOS) or a plain INT64 (already
    epoch-ns in this fixture lineage), else the timestamp's unit (``"us"``).
    For readers that must declare a schema before reading (streaming)."""
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(_part_files(path)[0]).field("ts").type
    return getattr(ts_type, "unit", "ns")


def with_ts_nanos(df: DataFrame) -> DataFrame:
    """``df`` with ``ts`` as the engine-canonical epoch-ns BIGINT, whatever
    timestamp type the reader produced: TIMESTAMP_NTZ via timezone-free
    arithmetic (matching DuckDB's naive-as-UTC ``epoch_us`` in any session
    timezone), TIMESTAMP via ``unix_micros``; a BIGINT is already nanos."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.TimestampNTZType):
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    elif isinstance(ts_type, T.TimestampType):
        micros = F.unix_micros("ts")
    else:
        return df
    return df.withColumn("ts", micros * F.lit(1000).cast("bigint"))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    The canonical in-engine type for ``events.ts`` is an epoch-NANOSECOND
    BIGINT (every event query converts with ``ts div 1000`` to the
    microsecond scale, matching the DuckDB oracles' ``epoch_us(ts)``). The
    fixture has shipped two physical encodings across driver generations:

    - INT64 TIMESTAMP(NANOS): Spark 4 rejects it outright unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is on, under which it already
      reads as bigint nanos. The conf is runtime-settable and MUST be set
      here — not only in our session builder — because a grading harness may
      hand us a SparkSession built without it (``getOrCreate`` silently
      ignores configs on an existing session).
    - timestamp[us] (no tz): Spark reads TIMESTAMP_NTZ (or TIMESTAMP when
      NTZ inference is off). Normalize back to bigint nanos here, with
      timezone-free arithmetic for NTZ so the result matches DuckDB's
      naive-as-UTC ``epoch_us`` regardless of the session timezone.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Set the conf unconditionally (before the cache check): callers may rely
    # on load() (re)setting it as a session side effect, and cache hits must
    # not skip it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    per_session = session_state(spark).setdefault("load", {})
    key = (sf_dir, name) + _fingerprint(path)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    if name == "events":
        df = with_ts_nanos(df)
    per_session[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view (for spark.sql use)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
