"""Input-sized shuffle DOP (session.tune_for_input big-input tier).

The sf100 ladder showed fixed 32-partition shuffles spilling per-task sorts
at 17 GB (asof_lag 118 s -> 19 s at 256 partitions). The autotune must scale
spark.sql.shuffle.partitions with the input footprint above the small gate,
and restore/keep postures when inputs change within one session.
"""

from __future__ import annotations

import os

import synth_timeseries_data_spark.session as sess
from synth_timeseries_data_spark.sources import tables


def _with_bytes(monkeypatch, spark, nbytes, sf_dir="/fake/dir"):
    monkeypatch.setattr(tables, "input_bytes", lambda _d: nbytes)
    sess.tune_for_input(spark, sf_dir)
    return spark.conf.get("spark.sql.shuffle.partitions")


def test_small_input_gets_small_dag(spark, monkeypatch):
    assert _with_bytes(monkeypatch, spark, 1 << 20) == sess._SMALL_SHUFFLE
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_big_input_scales_partitions(spark, monkeypatch):
    # 17 GB at 64 MB/partition => ~272, well above the session's base DOP
    got = int(_with_bytes(monkeypatch, spark, 17 * (1 << 30)))
    assert got == min(
        sess._MAX_SHUFFLE, 17 * (1 << 30) // sess._TARGET_PARTITION_BYTES
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_mid_input_keeps_session_dop(spark, monkeypatch):
    # above the small gate but under base-DOP x target: keep the session DOP
    base = int(sess.session_state(spark)["posture"][1])
    got = int(_with_bytes(monkeypatch, spark, 128 << 20))
    assert got == base


def test_posture_restored_after_big(spark, monkeypatch):
    _with_bytes(monkeypatch, spark, 17 * (1 << 30))
    base = int(sess.session_state(spark)["posture"][1])
    assert int(_with_bytes(monkeypatch, spark, 128 << 20)) == base
    # and the cap engages
    assert (
        int(_with_bytes(monkeypatch, spark, 1 << 50)) == sess._MAX_SHUFFLE
    )


def test_hive_partitioned_entry_counts_its_part_files(spark, tmp_path):
    # events.parquet written as a hive-partitioned tree: its part files sit
    # one level below key=value directories, and a one-level listing read
    # the entry as 0 bytes (small posture for a big input). Part files are
    # sparse, so the footprint is large on paper and free on disk.
    sizes = {"user=1": 40 << 20, "user=2": 48 << 20}
    for part, size in sizes.items():
        d = tmp_path / "events.parquet" / part
        d.mkdir(parents=True)
        with open(d / "part-0.parquet", "wb") as f:
            f.truncate(size)
    with open(tmp_path / "nation.parquet", "wb") as f:
        f.truncate(4096)
    (tmp_path / "notes.txt").write_text("not a dataset")
    expect = sum(sizes.values()) + 4096
    assert tables.input_bytes(str(tmp_path)) == expect
    sess.tune_for_input(spark, str(tmp_path))
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    base = int(sess.session_state(spark)["posture"][1])
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == max(
        base, expect // sess._TARGET_PARTITION_BYTES
    )


def test_unreadable_input_keeps_configured_posture(spark, tmp_path):
    missing = str(tmp_path / "missing")
    assert not os.path.exists(missing)
    assert tables.input_bytes(missing) >= tables.UNKNOWN
    sess.tune_for_input(spark, missing)
    aqe, shuffle = sess.session_state(spark)["posture"]
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle
