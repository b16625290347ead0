"""Measure the cluster-scale bucketed form of revenue_by_nation.

revenue_by_nation's docstring names the posture beyond the broadcast gate:
write the order bridge and the fact projection ``bucketBy(l_orderkey)``
ONCE, and every later revenue-style query joins them co-located with ZERO
exchange on the fact side. This script makes that a measured number
instead of prose:

    python scripts/bucketed_revenue_demo.py [sf_dir]   # default /tmp/scale_sf100

It (1) writes both relations bucketed+sorted by the order key (the
one-time, write-amortized cost), (2) asserts the executed join plan has no
Exchange below the SortMergeJoin and no per-query sort, (3) times the
co-located query steady-state, and (4) checks the result equals the
registry query's answer bit-exactly.

The same-box reference points (quiet, steady min-of-2, sf100 = 600M
lineitem / 150M orders): shuffle SMJ branch 69 s; see COVERAGE.md for the
recorded bucketed number.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from synth_timeseries_data_spark.functions.scale import write_bucketed  # noqa: E402
from synth_timeseries_data_spark.sources import load  # noqa: E402

N_BUCKETS = 64


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_sf100"
    wh = "/tmp/bucketed_demo_wh"
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count() or 1))}]"
        )
        .appName("bucketed-revenue-demo")
        .config("spark.sql.warehouse.dir", wh)
        .config("spark.driver.memory", "48g")
        .config("spark.sql.shuffle.partitions", str(N_BUCKETS))
        # honor sortBy file order in the scan (elides the per-side SMJ
        # sort); requires one file per bucket, which the pre-write
        # repartition(N_BUCKETS, key) guarantees here
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .getOrCreate()
    )

    # ---- one-time bucketed writes (the amortized cost) -------------------
    t0 = time.perf_counter()
    fact = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        # repartition on the bucket key first so the write is the ONE
        # shuffle and each task owns whole buckets (file-per-bucket, not
        # tasks x buckets small files)
        .repartition(N_BUCKETS, "l_orderkey")
    )
    write_bucketed(fact, "rev_fact_b", "l_orderkey", N_BUCKETS)
    bridge = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(
            load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "c_nationkey")
        .repartition(N_BUCKETS, "o_orderkey")
    )
    write_bucketed(bridge, "rev_bridge_b", "o_orderkey", N_BUCKETS)
    t_write = time.perf_counter() - t0
    print(f"one-time bucketed writes: {t_write:7.3f}s")

    # ---- the co-located query -------------------------------------------
    def q():
        return (
            spark.table("rev_fact_b")
            .join(
                spark.table("rev_bridge_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("c_nationkey")
            .agg(
                F.count("*").alias("n_items"),
                (
                    F.sum(F.floor(F.col("rev") * 1000000.0).cast("bigint")).cast(
                        "double"
                    )
                    / 1000000.0
                ).alias("revenue"),
            )
        )

    plan = q()._jdf.queryExecution().executedPlan().toString()
    join_tail = plan[plan.index("SortMergeJoin") :]
    assert "Exchange" not in join_tail, plan[:3000]  # join inputs co-located
    sorts = join_tail.count("+- Sort ")
    print(
        "plan: SortMergeJoin over bucketed scans, zero exchange, "
        f"{sorts} residual sort(s)"
    )

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        q().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    print(
        f"co-located query: cold={times[0]:7.3f}s steady={min(times[1:]):7.3f}s"
    )

    # ---- equality vs the registry path ----------------------------------
    from synth_timeseries_data_spark.queries.relational import revenue_by_nation

    got = {
        r["c_nationkey"]: (r["n_items"], r["revenue"]) for r in q().collect()
    }
    want = {}
    for r in revenue_by_nation(spark, sf_dir).collect():
        # registry output keys by nation name; re-key via the dim
        want[r["nation"]] = (r["n_items"], r["revenue"])
    nation = {
        r["n_nationkey"]: r["n_name"]
        for r in load(spark, sf_dir, "nation").collect()
    }
    mismatch = {
        k: (got[k], want[nation[k]])
        for k in got
        if got[k] != want[nation[k]]
    }
    assert not mismatch, mismatch
    print(f"result equality vs registry query: OK ({len(got)} nations)")


if __name__ == "__main__":
    main()
