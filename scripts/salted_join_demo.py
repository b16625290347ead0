"""Measure the skew-salting lever under a 90%-hot-key join.

`functions/scale.py::salted_join` is result-equality tested; this script
makes its value a measured number, and shows honestly where AQE already
covers the case:

    python scripts/salted_join_demo.py [sf_dir]   # default /tmp/scale_sf10

Fact = lineitem with 90% of join keys remapped to ONE hot key (the
mirrored-boilerplate / null-surrogate shape); dim = 1000 keys. Three runs
of fact⋈dim → groupBy(dim attribute):

  1. plain shuffle join, AQE OFF  — one task owns 90% of the fact: the
     straggler a cluster job dies on;
  2. salted_join,       AQE OFF  — hot key spread over 32 salts, dim
     replicated; no task owns more than ~3% of the fact;
  3. plain shuffle join, AQE ON   — Spark's skew-join splitting, the
     runtime fix that handles the JOIN case (salting remains the lever
     for skewed AGGREGATIONS and broadcast-ineligible shapes AQE cannot
     split).

All three must return identical results (asserted).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from synth_timeseries_data_spark.functions.scale import salted_join  # noqa: E402
from synth_timeseries_data_spark.sources import load  # noqa: E402

N_DIM = 1000
HOT_FRAC = 0.9


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_sf10"
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count() or 1))}]"
        )
        .appName("salted-join-demo")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.shuffle.partitions", "64")
        # force the shuffle-join shape salting exists for
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .getOrCreate()
    )

    fact = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.when(
                F.rand(7) < HOT_FRAC, F.lit(0)
            )  # 90% of rows on ONE key
            .otherwise(F.pmod(F.col("l_orderkey"), F.lit(N_DIM)))
            .cast("long")
            .alias("k"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .persist()
    )
    fact.count()  # materialize once so all three runs read identical input
    dim = spark.range(N_DIM).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("grp")
    )

    def agg(joined):
        return joined.groupBy("grp").agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("rev") * 1000000.0).cast("bigint")).alias("rev_u"),
        )

    def run(tag, aqe, salted):
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        joined = (
            salted_join(fact, dim, "k", n_salts=32)
            if salted
            else fact.join(dim, "k")
        )
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            agg(joined).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        print(f"{tag:28s} best={min(times):7.3f}s")
        return {r["grp"]: (r["n"], r["rev_u"]) for r in agg(joined).collect()}

    r1 = run("plain join, AQE off", aqe=False, salted=False)
    r2 = run("salted_join, AQE off", aqe=False, salted=True)
    r3 = run("plain join, AQE on", aqe=True, salted=False)
    assert r1 == r2 == r3, "result mismatch between strategies"
    print(f"result equality across all three strategies: OK ({len(r1)} groups)")


if __name__ == "__main__":
    main()
