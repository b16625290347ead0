"""Time named queries (steady-state, noop sink) vs their DuckDB oracles.

Usage: python scripts/time_query.py [sf_dir] q1 q2 ...
Method: warm-up, cold + 2 steady runs (min), DuckDB min-of-3 after warm.
For iterating on single-query optimizations without running the whole
registry.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from synth_timeseries_data_spark.queries import all_queries  # noqa: E402
from synth_timeseries_data_spark.session import get_session  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def main() -> None:
    args = sys.argv[1:]
    no_duck = "--no-duck" in args
    args = [a for a in args if a != "--no-duck"]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    spark = get_session("time-query")
    queries = all_queries()
    names = args or sorted(queries)

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written dataset directory
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries["lag_features"].build(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in names:
        q = queries[name]
        t0 = time.perf_counter()
        q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold = time.perf_counter() - t0
        steady = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            steady = min(steady, time.perf_counter() - t0)
        duck = float("nan")
        if q.oracle is not None and not no_duck:
            con.execute(q.oracle).arrow()
            duck = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                con.execute(q.oracle).arrow()
                duck = min(duck, time.perf_counter() - t0)
        ratio = steady / duck if duck == duck and duck > 0 else float("nan")
        print(
            f"{name:24s} cold={cold:7.3f}s steady={steady:7.3f}s "
            f"duck={duck:7.4f}s ratio={ratio:6.2f}x"
        )


if __name__ == "__main__":
    main()
