"""Local simulation of the driver's correctness gate.

Mirrors what the grading driver does, more strictly than tests/oracle_utils.py:
- builds a VANILLA SparkSession (not session.get_session) so any conf the
  engine needs must be set by the engine itself at load time;
- runs every `queries()` entry and its `oracle_sql()` twin at sf0.01;
- sorts columns by name, rows by all columns, and compares values BIT-EXACTLY
  (a -0.0 vs 0.0 difference fails here, exactly as the driver's value-hash
  would), with NaN==NaN as the only equivalence.

Usage: python scripts/driver_gate.py [query ...]   (default: all)
Exit 0 iff every checked query is green.
"""

from __future__ import annotations

import math
import os
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon_cell(v):
    """Bit-faithful canonical form: floats keyed by their IEEE bits so that
    -0.0 != 0.0 and NaN == NaN, which is how a byte-level value hash sees them."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", struct.pack("<d", v))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, list):
        return ("l", tuple(_canon_cell(x) for x in v))
    return ("s", str(v))


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main() -> int:
    from pyspark.sql import SparkSession

    import duckdb

    from synth_timeseries_data_spark.queries import all_queries

    only = set(sys.argv[1:])

    # Vanilla session on purpose: the driver does NOT call our get_session.
    # GATE_CPUS varies parallelism — results must be identical at any core
    # count (partition-order independence is part of the determinism
    # contract).
    cpus = os.environ.get("GATE_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("driver-gate-sim")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "8g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in _TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    queries = all_queries()
    n_green = n_red = n_rowsonly = 0
    for name, q in queries.items():
        if only and name not in only:
            continue
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            sdf = q.build(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"spark: {type(e).__name__}: {e}"
            n_red += 1
            print(f"ERR   {name}: {rec['err'][:200]}")
            continue
        if q.oracle is None:
            n_rowsonly += 1
            print(f"ROWS  {name}: {rec['spark_rows']} rows ({time.perf_counter()-t0:.1f}s)")
            continue
        try:
            dres = con.execute(q.oracle)
            dcols = [d[0] for d in dres.description]
            drows = [tuple(r) for r in dres.fetchall()]
            rec["oracle_rows"] = len(drows)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"duckdb: {type(e).__name__}: {e}"
            n_red += 1
            print(f"ERR   {name}: {rec['err'][:200]}")
            continue

        rec["rows_match"] = len(srows) == len(drows)
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        if rec["rows_match"] and rec["schema_match"]:
            a = _canon_rows(scols, srows)
            b = _canon_rows(dcols, drows)
            rec["hash_match"] = a == b
            if not rec["hash_match"]:
                diffs = [(i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
                rec["first_diffs"] = repr(diffs)[:500]
        else:
            rec["hash_match"] = False
        ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        n_green += ok
        n_red += not ok
        tag = "OK   " if ok else "FAIL "
        print(
            f"{tag} {name}: rows={rec.get('spark_rows')}/{rec.get('oracle_rows')} "
            f"schema={rec['schema_match']} hash={rec['hash_match']} "
            f"({time.perf_counter()-t0:.1f}s)"
        )
        if not ok and "first_diffs" in rec:
            print(f"      {rec['first_diffs'][:300]}")

    print(f"\nGREEN={n_green} RED={n_red} ROWS_ONLY={n_rowsonly}")
    return 0 if n_red == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
