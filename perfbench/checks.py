"""Output checks, made outside the timed window.

Query results are compared with their DuckDB oracle SQL bit-exactly, the
way the engine's correctness gate compares them: columns sorted by name,
rows sorted, floats compared by their IEEE bits (so -0.0 != 0.0) and NaN
equal to NaN.
"""

from __future__ import annotations

import math
import os
import struct

from datagen import TABLES


def _canon_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", struct.pack("<d", v))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon_cell(x) for x in v))
    return ("s", str(v))


def canon_rows(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB views over one fixture directory."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def rows(self, sql: str):
        """Run ``sql`` on its own cursor, so threads can share the oracle."""
        cur = self.con.cursor()
        try:
            res = cur.execute(sql)
            return [d[0] for d in res.description], res.fetchall()
        finally:
            cur.close()

    def close(self) -> None:
        self.con.close()


def check_query(spark, query, sf_dir: str, oracle: Oracle) -> "str | None":
    """None when the query's output is correct, else what is wrong."""
    df = query.build(spark, sf_dir)
    scols = df.columns
    srows = [tuple(r) for r in df.collect()]
    if query.oracle is None:
        return None if srows else "rows-only query returned no rows"
    dcols, drows = oracle.rows(query.oracle)
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != oracle {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"{len(srows)} rows != oracle {len(drows)}"
    if canon_rows(scols, srows) != canon_rows(dcols, drows):
        return "values differ from the oracle"
    return None
