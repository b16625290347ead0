"""One owner for on-disk dataset facts: only ``sources/tables.py`` lists a
dataset's files or reads parquet footers and schemas. Every size gate
(session posture, broadcast caps, strategy gates, write summaries) goes
through it, so the recursive walk, the rewrite-aware memo and the
unknown-is-huge rule hold everywhere. Static check, no Spark."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "synth_timeseries_data_spark"
OWNER = PKG / "sources" / "tables.py"
LISTINGS = {"walk", "scandir"}  # as os.<name>
FOOTERS = {"read_metadata", "ParquetFile", "read_schema"}  # pyarrow.parquet


def _reads_dataset_facts(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            if node.attr in FOOTERS or (
                node.attr in LISTINGS
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ):
                found.append((node.lineno, node.attr))
        elif isinstance(node, ast.ImportFrom) and node.module in (
            "os", "pyarrow.parquet"
        ):
            found += [
                (node.lineno, a.name)
                for a in node.names
                if a.name in LISTINGS | FOOTERS
            ]
    return found


def test_only_tables_reads_dataset_facts():
    offenders = {
        str(path.relative_to(PKG)): hits
        for path in sorted(PKG.rglob("*.py"))
        if path != OWNER
        and (hits := _reads_dataset_facts(ast.parse(path.read_text())))
    }
    assert offenders == {}
    # the detector sees the owner's own walk and footer reads, so an empty
    # offender list is not vacuous
    owned = {name for _, name in _reads_dataset_facts(ast.parse(OWNER.read_text()))}
    assert {"walk", "scandir", "read_metadata", "read_schema"} <= owned
