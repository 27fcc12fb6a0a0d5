"""Incremental state and streaming reads never infer a parquet schema:
every ``read.parquet(...)`` in ``plans/incremental.py`` and ``streaming/``
names its schema with ``.schema(...)`` in the receiver chain.  An inferred
read runs one Spark job per call, so a state read over N batch
directories would cost N jobs per commit.

A static walk over ``ast`` call nodes; nothing is imported and no Spark
session starts.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "predicate_finder_spark"
FILES = [PKG / "plans" / "incremental.py", *sorted((PKG / "streaming").glob("*.py"))]


def _receiver_methods(node: ast.expr) -> list[str]:
    """Attribute names along a call chain's receiver, nearest first:
    ``spark.read.schema(s).parquet`` gives ``["schema", "read"]``."""
    out = []
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
        else:
            out.append(node.attr)
            node = node.value
    return out


def _reads(source: str) -> list[tuple[int, bool]]:
    """(line, schema pinned) of every ``read.parquet`` / ``readStream
    .parquet`` call in ``source``."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"):
            continue
        chain = _receiver_methods(node.func.value)
        if "read" in chain or "readStream" in chain:
            out.append((node.lineno, "schema" in chain))
    return out


def test_receiver_chain_walk():
    code = (
        "a = spark.read.parquet(p)\n"
        "b = spark.read.schema(s).option('k', 1).parquet(*ps)\n"
        "df.write.parquet(p)\n"
    )
    assert _reads(code) == [(1, False), (2, True)]


def test_state_and_stream_reads_pin_their_schema():
    found = {p: _reads(p.read_text()) for p in FILES}
    assert found[PKG / "plans" / "incremental.py"], "the walk no longer sees the state read"
    inferred = [
        f"{p.relative_to(PKG)}:{line}"
        for p, reads in found.items()
        for line, pinned in reads
        if not pinned
    ]
    assert not inferred, f"read.parquet without .schema(...): {inferred}"
