"""Every commit in predicate_finder_spark/ goes through sources/tables.py:
no other module publishes a file or directory with ``os.replace`` or
``os.rename``.  Moving a commit elsewhere (a second hand-written tmp +
rename) would split the protocol the checkpoint port has to change.

A static walk over ``ast`` call nodes; nothing is imported and no Spark
session starts.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "predicate_finder_spark"
COMMIT_MODULE = PKG / "sources" / "tables.py"


def _rename_calls(path: Path) -> list[int]:
    """Line numbers of ``os.replace(...)`` and ``os.rename(...)`` calls."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("replace", "rename")
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "os"
    ]


def test_commits_happen_only_in_sources_tables():
    assert _rename_calls(COMMIT_MODULE), "the walk no longer sees the commit"
    elsewhere = [
        f"{p.relative_to(PKG)}:{line}"
        for p in sorted(PKG.rglob("*.py"))
        if p != COMMIT_MODULE
        for line in _rename_calls(p)
    ]
    assert not elsewhere, f"os.replace/os.rename outside sources/tables.py: {elsewhere}"
