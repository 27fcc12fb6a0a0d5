"""The bench scripts (``bench.py``, ``bench_extra.py``, ``BENCH/*.py``,
``perfbench/*.py``) and the ``bin/`` command-line scripts run only by hand
or in the repository benchmark, so a rename in the engine or in
``BENCH/harness.py`` would break them unnoticed.  Every script parses, and
every name it imports from the engine, the harness, the perfbench modules
or the driver contract exists.

An ``ast`` walk over import nodes (function-level imports included), then
``importlib`` of the imported modules with bytecode writing off, so the
scripts' directories are only read; no Spark session starts.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = [
    REPO / "bench.py",
    REPO / "bench_extra.py",
    *sorted((REPO / "BENCH").glob("*.py")),
    *sorted((REPO / "bin").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]
LOCAL = ("predicate_finder_spark", "harness", "__spark_entry__", "procfs", "tracing", "workloads")


def _local_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """``(line, module, name)`` per imported name from a local module;
    ``name`` is ``None`` for a plain ``import module``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out += [(node.lineno, node.module, a.name) for a in node.names]
    return [imp for imp in out if imp[1].split(".")[0] in LOCAL]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(REPO)))
def test_bench_script_imports_resolve(path: Path, monkeypatch):
    monkeypatch.setattr(sys, "dont_write_bytecode", True)
    monkeypatch.syspath_prepend(str(REPO / "perfbench"))
    monkeypatch.syspath_prepend(str(REPO / "BENCH"))
    monkeypatch.syspath_prepend(str(REPO))
    missing = []
    for line, module, name in _local_imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            missing.append(f"{line}: {module} ({e})")
            continue
        if name is None or hasattr(mod, name):
            continue
        # ``from package import submodule`` before the submodule is loaded
        if hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}"):
            continue
        missing.append(f"{line}: {module}.{name}")
    assert not missing, f"{path.relative_to(REPO)} imports what does not exist: {missing}"

