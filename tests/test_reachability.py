"""Every module under predicate_finder_spark/ is reached by an import chain
from an entry point: the driver contract (``__spark_entry__.py``), the
``bin/`` scripts, the pipeline plans, the streaming jobs, or the
paper-reproduction test.  A module none of them reaches is dead code.

A static walk over ``ast`` import nodes (function-level imports included);
nothing is imported and no Spark session starts.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "predicate_finder_spark"
ROOTS = (
    "__spark_entry__.py",
    "bin/*.py",
    f"{PKG}/plans/*.py",
    f"{PKG}/streaming/*.py",
    "tests/test_reference_parity.py",
)


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file imports.  ``from a import b`` yields both ``a``
    and ``a.b``, since ``b`` may be a submodule."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:  # relative: level 1 is the file's own package
                parts = package.split(".")
                anchor = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{anchor}.{base}" if base else anchor
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _unreached() -> list[str]:
    modules = {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}
    reached: set[str] = set()
    todo = [p for pattern in ROOTS for p in sorted(REPO.glob(pattern))]

    def reach(name: str) -> None:
        # importing a.b.c runs a and a.b first
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in reached:
                reached.add(mod)
                todo.append(modules[mod])

    for root in list(todo):
        reach(_module_name(root))
    while todo:
        for name in _imported_names(todo.pop()):
            reach(name)
    return sorted(m.removeprefix(f"{PKG}.") for m in modules.keys() - reached)


def test_every_package_module_is_reached():
    unreached = _unreached()
    assert not unreached, f"modules no entry point imports: {unreached}"
