"""One execution-policy surface: ``predicate_finder_spark/session.py``
decides how a session is sized, and nothing else in the engine does.

- The engine reads exactly two environment variables, both in
  ``session.py``: ``SPARK_GRAFT_CPUS`` (the local master's width) and
  ``SPARK_DRIVER_MEM`` (a heap override).  A tuning knob read anywhere
  else is a second policy surface that only the scripts which set it see.
- The optimizer size estimate (``optimizedPlan().stats()``) that keys the
  KG broadcast cap and the driver queries' scan spreads is one function.
- No script outside ``perfbench/`` turns the Spark UI on: stage metrics
  come from the event log (``BENCH/stage_profile.py``).
- The default heap is a third of physical RAM, at least 2 GB.

Static walks over ``ast`` nodes; no Spark session starts.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "predicate_finder_spark"
UI_KEY = "spark.ui.enabled"


def _parse(path: Path) -> ast.AST:
    return ast.parse(path.read_text(), str(path))


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads(path: Path) -> tuple[list[str | None], int]:
    """``(keys, touches)``: the key of every recognised environment read
    (``os.environ.get(k)``, ``os.environ[k]``, ``os.getenv(k)``,
    ``k in os.environ``; ``None`` for a non-literal key), and the number
    of ``environ``/``getenv`` references in the file.  A reference no
    recognised read accounts for is an unrecognised read."""
    keys: list[str | None] = []
    touches = 0

    def key(node: ast.AST) -> str | None:
        return node.value if isinstance(node, ast.Constant) else None

    for node in ast.walk(_parse(path)):
        if _is_environ(node) or (
            isinstance(node, ast.Attribute) and node.attr == "getenv"
        ):
            touches += 1
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and _is_environ(f.value)) or f.attr == "getenv":
                keys.append(key(node.args[0]) if node.args else None)
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.append(key(node.slice))
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            keys.append(key(node.left))
    return keys, touches


def test_engine_reads_only_the_two_session_env_vars():
    reads = []
    for path in sorted(PKG.rglob("*.py")):
        keys, touches = _env_reads(path)
        rel = str(path.relative_to(PKG))
        assert len(keys) == touches, f"unrecognised environment access in {rel}"
        reads += [(rel, k) for k in keys]
    assert sorted(reads) == [
        ("session.py", "SPARK_DRIVER_MEM"),
        ("session.py", "SPARK_GRAFT_CPUS"),
    ]


def _stats_callers(path: Path) -> list[str]:
    """Names of the functions that call ``...optimizedPlan().stats()``."""
    out = []
    for fn in ast.walk(_parse(path)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "stats"
                and isinstance(node.func.value, ast.Call)
                and isinstance(node.func.value.func, ast.Attribute)
                and node.func.value.func.attr == "optimizedPlan"
            ):
                out.append(f"{path.relative_to(REPO)}:{fn.name}")
                break
    return out


def test_one_optimizer_size_estimate():
    paths = sorted(PKG.rglob("*.py")) + [REPO / "__spark_entry__.py"]
    callers = [c for p in paths for c in _stats_callers(p)]
    assert callers == ["predicate_finder_spark/session.py:plan_bytes"]


def _turns_ui_on(path: Path) -> list[int]:
    def is_on(k: ast.AST | None, v: ast.AST | None) -> bool:
        return (
            isinstance(k, ast.Constant) and k.value == UI_KEY
            and isinstance(v, ast.Constant) and str(v.value).lower() == "true"
        )

    lines = []
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Dict):
            lines += [node.lineno for k, v in zip(node.keys, node.values) if is_on(k, v)]
        elif isinstance(node, ast.Call) and len(node.args) >= 2 and is_on(*node.args[:2]):
            lines.append(node.lineno)
        elif (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
            and f"{UI_KEY}=true" in node.value.replace(" ", "").lower()
        ):
            lines.append(node.lineno)
    return lines


def test_no_script_outside_perfbench_turns_the_ui_on():
    paths = [
        p for p in sorted(REPO.rglob("*.py"))
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
        and p.relative_to(REPO).parts[0] != "perfbench"
    ]
    on = [f"{p.relative_to(REPO)}:{line}" for p in paths for line in _turns_ui_on(p)]
    assert not on, f"{UI_KEY}=true outside perfbench/: {on}"


def test_default_heap_is_a_third_of_ram_at_least_2g():
    from predicate_finder_spark.session import driver_memory

    assert driver_memory(int(15.7 * 2**30)) == "5g"
    assert driver_memory(4 * 2**30) == "2g"
    assert driver_memory(96 * 2**30) == "32g"
