"""Every module under predicate_finder_spark/ is reached by an import chain
from an entry point: the driver contract (``__spark_entry__.py``), the
``bin/`` scripts, the pipeline plans, the streaming jobs, or the
paper-reproduction test.  A module none of them reaches is dead code.

The same holds one level down: every top-level function, class and
upper-case constant of the package is named by a root file, by package
module-level code, or by a definition that is itself reached.  Names match
by spelling alone, so a name collision keeps a definition alive; the walk
may keep dead code, but it never flags a definition that runs.  ``ALLOW`` keeps the few functions that no root
names but that are part of the product for a stated reason.

A static walk over ``ast`` nodes (function-level imports included);
nothing is imported and no Spark session starts.  The same goes for
imports: a module-level import that no name in its file uses is dead.
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
# Function-level roots: whole files whose every name counts as used.  The
# package's own plans/ and streaming/ modules are not among them; their
# functions must be reached like any other.
FUNCTION_ROOTS = ("__spark_entry__.py", "bin/*.py", "tests/test_reference_parity.py")

DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
# Files whose module-level imports must each be used in the file.
IMPORT_CHECKED = (f"{PKG}/**/*.py", "tests/*.py")

# ``module.function`` -> why it stays although no root names it.
ALLOW = {
    # The library API that README documents for callers of the package.
    "plans.incremental.extract_triples_incremental": "README: incremental commits",
    "plans.incremental.incremental_state": "README: cumulative state read",
    "plans.incremental.compact_batches": "README: batch compaction",
    "streaming.ingest.streaming_triples": "README: streamed micro-batch triples",
    "streaming.sessions.sessionize_stream": "README: streamed sessionization",
    "sources.tables.write_bucketed_table": "README: bucketed table sink",
    # The paper reproduction: the LC-QuAD question path and the fitted M1
    # matcher (the MGNN-training analog).
    "plans.questions.answer_questions": "paper: LC-QuAD question answering",
    "plans.questions.question_features": "paper: question feature rows",
    "plans.questions.question_matcher_channels": "paper: the one feature builder fit_matcher has",
    "operators.train.fit_matcher": "paper: fitted M1 matcher",
    "operators.features.negative_sample": "paper: matcher training negatives",
    "operators.features.train_dev_split": "paper: matcher train/dev split",
    "plans.questions.question_accuracy_by_template": "paper: per-template accuracy",
    "synth.synth_question_set": "paper: synthetic LC-QuAD question set",
    "sources.corpus.read_question_corpus": "paper: LC-QuAD question reader",
    "sources.corpus.parse_gold": "paper: LC-QuAD gold parser",
    # Reference implementations that a test compares a reached function with.
    "operators.linking.disambiguate": "reference for the fused resolve_mentions",
    "operators.linking.resolve_overlaps": "reference for the fused resolve_mentions",
    "streaming.sessions.batch_sessions": "batch twin of sessionize_stream",
}


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


def _used_names(nodes) -> set[str]:
    """Every name the nodes mention: bare names, attribute names and the
    names an import binds or fetches."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.update(p for p in (*node.name.split("."), node.asname) if p)
    return out


def _package_trees():
    """``(module, ast.Module)`` per package file, module names without the
    package prefix."""
    for path in sorted((REPO / PKG).rglob("*.py")):
        yield _module_name(path).removeprefix(f"{PKG}."), ast.parse(path.read_text(), str(path))


def _constant(node: ast.AST) -> str | None:
    """The name a module-level ``NAME = value`` binds, if it is upper-case."""
    if isinstance(node, ast.Assign) and len(node.targets) == 1:
        target = node.targets[0]
    elif isinstance(node, ast.AnnAssign) and node.value is not None:
        target = node.target
    else:
        return None
    return target.id if isinstance(target, ast.Name) and target.id.isupper() else None


def _unreached_functions() -> list[str]:
    """``module.name`` of every top-level package def, class or upper-case
    constant that no root file, no package module-level code, no ``ALLOW``
    entry and no reached definition names.

    A module-level import in the package binds a name without using it, so
    it keeps nothing alive by itself, except that ``import f as g`` keeps
    ``f`` (uses of ``g`` are not traced back to it)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    used = {qualified.rpartition(".")[2] for qualified in ALLOW}
    for module, tree in _package_trees():
        for node in tree.body:
            if isinstance(node, DEFS):
                defs.setdefault(node.name, []).append((module, node))
                # decorators, defaults and bases run at import time
                used |= _used_names(node.decorator_list)
                if isinstance(node, ast.ClassDef):
                    used |= _used_names(node.bases + node.keywords)
                else:
                    used |= _used_names(node.args.defaults + node.args.kw_defaults)
            elif const := _constant(node):
                defs.setdefault(const, []).append((module, node))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                used |= {a.name.rpartition(".")[2] for a in node.names if a.asname}
            else:
                used |= _used_names([node])
    for pattern in FUNCTION_ROOTS:
        for path in sorted(REPO.glob(pattern)):
            used |= _used_names([ast.parse(path.read_text(), str(path))])

    done: set[str] = set()
    todo = list(used)
    while todo:
        name = todo.pop()
        if name in done:
            continue
        done.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_used_names(node.body if isinstance(node, DEFS) else [node.value]) - done)
    return sorted(f"{m}.{name}" for name, ds in defs.items() if name not in done for m, _ in ds)


def _unused_imports() -> list[str]:
    """``path:line (name)`` of every module-level import whose bound name no
    ``ast.Name`` in its file loads; ``__future__`` imports and names listed
    in ``__all__`` count as used."""
    out = []
    for pattern in IMPORT_CHECKED:
        for path in sorted(REPO.glob(pattern)):
            tree = ast.parse(path.read_text(), str(path))
            used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            for node in tree.body:
                if isinstance(node, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
                ):
                    used |= {c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)}
            for node in tree.body:
                if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                    continue
                if isinstance(node, (ast.Import, ast.ImportFrom)):
                    for a in node.names:
                        bound = a.asname or a.name.partition(".")[0]
                        if bound not in used:
                            out.append(f"{path.relative_to(REPO)}:{node.lineno} ({bound})")
    return out


def test_every_package_module_is_reached():
    unreached = _unreached()
    assert not unreached, f"modules no entry point imports: {unreached}"


def test_every_package_function_is_reached():
    unreached = _unreached_functions()
    assert not unreached, f"definitions no entry point reaches: {unreached}"


def test_no_unused_module_imports():
    unused = _unused_imports()
    assert not unused, f"module-level imports nothing uses: {unused}"


def test_allow_list_names_existing_functions():
    defined = {f"{m}.{n.name}" for m, tree in _package_trees() for n in tree.body if isinstance(n, DEFS)}
    assert not ALLOW.keys() - defined, f"ALLOW names what does not exist: {sorted(ALLOW.keys() - defined)}"


# ---------------------------------------------------------------------------
# Option level: every defaulted parameter and config field has a caller.

# Files whose calls count as callers of a package option, besides package
# code: the function roots, and the bench files, which are frozen or
# measure the product.
BENCH_FILES = ("bench.py", "bench_extra.py", "BENCH/*.py", "perfbench/*.py")
CALLER_ROOTS = (*FUNCTION_ROOTS, *BENCH_FILES)
CONFIG = "PipelineConfig"

# ``module.function(param)``, ``module.PipelineConfig.field`` or a whole
# ``module`` -> why it stays although no caller sets it.
OPTION_ALLOW = {
    # The library API that README documents (the function walk's ALLOW).
    "plans.incremental.extract_triples_incremental(idf)": "README: pinned IDF frame",
    "plans.incremental.extract_triples_incremental(dedup_content)": "README: crawl-mirror skip",
    "plans.incremental.incremental_state(as_of)": "README: time travel",
    "plans.incremental.compact_batches(remove_old)": "README: batch compaction",
    "streaming.ingest.streaming_triples(cfg)": "README: streamed micro-batch triples",
    "streaming.ingest.streaming_triples(max_files_per_trigger)": "README: streamed micro-batch triples",
    "streaming.sessions.sessionize_stream(gap_seconds)": "README: streamed sessionization",
    "sources.tables.write_bucketed_table(n_buckets)": "README: bucketed table sink",
    "sources.tables.write_bucketed_table(sort_cols)": "README: bucketed table sink",
    # The paper reproduction: the re-ranker and matcher channels of the
    # flagship, the LC-QuAD question path and its trainers.
    "plans.pipeline.extract_triples(rerank_model)": "paper: feature re-ranker",
    "plans.pipeline.extract_triples(rerank_framework)": "paper: feature re-ranker",
    "plans.pipeline.extract_triples(matcher_model)": "paper: fitted M1 matcher channel",
    "plans.questions.answer_questions(blacklist)": "paper: LC-QuAD question answering",
    "plans.questions.answer_questions(max_ngram)": "paper: LC-QuAD question answering",
    "plans.questions.argmax_answers(rank_col)": "paper: re-ranked answers",
    "sources.corpus.read_question_corpus(simple_only)": "paper: LC-QuAD template filter",
    "operators.features.negative_sample(key)": "paper: matcher training negatives",
    "operators.features.train_dev_split(train_frac)": "paper: matcher train/dev split",
    "operators.train.fit_matcher(channels_col)": "paper: trainer",
    "operators.train.fit_matcher(label_col)": "paper: trainer",
    "operators.train.fit_matcher(l2)": "paper: trainer",
    "operators.train.fit_linear_reranker(max_iter)": "paper: trainer",
    "operators.train.fit_linear_reranker(tol)": "paper: trainer",
    "operators.quality.fit_quality_classifier(text_col)": "trainer of the pinned q71 weights",
    "operators.quality.fit_quality_classifier(label_col)": "trainer of the pinned q71 weights",
    "operators.quality.fit_quality_classifier(l2)": "trainer of the pinned q71 weights",
    "streaming.sessions.batch_sessions(gap_seconds)": "batch twin of sessionize_stream",
    # README's "driver pulls are budgeted" guard: safety code for open-web
    # vocabularies, off on the bounded corpora the callers run.
    "config.PipelineConfig.idf_min_df": "README: budgeted driver pulls",
    "config.PipelineConfig.max_vocab": "README: budgeted driver pulls",
    # Fixture generators: their size and shape knobs are for tests.
    "synth": "fixture generator",
}


def _caller_trees():
    yield from (tree for _, tree in _package_trees())
    for pattern in CALLER_ROOTS:
        for path in sorted(REPO.glob(pattern)):
            yield ast.parse(path.read_text(), str(path))


def _callee(node: ast.Call) -> str | None:
    f = node.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """``(position, name)`` of each defaulted parameter; keyword-only ones
    have no position."""
    positional = fn.args.posonlyargs + fn.args.args
    first = len(positional) - len(fn.args.defaults)
    out = [(i, a.arg) for i, a in enumerate(positional) if i >= first]
    out += [(None, a.arg) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None]
    return out


def _config_fields(cls: ast.ClassDef) -> list[str]:
    return [
        stmt.target.id
        for stmt in cls.body
        if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name)
    ]


def _options() -> dict[str, set[str]]:
    """Per module, the ``function(param)`` of every defaulted parameter of a
    top-level def and the ``PipelineConfig.field`` of every config field."""
    out: dict[str, set[str]] = {}
    for module, tree in _package_trees():
        opts = out.setdefault(module, set())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                opts |= {f"{node.name}({param})" for _, param in _defaulted(node)}
            elif isinstance(node, ast.ClassDef) and node.name == CONFIG:
                opts |= {f"{CONFIG}.{field}" for field in _config_fields(node)}
    return out


def _unset_options() -> list[str]:
    """``module.function(param)`` of each defaulted parameter of a top-level
    package def that no call in a caller file passes, by keyword, by
    position or through ``**``, and ``module.PipelineConfig.field`` of each
    config field that no caller's ``PipelineConfig(...)`` sets and no bench
    file reads.  Calls match the def by name alone, like the function walk:
    a name collision can keep an option alive, never flag a set one."""
    calls: dict[str, list[ast.Call]] = {}
    for tree in _caller_trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (name := _callee(node)):
                calls.setdefault(name, []).append(node)
    bench_reads = {
        name
        for pattern in BENCH_FILES
        for path in sorted(REPO.glob(pattern))
        for name in _used_names([ast.parse(path.read_text(), str(path))])
    }

    def passed(name: str, pos: int | None, param: str) -> bool:
        for call in calls.get(name, ()):
            if any(k.arg in (param, None) for k in call.keywords):
                return True
            if pos is not None and (
                len(call.args) > pos or any(isinstance(a, ast.Starred) for a in call.args)
            ):
                return True
        return False

    unset = []
    for module, tree in _package_trees():
        if module in OPTION_ALLOW:
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                unset += [
                    f"{module}.{node.name}({param})"
                    for pos, param in _defaulted(node)
                    if not passed(node.name, pos, param)
                ]
            elif isinstance(node, ast.ClassDef) and node.name == CONFIG:
                unset += [
                    f"{module}.{CONFIG}.{field}"
                    for field in _config_fields(node)
                    if field not in bench_reads and not passed(CONFIG, None, field)
                ]
    return sorted(o for o in unset if o not in OPTION_ALLOW)


def test_every_package_option_has_a_caller():
    unset = _unset_options()
    assert not unset, f"options no caller sets ({len(unset)}): {unset}"


def test_option_allow_names_existing_options():
    options = _options()
    existing = set(options) | {f"{m}.{o}" for m, opts in options.items() for o in opts}
    missing = sorted(OPTION_ALLOW.keys() - existing)
    assert not missing, f"OPTION_ALLOW names what does not exist: {missing}"
