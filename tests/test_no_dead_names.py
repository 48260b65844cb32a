"""Dead-code guards over the package source, counted in code, not prose.

1. Every top-level ``def``, ``class`` and assignment in
   ``tika_addons_spark/**/*.py`` (dunder names excepted) is referenced by
   code somewhere in the repository: a ``Name`` load, an ``Attribute``
   attribute, an imported name, or an identifier-valued string constant
   (``getattr``-style use). A docstring or comment that mentions a name
   does not keep it alive. Names that only tests use still pass; the
   second guard audits whole modules.
2. Every module of the package is imported by at least one non-test file
   (the package itself, ``jobs/``, ``bench*``, ``perfbench/`` or
   ``__spark_entry__.py``). A module only tests import is a feature no job,
   query or tool runs.

Pure ``ast`` over the source tree: no Spark, well under a second.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "tika_addons_spark"
TESTS = REPO / "tests"

# Modules kept without a non-test importer, each with its reason.
TEST_ONLY_MODULES = {
    # equality_gate is the tier-2 engine-vs-reference gate of the pipeline
    # tests; align_runs/sim_sets are the MultiComparer J1/J3 comparison
    # harness (COVERAGE.md §2.3).
    "tika_addons_spark.operators.compare",
}


def _repo_py_files() -> list[Path]:
    return [
        p for p in REPO.rglob("*.py")
        if not any(part.startswith(".") or part == "__pycache__"
                   for part in p.relative_to(REPO).parts)
    ]


def _top_level_names(tree: ast.Module) -> list[str]:
    names: list[str] = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        names.append(n.id)
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _references(tree: ast.Module) -> Counter:
    refs: Counter = Counter()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.alias):
            refs[n.name.rpartition(".")[2]] += 1
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            refs[n.value] += 1
    return refs


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_modules(path: Path, tree: ast.Module) -> set[str]:
    """Every module name an import statement in ``path`` may load: the
    target of ``import a.b``, and for ``from a import b`` both ``a`` and
    ``a.b`` (``b`` may be a submodule). Relative imports are resolved
    against the file's package."""
    package = _module_name(path)
    if path.name != "__init__.py":
        package = package.rpartition(".")[0]
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - (n.level - 1)]
                base = ".".join(anchor + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in n.names)
    return out


def test_every_package_name_is_used():
    total: Counter = Counter()
    defined: list[tuple[Path, str]] = []
    for path in sorted(_repo_py_files()):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        total.update(_references(tree))
        if path.is_relative_to(PACKAGE):
            defined += [(path, name) for name in _top_level_names(tree)]
    dead = [f"{path.relative_to(REPO)}: {name}"
            for path, name in defined if not total[name]]
    assert not dead, "top-level names no code references:\n" + "\n".join(dead)


def test_every_module_has_a_non_test_importer():
    imported: set[str] = set()
    for path in _repo_py_files():
        if not path.is_relative_to(TESTS):
            tree = ast.parse(path.read_text(encoding="utf-8"))
            imported |= _imported_modules(path, tree)
    modules = (_module_name(p) for p in PACKAGE.rglob("*.py")
               if p.name != "__init__.py")
    orphans = sorted(
        m for m in modules if m not in imported and m not in TEST_ONLY_MODULES
    )
    assert not orphans, "modules only tests import:\n" + "\n".join(orphans)
