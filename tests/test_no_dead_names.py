"""Dead-code guards over the package source, counted in code, not prose.

1. Every top-level ``def``, ``class`` and assignment in
   ``tika_addons_spark/**/*.py`` (dunder names excepted) is referenced by
   non-test code: the package itself, ``jobs/``, ``bench*``,
   ``perfbench/`` or ``__spark_entry__.py``. A reference is a ``Name``
   load, an ``Attribute`` attribute, an imported name, or an
   identifier-valued string constant (``getattr``-style use). A docstring
   or comment that mentions a name does not keep it alive, and neither
   does a test: a name only tests use is a capability no job, query or
   tool runs. ``TEST_ONLY_NAMES`` lists the names kept anyway, each with
   its reason; names of a module in ``TEST_ONLY_MODULES`` may be used by
   tests alone.
2. Every module of the package is imported by at least one non-test file.
   ``TEST_ONLY_MODULES`` lists the modules kept anyway, with their reason.

Both exception lists must stay current: an entry whose name or module no
longer exists, or that gained a non-test user, fails its guard.

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
    "tika_addons_spark.operators.compare": (
        "equality_gate is the tier-2 engine-vs-reference gate of the "
        "pipeline tests; align_runs/sim_sets are the MultiComparer J1/J3 "
        "comparison harness (COVERAGE.md §2.3)"
    ),
}

# Package names kept without a non-test user, each with its reason.
TEST_ONLY_NAMES = {
    "tika_addons_spark.functions.langid.detect_languages": (
        "readable spec of detect_languages_fast, which the Spark surface "
        "runs; test_fast_scorer_matches_reference pins the fast path to it"
    ),
    "tika_addons_spark.operators.dedup.minhash_jaccard_estimate": (
        "two-phase reference estimator: test_lsh_quality checks its error "
        "bound and pins minhash_lsh_estimated_pairs, the fused path q31/q51 "
        "run, to it"
    ),
    "tika_addons_spark.fixtures.write_transcripts_parquet": (
        "named entry point of the verify recipe "
        "(.claude/skills/verify/SKILL.md) and the tests' transcripts file"
    ),
    "tika_addons_spark.operators.multimodal.decode_bmp": (
        "BMP decoder on the total-and-bounded codec list (ROADMAP aim 3); "
        "q34 parses BMP headers, no query decodes BMP pixels yet"
    ),
    "tika_addons_spark.operators.multimodal.decode_tiff": (
        "TIFF decoder on the total-and-bounded codec list (ROADMAP aim 3); "
        "q34 parses TIFF headers, no query decodes TIFF pixels yet"
    ),
    "tika_addons_spark.operators.multimodal.decode_wav": (
        "WAV decoder on the total-and-bounded codec list (ROADMAP aim 3); "
        "q34 parses WAV headers, no query decodes samples yet"
    ),
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


def _scan() -> tuple[Counter, Counter, dict[str, str], set[str]]:
    """(non-test references, test references, defined package name →
    module, modules imported by non-test files)."""
    code: Counter = Counter()
    tests: Counter = Counter()
    defined: dict[str, str] = {}
    imported: set[str] = set()
    for path in sorted(_repo_py_files()):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        if path.is_relative_to(TESTS):
            tests.update(_references(tree))
            continue
        code.update(_references(tree))
        imported |= _imported_modules(path, tree)
        if path.is_relative_to(PACKAGE):
            module = _module_name(path)
            defined.update((f"{module}.{name}", module)
                           for name in _top_level_names(tree))
    return code, tests, defined, imported


def test_every_package_name_is_used():
    code, tests, defined, _ = _scan()
    dead = []
    for qualname, module in defined.items():
        name = qualname.rpartition(".")[2]
        used = code[name] or (module in TEST_ONLY_MODULES and tests[name])
        if not used and qualname not in TEST_ONLY_NAMES:
            dead.append(qualname)
    assert not dead, "package names no non-test code references:\n" + "\n".join(dead)


def test_name_exceptions_are_current():
    code, _, defined, _ = _scan()
    stale = [
        f"{q}: {'gone' if q not in defined else 'has a non-test user'}"
        for q in TEST_ONLY_NAMES
        if q not in defined or code[q.rpartition(".")[2]]
    ]
    assert not stale, "stale TEST_ONLY_NAMES entries:\n" + "\n".join(stale)


def _package_modules() -> set[str]:
    return {_module_name(p) for p in PACKAGE.rglob("*.py")
            if p.name != "__init__.py"}


def test_every_module_has_a_non_test_importer():
    _, _, _, imported = _scan()
    orphans = sorted(
        m for m in _package_modules()
        if m not in imported and m not in TEST_ONLY_MODULES
    )
    assert not orphans, "modules only tests import:\n" + "\n".join(orphans)


def test_module_exceptions_are_current():
    _, _, _, imported = _scan()
    modules = _package_modules()
    stale = [
        f"{m}: {'gone' if m not in modules else 'has a non-test importer'}"
        for m in TEST_ONLY_MODULES
        if m not in modules or m in imported
    ]
    assert not stale, "stale TEST_ONLY_MODULES entries:\n" + "\n".join(stale)
