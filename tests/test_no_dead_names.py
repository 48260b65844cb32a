"""Dead-name guard: every top-level name of the package is used somewhere.

For each top-level ``def``, ``class`` and assignment in
``tika_addons_spark/**/*.py`` (dunder names excepted), the name must appear
as a word in some other ``.py`` file of the repository, or more than once
in its own file. A name that only its own definition mentions is dead
weight: a twin or shadow that nothing calls. Names that only tests use
still pass; whether those earn their place is a separate audit.

Pure ``ast`` + ``re`` over the source tree: no Spark, well under a second.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "tika_addons_spark"
_WORD = re.compile(r"\w+")


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


def test_every_package_name_is_used():
    words = {p: Counter(_WORD.findall(p.read_text(encoding="utf-8")))
             for p in _repo_py_files()}
    total = Counter()
    for c in words.values():
        total.update(c)
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        own = words[path]
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for name in _top_level_names(tree):
            if own[name] > 1 or total[name] > own[name]:
                continue
            dead.append(f"{path.relative_to(REPO)}: {name}")
    assert not dead, "top-level names nothing references:\n" + "\n".join(dead)
