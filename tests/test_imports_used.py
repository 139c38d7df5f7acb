"""Every name a package module imports is used by that module.

Stdlib-only (``ast``): the package has no pyflakes/ruff gate, so an
import left behind by a refactor would otherwise stay forever.
Exempt: ``__future__`` imports, names re-exported through ``__all__``
and lines marked ``# noqa``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "spark_expectations_spark"


def _unused_imports(source: str) -> list[tuple[int, str]]:
    tree = ast.parse(source)
    lines = source.splitlines()
    imported: dict[str, int] = {}
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                imported[alias.asname or alias.name.split(".")[0]] = \
                    alias.lineno
        elif (isinstance(node, ast.ImportFrom)
              and node.module != "__future__"):
            for alias in node.names:
                if alias.name != "*":
                    imported[alias.asname or alias.name] = alias.lineno
        elif isinstance(node, ast.Name):
            used.add(node.id)
        elif (isinstance(node, ast.Assign)
              and any(isinstance(t, ast.Name) and t.id == "__all__"
                      for t in node.targets)):
            used.update(c.value for c in ast.walk(node.value)
                        if isinstance(c, ast.Constant))
        # quoted annotations name their types inside a string
        for ann in (getattr(node, "annotation", None),
                    getattr(node, "returns", None)):
            if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                used.update(n.id for n in ast.walk(
                    ast.parse(ann.value, mode="eval"))
                    if isinstance(n, ast.Name))
    return sorted((line, name) for name, line in imported.items()
                  if name not in used and "noqa" not in lines[line - 1])


class TestImportsUsed:
    def test_detector_flags_only_unused_names(self):
        src = ("from __future__ import annotations\n"
               "import os, sys\n"
               "from typing import Any, Optional\n"
               "import json  # noqa: F401\n"
               "__all__ = ['Any']\n"
               "def f(x: 'Optional[int]') -> None:\n"
               "    return os.sep\n")
        assert _unused_imports(src) == [(2, "sys")]

    def test_package_has_no_unused_imports(self):
        found = [f"{path.relative_to(PACKAGE.parent)}:{line} {name}"
                 for path in sorted(PACKAGE.rglob("*.py"))
                 for line, name in _unused_imports(
                     path.read_text(encoding="utf-8"))]
        assert not found, found
