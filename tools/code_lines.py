"""Count code lines per Python file: lines that carry a token, minus
comments, blank lines and docstrings (module, class and function).

    python tools/code_lines.py PATH [PATH ...]

A PATH that is a directory stands for every ``*.py`` file under it, in
sorted order. Prints one ``<count>  <file>`` line per file, then the
total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, _SCOPES) and ast.get_docstring(node, False) is not None:
            doc = node.body[0]
            lines.difference_update(range(doc.lineno, doc.end_lineno + 1))
    return len(lines)


def py_files(paths: list[str]) -> list[str]:
    """``paths`` with each directory replaced by its ``*.py`` files,
    recursively, in sorted order."""
    out = []
    for path in paths:
        if Path(path).is_dir():
            out.extend(str(f) for f in sorted(Path(path).rglob("*.py")))
        else:
            out.append(path)
    return out


def main(paths: list[str]) -> int:
    total = 0
    for path in py_files(paths):
        with open(path, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
