"""Count total and code lines of Python files.

Usage: python tools/line_count.py [PATH ...]   (default: sql4pandas_spark)

Each PATH is a ``.py`` file or a directory searched recursively for them.
Total is every line. Code is total minus blank lines, comment-only lines
and the lines spanned by module, class and function docstrings, found
with ``ast`` so a ``#`` or a quote inside a string is never miscounted.
Prints one ``total code path`` line per PATH.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def count(source: str) -> tuple[int, int]:
    """(total, code) lines of one Python source text."""
    docstring_lines: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, _DOC_OWNERS) and ast.get_docstring(node) is not None:
            doc = node.body[0]
            docstring_lines.update(range(doc.lineno, doc.end_lineno + 1))
    lines = source.splitlines()
    code = sum(
        1
        for i, line in enumerate(lines, 1)
        if i not in docstring_lines
        and line.strip()
        and not line.lstrip().startswith("#")
    )
    return len(lines), code


def count_path(path: Path) -> tuple[int, int]:
    files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
    total = code = 0
    for f in files:
        t, c = count(f.read_text())
        total += t
        code += c
    return total, code


def main(argv: list[str]) -> None:
    for arg in argv or ["sql4pandas_spark"]:
        total, code = count_path(Path(arg))
        print(f"{total:>8,} {code:>8,}  {arg}")


if __name__ == "__main__":
    main(sys.argv[1:])
