#!/usr/bin/env python
"""Count the package's code lines: non-blank, non-comment, non-docstring.

    python scripts/loc.py                 # every module, then the total
    python scripts/loc.py sources/commitlog.py plans/tableformat.py

Paths are relative to the package directory. A docstring is the leading
string statement of a module, class or function; its lines and every line
holding only a comment are not code. This is the counter the net-LoC
figures in CHANGES.md use.
"""

from __future__ import annotations

import ast
import os
import sys

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "amazonbigdata_for_students_spark",
)


def code_lines(source: str) -> int:
    lines = source.splitlines()
    skip: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            skip.update(range(first.lineno, first.end_lineno + 1))
    return sum(
        1
        for i, line in enumerate(lines, 1)
        if i not in skip and line.strip() and not line.strip().startswith("#")
    )


def main() -> int:
    rels = sys.argv[1:] or sorted(
        os.path.relpath(os.path.join(d, f), PKG)
        for d, _, files in os.walk(PKG)
        for f in files
        if f.endswith(".py")
    )
    total = 0
    for rel in rels:
        with open(os.path.join(PKG, rel)) as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:7d}  {rel}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
