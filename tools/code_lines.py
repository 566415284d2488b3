#!/usr/bin/env python
"""Count code lines: physical lines that carry a token other than a
comment, a newline or an indent, excluding docstrings (a string
expression that is the first statement of a module, class or
function). Blank, comment-only and docstring lines do not count.

Usage: python tools/code_lines.py <path>...

Each file prints ``<count> <path>``; a directory is walked for
``*.py`` files and counted as their sum; with more than one path a
``<total> total`` line follows.
"""

from __future__ import annotations

import ast
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count_file(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src, path))
    code: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in _SKIP or tok.type == tokenize.ENCODING:
                continue
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def count_path(path: str) -> int:
    if not os.path.isdir(path):
        return count_file(path)
    total = 0
    for root, dirs, files in os.walk(path):
        dirs.sort()
        total += sum(
            count_file(os.path.join(root, f))
            for f in sorted(files)
            if f.endswith(".py")
        )
    return total


def main(paths: list[str]) -> int:
    if not paths:
        print("usage: python tools/code_lines.py <path>...", file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        n = count_path(p)
        total += n
        print(f"{n} {p}")
    if len(paths) > 1:
        print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
