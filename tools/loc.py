"""Count total and code lines of Python files.

Usage: python tools/loc.py [paths...]   (default: ratatool_spark/)

Each path is a .py file or a directory searched recursively for .py
files. Prints ``total code path`` per file, then the sum. Code lines
exclude blank lines, lines holding only a ``#`` comment, and the lines
of module, class and function docstrings."""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize


def count(src: str) -> tuple[int, int]:
    lines = src.splitlines()
    skip = {i for i, ln in enumerate(lines, 1) if not ln.strip()}
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT and not tok.line[: tok.start[1]].strip():
            skip.add(tok.start[0])
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            skip.update(range(doc.lineno, doc.end_lineno + 1))
    return len(lines), len(lines) - len(skip)


def main(argv: list[str]) -> None:
    files: list[pathlib.Path] = []
    for arg in argv or ["ratatool_spark"]:
        p = pathlib.Path(arg)
        files.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    total = code = 0
    for f in files:
        t, c = count(f.read_text())
        total += t
        code += c
        print(f"{t:7d} {c:7d} {f}")
    print(f"{total:7d} {code:7d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
