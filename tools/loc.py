"""Count the lines of the package and of ``tests/``:

    python tools/loc.py

Prints, per tree, its total lines and its code lines. A code line holds
part of a token other than a comment, a docstring or layout (blank
lines, newlines, indentation); a token spanning several lines, such as
a multi-line SQL string, counts each of them.
"""

from __future__ import annotations

import ast
import io
import os
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREES = {"package": "duckdb_dbt_finance_warehouse_spark", "tests": "tests"}
LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.Module) -> set[int]:
    lines: set[int] = set()
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    for node in ast.walk(tree):
        if isinstance(node, scopes) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                if isinstance(first.value.value, str):
                    lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(path: str) -> tuple[int, int]:
    """(total lines, code lines) of one Python file."""
    with open(path) as fh:
        src = fh.read()
    docs = _docstring_lines(ast.parse(src, path))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in LAYOUT:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(src.splitlines()), len(code - docs)


def count_tree(root: str) -> tuple[int, int]:
    total = code = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                t, c = count(os.path.join(d, f))
                total += t
                code += c
    return total, code


def main() -> None:
    for name, rel in TREES.items():
        total, code = count_tree(os.path.join(ROOT, rel))
        print(f"{name:<8} {total:>7,} lines {code:>7,} code")


if __name__ == "__main__":
    main()
