"""Count the lines of the package and of ``tests/``:

    python tools/loc.py

Prints, per tree, its total lines and its code lines. A code line holds
part of a token other than a comment, a docstring or layout (blank
lines, newlines, indentation); a token spanning several lines, such as
a multi-line SQL string, counts each of them.

A third line counts the package's options: the parameters with a
default value, over every function and method the package defines.
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


def options(path: str) -> int:
    """Defaulted parameters of the functions defined in one file."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    return sum(
        len(node.args.defaults) + sum(d is not None for d in node.args.kw_defaults)
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    )


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


def _py_files(root: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, files in os.walk(root) for f in files if f.endswith(".py")
    ]


def count_tree(root: str) -> tuple[int, int]:
    total = code = 0
    for path in _py_files(root):
        t, c = count(path)
        total += t
        code += c
    return total, code


def main() -> None:
    for name, rel in TREES.items():
        total, code = count_tree(os.path.join(ROOT, rel))
        print(f"{name:<8} {total:>7,} lines {code:>7,} code")
    n_opts = sum(options(p) for p in _py_files(os.path.join(ROOT, TREES["package"])))
    print(f"{'package':<8} {n_opts:>7,} options")


if __name__ == "__main__":
    main()
