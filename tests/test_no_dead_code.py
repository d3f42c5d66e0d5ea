"""Dead-code guard: every top-level function, top-level class and
class method in the package must be referenced somewhere — by the
package itself, the bench and runner entry points, ``tools/`` or
``perfbench/``. A use in ``tests/`` does not count: code that only its
own tests call is test-only surface, and a reference form the tests
compare a kernel against belongs in the tests as an oracle.

A reference is a ``Name`` or ``Attribute`` node or an import alias in
the AST, so a mention in a docstring or comment does not count; nor
does a package ``__init__.py`` re-exporting a name, which keeps a
function importable without anything calling it. A function registered
with the suite's ``@query`` decorator is used by the registry; dunder
methods are called by Python itself.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "duckdb_dbt_finance_warehouse_spark")
USERS = [
    PKG,
    os.path.join(ROOT, "bench.py"),
    os.path.join(ROOT, "runner.py"),
    os.path.join(ROOT, "tools"),
    os.path.join(ROOT, "perfbench"),
]


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _registered(fn: ast.AST) -> bool:
    for d in fn.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _definitions() -> dict[str, list[str]]:
    """name -> ['module.py:line', ...] for every top-level function and
    class, and every method of a top-level class, in the package."""
    defs: dict[str, list[str]] = {}
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for path in _py_files(PKG):
        tree = _parse(path)
        found = [n for n in tree.body if isinstance(n, (*funcs, ast.ClassDef))]
        for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
            found.extend(n for n in cls.body if isinstance(n, funcs))
        for fn in found:
            if _registered(fn) or (fn.name.startswith("__") and fn.name.endswith("__")):
                continue
            where = f"{os.path.relpath(path, ROOT)}:{fn.lineno}"
            defs.setdefault(fn.name, []).append(where)
    return defs


def _references() -> set[str]:
    names: set[str] = set()
    for user in USERS:
        for path in _py_files(user):
            reexport = path.startswith(PKG) and os.path.basename(path) == "__init__.py"
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias) and not reexport:
                    names.add(node.name.rsplit(".", 1)[-1])
                    if node.asname:
                        names.add(node.asname)
    return names


def test_every_package_function_is_referenced():
    refs = _references()
    dead = sorted(
        f"{name} ({', '.join(where)})"
        for name, where in _definitions().items()
        if name not in refs
    )
    assert not dead, "definitions no code references — delete them: " + "; ".join(dead)
