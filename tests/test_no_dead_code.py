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

A second rule walks the same definitions: no package function or method
takes a parameter whose name starts with ``_``. Such a parameter is a
private switch on a callable that has callers — a second path each of
them must know about; an internal path belongs in a private helper.

A method name such as ``read`` or ``append`` is also an attribute of
many other objects, so a method counts as referenced only from its
defining module or from a file that can hold an instance of its class:
one that references the class, or a package function or module-level
variable whose annotation names the class (``build_pipeline() ->
Pipeline``, ``REGISTRY: dict[str, QuerySpec]``).
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


def _walk() -> list[tuple[ast.AST, str | None, str]]:
    """(node, defining class or None, 'module.py:line') for every
    top-level function and class, and every method of a top-level
    class, in the package."""
    nodes = []
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for path in _py_files(PKG):
        tree = _parse(path)
        found = [(n, None) for n in tree.body if isinstance(n, (*funcs, ast.ClassDef))]
        for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
            found.extend((n, cls.name) for n in cls.body if isinstance(n, funcs))
        for node, cls_name in found:
            nodes.append((node, cls_name, f"{os.path.relpath(path, ROOT)}:{node.lineno}"))
    return nodes


def _definitions() -> list[tuple[str, str | None, str]]:
    """(name, defining class or None, 'module.py:line') for every
    definition ``_walk`` finds that something must reference: not a
    registered suite entry, not a dunder method."""
    return [
        (fn.name, cls_name, where)
        for fn, cls_name, where in _walk()
        if not (_registered(fn) or (fn.name.startswith("__") and fn.name.endswith("__")))
    ]


def _holders() -> dict[str, set[str]]:
    """class name -> package names whose annotation names the class:
    functions returning it, module-level variables holding it."""
    holders: dict[str, set[str]] = {}
    for path in _py_files(PKG):
        for top in _parse(path).body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) and top.returns:
                name, ann = top.name, top.returns
            elif isinstance(top, ast.AnnAssign) and isinstance(top.target, ast.Name):
                name, ann = top.target.id, top.annotation
            else:
                continue
            for node in ast.walk(ann):
                if isinstance(node, ast.Name):
                    holders.setdefault(node.id, set()).add(name)
    return holders


def _references() -> dict[str, set[str]]:
    """path -> names referenced in that file."""
    refs: dict[str, set[str]] = {}
    for user in USERS:
        for path in _py_files(user):
            reexport = path.startswith(PKG) and os.path.basename(path) == "__init__.py"
            names = refs.setdefault(os.path.relpath(path, ROOT), set())
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias) and not reexport:
                    names.add(node.name.rsplit(".", 1)[-1])
                    if node.asname:
                        names.add(node.asname)
    return refs


def test_every_package_function_is_referenced():
    refs, holders = _references(), _holders()

    def used(name: str, cls: str | None, where: str) -> bool:
        if cls is None:
            return any(name in names for names in refs.values())
        module = where.rsplit(":", 1)[0]
        obtains = {cls} | holders.get(cls, set())
        return any(
            name in names and (path == module or obtains & names)
            for path, names in refs.items()
        )

    dead = sorted(
        f"{f'{cls}.' if cls else ''}{name} ({where})"
        for name, cls, where in _definitions()
        if not used(name, cls, where)
    )
    assert not dead, "definitions no code references — delete them: " + "; ".join(dead)


def test_no_package_function_takes_a_private_parameter():
    private = sorted(
        f"{f'{cls}.' if cls else ''}{fn.name}({a.arg}) ({where})"
        for fn, cls, where in _walk()
        if not isinstance(fn, ast.ClassDef)
        for a in (
            *fn.args.posonlyargs,
            *fn.args.args,
            *fn.args.kwonlyargs,
            *filter(None, (fn.args.vararg, fn.args.kwarg)),
        )
        if a.arg.startswith("_")
    )
    assert not private, (
        "private switches on package functions — move the internal path "
        "into a private helper: " + "; ".join(private)
    )
