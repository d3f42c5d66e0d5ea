"""The MRR reference rules live once, in ``functions/``.

The warehouse models and the suite entries that prove those models'
operators against DuckDB must run the same rule, or a green oracle says
nothing about the model. This source scan fails when one of the shared
rules is written out again in a model, an ingest path or a core suite
entry instead of calling its helper: the zero-default lag
(``mrr.lag_or_zero``), the prior-rows frame (``mrr.ever_before``), the
month spine (``dates.month_spine``), the 1900-01-01 first-version
backdate (``mrr.first_version_backdated``), the movement types
(``mrr.movement_type`` / ``movement_amounts`` and the ``mrr`` constants)
and the lineage stamp (``lineage.lineage_columns``). Oracle SQL is
exempt: it sits in decorator arguments and module-level constants,
outside the function bodies scanned here.

The two frame-level compositions are held to the same rule: a per-key
month map (``map_from_entries``) is the zero-filled spine of
``mrr.account_month_chain``, a distinct count in a model is a second
waterfall rollup beside ``mrr.waterfall_measures``, and a filter on
``is_month_start`` is a second read of dim_date's month rows beside
``dates.month_starts``.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "duckdb_dbt_finance_warehouse_spark")
SCANNED = sorted(
    [
        os.path.join("models", f)
        for f in os.listdir(os.path.join(PKG, "models"))
        if f.endswith(".py")
    ]
    + [
        os.path.join("sources", "csv.py"),
        os.path.join("suite", "core_relational.py"),
    ]
)

# "zero" is left out: it is also an ordinary band label (f_misc_scalars),
# and any second copy of the ladder carries the other names anyway.
MOVEMENTS = {"new", "reactivation", "churn", "upgrade", "downgrade", "no_change"}
LINEAGE = {"ingested_at", "source_file"}


def _is_minus_one(node: ast.AST) -> bool:
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
        node = node.operand
        return isinstance(node, ast.Constant) and node.value == 1
    return isinstance(node, ast.Constant) and node.value == -1


def _finding(node: ast.AST, rel: str) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        if node.value == "is_month_start":
            return "a month-row read (use dates.month_starts)"
        if "interval 1 month" in node.value.lower():
            return "a month spine (use dates.month_spine)"
        if "1900-01-01" in node.value:
            return "a first-version backdate (use mrr.first_version_backdated)"
        if node.value in MOVEMENTS:
            return f"the movement literal {node.value!r} (use functions.mrr)"
        return None
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return None
    attr, recv = node.func.attr, node.func.value
    if isinstance(recv, ast.Name) and recv.id == "F":
        if attr == "lag":
            return "F.lag (use mrr.lag_or_zero)"
        if attr == "map_from_entries":
            return "a per-key month map (use mrr.account_month_chain)"
        if attr in ("countDistinct", "count_distinct") and rel.startswith("models"):
            return "a distinct count (use mrr.waterfall_measures)"
    if (
        attr == "rowsBetween"
        and len(node.args) == 2
        and isinstance(node.args[0], ast.Attribute)
        and node.args[0].attr == "unboundedPreceding"
        and _is_minus_one(node.args[1])
    ):
        return "a prior-rows frame (use mrr.ever_before)"
    if attr == "strftime":
        return "a batch-timestamp format (use lineage.lineage_columns)"
    if (
        attr in ("alias", "withColumn")
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value in LINEAGE
    ):
        return f"a lineage stamp {node.args[0].value!r} (use lineage.lineage_columns)"
    return None


def _body(fn: ast.FunctionDef) -> list[ast.stmt]:
    """The statements of ``fn`` without its docstring."""
    body = fn.body
    first = body[0] if body else None
    if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
        return body[1:]
    return body


def _stray_rules() -> list[str]:
    stray = []
    for rel in SCANNED:
        path = os.path.join(PKG, rel)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for top in tree.body:
            if not isinstance(top, ast.FunctionDef):
                continue
            for stmt in _body(top):
                for node in ast.walk(stmt):
                    what = _finding(node, rel)
                    if what:
                        stray.append(f"{rel}:{node.lineno} {top.name} writes {what}")
    return stray


def test_mrr_rules_are_written_once():
    stray = _stray_rules()
    assert not stray, "call the shared functions/ helper: " + "; ".join(stray)
