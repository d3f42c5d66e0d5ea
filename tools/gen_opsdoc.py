"""Generate OPERATORS.md — one row per registry entry (name, source
module, oracle pairing, first docstring sentence) — so users and
reviewers can navigate the registry without reading suite/*.py. Rerun
after adding or editing entries (tests/test_operators_doc.py fails
while the committed file differs from ``render()``):

    python tools/gen_opsdoc.py
"""

from __future__ import annotations

import inspect
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_dbt_finance_warehouse_spark.suite import DRIVER_PRIORITY, REGISTRY


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    flat = " ".join(doc.split())
    m = re.match(r"(.+?\.)(\s|$)", flat)
    s = m.group(1) if m else flat
    return s.replace("|", "\\|")


OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "OPERATORS.md"
)


def render() -> str:
    """OPERATORS.md's full text for the current registry."""
    lines = [
        "# Operator reference (generated — `python tools/gen_opsdoc.py`)",
        "",
        f"{len(REGISTRY)} registry entries; every entry is a `queries()` "
        "callable `(spark, sf_dir) -> DataFrame`. `oracle` = DuckDB SQL "
        "replay exists (the driver hash-compares results) — since r8 "
        "EVERY entry is oracle-paired, and since r9 the multimodal "
        "decode is a REAL PNG decode (operators/png) whose pixel stats "
        "the oracle replays through the lossless round-trip. `window` "
        "marks membership in the driver's 50-entry per-round "
        "correctness rotation (CLAUDE.md).",
        "",
        "| entry | module | oracle | window | summary |",
        "|---|---|---|---|---|",
    ]
    window = set(DRIVER_PRIORITY[:50])
    for name, spec in sorted(REGISTRY.items()):
        mod = inspect.getmodule(spec.fn).__name__.rsplit(".", 1)[-1]
        lines.append(
            f"| {name} | suite/{mod}.py | "
            f"{'yes' if spec.has_oracle else 'rows-only'} | "
            f"{'yes' if name in window else ''} | {first_sentence(spec.doc)} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(OUT, "w") as f:
        f.write(render())
    print(f"wrote {OUT} ({len(REGISTRY)} entries)")


if __name__ == "__main__":
    main()
