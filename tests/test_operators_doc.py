"""OPERATORS.md is generated from the registry; a stale copy misleads
readers about entry counts, oracle pairing and the driver window."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    "gen_opsdoc", os.path.join(REPO, "tools", "gen_opsdoc.py")
)
gen_opsdoc = importlib.util.module_from_spec(spec)
spec.loader.exec_module(gen_opsdoc)


def test_operators_md_matches_the_generator():
    with open(gen_opsdoc.OUT) as fh:
        committed = fh.read()
    assert committed == gen_opsdoc.render(), (
        "OPERATORS.md is stale — run python tools/gen_opsdoc.py"
    )
