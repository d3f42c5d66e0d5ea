"""Driver-window coverage invariant (VERDICT r5 task 8).

The driver's correctness gate only ever runs the FIRST 50 registry
entries, so an entry outside the window ships on local checks alone.
Round 5 shipped 70 entries that way.  This test makes that failure
mode structurally impossible to repeat silently: every registry entry
must either

  (a) already have a driver CORRECTNESS row (any CORRECTNESS_r*.json),
  (b) sit in the CURRENT first-50 window (DRIVER_PRIORITY), or
  (c) be on the declared DEFERRED_NEXT_ROUND drain list — which must
      itself fit inside one future round's window.

A new queries() entry that lands in none of the three fails the suite
immediately, at authoring time, not at judging time.
"""

from __future__ import annotations

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_checked() -> set[str]:
    names: set[str] = set()
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(f) as fh:
            names |= set(json.load(fh).keys())
    return names


def test_every_registry_entry_is_scheduled_for_driver_verification():
    from duckdb_dbt_finance_warehouse_spark.suite import (
        DEFERRED_NEXT_ROUND,
        DRIVER_PRIORITY,
        REGISTRY,
    )

    names = list(REGISTRY)
    window = names[:50]
    assert window == DRIVER_PRIORITY[:50], (
        "registry iteration order must lead with DRIVER_PRIORITY — the "
        "driver takes the first 50 entries, not the list constant"
    )
    covered = _driver_checked() | set(window) | set(DEFERRED_NEXT_ROUND)
    unscheduled = [n for n in names if n not in covered]
    assert not unscheduled, (
        f"queries() entries with NO driver-verification path (not yet "
        f"driver-checked, not in the first-50 window, not on the "
        f"declared deferred drain list): {unscheduled} — put them in "
        f"DRIVER_PRIORITY's first 50 (CLAUDE.md rotation rule)"
    )


def test_touched_entries_are_windowed_or_deferred():
    """r13 VERDICT #9: the rotation policy's overflow rule, executable —
    every entry this round's code touches must land in the first-50
    window same-round or sit on DEFERRED_NEXT_ROUND.  No silent third
    bucket (r13 shipped seven touched entries on no drain list)."""
    from duckdb_dbt_finance_warehouse_spark.suite import (
        DEFERRED_NEXT_ROUND,
        DRIVER_PRIORITY,
        TOUCHED_THIS_ROUND,
    )

    window = set(DRIVER_PRIORITY[:50])
    stranded = [
        n
        for n in TOUCHED_THIS_ROUND
        if n not in window and n not in DEFERRED_NEXT_ROUND
    ]
    assert not stranded, (
        f"touched this round but neither driver-windowed nor on the "
        f"deferred drain list: {stranded}"
    )


def test_rotation_lists_are_well_formed():
    from duckdb_dbt_finance_warehouse_spark.suite import (
        DEFERRED_NEXT_ROUND,
        DRAINED_THIS_ROUND,
        DRIVER_PRIORITY,
        REGISTRY,
    )

    assert len(DRIVER_PRIORITY) == 50
    # the drain leads the window
    assert DRIVER_PRIORITY[: len(DRAINED_THIS_ROUND)] == DRAINED_THIS_ROUND
    assert len(set(DRIVER_PRIORITY)) == 50, "duplicate window slots"
    unknown = [n for n in DRIVER_PRIORITY + DEFERRED_NEXT_ROUND if n not in REGISTRY]
    assert not unknown, f"rotation names not in REGISTRY: {unknown}"
    # the deferred plan must be drainable in ONE round's window
    assert len(DEFERRED_NEXT_ROUND) <= 50
    overlap = set(DRIVER_PRIORITY) & set(DEFERRED_NEXT_ROUND)
    assert not overlap, f"entries both in-window and deferred: {overlap}"
