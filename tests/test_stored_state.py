"""Contract of the stored-state lifecycle (``state.stored`` /
``persist`` / ``release_persisted`` / ``reset_stored_state``), plus the
one-owner rules: no package module but ``state.py`` persists,
unpersists or checkpoints a frame itself, and none but ``sources/tables.py`` decides
how a table lands on disk."""

from __future__ import annotations

import os
import re

import pytest
from py4j.protocol import Py4JError

from duckdb_dbt_finance_warehouse_spark import state

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "duckdb_dbt_finance_warehouse_spark",
)


@pytest.fixture
def memo(request):
    """A memo name private to the test; its entries are dropped after."""
    name = f"test.{request.node.name}"
    yield name
    state._memos.pop(name, None)


def _lookup(name, df, key=("k",), value=None):
    """(value, built) of one ``stored`` call; a miss builds ``value``
    (default: a projection of ``df``)."""
    calls = []

    def build():
        calls.append(1)
        return df.selectExpr("id * 2 AS x") if value is None else value

    return state.stored(name, df, key, build), bool(calls)


def _hit(name, df):
    value, built = _lookup(name, df)
    assert not built, "expected a memo hit"
    return value


def test_stored_lru_caps_and_evicts(spark, monkeypatch, memo):
    monkeypatch.setattr(state, "CAP", 2)
    frames = []
    for i in range(3):
        frame, built = _lookup(memo, spark.range(10 + i))
        assert built
        frames.append(frame)
    # the oldest entry was evicted and unpersisted; the newest two hit
    assert len(state._memos[memo]) == 2
    assert not frames[0].storageLevel.useMemory
    assert _hit(memo, spark.range(12)) is frames[2]
    # a hit moves to MRU: inserting one more now evicts range(12)
    assert _hit(memo, spark.range(11)) is frames[1]
    assert _lookup(memo, spark.range(99))[1]
    assert _hit(memo, spark.range(11)) is frames[1]
    assert _lookup(memo, spark.range(12))[1]
    assert _lookup(memo, spark.range(10))[1]  # evicted first of all


def test_equal_plan_from_another_session_misses(spark, memo):
    other = spark.newSession()
    assert other.range(5).sameSemantics(spark.range(5))
    a, _ = _lookup(memo, spark.range(5))
    b, built = _lookup(memo, other.range(5))
    assert built and b is not a
    assert _hit(memo, spark.range(5)) is a


def test_reset_rebuilds_and_unpersists(spark, memo):
    old, _ = _lookup(memo, spark.range(6))
    old.count()
    state.reset_stored_state()
    assert not old.storageLevel.useMemory
    new, built = _lookup(memo, spark.range(6))
    assert built and new is not old


def test_hit_after_release_is_persisted_again(spark, memo):
    frame, _ = _lookup(memo, spark.range(7))
    assert frame.storageLevel.useMemory
    state.release_persisted()
    assert not frame.storageLevel.useMemory
    assert _hit(memo, spark.range(7)) is frame
    assert frame.storageLevel.useMemory


def test_model_value_survives_release_until_reset(spark, memo):
    model = ("centroids", (1, 2, 3))
    assert _lookup(memo, spark.range(8), value=model) == (model, True)
    state.release_persisted()
    assert _hit(memo, spark.range(8)) is model
    state.reset_stored_state()
    again, built = _lookup(memo, spark.range(8), value=("retrained",))
    assert built and again is not model


class _DeadSessionFrame:
    """Stands in for a frame whose session was stopped: ``unpersist``
    fails inside py4j."""

    def unpersist(self):
        raise Py4JError("unpersist: NullPointerException (session stopped)")


def test_release_skips_frames_of_stopped_sessions(spark):
    before = state.persist(spark.range(3).selectExpr("id * 5 AS x"))
    state._persisted.append(_DeadSessionFrame())
    after = state.persist(spark.range(3).selectExpr("id * 7 AS x"))
    before.count(), after.count()
    state.release_persisted()
    assert state._persisted == []
    assert not before.storageLevel.useMemory
    assert not after.storageLevel.useMemory


def test_shared_truncates_the_plan_and_keeps_the_rows(spark):
    df = spark.range(6).selectExpr("id % 3 AS k").groupBy("k").count()
    s = state.shared(df)
    plan = s._jdf.queryExecution().analyzed().toString()
    assert "Aggregate" not in plan and "LogicalRDD" in plan
    assert sorted(s.collect()) == sorted(df.collect())
    assert s.storageLevel == df.storageLevel  # not a persist


def _offenders(
    banned: re.Pattern, owners: tuple[str, ...], extra: tuple[str, ...] = ()
) -> list[str]:
    """``file:line`` of every line matching ``banned`` in the package's
    modules (and ``extra`` files), except the ``owners`` modules."""
    paths = [os.path.join(root, f) for root, _, files in os.walk(PKG) for f in files]
    out = []
    for path in sorted(paths) + [os.path.join(os.path.dirname(PKG), e) for e in extra]:
        if not path.endswith(".py") or os.path.relpath(path, PKG) in owners:
            continue
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                if banned.search(line):
                    out.append(f"{os.path.relpath(path, os.path.dirname(PKG))}:{n}")
    return out


def test_only_state_module_persists():
    """One mechanism: every persist goes through ``state.persist`` or
    ``state.stored``, so ``release_persisted`` / ``reset_stored_state``
    see every stored frame, and every checkpoint goes through
    ``state.shared``, so one module decides the checkpoint policy. A
    comment naming the Spark call counts too: the rule lives in
    ``state.py``'s docstring only."""
    banned = re.compile(
        r"\.persist\(|\.unpersist\(|\.cache\(\)|PlanMemo|ModelMemo"
        r"|localCheckpoint|\.checkpoint\("
    )
    offenders = _offenders(banned, ("state.py",))
    assert not offenders, (
        f"persist/unpersist/cache/checkpoint or an old memo class outside state.py: "
        f"{offenders} — use state.persist / state.stored / state.shared"
    )


def test_only_tables_module_lands_tables():
    """One storage lifecycle: how a table lands on disk (the write
    modes, the staged swap's sibling directories, a DataFrame writer,
    which every ``.parquet(`` write starts from) is known only by
    ``sources/tables.py``. The package and ``runner.py`` write through
    ``Warehouse.write``."""
    banned = re.compile(r"partitionOverwriteMode|_staging_|_trash_|\.write\.\w+\(|\.writeTo\(")
    offenders = _offenders(banned, (os.path.join("sources", "tables.py"),), ("runner.py",))
    assert not offenders, (
        f"storage decided outside sources/tables.py: {offenders} — "
        f"use Warehouse.write / tables / vacuum"
    )
