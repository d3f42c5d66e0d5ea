"""Direct unit tests of the SCD2 check-strategy merge (plans/snapshot.py)
— every branch, including hard deletes (which the pipeline-level source,
a dedup over an append-only log, can never produce)."""

from __future__ import annotations

from datetime import datetime

from duckdb_dbt_finance_warehouse_spark.plans.snapshot import scd2_merge


def df_of(spark, rows):
    return spark.createDataFrame(
        rows, "key string, val string, record_hash string, ingested_at timestamp"
    )


T1 = datetime(2024, 1, 1)
T2 = datetime(2024, 2, 1)


def test_first_run_opens_all(spark):
    new = df_of(spark, [("K1", "a", "h1", T1), ("K2", "b", "h2", T1)])
    out = scd2_merge(None, new, "key").collect()
    assert len(out) == 2
    assert all(r["dbt_valid_to"] is None and r["dbt_valid_from"] == T1 for r in out)


def test_all_merge_branches(spark):
    old = scd2_merge(None, df_of(spark, [("K1", "a", "h1", T1), ("K2", "b", "h2", T1), ("K3", "c", "h3", T1)]), "key")
    # K1 changed, K2 unchanged, K3 hard-deleted, K4 new
    new = df_of(spark, [("K1", "a2", "h1x", T2), ("K2", "b", "h2", T2), ("K4", "d", "h4", T2)])
    out = scd2_merge(old, new, "key")
    rows = {(r["key"], r["record_hash"]): r for r in out.collect()}

    assert len(rows) == 5
    # changed: old closed at the incoming row's ingest ts, new open
    assert rows[("K1", "h1")]["dbt_valid_to"] == T2
    assert rows[("K1", "h1x")]["dbt_valid_to"] is None
    assert rows[("K1", "h1x")]["dbt_valid_from"] == T2
    # unchanged: untouched open row, original valid_from
    assert rows[("K2", "h2")]["dbt_valid_to"] is None
    assert rows[("K2", "h2")]["dbt_valid_from"] == T1
    # hard delete: closed at the batch's max ingest ts
    assert rows[("K3", "h3")]["dbt_valid_to"] == T2
    # insert
    assert rows[("K4", "h4")]["dbt_valid_to"] is None


def test_merge_is_idempotent_for_unchanged_batch(spark):
    s1 = scd2_merge(None, df_of(spark, [("K1", "a", "h1", T1)]), "key")
    s2 = scd2_merge(s1, df_of(spark, [("K1", "a", "h1", T2)]), "key")
    rows = s2.collect()
    assert len(rows) == 1
    assert rows[0]["dbt_valid_from"] == T1 and rows[0]["dbt_valid_to"] is None


def test_empty_batch_keeps_state_unless_run_ts_given(spark):
    s1 = scd2_merge(None, df_of(spark, [("K1", "a", "h1", T1)]), "key")
    empty = df_of(spark, [])
    # no run_ts: state unchanged (NOT silently closed at NULL)
    kept = scd2_merge(s1, empty, "key").collect()
    assert len(kept) == 1 and kept[0]["dbt_valid_to"] is None
    # run_ts supplied: open rows close as hard deletes at that ts
    closed = scd2_merge(s1, empty, "key", run_ts=T2).collect()
    assert len(closed) == 1 and closed[0]["dbt_valid_to"] == T2


def test_null_record_hash_counts_as_change(spark):
    s1 = scd2_merge(None, df_of(spark, [("K1", "a", None, T1)]), "key")
    s2 = scd2_merge(s1, df_of(spark, [("K1", "a2", "h1", T2)]), "key")
    rows = {(r["val"]): r for r in s2.collect()}
    assert rows["a"]["dbt_valid_to"] == T2  # NULL -> h1 closed the old row
    assert rows["a2"]["dbt_valid_to"] is None


def test_merge_plan_is_one_full_outer_join_without_checkpoint(spark, tmp_path):
    """Every branch of the merge comes out of one classified full-outer
    join: no second join, and no checkpointed RDD (which a plan shows as
    ``Scan ExistingRDD``) between the join and its consumers. Both
    inputs are parquet, so any ExistingRDD would be the merge's own."""
    import contextlib
    import io

    scd2_merge(None, df_of(spark, [("K1", "a", "h1", T1), ("K2", "b", "h2", T1)]), "key").write.parquet(
        str(tmp_path / "old")
    )
    df_of(spark, [("K1", "a2", "h1x", T2), ("K3", "c", "h3", T2)]).write.parquet(str(tmp_path / "new"))
    merged = scd2_merge(
        spark.read.parquet(str(tmp_path / "old")), spark.read.parquet(str(tmp_path / "new")), "key"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        merged.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Join type: FullOuter") == 1, plan
    assert plan.count("Join type:") == 1, plan
    assert "ExistingRDD" not in plan, plan
    assert merged.count() == 4


def test_scd2_invariants_under_random_batch_sequences(spark):
    """Property test: any sequence of batches must leave (1) at most one
    open row per key, (2) non-overlapping ordered validity intervals,
    (3) the open row carrying the latest batch's hash for keys present
    in the final batch. Batches are generated from a seeded RNG (6
    seeds) — a lightweight hypothesis-style sweep without per-example
    Spark session cost blowup."""
    import random

    keys = ["K1", "K2", "K3", "K4"]
    for seed in range(6):
        rng = random.Random(seed)
        state = None
        last_hash: dict[str, str] = {}
        for b in range(1, 4):
            ts = datetime(2024, b, 1)
            batch = []
            for k in keys:
                if rng.random() < 0.7:  # key present this batch
                    h = f"h{rng.randint(0, 2)}"
                    batch.append((k, f"v{b}", h, ts))
            state = scd2_merge(state, df_of(spark, batch), "key", run_ts=ts)
            last_hash = {r[0]: r[2] for r in batch}
        rows = state.collect()
        by_key: dict[str, list] = {}
        for r in rows:
            by_key.setdefault(r["key"], []).append(r)
        for k, vs in by_key.items():
            open_rows = [r for r in vs if r["dbt_valid_to"] is None]
            assert len(open_rows) <= 1, f"seed {seed}: {k} has {len(open_rows)} open"
            ivals = sorted(
                (r["dbt_valid_from"], r["dbt_valid_to"]) for r in vs
            )
            for (f1, t1), (f2, _) in zip(ivals, ivals[1:]):
                assert t1 is not None and t1 <= f2, f"seed {seed}: {k} overlaps"
            if k in last_hash:
                assert open_rows and open_rows[0]["record_hash"] == last_hash[k]


def test_staged_write_survives_failure_midway(spark, tmp_path):
    """A write that dies after reading the target must leave the old
    state intact — the staged-swap guarantee cache()+overwrite lacked."""
    import pyspark.sql.functions as F

    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    v1 = df_of(spark, [("K1", "a", "h1", T1)])
    wh.write(v1, "snapshots", "snap")

    # new state reads the files it will replace, then fails mid-job
    poisoned = wh.read("snapshots", "snap").withColumn(
        "val", F.raise_error(F.lit("executor died"))
    )
    try:
        wh.write_staged(poisoned, "snapshots", "snap")
        raise AssertionError("write should have failed")
    except Exception:
        pass
    survivors = wh.read("snapshots", "snap").collect()
    assert [r["key"] for r in survivors] == ["K1"]  # old state intact

    # and a successful staged write replaces it cleanly
    v2 = df_of(spark, [("K1", "a", "h1", T1), ("K2", "b", "h2", T1)])
    wh.write_staged(v2, "snapshots", "snap")
    assert wh.read("snapshots", "snap").count() == 2


def test_staged_write_recovers_trash_after_swap_crash(spark, tmp_path):
    """Crash window between rename(target, trash) and rename(staging,
    target): the only durable copy of the table is the trash sibling. A
    rerun (or any read/exists) must RESTORE it, never delete it — SCD2
    history would otherwise vanish silently."""
    import os

    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    v1 = df_of(spark, [("K1", "a", "h1", T1)])
    wh.write(v1, "snapshots", "snap")

    # simulate the crash: old state moved to trash, new state never landed
    os.rename(wh.path("snapshots", "snap"), wh.path("snapshots", "_trash_snap"))
    assert not os.path.isdir(wh.path("snapshots", "snap"))

    assert wh.exists("snapshots", "snap")  # exists() heals on entry
    survivors = wh.read("snapshots", "snap").collect()
    assert [r["key"] for r in survivors] == ["K1"]
    assert not os.path.isdir(wh.path("snapshots", "_trash_snap"))

    # same crash, healed by the rerun of write_staged itself
    os.rename(wh.path("snapshots", "snap"), wh.path("snapshots", "_trash_snap"))
    v2 = df_of(spark, [("K1", "a", "h1", T1), ("K2", "b", "h2", T1)])
    wh.write_staged(v2, "snapshots", "snap")
    assert wh.read("snapshots", "snap").count() == 2


def test_snapshot_diff_classifies_all_change_kinds(spark):
    from duckdb_dbt_finance_warehouse_spark.plans.snapshot import snapshot_diff

    old = df_of(spark, [("K1", "a", "h1", T1), ("K2", "b", "h2", T1), ("K3", "c", "h3", T1)])
    # K1 changed, K2 unchanged (dropped), K3 removed, K4 added
    new = df_of(spark, [("K1", "a2", "h1x", T2), ("K2", "b", "h2", T2), ("K4", "d", "h4", T2)])
    out = {r["key"]: r["change_type"] for r in snapshot_diff(old, new, ["key"]).collect()}
    assert out == {"K1": "changed", "K3": "removed", "K4": "added"}
