"""SCD2 snapshot — dbt ``check``-strategy merge (SURVEY §7.4, D8).

Reference config (snapshots/snap_accounts.sql:3-11): ``strategy='check',
check_cols=['record_hash'], unique_key=<natural key>,
invalidate_hard_deletes=true``. Public dbt-core semantics per run:

- key only in source          -> INSERT new open version
- key in both, hash equal     -> keep the open row unchanged
- key in both, hash differs   -> CLOSE old version + INSERT new open one
- key only in snapshot (hard delete) -> CLOSE the open version

Determinism deviation (documented): dbt stamps ``dbt_valid_from`` /
``dbt_valid_to`` with the snapshot run's wall clock; here versions open
at the row's own ``ingested_at`` and close at the incoming row's
``ingested_at`` (hard deletes close at the batch's max ``ingested_at``).
Downstream consumers only use month-truncated validity plus the
1900-01-01 first-version backfill (fct_subscription_month.sql:104-137),
so this is observationally equivalent for all marts while making reruns
reproducible.

Scale: one full-outer shuffle join on the natural key between the OPEN
slice of the snapshot and the deduped current view, evaluated once: each
key's versions come out of one explode — closed history is never
rejoined, only unioned back (append-only cold data).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .registry import Context, Model


def change_type(in_old: Column, in_new: Column, old_hash: Column, new_hash: Column) -> Column:
    """The check-strategy change rule, shared by the merge and the audit
    diff: ``added`` / ``removed`` by presence on one side only,
    ``changed`` when the hashes differ, NULL when the key is unchanged.
    Presence is an explicit flag, never hash-NULLness, and the compare
    is null-safe: a NULL hash on either side counts as a change (plain
    != yields NULL, which would read as "unchanged")."""
    return (
        F.when(~in_old, "added")
        .when(~in_new, "removed")
        .when(~old_hash.eqNullSafe(new_hash), "changed")
    )


def scd2_merge(
    old: DataFrame | None,
    new: DataFrame,
    unique_key: str,
    run_ts=None,
) -> DataFrame:
    """Pure-DataFrame SCD2 merge; returns the full new snapshot state.

    ``run_ts`` (optional) is the close timestamp for hard deletes when
    the incoming batch is EMPTY (no rows -> no batch max to close at).
    Without it an empty batch returns the state unchanged rather than
    silently closing rows at NULL (which would leave them open forever)."""
    new = new.withColumn("dbt_valid_from", F.col("ingested_at")).withColumn(
        "dbt_valid_to", F.lit(None).cast("timestamp")
    )
    # A NULL natural key matches NOTHING in the full-outer merge (NULL
    # == NULL is NULL): a stored NULL-key open row would silently
    # VANISH from the merged state and an incoming one would be
    # silently discarded — data loss, not a test failure. The declared
    # not_null test only REPORTS; the merge must refuse. One eager agg
    # over the incoming rows and the stored open NULL-key rows checks
    # both sides and yields the hard-delete close timestamp below.
    key = F.col(unique_key)
    guards = new.select(
        F.col("ingested_at").alias("_ts"), key.isNull().alias("_new_null"),
        F.lit(False).alias("_open_null"),
    )
    if old is not None:
        guards = guards.unionByName(
            old.filter(F.col("dbt_valid_to").isNull() & key.isNull()).select(
                F.lit(None).cast(new.schema["ingested_at"].dataType).alias("_ts"),
                F.lit(False).alias("_new_null"),
                F.lit(True).alias("_open_null"),
            )
        )
    stats = guards.agg(
        F.max("_ts").alias("_ts"),
        F.count(F.when(F.col("_new_null"), 1)).alias("_nulls"),
        F.count(F.when(F.col("_open_null"), 1)).alias("_open_nulls"),
    ).first()
    if stats["_nulls"]:
        raise ValueError(
            f"scd2_merge: {stats['_nulls']} incoming row(s) with NULL "
            f"{unique_key} — fix the source (a NULL key cannot be merged)"
        )
    if old is None:
        return new
    if stats["_open_nulls"]:
        raise ValueError(
            f"scd2_merge: stored snapshot contains open row(s) with NULL "
            f"{unique_key} — a pre-guard state; repair before merging"
        )

    closed_history = old.filter(F.col("dbt_valid_to").isNotNull())
    open_rows = old.filter(F.col("dbt_valid_to").isNull())

    # hard-delete close timestamp: the incoming batch's max ingested_at
    batch_ts = stats["_ts"]
    if batch_ts is None:
        # empty batch: nothing to insert/change; every open key would be
        # a "hard delete" — only close them if the caller supplied a
        # deterministic run timestamp, else keep the state as-is
        if run_ts is None:
            return old
        batch_ts = run_ts

    # one join, classified per key; each key emits its stored version
    # (kept open, or closed) and its incoming version (new or changed)
    # through one explode, so the join is evaluated once
    j = open_rows.alias("o").join(
        new.alias("n"), F.col(f"o.{unique_key}") == F.col(f"n.{unique_key}"), "full_outer"
    )
    in_old = F.col(f"o.{unique_key}").isNotNull()
    kind = change_type(
        in_old, F.col(f"n.{unique_key}").isNotNull(), F.col("o.record_hash"), F.col("n.record_hash")
    )
    closed_at = F.when(kind == "changed", F.col("n.ingested_at")).when(
        kind == "removed", F.lit(batch_ts).cast("timestamp")
    )

    # both versions in one explicit column order: the array needs one
    # struct type, and the by-name union holds whatever the stored order
    def version(side: str, valid_to: Column) -> Column:
        return F.struct(
            *[(valid_to if c == "dbt_valid_to" else F.col(f"{side}.{c}")).alias(c) for c in old.columns]
        )

    versions = F.array(
        F.when(in_old, version("o", closed_at)),
        F.when(kind.isin("added", "changed"), version("n", F.col("n.dbt_valid_to"))),
    )
    emitted = j.select(F.explode(versions).alias("v")).filter(F.col("v").isNotNull())
    return closed_history.unionByName(emitted.select("v.*"))


def run_snapshot(ctx: Context, m: Model) -> None:
    """Materialize a snapshot model: fn(ctx) yields the CURRENT rows
    (from the deduped int_*_current view); merge into the stored state."""
    new = m.fn(ctx)
    old = ctx.wh.read(m.schema, m.name) if ctx.wh.exists(m.schema, m.name) else None
    key = m.unique_key[0]
    merged = scd2_merge(old, new, unique_key=key)
    # the merge reads the files it is about to replace; an overwrite is
    # the staged swap, so the old state stays durable until the new one is
    ctx.wh.write(merged, m.schema, m.name)


def snapshot_diff(old: DataFrame, new: DataFrame, key_cols: list[str]) -> DataFrame:
    """Audit diff of two table states — the inspection half of the SCD2
    merge above: which keys were added / removed / changed between two
    snapshots (per-row content identity via ``record_hash``, P6). It
    classifies with the merge's own ``change_type``, so the
    ``x_snapshot_diff`` oracle also pins the rule the warehouse merge
    runs.

    One co-partitioned full-outer shuffle join on the key; only keys +
    hashes travel, never the payload columns. Rows whose content is
    unchanged are dropped (the interesting output is the delta, and at
    100 TB the unchanged set is the overwhelming majority)."""
    o = old.select(
        *key_cols, F.col("record_hash").alias("_old_h"), F.lit(True).alias("_in_old")
    )
    n = new.select(
        *key_cols, F.col("record_hash").alias("_new_h"), F.lit(True).alias("_in_new")
    )
    j = o.join(n, key_cols, "full_outer")
    change = change_type(
        F.col("_in_old").isNotNull(), F.col("_in_new").isNotNull(), F.col("_old_h"), F.col("_new_h")
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*key_cols, "change_type")
    )
