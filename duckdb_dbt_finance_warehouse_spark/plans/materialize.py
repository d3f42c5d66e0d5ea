"""Materialization policies (SURVEY §7.3).

Scale design notes:

- ``incremental_delete_insert`` with a partition key is DYNAMIC PARTITION
  OVERWRITE: the recomputed months replace exactly their partitions; the
  rest of a 100 TB fact table is untouched. Requires
  ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set in both the
  session factory and defensively here).
  A delete+insert model without a partition key is rejected: keyed
  replacement over arbitrary unique keys is ``sources.tables.merge_upsert``.
- ``incremental_append`` writes only the new batch's rows; the
  high-watermark filter itself lives in the model function (it is model
  logic, as in the reference: stg_accounts.sql:9-11).
"""

from __future__ import annotations

from .registry import Context, Model


def materialize(ctx: Context, m: Model) -> None:
    if m.materialization == "view":
        return  # resolved lazily via ctx.ref

    if m.materialization == "snapshot":
        from .snapshot import run_snapshot

        run_snapshot(ctx, m)
        return

    if m.materialization == "incremental_delete_insert" and not m.partition_by:
        raise ValueError(f"{m.name}: incremental_delete_insert needs partition_by")

    df = m.fn(ctx)

    if m.materialization == "table" or not ctx.is_incremental(m.name):
        # a FULL build (table policy, first build, or --full-refresh)
        # must replace the whole table: the session runs with DYNAMIC
        # partitionOverwriteMode (for S11), under which a partitioned
        # overwrite only replaces the partitions present in df — stale
        # partitions (e.g. forward-dated months removed by a fix) would
        # silently survive a full refresh. Pin static mode per-write.
        ctx.wh.write(
            df, m.schema, m.name, mode="overwrite",
            partition_by=list(m.partition_by),
            options={"partitionOverwriteMode": "static"},
        )
        return

    if m.materialization == "incremental_append":
        ctx.wh.write(df, m.schema, m.name, mode="append", partition_by=list(m.partition_by))
        return

    if m.materialization == "incremental_delete_insert":
        # dynamic partition overwrite: replaces only partitions present in df
        ctx.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        ctx.wh.write(
            df, m.schema, m.name, mode="overwrite", partition_by=list(m.partition_by)
        )
        return

    raise ValueError(f"unknown materialization {m.materialization}")
