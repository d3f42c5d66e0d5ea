"""Materialization policies (SURVEY §7.3).

Each model lands through one ``Warehouse.write`` call; how a table lands
on disk is decided only by ``sources.tables``:

- A FULL build (the ``table`` policy, a first build, ``--full-refresh``)
  is ``overwrite``: the staged swap replaces the whole table, so
  partitions absent from the recomputed frame (e.g. forward-dated months
  removed by a fix) do not survive.
- ``incremental_delete_insert`` is ``overwrite_partitions``: the
  recomputed months replace exactly their partitions; the rest of a
  100 TB fact table is untouched. A delete+insert model without a
  partition key is rejected: keyed replacement over arbitrary unique
  keys is ``sources.tables.merge_upsert``.
- ``incremental_append`` is ``append``: only the new batch's rows are
  written; the high-watermark filter itself lives in the model function
  (it is model logic, as in the reference: stg_accounts.sql:9-11).

No session setting is read or changed here.
"""

from __future__ import annotations

from .registry import Context, Model

_INCREMENTAL_MODES = {
    "incremental_append": "append",
    "incremental_delete_insert": "overwrite_partitions",
}


def materialize(ctx: Context, m: Model) -> None:
    if m.materialization == "view":
        return  # resolved lazily via ctx.ref

    if m.materialization == "snapshot":
        from .snapshot import run_snapshot

        run_snapshot(ctx, m)
        return

    if m.materialization not in ("table", *_INCREMENTAL_MODES):
        raise ValueError(f"unknown materialization {m.materialization}")
    if m.materialization == "incremental_delete_insert" and not m.partition_by:
        raise ValueError(f"{m.name}: incremental_delete_insert needs partition_by")

    df = m.fn(ctx)
    full = m.materialization == "table" or not ctx.is_incremental(m.name)
    mode = "overwrite" if full else _INCREMENTAL_MODES[m.materialization]
    ctx.wh.write(df, m.schema, m.name, mode=mode, partition_by=list(m.partition_by))
