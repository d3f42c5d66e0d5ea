"""Batch lineage — the raw layer's stamp and the arrival order it defines.

- S5: every ingested row carries its batch's timestamp (``ingested_at``)
  and its file name (``source_file``) — reference
  scripts/load_csvs_to_duckdb.py:47-50.
- W1: the current truth of an append-only arrival log is the latest
  row per natural key — reference int_accounts_current.sql:4-10.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# record_hash is the FINAL tie-break: a key duplicated within one file
# ties on (ingested_at, source_file), and row_number would pick an
# arbitrary winner per EXECUTION — consecutive snapshot runs over
# unchanged stg data could see a flipped hash and emit a spurious SCD2
# close+reopen. (The reference view orders by ingested_at alone and
# shares the flap; determinism is this repo's documented deviation.)
ARRIVAL_ORDER = ("ingested_at", "source_file", "record_hash")


def lineage_columns(path: str, batch_ts: datetime | None = None) -> dict[str, Column]:
    """The two constant lineage columns for one file of one batch; the
    batch timestamp defaults to now (UTC), truncated to seconds."""
    ts = (batch_ts or datetime.now(timezone.utc)).strftime("%Y-%m-%d %H:%M:%S")
    return {
        "ingested_at": F.lit(ts).cast("timestamp"),
        "source_file": F.lit(path.rsplit("/", 1)[-1]),
    }


def latest_per_key(df: DataFrame, key: str, order: tuple[str, ...]) -> DataFrame:
    """The row with the greatest ``order`` tuple per ``key``: row_number
    over (key ORDER BY order DESC) = 1 — one shuffle on the key, pruned
    to the top row per key by WindowGroupLimit."""
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order])
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
