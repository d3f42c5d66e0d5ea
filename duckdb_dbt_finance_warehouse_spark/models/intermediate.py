"""Intermediate "current truth" views — latest arrival per natural key
(reference: models/intermediate/int_*_current.sql, W1).

One window shuffle on the natural key. At scale the arrival log grows
unbounded; the dedup reads only (key, ingested_at, payload) and Spark's
WindowGroupLimit prunes to the per-key top row before the final sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.lineage import ARRIVAL_ORDER, latest_per_key
from ..plans.registry import Context


def int_accounts_current(ctx: Context) -> DataFrame:
    return latest_per_key(ctx.ref("stg_accounts"), "account_id", ARRIVAL_ORDER)


def int_subscriptions_current(ctx: Context) -> DataFrame:
    return latest_per_key(ctx.ref("stg_subscriptions"), "subscription_id", ARRIVAL_ORDER)
