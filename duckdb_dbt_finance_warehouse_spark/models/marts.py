"""MRR waterfall mart (reference: models/reporting/marts/
mart_mrr_waterfall_month.sql): month-grain begin/end/new/reactivation/
expansion/contraction/churn sums + conditional distinct account counts,
zero-filled over the complete month spine.

One grouped pass over fct_account_month (``mrr.waterfall_measures``, the
measures m2_waterfall_rollup selects too; its account counts are row
counts over the unique (account, month) grain, so no expand), then a
broadcast left join onto the ~36-row month spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dates import month_starts
from ..functions.mrr import waterfall_measures
from ..plans.registry import Context


def mart_mrr_waterfall_month(ctx: Context) -> DataFrame:
    m = waterfall_measures(
        F.col("account_id"), F.col("movement_type"),
        F.col("mrr_begin_mrr"), F.col("mrr_end_mrr"), F.col("mrr_delta"),
    )
    sums = {f"{k}_mrr": v for k, v in m.items() if not k.endswith("_accounts")}
    counts = [k for k in m if k.endswith("_accounts")]
    agg = ctx.ref("fct_account_month").groupBy("month_start_date").agg(
        *[v.alias(k) for k, v in sums.items()],
        (m["end"] - m["begin"]).alias("net_mrr_change"),
        *[m[k].alias(k) for k in counts],
    )

    money = list(sums)
    money.insert(2, "net_mrr_change")  # after begin_mrr, end_mrr
    zero_d = F.lit(0.0)
    zero_l = F.lit(0).cast("bigint")
    return month_starts(ctx.ref("dim_date")).join(agg, "month_start_date", "left").select(
        "month_start_date",
        *[F.coalesce(c, zero_d).alias(c) for c in money],
        *[F.coalesce(c, zero_l).alias(c) for c in counts],
    )
