"""MRR waterfall mart (reference: models/reporting/marts/
mart_mrr_waterfall_month.sql): month-grain begin/end/new/reactivation/
expansion/contraction/churn sums + conditional distinct account counts,
zero-filled over the complete month spine.

One grouped pass over fct_account_month (the conditional distincts share
the expand), then a broadcast left join onto the ~36-row month spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.money import exact_sum
from ..functions.mrr import CHURN, NEW, REACTIVATION
from ..plans.registry import Context


def mart_mrr_waterfall_month(ctx: Context) -> DataFrame:
    months = (
        ctx.ref("dim_date")
        .filter(F.col("is_month_start"))
        .select("month_start_date")
        .distinct()
    )
    fam = ctx.ref("fct_account_month")

    agg = fam.groupBy("month_start_date").agg(
        exact_sum("mrr_begin_mrr").alias("begin_mrr"),
        exact_sum("mrr_end_mrr").alias("end_mrr"),
        (exact_sum("mrr_end_mrr") - exact_sum("mrr_begin_mrr")).alias("net_mrr_change"),
        exact_sum("new_mrr").alias("new_mrr"),
        exact_sum("reactivation_mrr").alias("reactivation_mrr"),
        exact_sum("upgrade_mrr").alias("expansion_mrr"),
        exact_sum("downgrade_mrr").alias("contraction_mrr"),
        exact_sum("churn_mrr").alias("churn_mrr"),
        F.countDistinct(
            F.when(F.col("mrr_end_mrr") > 0, F.col("account_id"))
        ).alias("active_accounts"),
        F.countDistinct(
            F.when(F.col("movement_type") == CHURN, F.col("account_id"))
        ).alias("churned_accounts"),
        F.countDistinct(
            F.when(F.col("movement_type") == NEW, F.col("account_id"))
        ).alias("new_accounts"),
        F.countDistinct(
            F.when(F.col("movement_type") == REACTIVATION, F.col("account_id"))
        ).alias("reactivated_accounts"),
    )

    zero_d = F.lit(0.0)
    zero_l = F.lit(0).cast("bigint")
    return months.join(agg, "month_start_date", "left").select(
        "month_start_date",
        F.coalesce("begin_mrr", zero_d).alias("begin_mrr"),
        F.coalesce("end_mrr", zero_d).alias("end_mrr"),
        F.coalesce("net_mrr_change", zero_d).alias("net_mrr_change"),
        F.coalesce("new_mrr", zero_d).alias("new_mrr"),
        F.coalesce("reactivation_mrr", zero_d).alias("reactivation_mrr"),
        F.coalesce("expansion_mrr", zero_d).alias("expansion_mrr"),
        F.coalesce("contraction_mrr", zero_d).alias("contraction_mrr"),
        F.coalesce("churn_mrr", zero_d).alias("churn_mrr"),
        F.coalesce("active_accounts", zero_l).alias("active_accounts"),
        F.coalesce("churned_accounts", zero_l).alias("churned_accounts"),
        F.coalesce("new_accounts", zero_l).alias("new_accounts"),
        F.coalesce("reactivated_accounts", zero_l).alias("reactivated_accounts"),
    )
