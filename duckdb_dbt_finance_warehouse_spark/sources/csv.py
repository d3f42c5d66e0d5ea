"""CSV ingestion with batch lineage — the raw layer.

Replicates the reference loader's observable behavior
(scripts/load_csvs_to_duckdb.py:39-77):

- one UTC batch timestamp per run, stamped on every row (``ingested_at``)
- the source filename stamped per row (``source_file``)
- ``replace`` mode = create-or-replace (S2); ``append`` mode = insert
  into the existing table, or create it from this batch when missing
  (S3+S4).

Deviation from the reference (deliberate): the five reference feeds
load under EXPLICIT schemas (``RAW_SCHEMAS``), not inferred ones —
inference differences across engines are a correctness hazard (SURVEY
§1.3). Any other CSV (``runner.py ingest`` loads every ``*.csv`` in a
directory) falls back to header+inferSchema.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.lineage import lineage_columns
from .tables import Warehouse


def _schema(fields: dict[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields.items()])


# Explicit raw schemas for the reference's five CSV feeds (FIXTURES.md).
# Dates/timestamps stay STRING at the raw layer — the staging contract
# casts them — because engine-side CSV type sniffing is a correctness
# hazard (e.g. Spark infers "T1" ticket ids as timestamps).
RAW_SCHEMAS: dict[str, T.StructType] = {
    "accounts": _schema(
        {
            "account_id": T.StringType(),
            "account_name": T.StringType(),
            "industry": T.StringType(),
            "country": T.StringType(),
            "signup_date": T.StringType(),
            "referral_source": T.StringType(),
            "plan_tier": T.StringType(),
            "seats": T.IntegerType(),
            "is_trial": T.BooleanType(),
            "churn_flag": T.BooleanType(),
        }
    ),
    "subscriptions": _schema(
        {
            "subscription_id": T.StringType(),
            "account_id": T.StringType(),
            "start_date": T.StringType(),
            "end_date": T.StringType(),
            "plan_tier": T.StringType(),
            "seats": T.IntegerType(),
            "mrr_amount": T.DoubleType(),
            "arr_amount": T.DoubleType(),
            "is_trial": T.BooleanType(),
            "upgrade_flag": T.BooleanType(),
            "downgrade_flag": T.BooleanType(),
            "churn_flag": T.BooleanType(),
            "billing_frequency": T.StringType(),
            "auto_renew_flag": T.BooleanType(),
        }
    ),
    "support_tickets": _schema(
        {
            "ticket_id": T.StringType(),
            "account_id": T.StringType(),
            "submitted_at": T.StringType(),
            "closed_at": T.StringType(),
            "resolution_time_hours": T.DoubleType(),
            "priority": T.StringType(),
            "first_response_time_minutes": T.DoubleType(),
            "satisfaction_score": T.DoubleType(),
            "escalation_flag": T.BooleanType(),
        }
    ),
    "feature_usage": _schema(
        {
            "usage_id": T.StringType(),
            "subscription_id": T.StringType(),
            "usage_date": T.StringType(),
            "feature_name": T.StringType(),
            "usage_count": T.IntegerType(),
            "usage_duration_secs": T.IntegerType(),
            "error_count": T.IntegerType(),
            "is_beta_feature": T.BooleanType(),
        }
    ),
    "churn_events": _schema(
        {
            "churn_event_id": T.StringType(),
            "account_id": T.StringType(),
            "churn_date": T.StringType(),
            "reason_code": T.StringType(),
            "refund_amount_usd": T.DoubleType(),
            "preceding_upgrade_flag": T.BooleanType(),
            "preceding_downgrade_flag": T.BooleanType(),
            "is_reactivation": T.BooleanType(),
            "feedback_text": T.StringType(),
        }
    ),
}


def ingest_csv(
    wh: Warehouse,
    csv_path: str,
    table: str,
    mode: str = "replace",
    batch_ts: datetime | None = None,
) -> DataFrame:
    """Read one CSV into ``raw.<table>`` with lineage columns.
    ``replace`` overwrites; ``append`` inserts, and a table that does
    not exist yet is created by one overwrite. The mode is checked
    before anything is written.

    At 100 TB this is a plain distributed CSV->parquet job: executors
    read byte-range splits, stamp constant lineage columns (no shuffle),
    and write parquet. Nothing here touches the driver except the path
    listing.
    """
    if mode not in ("replace", "append"):
        raise ValueError(f"unknown mode {mode!r}")
    spark: SparkSession = wh.spark
    schema = RAW_SCHEMAS.get(table)
    reader = spark.read.option("header", True)
    reader = reader.schema(schema) if schema is not None else reader.option("inferSchema", True)
    df = reader.csv(csv_path).withColumns(lineage_columns(csv_path, batch_ts))
    append = mode == "append" and wh.exists("raw", table)
    wh.write(df, "raw", table, mode="append" if append else "overwrite")
    return wh.read("raw", table)
