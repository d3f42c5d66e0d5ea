from .cleaning import empty_to_null, lower_norm, negative_to_null, record_hash, trim_clean
from .dates import date_kit, date_spine, month_spine, month_start
from .lineage import ARRIVAL_ORDER, latest_per_key, lineage_columns
from .money import exact_avg, exact_sum
from .mrr import (
    ever_before, first_version_backdated, lag_or_zero, movement_amounts, movement_type, valid_at,
)

__all__ = [
    "trim_clean",
    "empty_to_null",
    "lower_norm",
    "negative_to_null",
    "record_hash",
    "month_start",
    "date_kit",
    "month_spine",
    "date_spine",
    "lineage_columns",
    "ARRIVAL_ORDER",
    "latest_per_key",
    "valid_at",
    "first_version_backdated",
    "lag_or_zero",
    "ever_before",
    "movement_type",
    "movement_amounts",
    "exact_sum",
    "exact_avg",
]
