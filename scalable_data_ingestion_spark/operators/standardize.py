"""Standardization stage (src/transformation.py:584-657).

Upper-case order ids, title-case names, lower+trim emails, lower
source, round money fields to 2dp — all pure column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MONEY_FIELDS = ("price", "total_amount", "estimated_profit")


def standardize(df: DataFrame) -> DataFrame:
    exprs = {
        "order_id": F.upper("order_id"),
        "customer_name": F.initcap("customer_name"),
        "customer_email": F.lower(F.trim("customer_email")),
        "source": F.lower("source"),
        **{field: F.round(field, 2) for field in MONEY_FIELDS},
    }
    cols = {col: e for col, e in exprs.items() if col in df.columns}
    return df.withColumns(cols) if cols else df
