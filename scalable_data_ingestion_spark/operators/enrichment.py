"""Enrichment stage: ~20 derived business-intelligence columns.

Reference parity: TransformationOrchestrator's enrich step
(src/transformation.py:240-307 dispatching to customer intelligence
:332-379, product intelligence :381-449, financial analytics :451-485,
temporal analytics :487-531, risk assessment :533-575).

Implementation: one ``withColumns`` projection of pure column expressions
from the functions library — zero Python UDFs, zero actions, fully pipelined
into whichever shuffle/write follows. The reference's apply(axis=1)
row loops (SURVEY.md §1.4) disappear entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import (
    customer_segment,
    customer_type,
    customer_value_tier,
    days_since_order,
    estimated_profit_margin,
    product_brand,
    product_category,
    product_price_tier,
    revenue_tier,
    risk_level,
    risk_score,
    season,
)


def enrich(df: DataFrame, with_days_since: bool = True) -> DataFrame:
    """Add the full derived-column family. Requires the A1 shape
    (order_id, customer_*, product, quantity, price, discount,
    total_amount, order_date)."""
    # total_amount recompute when missing (src/transformation.py:314-317)
    if "total_amount" not in df.columns:
        df = df.withColumn(
            "total_amount",
            F.round(F.col("price") * F.col("quantity") - F.coalesce("discount", F.lit(0.0)), 2),
        )

    # One projection: every column is computed from the input columns, so
    # the derived values other columns read (margin, month, weekday, risk
    # score) are inlined expressions, not references to new columns.
    margin = estimated_profit_margin("price")
    month = F.month("order_date")
    weekday = F.date_format("order_date", "EEEE")
    score = risk_score("total_amount", "customer_name", weekday)
    cols = {
        # customer intelligence (:332-379)
        "customer_segment": customer_segment("total_amount"),
        "customer_value_tier": customer_value_tier("total_amount"),
        "customer_type": customer_type("customer_email"),
        # product intelligence (:381-449)
        "product_brand": product_brand("product"),
        "product_category_detailed": product_category("product"),
        "product_price_tier": product_price_tier("price"),
        # financial analytics (:451-485)
        "estimated_profit_margin": margin,
        # floor-based half-up cents: deterministic across engines (plain
        # round() diverges at the .005 boundaries this product hits often)
        "estimated_profit": F.floor(F.col("total_amount") * margin * 100 + 0.5) / 100,
        "revenue_tier": revenue_tier("total_amount"),
        # temporal analytics (:487-531)
        "order_year": F.year("order_date"),
        "order_month": month,
        "order_day": F.dayofmonth("order_date"),
        "order_weekday": weekday,
        "order_quarter": F.quarter("order_date"),
        "season": season(month),
    }
    if with_days_since:
        cols["days_since_order"] = days_since_order("order_date")
    # risk assessment (:533-575)
    cols["risk_score"] = score
    cols["risk_level"] = risk_level(score)
    return df.withColumns(cols)
