"""Cleaning stage: dedup, type coercion, text cleaning, null handling,
invalid-row filters.

Reference parity (src/transformation.py:27-235, orchestrated by
DataCleaner.clean_data):
1. exact-duplicate removal                      (U2, :54-62)
2. keep-first dedup by order_id                 (U3, :64-73)
3. numeric/date coercion, NULL on failure       (F22, :116-138)
4. trim/title-case names, lower emails          (F1/F2, :151-167)
5. null-fill: quantity->1, discount->0.0,
   customer_name->'Unknown Customer'            (F14, :176-204)
6. drop rows with null critical fields          (P2, :206-215)
7. positivity filters price>0, quantity>0       (P3, :217-222)

Keep-first semantics: pandas drop_duplicates(keep='first') keeps the
first *arrival*; Spark's dropDuplicates keeps an arbitrary row
(SURVEY.md §7). We preserve determinism with row_number over an
explicit arrival-order column when present (``_ingest_order``), else
over ``order_id`` alone (any row is correct when duplicates are exact).

Scale notes: the whole stage is one narrow projection + one shuffle
(the dedup hash-aggregate on order_id). No Python UDFs; everything
stays in whole-stage codegen. At 100 TB, dedup-by-key is the only
shuffle and AQE handles skewed hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import clean_email, clean_name

CRITICAL_FIELDS = ("order_id", "product", "price")

NUMERIC_CASTS = {
    "quantity": "bigint",
    "price": "double",
    "discount": "double",
    "total_amount": "double",
}

NULL_FILLS = {"quantity": 1, "discount": 0.0, "customer_name": "Unknown Customer"}


def coerce_types(df: DataFrame) -> DataFrame:
    """pd.to_numeric/to_datetime(errors='coerce') parity: cast, NULL on
    failure (F22)."""
    casts = {
        col: F.col(col).try_cast(typ)
        for col, typ in NUMERIC_CASTS.items()
        if col in df.columns
    }
    if "order_date" in df.columns:
        # timestamp, not date: pd.to_datetime yields datetime64, and the
        # DuckDB oracle returns midnight datetime64 for dates regardless.
        casts["order_date"] = F.col("order_date").try_cast("timestamp")
    return df.withColumns(casts) if casts else df


def clean_text(df: DataFrame) -> DataFrame:
    cleaners = {"customer_name": clean_name, "customer_email": clean_email, "source": clean_email}
    cols = {col: fn(col) for col, fn in cleaners.items() if col in df.columns}
    return df.withColumns(cols) if cols else df


def fill_nulls(df: DataFrame) -> DataFrame:
    fills = {k: v for k, v in NULL_FILLS.items() if k in df.columns}
    return df.na.fill(fills) if fills else df


def drop_invalid(df: DataFrame) -> DataFrame:
    subset = [c for c in CRITICAL_FIELDS if c in df.columns]
    if subset:
        df = df.na.drop(subset=subset)
    if "price" in df.columns:
        df = df.filter(F.col("price") > 0)
    if "quantity" in df.columns:
        df = df.filter(F.col("quantity") > 0)
    return df


def dedup(df: DataFrame, order_col: str | None = None) -> DataFrame:
    """Exact dedup + keep-first key dedup on order_id.

    ``order_col``: explicit arrival-order column for deterministic
    keep-first; None -> arbitrary-row dropDuplicates (documented U3
    divergence; equivalent when duplicate rows are identical).
    """
    df = df.dropDuplicates()
    if "order_id" not in df.columns:
        return df
    if order_col is None:
        return df.dropDuplicates(["order_id"])
    w = W.partitionBy("order_id").orderBy(F.col(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def clean(df: DataFrame, order_col: str | None = None) -> DataFrame:
    """Full cleaning stage in reference order (dedup -> coerce -> text
    -> fill -> filter)."""
    df = dedup(df, order_col)
    df = coerce_types(df)
    df = clean_text(df)
    df = fill_nulls(df)
    df = drop_invalid(df)
    return df
