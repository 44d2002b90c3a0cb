"""File-drop ingestion (S4-S6, src/ingestion.py:213-444).

Batch readers over a drop directory with:
- explicit schema (no inference — schema drift surfaces as quarantined
  rows, not silent type changes),
- lineage columns (``source``, ``source_file`` via input_file_name,
  ``ingested_at``),
- corrupt-record quarantine via PERMISSIVE mode + ``_corrupt_record``
  (the reference moves whole files to an errors/ dir; per-row
  quarantine is strictly more precise),
- multi-shape JSON handling (top-level list, ``{"orders": [...]}``
  wrapper, single object — src/ingestion.py:296-305),
- multi-source union + keep-first dedup (S6, :356-444) via
  unionByName(allowMissingColumns=True) + order-preserving dedup.

The streaming twin (readStream + cleanSource='archive') lives in
``streaming/ingest.py``; this module is the one-shot batch path.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# A1 arrival schema: numerics arrive as strings in real drops; the
# cleaning stage owns coercion (F22).
ORDER_FILE_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("customer_name", T.StringType()),
        T.StructField("customer_email", T.StringType()),
        T.StructField("product", T.StringType()),
        T.StructField("quantity", T.StringType()),
        T.StructField("price", T.StringType()),
        T.StructField("discount", T.StringType()),
        T.StructField("total_amount", T.StringType()),
        T.StructField("order_date", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def _with_lineage(df: DataFrame, source: str) -> DataFrame:
    return (
        df.withColumn("source", F.lit(source))
        .withColumn("source_file", F.input_file_name())
        .withColumn("ingested_at", F.current_timestamp())
    )


def read_csv_dir(spark: SparkSession, input_dir: str) -> DataFrame:
    """S4: all *.csv in the drop dir, quarantine-aware."""
    df = spark.read.schema(ORDER_FILE_SCHEMA).option("header", True).option(
        "mode", "PERMISSIVE"
    ).option("columnNameOfCorruptRecord", "_corrupt_record").csv(f"{input_dir}/*.csv")
    return _with_lineage(df, "file_csv")


def read_json_dir(spark: SparkSession, input_dir: str) -> DataFrame:
    """S5: all *.json; accepts list / {"orders": [...]} / single-object
    shapes by parsing each file as whole-text and normalizing to an
    array before explode."""
    raw = spark.read.text(f"{input_dir}/*.json", wholetext=True)
    order_struct = T.StructType([f for f in ORDER_FILE_SCHEMA.fields if f.name != "_corrupt_record"])
    as_list = F.from_json("value", T.ArrayType(order_struct))
    as_wrapper = F.from_json(
        "value", T.StructType([T.StructField("orders", T.ArrayType(order_struct))])
    )["orders"]
    as_single = F.array(F.from_json("value", order_struct))
    # explicit shape dispatch: from_json(ArrayType) silently wraps bare
    # objects into 1-element arrays, so coalesce alone misroutes shapes.
    trimmed = F.ltrim(F.col("value"))
    normalized = (
        F.when(trimmed.startswith("["), as_list)
        .when(F.get_json_object("value", "$.orders").isNotNull(), as_wrapper)
        .otherwise(as_single)
    )
    df = (
        raw.select(F.explode(normalized).alias("o"), F.lit(None).cast("string").alias("_corrupt_record"))
        .select("o.*", "_corrupt_record")
    )
    return _with_lineage(df, "file_json")


def quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (good, quarantined) on the corrupt-record column."""
    if "_corrupt_record" not in df.columns:
        return df, df.limit(0)
    # cache: Spark disallows queries that project only the internal
    # corrupt-record column from a raw file scan (QUERY_ONLY_CORRUPT_
    # RECORD_COLUMN); caching materializes the parse once.
    df = df.cache()
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    return good, bad


def archive_processed(input_dir: str, processed_dir: str, suffixes=(".csv", ".json")) -> int:
    """Batch-mode analog of the reference's move-to-processed/
    (src/ingestion.py:247-252); the streaming path uses
    cleanSource='archive' instead."""
    os.makedirs(processed_dir, exist_ok=True)
    moved = 0
    for name in sorted(os.listdir(input_dir)):
        if name.endswith(tuple(suffixes)):
            shutil.move(os.path.join(input_dir, name), os.path.join(processed_dir, name))
            moved += 1
    return moved


def _try_cast_to(df: DataFrame, types: dict[str, T.DataType]) -> DataFrame:
    """`try_cast` the frame's string columns to the type `types` gives
    them, so a malformed field (`quantity` = `abc`) becomes one null for
    cleaning to fill instead of an ANSI cast error inside the union.

    Only string columns are cast: any other shared column (the file's
    timestamp `ingested_at`) keeps coercing the API's column, as the
    union always did. Valid fields keep their values and types."""
    cols = []
    for f in df.schema.fields:
        to = types.get(f.name)
        if (
            isinstance(f.dataType, T.StringType)
            and to is not None
            and not isinstance(to, T.StringType)
        ):
            cols.append(F.col(f.name).try_cast(to).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def collect_all(
    spark: SparkSession,
    input_dir: str | None = None,
    api_limit: int = 100,
    offline_api: bool = True,
    cached: list[DataFrame] | None = None,
) -> DataFrame:
    """S6: API + CSV + JSON union with keep-first-by-source dedup.

    Source priority mirrors arrival order in the reference (API first,
    then CSV, then JSON): duplicates keep the API row, etc. Implemented
    with a priority column + row_number — deterministic, unlike a bare
    dropDuplicates.

    A format is read only when the drop directory holds files of it, so
    an empty or single-format drop is valid. The files' numeric strings
    are `try_cast` to the API frame's types before the union, so one
    malformed field nulls one value instead of failing the run.
    ``cached``, when given, receives every frame this call caches (the
    quarantine parses); the caller unpersists them once it no longer
    needs the result's lineage.
    """
    from .api import fetch_orders

    api = fetch_orders(spark, api_limit, offline_api)
    frames: list[tuple[int, DataFrame]] = [(0, api)]
    if input_dir and os.path.isdir(input_dir):
        api_types = {f.name: f.dataType for f in api.schema.fields}
        readers = ((1, "*.csv", read_csv_dir), (2, "*.json", read_json_dir))
        for priority, pattern, reader in readers:
            if not glob.glob(os.path.join(input_dir, pattern)):
                continue
            parsed = reader(spark, input_dir)
            good, _ = quarantine(parsed)
            if cached is not None:
                cached.append(parsed)
            frames.append((priority, _try_cast_to(good, api_types)))

    union = None
    for priority, df in frames:
        tagged = df.withColumn("_src_priority", F.lit(priority))
        union = tagged if union is None else union.unionByName(tagged, allowMissingColumns=True)

    from pyspark.sql import Window as W

    w = W.partitionBy("order_id").orderBy("_src_priority")
    return (
        union.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src_priority")
    )
