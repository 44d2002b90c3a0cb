"""Multi-dimensional data layout: Z-order (Morton) clustering keys.

Partitioning prunes on ONE dimension; real warehouses filter orders on
*both* customer and date. Z-ordering interleaves the bits of the two
sort keys so rows close in (customer, day) space land in the same
parquet files — every file then covers a small bounding box in both
dimensions and min/max footer stats skip most files for 2-D predicates
(the Delta Lake / Databricks OPTIMIZE ZORDER technique, computed here
with plain column expressions — no engine extension needed).

Scale notes (100 TB):
- The z-value is a pure map-side bit-interleave projection (20 boolean
  shifts folded into one codegen'd expression): zero shuffles to
  *compute*; the one `repartitionByRange(zval)` shuffle at write time
  replaces the single-dimension sort a date-only layout needs anyway.
- Layout quality is verified in `tests/test_scale_features.py`
  (`test_zorder_layout_skips_files`): after a z-ordered write each
  file's customer-span and day-span bounding boxes are fractions of
  the domain, where a date-sorted layout gives full-width customer
  spans (no skipping on the second dimension).
- 8 bits/dimension is the sweet spot for file-level skipping: finer
  bits only matter *within* a file where row-group stats take over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

Z_BITS = 8  # bits kept per dimension


def _interleave_sql(x: str, y: str, shift_fmt: str) -> str:
    """Bit-interleave SQL: x at even bit positions, y at odd."""
    terms = []
    for i in range(Z_BITS):
        terms.append(shift_fmt.format(src=x, i=i, out=2 * i))
        terms.append(shift_fmt.format(src=y, i=i, out=2 * i + 1))
    return " + ".join(terms)


# DuckDB / ANSI bit operators.
_DUCK_SHIFT = "((({src} >> {i}) & 1) << {out})"
# Spark SQL builtin shift functions (>> exists in Spark 4 too, but the
# named functions parse identically everywhere).
_SPARK_SHIFT = "shiftleft(shiftright({src}, {i}) & 1, {out})"


@register(
    "zo_orders_zvalues",
    oracle=f"""
    WITH dims AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS INTEGER) AS cust_bits,
             CAST(dayofyear(o_orderdate) % 256 AS INTEGER) AS day_bits
      FROM orders
    )
    SELECT o_orderkey, cust_bits, day_bits,
           CAST({_interleave_sql("cust_bits", "day_bits", _DUCK_SHIFT)} AS BIGINT)
             AS zval
    FROM dims
    """,
)
def zo_orders_zvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key for (customer, day-of-year) co-clustering of orders.

    ``zval`` interleaves the low {Z_BITS} bits of ``o_custkey`` and of
    the order's day-of-year; sorting the write by it yields files whose
    footer min/max are tight in BOTH dimensions. The expression is one
    whole-stage-codegen projection — layout is a write-time concern,
    the key costs nothing to compute.
    """
    orders = table(spark, sf_dir, "orders")
    dims = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).cast("int").alias("cust_bits"),
        (F.dayofyear("o_orderdate") % 256).cast("int").alias("day_bits"),
    )
    return dims.select(
        "o_orderkey",
        "cust_bits",
        "day_bits",
        F.expr(_interleave_sql("cust_bits", "day_bits", _SPARK_SHIFT)).cast("bigint").alias("zval"),
    )


def zorder_write(df: DataFrame, cols: tuple[str, str], path: str, n_files: int = 8) -> None:
    """Write ``df`` z-ordered on two integer-expressible columns.

    Computes the Morton key over the low {Z_BITS} bits of each column,
    range-partitions into ``n_files`` z-ranges, sorts inside each, and
    drops the helper column on write — the standard OPTIMIZE ZORDER
    recipe as three DataFrame calls.
    """
    x, y = cols
    keyed = df.withColumn("_x", (F.col(x) % 256).cast("int")).withColumn(
        "_y", (F.col(y) % 256).cast("int")
    )
    keyed = keyed.withColumn(
        "_z", F.expr(_interleave_sql("_x", "_y", _SPARK_SHIFT)).cast("bigint")
    ).drop("_x", "_y")
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def clustered_write(
    df: DataFrame,
    key: str,
    order: tuple[str, ...],
    path: str,
    n_files: int = 8,
) -> None:
    """Secondary-sort write: cluster rows by ``key`` and sort each file
    by ``(key, *order)``.

    The repartitionAndSortWithinPartitions pattern in DataFrame terms:
    one shuffle delivers every key's rows to one partition, and the
    write-side sort makes each file a concatenation of per-key ordered
    runs. Downstream sequence consumers (session replay, per-user
    training-example assembly, merge-join readers) then stream each
    key's history in order with ZERO further shuffles or sorts — the
    sort is paid once at layout time, not per query. Also the
    precondition for Spark's bucketed sort-merge reads.
    """
    (
        df.repartition(n_files, key)
        .sortWithinPartitions(key, *order)
        .write.mode("overwrite")
        .parquet(path)
    )


# --------------------------------------------------------------------------
# Zone maps of the z-ordered layout as an ORACLE-CHECKED relation.
# zo_orders_zvalues (above) computes the Morton key and
# tests/test_scale_features.py verifies file skipping after a real
# zorder_write; this query makes the layout's effectiveness itself a
# cross-engine-checkable result: per z-range bucket, the min/max zone
# map of BOTH dimensions and each extent as a fraction of its domain.
# A predicate on either column prunes every bucket whose extent misses
# it — the numbers are the data-skipping figure of merit, not a claim.
#
# Both dimensions first normalize to a 10-bit grid over their OWN
# min/max domain (exact floor arithmetic, identical in both engines),
# so the bucket count is 64 at every SF instead of depending on where
# the raw key ranges happen to put their high bits.
# --------------------------------------------------------------------------
ZMAP_GRID_BITS = 10
ZMAP_BUCKET_SHIFT = 2 * ZMAP_GRID_BITS - 6  # keep the top 6 z-bits: 64 buckets

_ZMAP_EXPR = " | ".join(
    term
    for k in range(ZMAP_GRID_BITS)
    for term in (
        f"(((ckn >> {k}) & 1) << {2 * k})",
        f"(((dyn >> {k}) & 1) << {2 * k + 1})",
    )
)

_ZMAP_GRID = 1 << ZMAP_GRID_BITS

_ZMAP_ORACLE = f"""
WITH base AS (
  SELECT o_custkey AS ck,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dy
  FROM orders
),
dom AS (
  SELECT min(ck) AS ck_min, max(ck) - min(ck) + 1 AS ck_dom,
         min(dy) AS dy_min, max(dy) - min(dy) + 1 AS dy_dom
  FROM base
),
norm AS (
  SELECT ck, dy,
         CAST(floor((ck - ck_min) * {_ZMAP_GRID}.0 / ck_dom) AS BIGINT) AS ckn,
         CAST(floor((dy - dy_min) * {_ZMAP_GRID}.0 / dy_dom) AS BIGINT) AS dyn
  FROM base CROSS JOIN dom
),
b AS (
  SELECT ck, dy, ({_ZMAP_EXPR}) >> {ZMAP_BUCKET_SHIFT} AS bucket FROM norm
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(ck) AS BIGINT) AS ck_lo,
       CAST(max(ck) AS BIGINT) AS ck_hi,
       CAST(min(dy) AS BIGINT) AS dy_lo,
       CAST(max(dy) AS BIGINT) AS dy_hi,
       round((max(ck) - min(ck) + 1) * 1.0 / (SELECT ck_dom FROM dom), 6)
           AS ck_extent,
       round((max(dy) - min(dy) + 1) * 1.0 / (SELECT dy_dom FROM dom), 6)
           AS dy_extent
FROM b
GROUP BY bucket
"""


@register("zo_zonemap_extents", oracle=_ZMAP_ORACLE)
def zo_zonemap_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket zone maps of the 64-bucket z-ordered orders layout
    (row count, min/max custkey and day index, extents as domain
    fractions — both extents stay far below 1, which IS the 2-D
    skipping property).

    One map-side normalize + bit-interleave projection and one grouped
    aggregate; the domain stats fold in as a broadcast 1-row join. At
    scale the bucket id is what ``repartitionByRange(zval)`` + parquet
    footer min/max produce — same relation, computed declaratively.
    """
    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("dy"),
    )
    dom = base.agg(
        F.min("ck").alias("ck_min"),
        (F.max("ck") - F.min("ck") + 1).alias("ck_dom"),
        F.min("dy").alias("dy_min"),
        (F.max("dy") - F.min("dy") + 1).alias("dy_dom"),
    )
    norm = base.crossJoin(F.broadcast(dom)).select(
        "ck",
        "dy",
        "ck_dom",
        "dy_dom",
        F.floor((F.col("ck") - F.col("ck_min")) * float(_ZMAP_GRID) / F.col("ck_dom"))
        .cast("bigint")
        .alias("ckn"),
        F.floor((F.col("dy") - F.col("dy_min")) * float(_ZMAP_GRID) / F.col("dy_dom"))
        .cast("bigint")
        .alias("dyn"),
    )
    b = norm.select(
        "ck",
        "dy",
        "ck_dom",
        "dy_dom",
        F.expr(f"({_ZMAP_EXPR}) >> {ZMAP_BUCKET_SHIFT}").alias("bucket"),
    )
    return b.groupBy("bucket", "ck_dom", "dy_dom").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("ck").cast("bigint").alias("ck_lo"),
        F.max("ck").cast("bigint").alias("ck_hi"),
        F.min("dy").cast("bigint").alias("dy_lo"),
        F.max("dy").cast("bigint").alias("dy_hi"),
    ).select(
        "bucket",
        "n_rows",
        "ck_lo",
        "ck_hi",
        "dy_lo",
        "dy_hi",
        F.round(
            (F.col("ck_hi") - F.col("ck_lo") + 1) * 1.0 / F.col("ck_dom"), 6
        ).alias("ck_extent"),
        F.round(
            (F.col("dy_hi") - F.col("dy_lo") + 1) * 1.0 / F.col("dy_dom"), 6
        ).alias("dy_extent"),
    )


# --------------------------------------------------------------------------
# Layout pruning effectiveness — the zone-map A/B/C test. Same orders
# relation bucketed 64 ways under three write layouts (natural
# orderkey ranges, date-sorted ranges, z-order ranges); for one fixed
# 2-D selective predicate (middle 1/8 of the customer domain AND
# middle 1/8 of the date domain) count how many buckets — and how many
# ROWS — each layout's min/max zone maps prune. This turns the
# "z-order helps 2-D predicates" claim into an oracle-checked number:
# date-sort prunes only the date dimension, natural order prunes
# almost nothing, z-order prunes both.
#
# Exactness: bucket ids and predicate bounds are pure integer floor
# arithmetic on domain-normalized grids; prunability is an integer
# interval-disjointness test on BIGINT zone bounds. One scan computes
# all three bucket ids (stack/unpivot to a (layout, bucket) grain);
# rollups are bucket-sized.
# --------------------------------------------------------------------------
_PRED_LO_NUM, _PRED_HI_NUM, _PRED_DEN = 7, 9, 16  # middle 1/8 of each domain

_LAYOUT_BUCKETS = f"""
norm AS (
  SELECT ck, dy,
         CAST(floor((ck - ck_min) * {_ZMAP_GRID}.0 / ck_dom) AS BIGINT) AS ckn,
         CAST(floor((dy - dy_min) * {_ZMAP_GRID}.0 / dy_dom) AS BIGINT) AS dyn,
         CAST(floor((ok - ok_min) * 64.0 / ok_dom) AS BIGINT) AS b_nat,
         CAST(floor((dy - dy_min) * 64.0 / dy_dom) AS BIGINT) AS b_date,
         ck_min + ck_dom * {_PRED_LO_NUM} // {_PRED_DEN} AS ck_plo,
         ck_min + ck_dom * {_PRED_HI_NUM} // {_PRED_DEN} - 1 AS ck_phi,
         dy_min + dy_dom * {_PRED_LO_NUM} // {_PRED_DEN} AS dy_plo,
         dy_min + dy_dom * {_PRED_HI_NUM} // {_PRED_DEN} - 1 AS dy_phi
  FROM base CROSS JOIN dom
),
tagged AS (
  SELECT ck, dy, ck_plo, ck_phi, dy_plo, dy_phi, layout,
         CASE layout WHEN 'natural' THEN b_nat
                     WHEN 'date_sorted' THEN b_date
                     ELSE ({_ZMAP_EXPR}) >> {ZMAP_BUCKET_SHIFT} END AS bucket
  FROM norm
  CROSS JOIN (SELECT unnest(['natural', 'date_sorted', 'zorder']) AS layout)
),
zones AS (
  SELECT layout, bucket,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(min(ck) AS BIGINT) AS ck_lo, CAST(max(ck) AS BIGINT) AS ck_hi,
         CAST(min(dy) AS BIGINT) AS dy_lo, CAST(max(dy) AS BIGINT) AS dy_hi,
         CAST(max(ck_plo) AS BIGINT) AS ck_plo,
         CAST(max(ck_phi) AS BIGINT) AS ck_phi,
         CAST(max(dy_plo) AS BIGINT) AS dy_plo,
         CAST(max(dy_phi) AS BIGINT) AS dy_phi
  FROM tagged GROUP BY 1, 2
)
"""

_PRUNE_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey AS ok, o_custkey AS ck,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dy
  FROM orders
),
dom AS (
  SELECT min(ck) AS ck_min, max(ck) - min(ck) + 1 AS ck_dom,
         min(dy) AS dy_min, max(dy) - min(dy) + 1 AS dy_dom,
         min(ok) AS ok_min, max(ok) - min(ok) + 1 AS ok_dom
  FROM base
),
{_LAYOUT_BUCKETS}
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN ck_hi < ck_plo OR ck_lo > ck_phi
                      OR dy_hi < dy_plo OR dy_lo > dy_phi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       CAST(sum(CASE WHEN ck_hi < ck_plo OR ck_lo > ck_phi
                      OR dy_hi < dy_plo OR dy_lo > dy_phi
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_pruned,
       round(sum(CASE WHEN ck_hi < ck_plo OR ck_lo > ck_phi
                       OR dy_hi < dy_plo OR dy_lo > dy_phi
                      THEN n_rows ELSE 0 END) * 1.0 / sum(n_rows), 6)
           AS frac_rows_pruned
FROM zones GROUP BY layout
"""


@register("zo_pruning_effectiveness", oracle=_PRUNE_ORACLE)
def zo_pruning_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of rows a 2-D selective predicate prunes via 64-bucket
    zone maps under natural, date-sorted, and z-order layouts."""
    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("dy"),
    )
    dom = base.agg(
        F.min("ck").alias("ck_min"),
        (F.max("ck") - F.min("ck") + 1).alias("ck_dom"),
        F.min("dy").alias("dy_min"),
        (F.max("dy") - F.min("dy") + 1).alias("dy_dom"),
        F.min("ok").alias("ok_min"),
        (F.max("ok") - F.min("ok") + 1).alias("ok_dom"),
    )
    grid = float(_ZMAP_GRID)
    norm = base.crossJoin(F.broadcast(dom)).select(
        "ck",
        "dy",
        F.floor((F.col("ck") - F.col("ck_min")) * grid / F.col("ck_dom"))
        .cast("bigint")
        .alias("ckn"),
        F.floor((F.col("dy") - F.col("dy_min")) * grid / F.col("dy_dom"))
        .cast("bigint")
        .alias("dyn"),
        F.floor((F.col("ok") - F.col("ok_min")) * 64.0 / F.col("ok_dom"))
        .cast("bigint")
        .alias("b_nat"),
        F.floor((F.col("dy") - F.col("dy_min")) * 64.0 / F.col("dy_dom"))
        .cast("bigint")
        .alias("b_date"),
        (F.col("ck_min") + F.expr(f"ck_dom * {_PRED_LO_NUM} DIV {_PRED_DEN}"))
        .alias("ck_plo"),
        (F.col("ck_min") + F.expr(f"ck_dom * {_PRED_HI_NUM} DIV {_PRED_DEN}") - 1)
        .alias("ck_phi"),
        (F.col("dy_min") + F.expr(f"dy_dom * {_PRED_LO_NUM} DIV {_PRED_DEN}"))
        .alias("dy_plo"),
        (F.col("dy_min") + F.expr(f"dy_dom * {_PRED_HI_NUM} DIV {_PRED_DEN}") - 1)
        .alias("dy_phi"),
    )
    tagged = norm.withColumn(
        "b_z", F.expr(f"({_ZMAP_EXPR}) >> {ZMAP_BUCKET_SHIFT}")
    ).select(
        "ck",
        "dy",
        "ck_plo",
        "ck_phi",
        "dy_plo",
        "dy_phi",
        F.expr(
            "stack(3, 'natural', b_nat, 'date_sorted', b_date, 'zorder', b_z)"
            " AS (layout, bucket)"
        ),
    )
    zones = tagged.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("ck").cast("bigint").alias("ck_lo"),
        F.max("ck").cast("bigint").alias("ck_hi"),
        F.min("dy").cast("bigint").alias("dy_lo"),
        F.max("dy").cast("bigint").alias("dy_hi"),
        F.max("ck_plo").cast("bigint").alias("ck_plo"),
        F.max("ck_phi").cast("bigint").alias("ck_phi"),
        F.max("dy_plo").cast("bigint").alias("dy_plo"),
        F.max("dy_phi").cast("bigint").alias("dy_phi"),
    )
    pruned = (
        (F.col("ck_hi") < F.col("ck_plo"))
        | (F.col("ck_lo") > F.col("ck_phi"))
        | (F.col("dy_hi") < F.col("dy_plo"))
        | (F.col("dy_lo") > F.col("dy_phi"))
    )
    return zones.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(pruned.cast("bigint")).cast("bigint").alias("n_pruned"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.sum(F.when(pruned, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_pruned"),
        F.round(
            F.sum(F.when(pruned, F.col("n_rows")).otherwise(0))
            * 1.0
            / F.sum("n_rows"),
            6,
        ).alias("frac_rows_pruned"),
    )


# --------------------------------------------------------------------------
# Compaction planning — the small-files maintenance pass: treat each
# calendar month of orders as one input file (the write pattern a
# daily/monthly ingest leaves behind), and bin-pack files IN KEY ORDER
# into ~COMPACT_TARGET_BINS equal-row output files via an exclusive
# prefix sum (bin = running_rows DIV target). Order-preserving packing
# keeps the date clustering (and so the date zone maps) intact —
# exactly what OPTIMIZE/compaction jobs do, computed declaratively.
#
# Exactness: all integers (prefix sums, floor division). Scale: the
# file inventory is calendar-bounded; the prefix sum uses the
# range-partitioned global_running_sum helper, so no single-reducer
# window even if the inventory were huge.
# --------------------------------------------------------------------------
COMPACT_TARGET_BINS = 8


@register(
    "opt_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
                 AS file_month,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             CAST((sum(n_rows) + {COMPACT_TARGET_BINS} - 1)
                  // {COMPACT_TARGET_BINS} AS BIGINT) AS target
      FROM files
    ),
    packed AS (
      SELECT f.file_month, f.n_rows, t.target,
             CAST((sum(f.n_rows) OVER (ORDER BY f.file_month
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   ) // t.target AS BIGINT) AS bin
      FROM files f CROSS JOIN tot t
    )
    SELECT CAST(coalesce(bin, 0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_input_files,
           CAST(sum(n_rows) AS BIGINT) AS rows,
           min(file_month) AS first_month,
           max(file_month) AS last_month,
           round(sum(n_rows) * 1.0 / max(target), 6) AS fill_ratio
    FROM packed GROUP BY 1
    """,
)
def opt_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-preserving bin-packing of monthly order files into
    ~{COMPACT_TARGET_BINS} equal-row compaction outputs."""
    from ..functions.ranking import global_running_sum

    orders = table(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("file_month")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    tot = files.agg(
        F.sum("n_rows").cast("bigint").alias("total"),
        F.expr(
            f"CAST((sum(n_rows) + {COMPACT_TARGET_BINS} - 1)"
            f" DIV {COMPACT_TARGET_BINS} AS BIGINT)"
        ).alias("target"),
    )
    run = global_running_sum(
        files, [F.col("file_month")], F.col("n_rows"), "run_before",
        inclusive=False,
    )
    packed = run.crossJoin(F.broadcast(tot)).select(
        "file_month",
        "n_rows",
        "target",
        F.expr("run_before DIV target").cast("bigint").alias("bin"),
    )
    return packed.groupBy(F.coalesce("bin", F.lit(0)).cast("bigint").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_input_files"),
        F.sum("n_rows").cast("bigint").alias("rows"),
        F.min("file_month").alias("first_month"),
        F.max("file_month").alias("last_month"),
        F.round(F.sum("n_rows") * 1.0 / F.max("target"), 6).alias("fill_ratio"),
    )


# --------------------------------------------------------------------------
# Bucketed fact-fact join evidence row (round-9 shortlist #3): the
# events-table mirror of storage/warehouse.py::save_bucketed and its
# zero-Exchange pytest. The registered query performs the WHOLE
# pattern end-to-end so the bench prices it honestly:
#
#   1. write events bucketed by user_id (16 buckets, sorted) and the
#      per-user activity profile bucketed the same way — the one-time
#      layout cost a production pipeline amortizes over every
#      downstream per-user join;
#   2. join the two bucketed tables on user_id — ZERO Exchange under
#      the join (each task reads matching bucket files from both
#      sides; plan-asserted by tests/test_plan_quality.py), which at
#      100 TB is the difference between a free join and shuffling the
#      full fact table;
#   3. roll up per event_type: how much traffic comes from heavy users
#      (user total > 1.2x the mean, compared in exact cross-multiplied
#      integers so both engines branch identically).
#
# EAGER CONTRACT: the two saveAsTable calls run Spark jobs at
# DataFrame-construction time (same documented contract as
# lloyd_arrow.driver_lloyd). Tables land under the session's
# spark-warehouse dir with fixed names, overwritten per call.
# --------------------------------------------------------------------------
EV_BUCKETS = 16
_BJ_ORACLE = """
WITH prof AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_user_events
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_user_events) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_users
  FROM prof
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN p.n_user_events * t.n_users * 5 > t.total * 6
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
       round(CAST(sum(CASE WHEN p.n_user_events * t.n_users * 5 > t.total * 6
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
           AS heavy_share
FROM events e JOIN prof p ON e.user_id = p.user_id CROSS JOIN tot t
GROUP BY 1
"""


@register("ev_bucketed_user_join", oracle=_BJ_ORACLE)
def ev_bucketed_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-user traffic share per event type, computed through the
    bucketed-layout join path (write bucketed, join shuffle-free,
    roll up). Values identical to the plain join — the layout changes
    the PLAN, never the answer."""
    import shutil
    import tempfile
    from pathlib import Path

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    # External tables under a stable tmp root: a fresh session's
    # in-memory catalog doesn't know last session's managed table, but
    # its warehouse directory survives and blocks the managed write
    # (LOCATION_ALREADY_EXISTS) — explicit paths + drop make the write
    # idempotent across sessions. Same shape as warehouse.save_bucketed
    # (the bucket spec needs saveAsTable; a plain .parquet(path) write
    # cannot record it).
    #
    # round-10 (guide §2.4): the user profile derives from the BUCKETED
    # events table, not the raw parquet — the bucketed scan already
    # reports hashpartitioning(user_id), so the profile groupBy needs no
    # Exchange, and the raw events parquet is scanned once (the events
    # write) instead of twice. Same counts either way.
    root = Path(tempfile.gettempdir()) / "sdi_bucketed_r9"

    def _write_bucketed(df: DataFrame, name: str) -> DataFrame:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = root / name
        shutil.rmtree(loc, ignore_errors=True)
        (
            df.write.mode("overwrite")
            .bucketBy(EV_BUCKETS, "user_id")
            .sortBy("user_id")
            .option("path", str(loc))
            .format("parquet")
            .saveAsTable(name)
        )
        return spark.table(name)

    evb = _write_bucketed(ev, "r9_events_by_user")
    prof = evb.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_events")
    )
    profb = _write_bucketed(prof, "r9_users_by_user")
    tot = profb.agg(
        F.sum("n_user_events").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    heavy = (
        F.col("n_user_events") * F.col("n_users") * 5 > F.col("total") * 6
    ).cast("int")
    return (
        # MERGE hint: at evidence scale the profile side is small
        # enough that Catalyst would broadcast it (the right call for a
        # small dim — sk_hot_key_join_aqe covers that); the hint pins
        # the sort-merge path this row exists to price, where the
        # bucket alignment makes the join Exchange-free on BOTH sides.
        evb.join(profb.hint("merge"), "user_id")
        .crossJoin(F.broadcast(tot))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(heavy).cast("bigint").alias("n_heavy"),
            F.round(
                F.sum(heavy).cast("double") / F.count(F.lit(1)), 6
            ).alias("heavy_share"),
        )
    )


# --------------------------------------------------------------------------
# Dynamic-partition-pruning evidence row (round 9): the partitioned-
# layout sibling of ev_bucketed_user_join. Bucketing deletes the join
# shuffle; Hive-style partitioning deletes the SCAN — when a fact table
# partitioned on the join key is joined against a FILTERED dim, Spark
# plans a DPP subquery (SubqueryAdaptiveBroadcast dynamicpruning#N,
# reusing the join's own broadcast) that computes the dim's surviving
# keys at runtime and prunes fact partitions before any fact bytes are
# read. At 100 TB with a date- or tenant-partitioned fact this is the
# difference between scanning the whole table and scanning the slice
# the query can use — and unlike static pushdown it works when the
# filter is only known at runtime (top-k dims, subquery results).
#
# The query writes events partitioned by event_type, derives the dim
# (top-2 event types by exact value-cents) from the partitioned table,
# joins back, and rolls up. Plan-gated: the fact scan carries a
# dynamicpruning PartitionFilter (tests/test_plan_quality.py). Same
# EAGER CONTRACT as ev_bucketed_user_join (one partitioned write per
# call, priced in BENCH).
# --------------------------------------------------------------------------
DPP_TOP_TYPES = 2
_DPP_ORACLE = f"""
WITH ranked AS (
  SELECT event_type,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS type_cents,
         row_number() OVER (
             ORDER BY sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) DESC,
                      event_type) AS rnk
  FROM events GROUP BY 1
),
top_dim AS (
  SELECT event_type, type_cents FROM ranked WHERE rnk <= {DPP_TOP_TYPES}
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       max(t.type_cents) AS type_cents
FROM events e JOIN top_dim t ON e.event_type = t.event_type
GROUP BY 1
"""


@register("ev_dpp_partitioned_join", oracle=_DPP_ORACLE)
def ev_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-revenue event-type activity through the partitioned-layout
    join path: events written partitioned by event_type, dim = top-2
    types by exact cents, join pruned by DPP at the fact scan."""
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events").select("event_type", "user_id", "value")
    loc = Path(tempfile.gettempdir()) / "sdi_dpp_r9" / "events_by_type"
    shutil.rmtree(loc, ignore_errors=True)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(str(loc))
    fact = spark.read.parquet(str(loc))
    cents = F.sum(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    ).cast("bigint")
    dim = (
        fact.groupBy("event_type")
        .agg(cents.alias("type_cents"))
        .withColumn(
            "rnk",
            F.row_number().over(
                W.orderBy(F.desc("type_cents"), "event_type")
            ),
        )
        .filter(F.col("rnk") <= DPP_TOP_TYPES)
        .drop("rnk")
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.max("type_cents").cast("bigint").alias("type_cents"),
        )
    )


# --------------------------------------------------------------------------
# Warehouse read-after-write bucketed join (round-10 verdict #3): the
# S7 upsert sink's read-back path at layout quality. ev_bucketed_user_
# join prices the EVENTS layout; this row mirrors it on the warehouse
# itself — orders and their customer dim written through
# Warehouse.save_bucketed on custkey — because enrich-orders-with-
# customer is the join a real user hits on every read-after-write. With
# both sides bucket-aligned the join is Exchange-free: each task reads
# matching bucket files from both tables, so at 100 TB the read-back
# enrichment costs no shuffle at all (plan-asserted by
# tests/test_plan_quality.py::test_wh_bucketed_orders_join_no_exchange).
#
# The dim side carries c_custkey AS the fact's key name so the bucket
# spec and the join condition are the same single column on both sides.
# The avg rides on exact value-cents BIGINTs (uniform exact-sums
# policy) so both engines branch identically. Same EAGER CONTRACT as
# ev_bucketed_user_join (two bucketed writes per call, priced in
# BENCH); same MERGE hint rationale — at evidence scale Catalyst would
# broadcast the dim (the right call, covered by sk_hot_key_join_aqe),
# the hint pins the sort-merge path whose bucket alignment this row
# exists to price.
# --------------------------------------------------------------------------
WH_BUCKETS = 16
_WHB_ORACLE = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       round(CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / (count(*) * 100), 6) AS avg_order_value
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


@register("wh_bucketed_orders_join", oracle=_WHB_ORACLE)
def wh_bucketed_orders_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through the warehouse's bucketed
    read-after-write path: save_bucketed(orders, custkey) x
    save_bucketed(customer dim, custkey), Exchange-free enrichment
    join, segment rollup. Values identical to the plain join — the
    layout changes the PLAN, never the answer."""
    import shutil
    import tempfile
    from pathlib import Path

    from ..storage.warehouse import Warehouse

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    # Stable tmp warehouse root + explicit drop: a fresh session's
    # in-memory catalog doesn't know last session's table but the
    # directory survives — same idempotence shape as ev_bucketed_
    # user_join.
    root = Path(tempfile.gettempdir()) / "sdi_wh_bucketed_r10"
    wh = Warehouse(spark, str(root))
    for name in ("r10_wh_orders_by_cust", "r10_wh_cust_by_cust"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(root / name, ignore_errors=True)
    ob = wh.save_bucketed(
        orders, "r10_wh_orders_by_cust", "o_custkey", buckets=WH_BUCKETS
    )
    cb = wh.save_bucketed(
        cust, "r10_wh_cust_by_cust", "o_custkey", buckets=WH_BUCKETS
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    return (
        ob.join(cb.hint("merge"), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("revenue_cents"),
            F.round(
                F.sum(cents).cast("double") / (F.count(F.lit(1)) * 100), 6
            ).alias("avg_order_value"),
        )
    )


# --------------------------------------------------------------------------
# Warehouse deletion-vector read path (lakehouse delete-without-rewrite):
# delete_orders_where appends key tombstones (O(deleted) bytes, zero
# data-file rewrites), read_orders_live anti-joins them out with a
# BROADCAST hash join. The registered row drives the full API cycle —
# save -> tombstone a deterministic md5-keyed 1/16 slice of the 'F'
# orders -> live read — and reports per-status totals, live counts and
# exact live cents, so the driver hash covers both the tombstone
# selection and the anti-join semantics. At 100 TB this is the delete
# path a compliance or curation sweep uses between compactions: the
# write cost is the tombstone list, the read cost one broadcast
# anti-join, and vacuum_deletes folds the debt into the next rewrite
# (pytest covers vacuum + idempotent re-delete).
#
# EAGER CONTRACT: one warehouse write + one tombstone write per call
# (priced in BENCH, same policy as the bucketed-layout rows). SCAN
# GATE: 3 leaves of the tmp warehouse by design (raw totals + live +
# tombstones — the raw-vs-live delta IS the evidence), allowlisted in
# tests/test_scan_gate.py.
# --------------------------------------------------------------------------
_DV_ORACLE = """
WITH latest AS (
  SELECT o_orderkey AS order_id, o_orderstatus AS status, o_totalprice
  FROM orders
),
del AS (
  SELECT order_id FROM latest
  WHERE status = 'F'
    AND substr(md5(CAST(order_id AS VARCHAR) || '|dv'), 1, 1) = '0'
)
SELECT l.status,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN d.order_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_live,
       CAST(sum(CASE WHEN d.order_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_deleted,
       CAST(sum(CASE WHEN d.order_id IS NULL
                     THEN CAST(floor(l.o_totalprice * 100 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS live_cents
FROM latest l LEFT JOIN del d ON d.order_id = l.order_id
GROUP BY 1
"""


@register("wh_deletion_vector_read", oracle=_DV_ORACLE)
def wh_deletion_vector_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status order counts and exact live cents through the
    warehouse deletion-vector cycle: save_orders, tombstone the
    md5-keyed 1/16 slice of finished orders, read_orders_live."""
    import shutil
    import tempfile
    from pathlib import Path

    from ..storage.warehouse import Warehouse

    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderdate").alias("order_date"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total_amount"),
    )
    # scratch root is SF-suffixed: a pytest building this row at
    # sf0.001 must not race a concurrent sf0.01 drive on one directory
    root = Path(tempfile.gettempdir()) / (
        "sdi_wh_dv_r10_" + Path(sf_dir).name
    )
    shutil.rmtree(root, ignore_errors=True)
    wh = Warehouse(spark, str(root))
    wh.save_orders(orders)
    doomed = (F.col("status") == "F") & (
        F.substring(
            F.md5(F.concat(F.col("order_id").cast("string"), F.lit("|dv"))),
            1,
            1,
        )
        == "0"
    )
    wh.delete_orders_where(doomed)
    live = (
        wh.read_orders_live()
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.sum(
                F.floor(F.col("total_amount") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("live_cents"),
        )
    )
    totals = (
        wh.read_orders()
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    )
    return totals.join(live, "status", "left").select(
        "status",
        "n_total",
        F.coalesce("n_live", F.lit(0)).cast("bigint").alias("n_live"),
        (F.col("n_total") - F.coalesce("n_live", F.lit(0)))
        .cast("bigint")
        .alias("n_deleted"),
        F.coalesce("live_cents", F.lit(0)).cast("bigint").alias("live_cents"),
    )


# --------------------------------------------------------------------------
# Hilbert-curve zone maps — the locality A/B for zo_zonemap_extents'
# Morton/z-order layout. Same 10-bit domain-normalized grid, same
# 64-bucket / extent-fraction output schema, but the file key is the
# HILBERT index: unlike the z-curve, the Hilbert curve never jumps
# across the domain between consecutive keys, so bucket bounding boxes
# are tighter on average — which is exactly the min/max-pruning figure
# of merit (Delta/Iceberg OPTIMIZE offers both orderings for this
# reason; pytest asserts the mean-extent win over the z twin).
#
# The xy->d transform is the standard iterative quadrant
# rotate-and-accumulate, unrolled to {HIL_GRID_BITS} fixed steps of
# pure integer CASE/mask arithmetic — the SAME generated step text
# runs as a Spark selectExpr chain and as a DuckDB CTE chain, so the
# curve math itself is value-checked cross-engine (no float anywhere).
# --------------------------------------------------------------------------
HIL_GRID_BITS = ZMAP_GRID_BITS  # share the zonemap grid: 1024 x 1024
HIL_BUCKET_SHIFT = 2 * HIL_GRID_BITS - 6  # top 6 hilbert bits: 64 buckets


def _hilbert_step_exprs(s: int) -> tuple[str, str, str]:
    """(d, x, y) update expressions for one Hilbert iteration at side
    ``s`` (read cols d/x/y, emit the rotated quadrant state)."""
    d = (
        f"d + CASE WHEN (x & {s}) > 0 AND (y & {s}) > 0 THEN {2 * s * s} "
        f"WHEN (x & {s}) > 0 THEN {3 * s * s} "
        f"WHEN (y & {s}) > 0 THEN {s * s} ELSE 0 END"
    )
    x = (
        f"CASE WHEN (y & {s}) > 0 THEN x "
        f"WHEN (x & {s}) > 0 THEN {s - 1} - y ELSE y END"
    )
    y = (
        f"CASE WHEN (y & {s}) > 0 THEN y "
        f"WHEN (x & {s}) > 0 THEN {s - 1} - x ELSE x END"
    )
    return d, x, y


_HIL_SIDES = [1 << k for k in range(HIL_GRID_BITS - 1, -1, -1)]


def _hilbert_duck_chain() -> str:
    steps = []
    prev = "h0"
    for i, s in enumerate(_HIL_SIDES, start=1):
        d, x, y = _hilbert_step_exprs(s)
        steps.append(
            f"h{i} AS (SELECT ck, dy, ({d}) AS d, ({x}) AS x, ({y}) AS y "
            f"FROM {prev})"
        )
        prev = f"h{i}"
    return ",\n".join(steps)


_HIL_ORACLE = f"""
WITH base AS (
  SELECT o_custkey AS ck,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dy
  FROM orders
),
dom AS (
  SELECT min(ck) AS ck_min, max(ck) - min(ck) + 1 AS ck_dom,
         min(dy) AS dy_min, max(dy) - min(dy) + 1 AS dy_dom
  FROM base
),
h0 AS (
  SELECT ck, dy, CAST(0 AS BIGINT) AS d,
         CAST(floor((ck - ck_min) * {_ZMAP_GRID}.0 / ck_dom) AS BIGINT) AS x,
         CAST(floor((dy - dy_min) * {_ZMAP_GRID}.0 / dy_dom) AS BIGINT) AS y
  FROM base CROSS JOIN dom
),
{_hilbert_duck_chain()},
b AS (
  SELECT ck, dy, d >> {HIL_BUCKET_SHIFT} AS bucket FROM h{HIL_GRID_BITS}
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(ck) AS BIGINT) AS ck_lo,
       CAST(max(ck) AS BIGINT) AS ck_hi,
       CAST(min(dy) AS BIGINT) AS dy_lo,
       CAST(max(dy) AS BIGINT) AS dy_hi,
       round((max(ck) - min(ck) + 1) * 1.0 / (SELECT ck_dom FROM dom), 6)
           AS ck_extent,
       round((max(dy) - min(dy) + 1) * 1.0 / (SELECT dy_dom FROM dom), 6)
           AS dy_extent
FROM b
GROUP BY bucket
"""


@register("zo_hilbert_extents", oracle=_HIL_ORACLE)
def zo_hilbert_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket zone maps of the 64-bucket HILBERT-ordered orders
    layout — zo_zonemap_extents' schema on the locality-optimal curve.

    One map-side normalize, {HIL_GRID_BITS} chained integer projections
    (each collapses into the same whole-stage-codegen span — no
    shuffle, no float), one grouped aggregate; domain stats fold in as
    a broadcast 1-row join."""
    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("dy"),
    )
    dom = base.agg(
        F.min("ck").alias("ck_min"),
        (F.max("ck") - F.min("ck") + 1).alias("ck_dom"),
        F.min("dy").alias("dy_min"),
        (F.max("dy") - F.min("dy") + 1).alias("dy_dom"),
    )
    cur = base.crossJoin(F.broadcast(dom)).select(
        "ck",
        "dy",
        "ck_dom",
        "dy_dom",
        F.lit(0).cast("bigint").alias("d"),
        F.floor((F.col("ck") - F.col("ck_min")) * float(_ZMAP_GRID) / F.col("ck_dom"))
        .cast("bigint")
        .alias("x"),
        F.floor((F.col("dy") - F.col("dy_min")) * float(_ZMAP_GRID) / F.col("dy_dom"))
        .cast("bigint")
        .alias("y"),
    )
    for s in _HIL_SIDES:
        d, x, y = _hilbert_step_exprs(s)
        cur = cur.select(
            "ck",
            "dy",
            "ck_dom",
            "dy_dom",
            F.expr(d).alias("d"),
            F.expr(x).alias("x"),
            F.expr(y).alias("y"),
        )
    b = cur.select(
        "ck", "dy", "ck_dom", "dy_dom",
        F.expr(f"d >> {HIL_BUCKET_SHIFT}").alias("bucket"),
    )
    return (
        b.groupBy("bucket", "ck_dom", "dy_dom")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("ck").cast("bigint").alias("ck_lo"),
            F.max("ck").cast("bigint").alias("ck_hi"),
            F.min("dy").cast("bigint").alias("dy_lo"),
            F.max("dy").cast("bigint").alias("dy_hi"),
        )
        .select(
            "bucket",
            "n_rows",
            "ck_lo",
            "ck_hi",
            "dy_lo",
            "dy_hi",
            F.round(
                (F.col("ck_hi") - F.col("ck_lo") + 1) * 1.0 / F.col("ck_dom"), 6
            ).alias("ck_extent"),
            F.round(
                (F.col("dy_hi") - F.col("dy_lo") + 1) * 1.0 / F.col("dy_dom"), 6
            ).alias("dy_extent"),
        )
    )


# --------------------------------------------------------------------------
# Schema-evolution read (mergeSchema): ingestion batches drift —
# early files carry (order_id, cents), later ones add a channel column
# and drop cents. A plain parquet read picks ONE footer's schema
# (whichever file is listed first — silently wrong either way);
# option("mergeSchema", "true") unions the schemas, null-filling the
# columns each batch lacks, which is the contract a long-lived ingest
# directory needs. The row drives two appends with different schemas
# into one directory and value-checks the merged view: row counts per
# schema generation, exact cents over the generation that has them,
# channel cardinality over the one that has channels. At 100 TB
# mergeSchema's cost is footer-only (one small task per file footer,
# no data read) — and the durable fix is backfill/registration in a
# real catalog, which is why the warehouse's own tables keep a FIXED
# schema and this row lives on a scratch directory. EAGER CONTRACT:
# two small parquet appends per call.
# --------------------------------------------------------------------------
_SEV_ORACLE = """
WITH b1 AS (
  SELECT o_orderkey AS order_id,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 2 = 0
),
b2 AS (
  SELECT o_orderkey AS order_id, o_orderpriority AS channel
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT CAST((SELECT count(*) FROM b1) + (SELECT count(*) FROM b2) AS BIGINT)
           AS n_rows,
       CAST((SELECT count(*) FROM b1) AS BIGINT) AS n_with_cents,
       CAST((SELECT count(*) FROM b2) AS BIGINT) AS n_with_channel,
       CAST((SELECT sum(cents) FROM b1) AS BIGINT) AS sum_cents,
       CAST((SELECT count(DISTINCT channel) FROM b2) AS BIGINT) AS n_channels
"""


@register("wh_schema_evolution_read", oracle=_SEV_ORACLE)
def wh_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-schema read over two schema-drifted ingest batches:
    row counts per generation, exact cents and channel cardinality
    through the union-of-schemas view."""
    import shutil
    import tempfile
    from pathlib import Path

    orders = table(spark, sf_dir, "orders")
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    b2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderpriority").alias("channel"),
    )
    # SF-suffixed scratch dir (concurrent-harness isolation)
    path = Path(tempfile.gettempdir()) / (
        "sdi_wh_schema_drift_r10_" + Path(sf_dir).name
    )
    shutil.rmtree(path, ignore_errors=True)
    b1.write.mode("append").parquet(str(path))
    b2.write.mode("append").parquet(str(path))
    merged = spark.read.option("mergeSchema", "true").parquet(str(path))
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("cents").cast("bigint").alias("n_with_cents"),
        F.count("channel").cast("bigint").alias("n_with_channel"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.countDistinct("channel").cast("bigint").alias("n_channels"),
    )
