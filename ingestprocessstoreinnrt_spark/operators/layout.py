"""Z-order (Morton) interleaving — multi-dimensional data clustering
for scan pruning.

At 100 TB you cannot sort a table by two columns at once, but you can
sort by their interleaved bits: files then hold rows that are close in
BOTH dimensions, so per-file min/max statistics prune selective scans
on either column (the technique behind Delta/Iceberg OPTIMIZE ZORDER).
The z-value itself is pure integer bit arithmetic — identical in any
engine — so the transform is exactly oracle-checkable; the clustering
benefit (narrower per-file spans on both dimensions than any
single-column sort) is asserted in tests/test_layout.py.

Dimensions here: customer key and order day — the two columns a
serving workload filters on together.  Each is min-max normalized to
the full Z_BITS range with exact integer arithmetic first: raw
interleaving lets whichever dimension has the wider span dominate the
high bits and the other dimension barely clusters (measured: x-span
141/149 un-normalized vs 40/149 normalized at 16 chunks).  The
normalization bounds come from ONE metadata-scale aggregate broadcast
onto the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import Query

Z_BITS = 16
DAY_US = 86_400_000_000


def _interleave(x: str, y: str, shl: str, shr: str) -> str:
    """Bit-interleave expression from dialect shift templates:
    shl/shr are format strings like 'shiftleft({v}, {n})'."""
    parts = []
    for j in range(Z_BITS):
        bx = shl.format(v=f"({shr.format(v=x, n=j)} & 1)", n=2 * j)
        by = shl.format(v=f"({shr.format(v=y, n=j)} & 1)", n=2 * j + 1)
        parts.append(bx)
        parts.append(by)
    return "(" + " + ".join(parts) + ")"


_MASK = (1 << Z_BITS) - 1


def _norm(v: str, mn: str, mx: str) -> str:
    """Exact-integer min-max normalization of `v` onto [0, 2^Z_BITS)
    — same expression text in both dialects."""
    return (
        f"(({v} - {mn}) * {_MASK} DIV "
        f"(CASE WHEN {mx} > {mn} THEN {mx} - {mn} ELSE 1 END))"
    )


def _orders_with_zval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All orders columns + (day, xdim, ydim, zval).  The normalization
    bounds are ONE metadata-scale aggregate broadcast onto the scan."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "day", F.expr(f"unix_micros(o_orderdate) DIV {DAY_US}")
    )
    bounds = orders.agg(
        F.min("o_custkey").alias("cmn"),
        F.max("o_custkey").alias("cmx"),
        F.min("day").alias("dmn"),
        F.max("day").alias("dmx"),
    )
    z = _interleave(
        "xdim", "ydim", "shiftleft({v}, {n})", "shiftright({v}, {n})"
    )
    return (
        orders.join(F.broadcast(bounds))
        .withColumn("xdim", F.expr(_norm("o_custkey", "cmn", "cmx")))
        .withColumn("ydim", F.expr(_norm("day", "dmn", "dmx")))
        .withColumn("zval", F.expr(z).cast("long"))
        .drop("cmn", "cmx", "dmn", "dmx")
    )


def zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderkey, xdim, ydim, zval) — the z-value each order sorts by
    when the table is laid out for (customer, day) pruning; xdim/ydim
    are the normalized coordinates the tests measure spans on."""
    return _orders_with_zval(spark, sf_dir).select(
        "o_orderkey", "xdim", "ydim", "zval"
    )


def zorder_write(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 16
) -> None:
    """OPTIMIZE-ZORDER closed loop: physically write the orders table
    (all original columns + day) clustered by the interleaved key —
    range-partitioned into n_files so each output file covers a
    contiguous z-range, sorted within files so row groups nest the
    same way.  Per-file min/max footer statistics on the REAL query
    columns (o_custkey, day) then prune two-dimensional range scans;
    tests/test_layout.py measures the skip rate on the written files.

    The reference keys its serving table for point access the same way
    (Kudu PRIMARY KEY (vendor_id, tpep_pickup_datetime, ...) in
    create_ny_taxi_yellow_trip_table.impala:22); z-order is the
    scan-pruning generalization for TWO selective dimensions.  At
    100 TB: repartitionByRange samples the z-key (one pass), the sort
    is per-partition, and nothing but the written data shuffles.
    """
    (
        _orders_with_zval(spark, sf_dir)
        .drop("xdim", "ydim")
        .repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


_ZORDER_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) // {DAY_US} AS day
  FROM orders
),
b AS (
  SELECT MIN(o_custkey) AS cmn, MAX(o_custkey) AS cmx,
         MIN(day) AS dmn, MAX(day) AS dmx
  FROM o
),
d AS (
  SELECT o_orderkey,
    {_norm("o_custkey", "cmn", "cmx").replace("DIV", "//")} AS xdim,
    {_norm("day", "dmn", "dmx").replace("DIV", "//")} AS ydim
  FROM o, b
)
SELECT o_orderkey, xdim, ydim,
  {_interleave("xdim", "ydim", "(({v}) << {n})", "(({v}) >> {n})")}::BIGINT
    AS zval
FROM d
"""


QUERIES = {
    "layout_zorder": Query(zorder_orders, _ZORDER_SQL),
}
