"""Incremental aggregate maintenance (materialized-view delta merge).

The reference maintains serving aggregates by re-upserting whole rows
per micro-batch (NyTaxiYellowTripStreaming.scala:223-229); the batch
generalization a 100 TB pipeline needs is incremental view
maintenance: keep per-key PARTIAL aggregates (count, quantized sum),
merge a delta batch's partials into the base with one key-equi union
aggregate, and never rescan history.

The driver-gate query makes the correctness statement itself the
oracle: Spark computes base-partials(90% of orders) merged with
delta-partials(10%) — the DuckDB twin aggregates the whole table
directly.  A hash match PROVES merged-incremental == full-recompute,
which is the IVM invariant (sums/counts form a commutative monoid;
avg is derived at read time, the same sufficient-statistics discipline
as streaming/state.py and operators/entity.py).

Scale shape: base and delta partials are both keyed aggregates
(map-side combined); the merge is one shuffle on the key, and with the
base stored bucketed by key (UpsertTable's layout) it co-locates — the
delta's size, not the base's, drives the cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import quantize, sql_davg
from ..registry import Query

_DELTA_MOD = 10  # orders with o_orderkey % 10 == 9 play the delta batch


def _partials(orders: DataFrame) -> DataFrame:
    """Per-customer mergeable sufficient statistics."""
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(quantize(F.col("o_totalprice"))).alias("qsum"),
    )


def incremental_customer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, n_orders, avg_totalprice) maintained incrementally:
    base partials + delta partials merged by key, average derived at
    read time from the merged statistics."""
    orders = load_table(spark, sf_dir, "orders")
    base = _partials(orders.filter(F.col("o_orderkey") % _DELTA_MOD != 9))
    delta = _partials(orders.filter(F.col("o_orderkey") % _DELTA_MOD == 9))
    merged = (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("qsum").alias("qsum"),
        )
    )
    return merged.select(
        "o_custkey",
        "n_orders",
        (
            F.col("qsum").cast("double")
            / F.lit(10000.0)
            / F.col("n_orders").cast("double")
        ).alias("avg_totalprice"),
    )


# The oracle aggregates the FULL table in one pass: matching it proves
# the two-partial merge loses nothing.
_INCR_SQL = f"""
SELECT o_custkey, COUNT(*)::BIGINT AS n_orders,
  {sql_davg("o_totalprice", "avg_totalprice")}
FROM orders GROUP BY o_custkey
"""

# ---------------------------------------------------------------------------
# join-view IVM — the four-term delta rule
# ---------------------------------------------------------------------------
#
# incremental_customer_agg maintains a single-table aggregate; real
# materialized views JOIN.  The classic delta decomposition for
# V = A ⋈ B under inserts ΔA, ΔB:
#
#   V_new = A₀⋈B₀  ∪  ΔA⋈B₀  ∪  A₀⋈ΔB  ∪  ΔA⋈ΔB
#
# — four keyed joins where three are delta-sized; history (A₀⋈B₀) is
# the stored view and is never rescanned.  Here A = orders (10% delta
# by o_orderkey), B = customer (5% delta by c_custkey), V = per-nation
# order count + revenue.  The oracle computes the full join-aggregate
# directly on the whole tables; a hash match proves the four-term
# merge loses nothing.  All statistics exact (counts, revenue cents);
# each term is an equi-join on the key with map-side partial
# aggregation, and with both sides bucketed by custkey (UpsertTable
# layout) the three delta terms co-locate at 100 TB.

_CUST_DELTA_MOD = 20  # customers with c_custkey % 20 == 7 play ΔB


def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_name, n_orders, revenue_cents) of the orders⋈customer view
    maintained by the four-term join-delta rule."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
        (F.col("o_orderkey") % _DELTA_MOD == 9).alias("is_delta"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_custkey") % _CUST_DELTA_MOD == 7).alias("is_delta"),
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    a0 = orders.filter(~F.col("is_delta")).drop("is_delta")
    da = orders.filter(F.col("is_delta")).drop("is_delta")
    b0 = cust.filter(~F.col("is_delta")).drop("is_delta")
    db = cust.filter(F.col("is_delta")).drop("is_delta")

    def term(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(b, a.o_custkey == b.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("revenue_cents"),
            )
        )

    merged = (
        term(a0, b0)
        .unionByName(term(da, b0))
        .unionByName(term(a0, db))
        .unionByName(term(da, db))
        .groupBy("c_nationkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
    )
    return (
        merged.join(F.broadcast(nat), merged.c_nationkey == nat.n_nationkey)
        .select("n_name", "n_orders", "revenue_cents")
        .orderBy("n_name")
    )


# full-recompute oracle: one join-aggregate over the whole tables
_IVM_JOIN_SQL = """
SELECT n_name, COUNT(*)::BIGINT AS n_orders,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
    AS BIGINT) AS revenue_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""

QUERIES = {
    "incremental_customer_agg": Query(incremental_customer_agg, _INCR_SQL),
    "ivm_join_delta": Query(ivm_join_delta, _IVM_JOIN_SQL),
}
