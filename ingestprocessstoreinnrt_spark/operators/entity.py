"""Keyed running entity aggregate — the reference's A1/A2 core
(NyTaxiYellowEntity.scala:31-58 driven by updateStateByKey,
NyTaxiYellowTripStreaming.scala:139-158): fold every new fact row into a
per-business-key accumulator of total counts, conditional category sums
(the 14 payment-type-conditional sums, :38-51), category counters
(:52-57), and a running MAX (:37).

Spark-first shape: every accumulator is an *algebraic* aggregate, so the
whole entity is one `groupBy(key).agg(...)` — partial aggregation
map-side, |keys| rows shuffled, and the same expression works in three
modes: batch (here), incremental batch-merge (`merge_entities`), and
streaming update mode (streaming/pipelines.py).  The reference's
hand-rolled fold + state-scan-per-batch disappears entirely.

Testdata instantiation: orders per customer; order-status plays the role
of payment type.  (The distance-into-wrong-column bug at
NyTaxiYellowEntity.scala:36 is deliberately not replicated — SURVEY 8.1.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import davg, dsum, sql_davg, sql_dsum, sql_dsum_expr
from ..registry import Query

# status -> column stem; mirrors the payment-type dictionary
# (NyTaxiYellowTripStreaming.scala:24-29)
ORDER_STATUS_NAMES = {"O": "open", "F": "fulfilled", "P": "pending"}


def _cond(status: str) -> Column:
    return F.when(F.col("o_orderstatus") == status, F.col("o_totalprice"))


def customer_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running entity (A1 shape) over the orders fact table."""
    return entity_from_orders(load_table(spark, sf_dir, "orders"))


def _entity_sql() -> str:
    conds = []
    for status, stem in ORDER_STATUS_NAMES.items():
        cond = f"CASE WHEN o_orderstatus = '{status}' THEN o_totalprice END"
        conds.append(
            f"COALESCE({sql_dsum_expr(cond)}, 0.0) AS total_{stem}_spend"
        )
        conds.append(
            "CAST(SUM(CASE WHEN o_orderstatus = "
            f"'{status}' THEN 1 ELSE 0 END) AS BIGINT) AS total_{stem}_orders"
        )
    cond_sql = ",\n  ".join(conds)
    return f"""
SELECT
  o_custkey,
  COUNT(*) AS total_orders,
  {sql_dsum('o_totalprice', 'total_spend')},
  MAX(o_totalprice) AS max_order_price,
  {sql_davg('o_totalprice', 'avg_order_price')},
  {cond_sql},
  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
       AS BIGINT) AS total_urgent_orders
FROM orders
GROUP BY o_custkey
"""


def entity_from_orders(orders: DataFrame) -> DataFrame:
    """A1 aggregation over an arbitrary orders-shaped DataFrame (used by
    the streaming path on each micro-batch)."""
    # bounded=True (PERFORMANCE.md §decimal-accumulators): the group is
    # o_custkey and TPC-H holds rows-per-customer at ~10 at EVERY scale
    # factor (measured 10.0 across sf0.001-0.1), so the per-group
    # quantized sum is ~10 x 5e9 ~ 5e10 — eight orders of magnitude of
    # int64 headroom at any corpus size.  Corpus-grain dsum sites keep
    # the decimal accumulator.
    aggs = [
        F.count(F.lit(1)).alias("total_orders"),
        dsum("o_totalprice", "total_spend", bounded=True),
        F.max("o_totalprice").alias("max_order_price"),
        davg("o_totalprice", "avg_order_price", bounded=True),
    ]
    for status, stem in ORDER_STATUS_NAMES.items():
        aggs.append(dsum(_cond(status), f"total_{stem}_spend", bounded=True))
        aggs.append(
            F.sum(F.when(F.col("o_orderstatus") == status, 1).otherwise(0))
            .cast("long")
            .alias(f"total_{stem}_orders")
        )
    aggs.append(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("total_urgent_orders")
    )
    ent = orders.groupBy("o_custkey").agg(*aggs)
    for stem in ORDER_STATUS_NAMES.values():
        ent = ent.withColumn(
            f"total_{stem}_spend",
            F.coalesce(F.col(f"total_{stem}_spend"), F.lit(0.0)),
        )
    return ent


def merge_entities(*parts: DataFrame) -> DataFrame:
    """Merge per-split entity tables into the full-table entity — the
    merge half of the reference's hand-rolled UDAF pair
    (NyTaxiYellowEntity.scala `+`, :31-58).  Bit-identical to the
    single-pass aggregate however the input was split (see
    operators.merge for the exactness argument) — the invariant the
    streaming upsert path (M4) relies on."""
    from .merge import merge_keyed

    cols = parts[0].columns
    return merge_keyed(
        parts,
        key_cols=["o_custkey"],
        count_cols=[c for c in cols if c.endswith("_orders")],
        qsum_cols=[c for c in cols if c.endswith("_spend")],
        max_cols=["max_order_price"],
        drop_before_merge=["avg_order_price"],
        # avg = quantized-sum double / count: same expression tree as
        # davg() in the single-pass aggregate -> bit-identical
        derive=lambda df: df.withColumn(
            "avg_order_price", F.col("total_spend") / F.col("total_orders")
        ),
    )


QUERIES = {
    "entity_customer_rollup": Query(customer_entity, _entity_sql()),
}
