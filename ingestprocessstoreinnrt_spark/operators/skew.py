"""Skew-handling machinery for 100 TB aggregations and joins.

`salted_rollup` is the classic two-stage aggregation: stage 1 groups by
(key, salt) so one hot key spreads over N reducers; stage 2 merges the
partials.  Because every aggregate here is algebraic over quantized
integers (functions.scalars), the two-stage result is bit-identical to
the direct groupBy — registered as a driver-gate query whose oracle is
the PLAIN single-stage SQL, proving salting changes the plan, not the
answer.

AQE's skew-join splitting handles join-side skew automatically
(session.py enables it); `salt_join_keys` exists for the static
pre-salting pattern when AQE isn't enough (documented, tested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import quantize, sql_dsum
from ..registry import Query

N_SALTS = 8


def salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event rollup via two-stage salted aggregation."""
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(quantize(F.col("value"))).alias("vq"),
        F.max("value").alias("mx"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("event_count"),
        (F.sum("vq").cast("double") / F.lit(10000.0)).alias("total_value"),
        F.max("mx").alias("max_value"),
    )


_SALTED_SQL = f"""
SELECT user_id,
  COUNT(*) AS event_count,
  {sql_dsum('value', 'total_value')},
  MAX(value) AS max_value
FROM events
GROUP BY user_id
"""


def salt_join_keys(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = N_SALTS,
) -> tuple[DataFrame, DataFrame, list[Column]]:
    """Static pre-salting for a skewed equi-join: the big side gets a
    random-ish salt per row; the small side is replicated n_salts times.
    Join on (key, salt) — a hot key's rows spread across n_salts tasks.
    Returns (big', small', join_cols)."""
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*big.columns), F.lit(n_salts))
    )
    small_s = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(n_salts).select(
                F.col("id").cast("long").alias("_salt")
            )
        )
    )
    return big_s, small_s, [F.col(key), F.col("_salt")]


QUERIES = {
    "scale_salted_rollup": Query(salted_rollup, _SALTED_SQL),
}
