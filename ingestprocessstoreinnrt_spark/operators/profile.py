"""Keyed behavior-profile aggregate — the reference's A3
(ConnectedCarProfile.addReading, ConnectedCarProfile.scala:60-134):
per-key weighted means of conditionally-selected measures (acceleration /
braking / handling aggression, :85-93), an overall score (:95), a running
mean (:98), a signed counter (:100-106), plain event counters (:108-118),
and derived maintenance periods clamped to a range (:120-131).

The reference maintains these with an order-dependent incremental
combineAverages fold (:136-142) + repeated integer truncation — a
recorded quirk (SURVEY 7.3.3).  Intended semantics are true weighted
means, which are exactly `AVG(conditional value)`: algebraic, partial-
aggregatable, order-free.  One groupBy, no state scan, no UDF.

Testdata instantiation: per-user profile over the events stream table.
Role mapping: value>0 on 'click' ~ acceleration samples, |value| on
'error' ~ braking samples, |value| overall ~ handling; 'purchase'
vs 'error' drive the signed counter (signal-on vs illegal lane
departure analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import clamp, davg, sql_davg, sql_davg_expr
from ..registry import Query

# maintenance-period defaults + clamp bounds
# (ConnectedCarProfile.scala:21-23,126-131 analog)
BASE_PERIOD = 5000
PERIOD_MIN, PERIOD_MAX = 1000, 5000


def profile_from_events(events: DataFrame) -> DataFrame:
    ev = events
    # bounded=True (PERFORMANCE.md §decimal-accumulators): grouped by
    # user_id with rows-per-user structurally constant across scale
    # factors (measured 66.7 at sf0.001-0.1 — user count grows with the
    # corpus, per-user event rate doesn't), so per-group quantized sums
    # stay ~1e7 — int64-safe at any corpus size.
    prof = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("readings_count"),
        F.max("value").alias("max_value"),
        davg(F.when((ev.event_type == "click") & (ev.value > 0), ev.value),
             "accel_score", bounded=True),
        davg(F.when(ev.event_type == "error", F.abs(ev.value)),
             "brake_score", bounded=True),
        davg(F.abs(ev.value), "handling_score", bounded=True),
        davg("value", "avg_value", bounded=True),
        F.sum(
            F.when(ev.event_type == "purchase", 1)
            .when(ev.event_type == "error", -1)
            .otherwise(0)
        ).cast("long").alias("plus_minus"),
        F.sum(F.when(ev.event_type == "purchase", 1).otherwise(0))
        .cast("long").alias("purchases_count"),
        F.sum(F.when(ev.event_type == "error", 1).otherwise(0))
        .cast("long").alias("errors_count"),
        F.sum(F.when(ev.event_type == "signup", 1).otherwise(0))
        .cast("long").alias("signups_count"),
        F.max("ts").alias("last_updated"),
    )
    # overall score + clamped derived period.  Conditional means can be
    # NULL for keys with no qualifying rows; zero-fill like the
    # reference's zero-initialized accumulators before deriving.
    prof = (
        prof.withColumn("accel_score", F.coalesce("accel_score", F.lit(0.0)))
        .withColumn("brake_score", F.coalesce("brake_score", F.lit(0.0)))
        .withColumn(
            "overall_score",
            F.col("accel_score") + F.col("brake_score") + F.col("handling_score"),
        )
    )
    # period = clamp(BASE - floor(overall*10), bounds) — floor (not cast)
    # for the double->int step: Spark's int cast truncates toward zero but
    # DuckDB's rounds, so FLOOR is the only portable spelling.
    period = clamp(
        F.lit(BASE_PERIOD) - F.floor(F.col("overall_score") * 10),
        PERIOD_MIN,
        PERIOD_MAX,
    )
    return prof.withColumn("maintenance_period", period.cast("int"))


def user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_from_events(load_table(spark, sf_dir, "events"))


_PROFILE_SQL_OUTER = f"""
SELECT
  user_id, readings_count, max_value, accel_score, brake_score,
  handling_score, avg_value, plus_minus, purchases_count, errors_count,
  signups_count, last_updated,
  overall_score,
  CAST(
    LEAST(GREATEST({BASE_PERIOD} - FLOOR(overall_score * 10), {PERIOD_MIN}),
          {PERIOD_MAX}) AS INT) AS maintenance_period
FROM (
  SELECT *, accel_score + brake_score + handling_score AS overall_score
  FROM (
    SELECT
      user_id,
      COUNT(*) AS readings_count,
      MAX(value) AS max_value,
      COALESCE({sql_davg_expr("CASE WHEN event_type = 'click' AND value > 0 THEN value END")}, 0.0) AS accel_score,
      COALESCE({sql_davg_expr("CASE WHEN event_type = 'error' THEN abs(value) END")}, 0.0) AS brake_score,
      {sql_davg('abs(value)', 'handling_score')},
      {sql_davg('value', 'avg_value')},
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
               WHEN event_type = 'error' THEN -1 ELSE 0 END) AS BIGINT)
        AS plus_minus,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        AS purchases_count,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        AS errors_count,
      CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
        AS signups_count,
      MAX(ts) AS last_updated
    FROM events
    GROUP BY user_id
  ) base
) scored
"""

QUERIES = {
    "profile_user_rollup": Query(user_profile, _PROFILE_SQL_OUTER),
}
