"""Ordered-funnel analytics: how many users progress view -> click ->
purchase IN THAT ORDER — the sequence-sensitive product-analytics
operator (a plain per-type count ignores ordering and overcounts).

Semantics: stage k counts a user iff an event of stage k's type exists
strictly after the user's earliest qualifying stage k-1 event.  All
comparisons are integer epoch-micros.

Scale shape: one shuffle on user_id, then THREE stacked window
operators over the same partitioning (Catalyst plans them in a single
exchange) — the chained conditional mins cannot fold into one
aggregate because stage k's predicate references stage k-1's result,
and a window over a window expression is exactly how engines express
it without a self-join per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import Query

FUNNEL_STAGES = ("view", "click", "purchase")


def user_chains(ev: DataFrame) -> DataFrame:
    """(user_id, t0, t1, t2) — each user's earliest qualifying ordered
    stage chain over an events frame with (user_id, event_type, ts_us).
    Shared by the batch query below and the streaming twin's
    equivalence test (streaming/funnel.py)."""
    w = Window.partitionBy("user_id")
    s0, s1, s2 = FUNNEL_STAGES
    d = ev.withColumn(
        "t0",
        F.min(F.when(F.col("event_type") == s0, F.col("ts_us"))).over(w),
    )
    d = d.withColumn(
        "t1",
        F.min(
            F.when(
                (F.col("event_type") == s1) & (F.col("ts_us") > F.col("t0")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == s2) & (F.col("ts_us") > F.col("t1")),
                F.col("ts_us"),
            )
        ).over(w),
    )
    return d.groupBy("user_id").agg(
        F.first("t0").alias("t0"),
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
    )


def funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage, depth, n_users) — users reaching each ordered stage."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    users = user_chains(ev)
    counts = users.agg(
        F.sum(F.col("t0").isNotNull().cast("long")).alias("n0"),
        F.sum(F.col("t1").isNotNull().cast("long")).alias("n1"),
        F.sum(F.col("t2").isNotNull().cast("long")).alias("n2"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(s).alias("stage"),
                F.lit(i + 1).alias("depth"),
                F.col(f"n{i}").alias("n_users"),
            )
            for i, s in enumerate(FUNNEL_STAGES)
        ]
    )
    return counts.select(F.explode(stages).alias("r")).select("r.*")


def _chain_ctes() -> str:
    """e/d0/d1/d2/users CTE chain (per-user ordered stage times) —
    shared by the funnel-counts and conversion-latency oracles."""
    s0, s1, s2 = FUNNEL_STAGES
    return f"""e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
d0 AS (
  SELECT *, MIN(CASE WHEN event_type = '{s0}' THEN ts_us END)
    OVER (PARTITION BY user_id) AS t0
  FROM e
),
d1 AS (
  SELECT *, MIN(CASE WHEN event_type = '{s1}' AND ts_us > t0
                     THEN ts_us END)
    OVER (PARTITION BY user_id) AS t1
  FROM d0
),
d2 AS (
  SELECT *, MIN(CASE WHEN event_type = '{s2}' AND ts_us > t1
                     THEN ts_us END)
    OVER (PARTITION BY user_id) AS t2
  FROM d1
),
users AS (
  SELECT user_id, ANY_VALUE(t0) AS t0, ANY_VALUE(t1) AS t1,
         ANY_VALUE(t2) AS t2
  FROM d2 GROUP BY user_id
)"""


def _funnel_sql() -> str:
    s0, s1, s2 = FUNNEL_STAGES
    return f"""
WITH {_chain_ctes()},
c AS (
  SELECT
    CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM users
)
SELECT '{s0}' AS stage, 1 AS depth, n0 AS n_users FROM c
UNION ALL SELECT '{s1}', 2, n1 FROM c
UNION ALL SELECT '{s2}', 3, n2 FROM c
"""


# ---------------------------------------------------------------------------
# stage-to-stage conversion latency (the "how fast" companion to the
# funnel's "how many")
# ---------------------------------------------------------------------------


def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage_pair, n_conversions, p50_minutes, p90_minutes,
    max_minutes) — time between a user's ordered funnel stages, for
    the three pairs of FUNNEL_STAGES.  Reuses user_chains (one window
    pass on the user grain); percentiles via the proven
    percentile <-> quantile_cont bridge over integer microsecond
    deltas, converted to minutes only at output."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    chains = user_chains(ev)
    s0, s1, s2 = FUNNEL_STAGES
    deltas = chains.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(f"{s0}->{s1}").alias("stage_pair"),
                    (F.col("t1") - F.col("t0")).alias("delta_us"),
                ),
                F.struct(
                    F.lit(f"{s1}->{s2}").alias("stage_pair"),
                    (F.col("t2") - F.col("t1")).alias("delta_us"),
                ),
                F.struct(
                    F.lit(f"{s0}->{s2}").alias("stage_pair"),
                    (F.col("t2") - F.col("t0")).alias("delta_us"),
                ),
            )
        ).alias("r")
    ).select("r.*").filter(F.col("delta_us").isNotNull())
    m = 60_000_000.0
    return (
        deltas.groupBy("stage_pair")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.expr("percentile(delta_us, 0.5)").alias("p50_us"),
            F.expr("percentile(delta_us, 0.9)").alias("p90_us"),
            F.max("delta_us").alias("max_us"),
        )
        .select(
            "stage_pair",
            "n_conversions",
            F.round(F.col("p50_us") / m, 6).alias("p50_minutes"),
            F.round(F.col("p90_us") / m, 6).alias("p90_minutes"),
            F.round(F.col("max_us").cast("double") / m, 6).alias(
                "max_minutes"
            ),
        )
        .orderBy("stage_pair")
    )


def _latency_sql() -> str:
    s0, s1, s2 = FUNNEL_STAGES
    return f"""
WITH {_chain_ctes()},
deltas AS (
  SELECT stage_pair, delta_us FROM (
    SELECT '{s0}->{s1}' AS stage_pair, t1 - t0 AS delta_us FROM users
    UNION ALL
    SELECT '{s1}->{s2}', t2 - t1 FROM users
    UNION ALL
    SELECT '{s0}->{s2}', t2 - t0 FROM users
  ) WHERE delta_us IS NOT NULL
)
SELECT stage_pair,
  COUNT(*)::BIGINT AS n_conversions,
  ROUND(quantile_cont(delta_us, 0.5) / 60000000.0, 6) AS p50_minutes,
  ROUND(quantile_cont(delta_us, 0.9) / 60000000.0, 6) AS p90_minutes,
  ROUND(MAX(delta_us)::DOUBLE / 60000000.0, 6) AS max_minutes
FROM deltas
GROUP BY stage_pair
ORDER BY stage_pair
"""


WEEK_US = 7 * 86_400_000_000


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_week, week_offset, n_users) — weekly cohort retention:
    users bucketed by their first-activity week, counted in every later
    week they return.  Two aggregates: first-week per user (one shuffle
    on user_id), then distinct-user counts per (cohort, offset) over
    the deduplicated (user, week) activity — the standard retention
    matrix, no self-join."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) DIV {WEEK_US}").alias("wk")
    )
    active = ev.distinct()  # (user, week) activity grid
    first = active.groupBy("user_id").agg(F.min("wk").alias("cw"))
    return (
        active.join(first, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("wk") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_RETENTION_SQL = f"""
WITH active AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {WEEK_US} AS wk FROM events
),
first AS (
  SELECT user_id, MIN(wk) AS cw FROM active GROUP BY user_id
)
SELECT cw AS cohort_week, wk - cw AS week_offset, COUNT(*) AS n_users
FROM active JOIN first USING (user_id)
GROUP BY cw, wk - cw
"""


QUERIES = {
    "funnel_ordered": Query(funnel_counts, _funnel_sql()),
    "funnel_conversion_latency": Query(conversion_latency, _latency_sql()),
    "funnel_retention_cohorts": Query(retention_cohorts, _RETENTION_SQL),
}
