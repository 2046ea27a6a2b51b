"""As-of (temporal) join — an operator Spark's join zoo lacks natively,
composed the scale-correct way: tag both sides, union, and carry the
most recent right-side row forward with one `last(ignorenulls)` window
per key.  No join explosion, no range-join quadratic blowup — ONE
shuffle on the join key, then a per-key sort, which is exactly how a
1000-executor cluster wants a temporal join to run (each purchase scans
no further than its own partition's sorted run).

Semantics (deterministic): for every `purchase` event, attach the most
recent `click` event of the same user with click.ts <= purchase.ts.
Right-side rows are first deduplicated per (user, ts) keeping the
highest event_id, so the match is unique and the DuckDB ASOF JOIN twin
is well-defined.  Timestamps compared as integer epoch-micros (the
cross-engine-exact pattern shared with operators.windows).

The oracle uses DuckDB's native ASOF LEFT JOIN — an independent
implementation of the same semantics, not a transliteration of the
union+window trick, which is what makes the check meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import Query

LEFT_TYPE = "purchase"
RIGHT_TYPE = "click"


def _asof_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family-shared tagged frame every as-of query sorts over:
    (user_id, ts_us, tag, event_id, value, r_ts, r_val), clicks deduped
    to one row per (user, ts) keeping the highest event_id, hash-
    partitioned by user_id, cached (the _token_frame / _hour_grid
    pattern — identical plan across consumers, one cache entry).

    One scan + ONE exchange replaces the old per-query shape (two
    scans through a union, an exchange on (user_id, ts_us) for the
    click dedup, then a second exchange on user_id for the carry
    window — r13):

      * one scan: clicks and purchases come from a single pushed-down
        `event_type IN (click, purchase)` scan; the tag is an
        expression, not a union of two scans;
      * one exchange: repartition("user_id") establishes the carry
        window's partitioning FIRST, and the click-dedup row_number
        runs as a window over (user_id, ts_us, tag) — clustered-
        distribution-satisfied by the user_id hash partitioning, so it
        inserts no exchange of its own (guide §2.4: operations keyed
        the same way share one exchange).

    Dedup equivalence: partitioning the rank by (user_id, ts_us, tag)
    scopes it to clicks-at-equal-ts exactly as the old standalone
    (user_id, ts_us) window did — purchases (tag 1) are all kept, and
    the surviving click is the same highest-event_id row.  Clicks'
    event_id is nulled AFTER the dedup so the carry window's
    (ts_us, tag, event_id) order key sees exactly the old frame."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    is_p = F.col("event_type") == LEFT_TYPE
    base = ev.filter(
        F.col("event_type").isin(LEFT_TYPE, RIGHT_TYPE)
    ).select(
        "user_id",
        "ts_us",
        is_p.cast("int").alias("tag"),
        "event_id",
        "value",
    )
    wdedup = Window.partitionBy("user_id", "ts_us", "tag").orderBy(
        F.col("event_id").desc()
    )
    tag1 = F.col("tag") == 1
    return (
        base.repartition("user_id")
        .withColumn("_rn", F.row_number().over(wdedup))
        .filter(tag1 | (F.col("_rn") == 1))
        .select(
            "user_id",
            "ts_us",
            "tag",
            F.when(tag1, F.col("event_id")).alias("event_id"),
            F.when(tag1, F.col("value")).alias("value"),
            F.when(~tag1, F.col("ts_us")).alias("r_ts"),
            F.when(~tag1, F.col("value")).alias("r_val"),
        )
        .cache()
    )


def asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """purchases ASOF-LEFT-JOIN clicks on user_id, ts (<=).

    Rides the family-shared tagged frame; at equal ts the click row
    sorts first (tag 0 < 1) so the join is inclusive
    (click.ts <= purchase.ts)."""
    tagged = _asof_tagged(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "last_click_ts_us", F.last("r_ts", ignorenulls=True).over(w)
        )
        .withColumn(
            "last_click_value", F.last("r_val", ignorenulls=True).over(w)
        )
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("ts_us").alias("purchase_ts_us"),
            F.col("value").alias("purchase_value"),
            "last_click_ts_us",
            "last_click_value",
        )
    )


_ASOF_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
  FROM events
),
clicks AS (
  SELECT user_id, ts_us, value FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, ts_us ORDER BY event_id DESC) AS rn
    FROM e WHERE event_type = '{RIGHT_TYPE}'
  ) WHERE rn = 1
),
purchases AS (
  SELECT event_id, user_id, ts_us, value FROM e
  WHERE event_type = '{LEFT_TYPE}'
)
SELECT p.event_id, p.user_id,
  p.ts_us AS purchase_ts_us,
  p.value AS purchase_value,
  c.ts_us AS last_click_ts_us,
  c.value AS last_click_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
"""

# ---------------------------------------------------------------------------
# Binned range join — the generic scale path for interval joins.  Spark
# plans a non-equi `point BETWEEN lo AND hi` join as a nested loop
# (broadcast if one side is small, cartesian otherwise).  Binning makes
# it an EQUI-join: intervals explode into the fixed-width bins they
# overlap, points compute their bin, the join key is the bin, and the
# exact BETWEEN predicate verifies inside.  Candidate volume follows
# bin occupancy x interval span — linear for bounded spans — instead of
# |points| x |intervals|.
# ---------------------------------------------------------------------------


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: int,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Inner-join `points` to every interval with lo <= point <= hi
    (plus optional equi-keys), as bin-equi-join + exact verify."""
    keys = list(extra_keys or [])
    pts = points.withColumn(
        "_bin", F.floor(F.col(point_col) / F.lit(bin_width)).cast("long")
    )
    ivs = intervals.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)).cast("long"),
                F.floor(F.col(hi_col) / F.lit(bin_width)).cast("long"),
            )
        ),
    )
    cond = (F.col(f"p.{point_col}") >= F.col(f"i.{lo_col}")) & (
        F.col(f"p.{point_col}") <= F.col(f"i.{hi_col}")
    )
    return (
        pts.alias("p")
        .join(ivs.alias("i"), ["_bin", *keys])
        .filter(cond)
        .drop("_bin")
    )


# value tiers as an interval dimension; each event joins the tier whose
# [lo, hi] range contains its value — the driver-gate instance of the
# generic helper (integer cents avoid float boundary semantics)
TIERS = [  # (tier, lo_cents, hi_cents)
    ("free", 0, 999),
    ("basic", 1000, 4999),
    ("plus", 5000, 14999),
    ("pro", 15000, 49999),
    ("enterprise", 50000, 99999999),
]
_TIER_BIN = 5000


def range_join_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_cents"),
    )
    tiers = spark.createDataFrame(
        TIERS, "tier string, lo_cents long, hi_cents long"
    )
    joined = binned_range_join(
        ev, tiers, "value_cents", "lo_cents", "hi_cents", _TIER_BIN
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value_cents").alias("min_cents"),
        F.max("value_cents").alias("max_cents"),
    )


_TIER_ROWS = ", ".join(
    f"('{t}', {lo}::BIGINT, {hi}::BIGINT)" for t, lo, hi in TIERS
)

_RANGE_JOIN_SQL = f"""
WITH tiers(tier, lo_cents, hi_cents) AS (VALUES {_TIER_ROWS}),
e AS (
  SELECT event_id,
    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_cents
  FROM events
)
SELECT tier,
  COUNT(*) AS n_events,
  MIN(value_cents) AS min_cents,
  MAX(value_cents) AS max_cents
FROM e JOIN tiers
  ON e.value_cents BETWEEN tiers.lo_cents AND tiers.hi_cents
GROUP BY tier
"""

# ---------------------------------------------------------------------------
# attribution-window as-of: the bounded-lookback variant
# ---------------------------------------------------------------------------
#
# Real attribution expires: a purchase credits the preceding click only
# if it happened within ATTRIB_WINDOW_US.  Composed as a row-local gate
# over the unbounded as-of result — the carry-forward window pass is
# identical, so the plan cost is unchanged, and the tolerance becomes
# a pure expression (no second join, no extra shuffle).  DuckDB's ASOF
# JOIN has no tolerance argument; the oracle applies the same CASE
# gate over the ASOF result.

ATTRIB_WINDOW_US = 3_600_000_000  # 1 hour


def attribution_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = asof_enrich(spark, sf_dir)
    within = (
        F.col("last_click_ts_us").isNotNull()
        & (
            F.col("purchase_ts_us") - F.col("last_click_ts_us")
            <= ATTRIB_WINDOW_US
        )
    )
    return base.select(
        "event_id",
        "user_id",
        "purchase_ts_us",
        "purchase_value",
        F.when(within, F.col("last_click_ts_us")).alias(
            "attributed_click_ts_us"
        ),
        F.when(within, F.col("last_click_value")).alias(
            "attributed_click_value"
        ),
        within.alias("attributed"),
    )


_ATTRIB_SQL = f"""
WITH base AS ({_ASOF_SQL})
SELECT event_id, user_id, purchase_ts_us, purchase_value,
  CASE WHEN last_click_ts_us IS NOT NULL
        AND purchase_ts_us - last_click_ts_us <= {ATTRIB_WINDOW_US}
       THEN last_click_ts_us END AS attributed_click_ts_us,
  CASE WHEN last_click_ts_us IS NOT NULL
        AND purchase_ts_us - last_click_ts_us <= {ATTRIB_WINDOW_US}
       THEN last_click_value END AS attributed_click_value,
  (last_click_ts_us IS NOT NULL
   AND purchase_ts_us - last_click_ts_us <= {ATTRIB_WINDOW_US})
    AS attributed
FROM base
"""



# ---------------------------------------------------------------------------
# nearest-direction as-of join (backward + forward carry, pick closer)
# ---------------------------------------------------------------------------
#
# Backward as-of answers "what was the state WHEN this happened";
# sensor alignment and feature joins often want the temporally NEAREST
# reading instead.  Same single-shuffle discipline as asof_enrich: one
# tagged union, one per-key sort, and TWO carries over the same sorted
# run (last non-null behind, first non-null ahead) — Spark executes
# both window frames in one Window node, so the nearest join still
# costs exactly one exchange.  Tie (equal gaps) resolves backward
# (the earlier click) in both engines.  The DuckDB twin composes two
# native ASOF joins (>= backward, <= forward) — an independent
# formulation again.


def asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase: the temporally nearest click of the same
    user — (event_id, user_id, purchase_ts_us, nearest_click_ts_us,
    nearest_click_value, direction, gap_us).  Rides the family-shared
    tagged frame (the purchase `value` column rides along unused —
    identical output, one cache entry across the family)."""
    tagged = _asof_tagged(spark, sf_dir)
    base = Window.partitionBy("user_id").orderBy(
        "ts_us", "tag", "event_id"
    )
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    both = (
        tagged.withColumn(
            "b_ts", F.last("r_ts", ignorenulls=True).over(wb)
        )
        .withColumn("b_val", F.last("r_val", ignorenulls=True).over(wb))
        .withColumn("f_ts", F.first("r_ts", ignorenulls=True).over(wf))
        .withColumn(
            "f_val", F.first("r_val", ignorenulls=True).over(wf)
        )
        .filter(F.col("tag") == 1)
    )
    gap_b = F.col("ts_us") - F.col("b_ts")
    gap_f = F.col("f_ts") - F.col("ts_us")
    pick_b = F.col("f_ts").isNull() | (
        F.col("b_ts").isNotNull() & (gap_b <= gap_f)
    )
    return both.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        F.when(pick_b, F.col("b_ts"))
        .otherwise(F.col("f_ts"))
        .alias("nearest_click_ts_us"),
        F.when(pick_b, F.col("b_val"))
        .otherwise(F.col("f_val"))
        .alias("nearest_click_value"),
        F.when(
            F.col("b_ts").isNull() & F.col("f_ts").isNull(), F.lit(None)
        )
        .when(pick_b, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .cast("string")
        .alias("direction"),
        F.when(pick_b, gap_b).otherwise(gap_f).cast("long").alias(
            "gap_us"
        ),
    )


_NEAREST_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
  FROM events
),
clicks AS (
  SELECT user_id, ts_us, value FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, ts_us ORDER BY event_id DESC) AS rn
    FROM e WHERE event_type = '{RIGHT_TYPE}'
  ) WHERE rn = 1
),
purchases AS (
  SELECT event_id, user_id, ts_us, value FROM e
  WHERE event_type = '{LEFT_TYPE}'
),
back AS (
  SELECT p.event_id, c.ts_us AS b_ts, c.value AS b_val
  FROM purchases p
  ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
),
fwd AS (
  SELECT p.event_id, c.ts_us AS f_ts, c.value AS f_val
  FROM purchases p
  ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts_us <= c.ts_us
)
SELECT p.event_id, p.user_id, p.ts_us AS purchase_ts_us,
  CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL
            AND p.ts_us - b_ts <= f_ts - p.ts_us)
       THEN b_ts ELSE f_ts END AS nearest_click_ts_us,
  CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL
            AND p.ts_us - b_ts <= f_ts - p.ts_us)
       THEN b_val ELSE f_val END AS nearest_click_value,
  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
       WHEN f_ts IS NULL OR (b_ts IS NOT NULL
            AND p.ts_us - b_ts <= f_ts - p.ts_us)
       THEN 'backward' ELSE 'forward' END AS direction,
  (CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL
             AND p.ts_us - b_ts <= f_ts - p.ts_us)
        THEN p.ts_us - b_ts ELSE f_ts - p.ts_us END)::BIGINT AS gap_us
FROM purchases p
JOIN back USING (event_id)
JOIN fwd USING (event_id)
"""


QUERIES = {
    "asof_click_attribution": Query(asof_enrich, _ASOF_SQL),
    "asof_nearest": Query(asof_nearest, _NEAREST_SQL),
    "asof_windowed_attribution": Query(attribution_windowed, _ATTRIB_SQL),
    "range_join_tiers": Query(range_join_tiers, _RANGE_JOIN_SQL),
}
