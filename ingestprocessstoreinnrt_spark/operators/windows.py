"""Event-time windowing — the capability layer the reference lacks
entirely (SURVEY 2.6/2.9: processing-time micro-batches only, "windows:
none"), built the Spark-native way: ranking/lag analytics, gap-based
sessionization, tumbling-window rollups, and (streaming) watermarked
windowed aggregation in streaming/windows.py.

Sessionization gaps are computed on integer epoch-micros so the DuckDB
oracle matches exactly (timestamp casts/diffs round differently across
engines; unix-micros arithmetic doesn't).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import davg, dsum, sql_davg, sql_dsum
from ..registry import Query

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream: a new session
    starts after >30 min of inactivity; one output row per session."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    with_flag = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US, 1
        ).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return with_flag.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        dsum("value", "session_value"),
    )


_SESSIONS_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events
),
flagged AS (
  SELECT *,
    CASE WHEN ts_us - LAG(ts_us) OVER w > {SESSION_GAP_US} THEN 1 ELSE 0 END
      AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sessions AS (
  SELECT *,
    CAST(SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
  COUNT(*) AS n_events,
  MIN(ts_us) AS session_start_us,
  MAX(ts_us) AS session_end_us,
  MAX(ts_us) - MIN(ts_us) AS duration_us,
  {sql_dsum('value', 'session_value')}
FROM sessions
GROUP BY user_id, session_seq
"""


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window rollup (F.window) — the batch twin of
    the watermarked streaming aggregate in streaming/windows.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
            davg("value", "avg_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
            "avg_value",
        )
    )


_TUMBLING_SQL = f"""
SELECT
  epoch_us(date_trunc('hour', ts)) AS window_start_us,
  event_type,
  COUNT(*) AS n_events,
  {sql_dsum('value', 'total_value')},
  {sql_davg('value', 'avg_value')}
FROM events
GROUP BY 1, 2
"""


HOP_WINDOW_US = 3_600_000_000  # 1 hour
HOP_SLIDE_US = 900_000_000  # 15 min -> each event lands in 4 windows


def hopping_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time window rollup: 1-hour windows every
    15 minutes via F.window(slide) — Catalyst expands each event into
    its window/slide covering windows map-side, so the plan is one scan
    + one shuffle exactly like the tumbling case, just with a 4x row
    fan-out before partial aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# DuckDB twin: expand each event into its 4 covering window starts
# explicitly (start_j = slide*floor(ts/slide) - j*slide; ts < start_j +
# window holds for every j < window/slide, epoch-aligned like F.window)
_HOPPING_SQL = f"""
WITH e AS (
  SELECT event_type, value, epoch_us(ts) AS ts_us FROM events
),
x AS (
  SELECT event_type, value,
    ({HOP_SLIDE_US} * (ts_us // {HOP_SLIDE_US}) - j::BIGINT * {HOP_SLIDE_US})
      AS window_start_us
  FROM e, (SELECT unnest([0, 1, 2, 3]) AS j)
)
SELECT window_start_us, event_type,
  COUNT(*) AS n_events,
  {sql_dsum('value', 'total_value')}
FROM x
GROUP BY 1, 2
"""


def user_event_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/lag analytics: per user, each event's rank by value and
    the gap (us) since the previous event — row_number/lag/lead family."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    wt = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wv = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(wv).cast("long").alias("value_rank"),
        F.coalesce(
            F.col("ts_us") - F.lag("ts_us").over(wt), F.lit(0)
        ).cast("long").alias("gap_us"),
    ).filter(F.col("value_rank") <= 3)


_RANKS_SQL = """
WITH e AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events
)
SELECT user_id, event_id, value_rank, gap_us FROM (
  SELECT user_id, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)
      AS value_rank,
    COALESCE(
      ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
      0) AS gap_us
  FROM e
) r
WHERE value_rank <= 3
"""


ROLL_US = 24 * 3_600_000_000  # trailing 24h, current row inclusive


def rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: trailing-24h activity features (count + exact
    quantized value sum) over a RANGE frame — the point-in-time
    feature join shape: every training example sees exactly the
    history available at its own timestamp, no leakage.  One window
    pass per key; the quantized integer sum keeps the windowed
    aggregate order-independent like every dsum."""
    from ..functions.scalars import quantize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-(ROLL_US - 1), 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(wr).alias("n_24h"),
        (F.sum(quantize(F.col("value"))).over(wr).cast("double") / 10000.0)
        .alias("value_24h"),
    )


_ROLLING_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qv
  FROM events
)
SELECT user_id, event_id,
  COUNT(*) OVER w AS n_24h,
  CAST(SUM(qv) OVER w AS DOUBLE) / 10000.0 AS value_24h
FROM e
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts_us
  RANGE BETWEEN {ROLL_US - 1} PRECEDING AND CURRENT ROW
)
"""


# ---------------------------------------------------------------------------
# rolling distinct actives (DAU / trailing-7-day WAU)
# ---------------------------------------------------------------------------
#
# Sliding-window DISTINCT counts don't decompose like sums — a user
# active on 3 of the 7 days must count once — so the textbook RANGE
# frame is useless and a naive per-day self-join over the window is
# quadratic.  The distributed shape that works at 100 TB: deduplicate
# to (user, day) grain first (the big shrink), then EXPLODE each
# active-day into the <=7 trailing windows it can serve, dedupe
# (user, window_day), and count — a bounded 7x fan-out of the already
# tiny grain table, two map-side-combinable aggregates, no self-join,
# no global window.

DAY_US = 86_400_000_000
WAU_DAYS = 7


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day_us, dau, wau_7d) for every day in the data's range: users
    active that day, and distinct users active in the trailing 7-day
    window ending that day."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day")
    )
    grain = ev.distinct()  # (user, active-day)
    span = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    dau = grain.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    contrib = (
        grain.join(F.broadcast(span))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.least(F.col("day") + WAU_DAYS - 1, F.col("d1")),
                )
            ).alias("wday"),
        )
        .distinct()
    )
    wau = contrib.groupBy("wday").agg(
        F.count(F.lit(1)).cast("long").alias("wau_7d")
    )
    return (
        dau.join(wau, dau.day == wau.wday)
        .select(
            (F.col("day") * DAY_US).alias("day_us"), "dau", "wau_7d"
        )
    )


_ACTIVE_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
),
grain AS (SELECT DISTINCT user_id, day FROM ev),
span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
dau AS (
  SELECT day, COUNT(DISTINCT user_id)::BIGINT AS dau FROM grain GROUP BY day
),
contrib AS (
  SELECT DISTINCT user_id, unnest(range(day, LEAST(day + {WAU_DAYS}, d1 + 1)))
    AS wday
  FROM grain CROSS JOIN span
),
wau AS (
  SELECT wday, COUNT(*)::BIGINT AS wau_7d FROM contrib GROUP BY wday
)
SELECT day * {DAY_US} AS day_us, dau, wau_7d
FROM dau JOIN wau ON dau.day = wau.wday
"""


# ---------------------------------------------------------------------------
# longest per-user activity streak (gaps-and-islands)
# ---------------------------------------------------------------------------
#
# The gaps-and-islands classic: consecutive active DAYS share the same
# (day - row_number) anchor, so islands fall out of one partitioned
# window pass over the tiny (user, day) grain — no self-join, no
# recursion.  Every window here partitions by user; nothing global.


def streaks_of(grain: DataFrame) -> DataFrame:
    """Gaps-and-islands core over any distinct (user_id, day) frame."""
    w = Window.partitionBy("user_id").orderBy("day")
    islands = grain.withColumn(
        "anchor", F.col("day") - F.row_number().over(w)
    )
    runs = islands.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("day").alias("start_day"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("start_day").asc()
    )
    return (
        runs.withColumn("rn", F.row_number().over(wr))
        .groupBy("user_id")
        .agg(
            F.sum("len").cast("long").alias("n_active_days"),
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max(F.when(F.col("rn") == 1, F.col("len"))).alias(
                "longest_streak"
            ),
            F.max(
                F.when(F.col("rn") == 1, F.col("start_day") * DAY_US)
            ).alias("streak_start_day_us"),
        )
    )


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_active_days, n_streaks, longest_streak,
    streak_start_day_us): the longest run of consecutive active days
    per user (ties -> earliest start)."""
    return streaks_of(
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day")
        )
        .distinct()
    )


_STREAKS_SQL = f"""
WITH grain AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
),
islands AS (
  SELECT user_id, day,
    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS anchor
  FROM grain
),
runs AS (
  SELECT user_id, anchor, COUNT(*)::BIGINT AS len, MIN(day) AS start_day
  FROM islands GROUP BY user_id, anchor
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY len DESC, start_day ASC
  ) AS rn FROM runs
)
SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
  COUNT(*)::BIGINT AS n_streaks,
  MAX(CASE WHEN rn = 1 THEN len END) AS longest_streak,
  MAX(CASE WHEN rn = 1 THEN start_day * {DAY_US} END)
    AS streak_start_day_us
FROM ranked GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# running cumulative totals (ledger / balance shape)
# ---------------------------------------------------------------------------


def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user, the running event count and running quantized value sum
    in event-time order — the account-ledger / feature-backfill shape.
    ROWS UNBOUNDED PRECEDING with a total order inside each key
    ((ts_us, event_id) tie-break) keeps the prefix sums deterministic;
    the quantized integer sum keeps them engine-exact.  One window pass,
    partitioned by user — at 100 TB each key's history stays within its
    partition and nothing is global."""
    from ..functions.scalars import quantize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_so_far"),
        (F.sum(quantize(F.col("value"))).over(w).cast("double") / 10000.0)
        .alias("value_so_far"),
    )


_RUNNING_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qv
  FROM events
)
SELECT user_id, event_id,
  COUNT(*) OVER w AS n_so_far,
  CAST(SUM(qv) OVER w AS DOUBLE) / 10000.0 AS value_so_far
FROM e
WINDOW w AS (
  PARTITION BY user_id ORDER BY ts_us, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)
"""


# ---------------------------------------------------------------------------
# inter-event gap distribution (lag diff -> grouped percentile)
# ---------------------------------------------------------------------------
#
# Cadence profiling: per event_type, the median and p90 gap between a
# user's consecutive events.  One lag window pass on the (user, ts)
# partitioning, then a grouped percentile aggregate — Spark's
# percentile() and DuckDB's quantile_cont interpolate identically on
# the same integer inputs (the bi_percentiles bridge), so the result
# is engine-exact with no quantization needed.


def gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    wt = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = ev.select(
        "event_type",
        (F.col("ts_us") - F.lag("ts_us").over(wt)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.expr("percentile(gap_us, 0.5)").alias("median_gap_us"),
            F.expr("percentile(gap_us, 0.9)").alias("p90_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


_GAPS_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
),
g AS (
  SELECT event_type,
    ts_us - LAG(ts_us) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
  FROM e
)
SELECT event_type,
  COUNT(*)::BIGINT AS n_gaps,
  quantile_cont(gap_us, 0.5) AS median_gap_us,
  quantile_cont(gap_us, 0.9) AS p90_gap_us,
  MAX(gap_us)::BIGINT AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""



# ---------------------------------------------------------------------------
# session_window rollup (the engine-native sessionizer, batch twin of
# streaming/windows.session_windowed_counts_stream)
# ---------------------------------------------------------------------------
#
# user_sessions above builds sessions from a lag window (gap > 30 min
# STARTS a new session); F.session_window is the engine-native
# operator the STREAMING path uses, with subtly different boundary
# semantics: an event exactly 30 min after its predecessor starts a
# new session (diff >= gap), and the reported end is last_ts + gap.
# Exposing both keeps the boundary contract explicit — and this one's
# DuckDB oracle re-derives session_window's semantics independently
# (islands on diff >= gap, end = max + gap), so the cross-engine match
# pins down exactly what the native operator does.  One shuffle on
# user_id; tests/test_streaming.py proves the streamed twin equals
# this batch plan bit-for-bit.


def session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_start_us, session_end_us, n_events,
    session_value) via the native session_window operator."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value", "session_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start_us")
    )


_SESSION_WINDOW_SQL = f"""
WITH e AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us FROM events
),
flagged AS (
  SELECT *,
    CASE WHEN ts_us - LAG(ts_us) OVER w >= {SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sess AS (
  SELECT *,
    SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts_us
      ROWS UNBOUNDED PRECEDING
    ) AS seq
  FROM flagged
)
SELECT user_id,
  MIN(ts_us)::BIGINT AS session_start_us,
  (MAX(ts_us) + {SESSION_GAP_US})::BIGINT AS session_end_us,
  COUNT(*)::BIGINT AS n_events,
  {sql_dsum('value', 'session_value')}
FROM sess
GROUP BY user_id, seq
ORDER BY user_id, session_start_us
"""


# ---------------------------------------------------------------------------
# event transition matrix (Markov / Sankey input)
# ---------------------------------------------------------------------------
#
# Per user, each event's predecessor type via ONE lag window on the
# (user_id) shuffle grain ('<start>' for a user's first event), then a
# corpus-wide (prev, next) count — the first-order Markov chain product
# analytics tools draw as a Sankey.  The probability normalization runs
# on the |types|^2 transition table (metadata grain), never on events.


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(prev_type, event_type, n_transitions, prob) — row-stochastic
    first-order transition matrix of user event streams."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.coalesce(
            F.lag("event_type").over(w), F.lit("<start>")
        ).alias("prev_type"),
        "event_type",
    )
    counts = t.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    wp = Window.partitionBy("prev_type")
    return (
        counts.withColumn(
            "prob",
            F.round(
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(wp).cast("double"),
                6,
            ),
        )
        .orderBy("prev_type", "event_type")
    )


_TRANSITIONS_SQL = """
WITH t AS (
  SELECT COALESCE(
      LAG(event_type) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id),
      '<start>') AS prev_type,
    event_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type, COUNT(*)::BIGINT AS n_transitions
  FROM t GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n_transitions,
  ROUND(n_transitions::DOUBLE /
        CAST(SUM(n_transitions) OVER (PARTITION BY prev_type)
             AS BIGINT)::DOUBLE, 6) AS prob
FROM counts
ORDER BY prev_type, event_type
"""


# ---------------------------------------------------------------------------
# audience reach curve — cumulative distinct users by day
# ---------------------------------------------------------------------------
#
# The saturation curve growth teams read daily: how many DISTINCT users
# has the product ever seen, by day?  A windowed COUNT(DISTINCT) is
# unsupported/unscalable; the standard rewrite (same trick as
# text_vocab_growth's Heaps curve) is FIRST-OCCURRENCE bucketING: each
# user contributes one row at their min-day, then one running sum over
# the tiny day-grain frame.  Two map-side-combinable aggregates and a
# metadata-scale window — no distinct-state anywhere.


def reach_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day_us, new_users, cum_users) — daily new and cumulative
    distinct users over the whole events stream."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"unix_micros(ts) DIV {DAY_US}").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    daily = first.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn(
            "cum_users", F.sum("new_users").over(w).cast("long")
        )
        .select(
            (F.col("day") * DAY_US).alias("day_us"), "new_users", "cum_users"
        )
        .orderBy("day_us")
    )


_REACH_SQL = f"""
WITH first AS (
  SELECT user_id, MIN(epoch_us(ts) // {DAY_US}) AS day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT day, COUNT(*)::BIGINT AS new_users FROM first GROUP BY day
)
SELECT day * {DAY_US} AS day_us, new_users,
  CAST(SUM(new_users) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS cum_users
FROM daily ORDER BY day_us
"""


QUERIES = {
    "win_event_transitions": Query(event_transitions, _TRANSITIONS_SQL),
    "win_gap_distribution": Query(gap_distribution, _GAPS_SQL),
    "win_running_totals": Query(running_totals, _RUNNING_SQL),
    "win_user_sessions": Query(user_sessions, _SESSIONS_SQL),
    "win_session_rollup": Query(session_window_rollup, _SESSION_WINDOW_SQL),
    "win_tumbling_hourly": Query(tumbling_hourly, _TUMBLING_SQL),
    "win_hopping_quarter": Query(hopping_quarter, _HOPPING_SQL),
    "win_user_event_ranks": Query(user_event_ranks, _RANKS_SQL),
    "win_rolling_24h": Query(rolling_24h, _ROLLING_SQL),
    "win_active_users": Query(rolling_active_users, _ACTIVE_SQL),
    "win_activity_streaks": Query(activity_streaks, _STREAKS_SQL),
    "win_reach_curve": Query(reach_curve, _REACH_SQL),
}
