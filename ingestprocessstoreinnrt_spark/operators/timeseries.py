"""Time-series regularization and feature binning — the reshaping
steps between an event log and a training matrix.

  * resample_ffill — per-user hourly grid over the user's active
    range, aggregates where events exist, forward-filled otherwise:
    the classic resample/fill-forward that turns irregular event
    times into the regular grid sequence models train on.  Scale
    shape: the grid is generated per key with sequence+explode (rows
    never leave their key's partition), the hourly aggregate is
    map-side combined, and the fill is one window pass per key — no
    self-join, no driver loop.
  * quantile_bins — decile binning of a numeric feature: boundaries
    from one exact percentile aggregate (interpolated the same way by
    Spark percentile() and DuckDB quantile_cont — the bi_percentiles
    precedent), broadcast to a row-local bin expression, then a
    10-group rollup.  This is the scale-correct shape for quantile
    features: NTILE over a global window would serialize the corpus
    through one partition; a broadcast boundary comparison keeps the
    scan embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import davg, dsum, sql_davg, sql_dsum
from ..registry import Query

HOUR_US = 3_600_000_000
# Deterministic user gate keeps the dense grid bounded.  32 users keeps
# the sf0.01 oracle compare ~17k rows (200 users produced a 105k-row
# diff, the largest in the driver gate by 7x) while still exercising
# multi-user grids; the operator itself is per-key and scale-free.
RESAMPLE_USERS = 32
N_BINS = 10


def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, hour_us, n_events, avg_value) on a dense hourly grid
    per user between the user's first and last event; empty hours have
    n_events = 0 and carry the last seen avg_value forward (null until
    the first observation)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < RESAMPLE_USERS)
        .select(
            "user_id",
            # integral division, not `/` + cast: double rounding could
            # cross an hour boundary; DIV and DuckDB's // agree exactly
            F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
            "value",
        )
    )
    hourly = ev.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n_events"), davg("value", "avg_v")
    )
    grid = (
        ev.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            (F.col("h") * HOUR_US).alias("hour_us"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("avg_v", ignorenulls=True).over(w).alias("avg_value"),
        )
    )


_RESAMPLE_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // {HOUR_US} AS h, value FROM events
  WHERE user_id < {RESAMPLE_USERS}
),
hourly AS (
  SELECT user_id, h, COUNT(*) AS n_events, {sql_davg("value", "avg_v")}
  FROM ev GROUP BY user_id, h
),
grid AS (
  SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM (
    SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ev GROUP BY user_id
  )
)
SELECT g.user_id, g.h * {HOUR_US} AS hour_us,
  COALESCE(n_events, 0) AS n_events,
  last_value(avg_v IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.h ROWS UNBOUNDED PRECEDING
  ) AS avg_value
FROM grid g LEFT JOIN hourly USING (user_id, h)
"""


def quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bins of o_totalprice: (bin, n_orders, min/max/avg price).
    Boundaries come from ONE percentile aggregate broadcast onto the
    scan; bin = 1 + #boundaries at or below the price."""
    orders = load_table(spark, sf_dir, "orders")
    qs = [i / N_BINS for i in range(1, N_BINS)]
    bounds = orders.agg(
        F.expr(
            f"percentile(o_totalprice, array({', '.join(map(str, qs))}))"
        ).alias("bs")
    )
    binned = orders.join(F.broadcast(bounds)).select(
        "o_totalprice",
        (
            F.lit(1)
            + F.aggregate(
                F.col("bs"),
                F.lit(0),
                lambda acc, b: acc
                + (F.col("o_totalprice") >= b).cast("int"),
            )
        ).cast("long").alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            davg("o_totalprice", "avg_price"),
        )
        .select("bin", "n_orders", "min_price", "max_price", "avg_price")
    )


def _bins_sql() -> str:
    qs = ", ".join(str(i / N_BINS) for i in range(1, N_BINS))
    return f"""
WITH bounds AS (
  SELECT quantile_cont(o_totalprice, [{qs}]) AS bs FROM orders
),
binned AS (
  SELECT o_totalprice,
    1 + len(list_filter(bs, b -> o_totalprice >= b)) AS bin
  FROM orders, bounds
)
SELECT bin, COUNT(*) AS n_orders,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price,
  {sql_davg("o_totalprice", "avg_price")}
FROM binned GROUP BY bin
"""


def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation twin of resample_ffill: empty grid hours get
    the straight line between the bracketing OBSERVED hours' averages
    instead of a carried-forward value — the fill sequence models
    usually want for slowly-varying signals.

    (user_id, hour_us, n_events, interp_value).  Exactness: the node
    values are deterministic davg aggregates; the interpolation itself
    is per-row IEEE double arithmetic on identical inputs written in
    the same operation order in both engines, so it is bit-stable (the
    functions.scalars preamble's rule).  Scale shape matches
    resample_ffill: grid rows never leave their key's partition; the
    bracketing observation is found with two per-key window passes
    (last-not-null backward, first-not-null forward), no self-join.
    Grid endpoints are observed hours by construction, so the
    interpolation denominator is never null and only interior gaps
    divide.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < RESAMPLE_USERS)
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
            "value",
        )
    )
    hourly = ev.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n_events"), davg("value", "avg_v")
    )
    grid = (
        ev.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("avg_v").isNotNull(), F.col("h"))
    j = (
        grid.join(hourly, ["user_id", "h"], "left")
        .withColumn("t0", F.last(obs_h, ignorenulls=True).over(wb))
        .withColumn("v0", F.last("avg_v", ignorenulls=True).over(wb))
        .withColumn("t1", F.first(obs_h, ignorenulls=True).over(wf))
        .withColumn("v1", F.first("avg_v", ignorenulls=True).over(wf))
    )
    interp = F.col("v0") + (F.col("v1") - F.col("v0")) * (
        F.col("h") - F.col("t0")
    ) / (F.col("t1") - F.col("t0"))
    return j.select(
        "user_id",
        (F.col("h") * HOUR_US).alias("hour_us"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
        .otherwise(interp)
        .alias("interp_value"),
    )


_INTERP_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // {HOUR_US} AS h, value FROM events
  WHERE user_id < {RESAMPLE_USERS}
),
hourly AS (
  SELECT user_id, h, COUNT(*) AS n_events, {sql_davg("value", "avg_v")}
  FROM ev GROUP BY user_id, h
),
grid AS (
  SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM (
    SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM ev GROUP BY user_id
  )
),
j AS (
  SELECT g.user_id, g.h, n_events, avg_v,
    last_value(CASE WHEN avg_v IS NOT NULL THEN g.h END IGNORE NULLS)
      OVER (PARTITION BY g.user_id ORDER BY g.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
    last_value(avg_v IGNORE NULLS)
      OVER (PARTITION BY g.user_id ORDER BY g.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
    first_value(CASE WHEN avg_v IS NOT NULL THEN g.h END IGNORE NULLS)
      OVER (PARTITION BY g.user_id ORDER BY g.h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1,
    first_value(avg_v IGNORE NULLS)
      OVER (PARTITION BY g.user_id ORDER BY g.h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
  FROM grid g LEFT JOIN hourly USING (user_id, h)
)
SELECT user_id, h * {HOUR_US} AS hour_us,
  COALESCE(n_events, 0) AS n_events,
  CASE WHEN avg_v IS NOT NULL THEN avg_v
       ELSE v0 + (v1 - v0) * (h - t0) / (t1 - t0)
  END AS interp_value
FROM j
"""


# ---------------------------------------------------------------------------
# exponentially-weighted moving average — bounded-window, exact
# ---------------------------------------------------------------------------
#
# Per-user EWMA of `value` with decay 1/2 over the trailing EWMA_K
# events — the smoothing step ahead of anomaly scores and trend
# features.  Exactness is the whole design: a running-recurrence EWMA
# (s = a*x + (1-a)*s) compounds float error order-dependently, so
# instead the window is BOUNDED and alpha = 1/2 makes every weight a
# power of two: quantize x to 1e-4 BIGINT, weight the frame's values
# with integer shifts (newest gets 2^(n-1)), sum integers, and divide
# once at the end — bit-identical at any partitioning, any engine.
# Scale shape: one per-key window pass, frame capped at EWMA_K rows, so
# state per row is constant and the plan is a single sort-within-key.

EWMA_K = 16


def ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_id, ts_us, ewma) — trailing-16 half-life-decay
    average of `value`, exact by integer weighting."""
    from ..functions.scalars import quantize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        quantize(F.col("value")).alias("q"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-(EWMA_K - 1), Window.currentRow)
    )
    # collect_list preserves frame order: vals is oldest->newest, so
    # index i weights 2^i and the newest value dominates.
    vals = F.collect_list("q").over(w)
    return (
        ev.withColumn("vals", vals)
        .select(
            "user_id",
            "event_id",
            "ts_us",
            (
                F.expr(
                    "CAST(aggregate(transform(vals, (x, i) ->"
                    " x * shiftleft(1L, i)), 0L, (a, x) -> a + x)"
                    " AS DOUBLE)"
                )
                / F.expr(
                    "CAST(shiftleft(1L, size(vals)) - 1L AS DOUBLE)"
                )
                / F.lit(10000.0)
            ).alias("ewma"),
        )
    )


_EWMA_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS q
  FROM events
),
framed AS (
  SELECT user_id, event_id, ts_us,
    list(q) OVER (
      PARTITION BY user_id ORDER BY ts_us, event_id
      ROWS BETWEEN {EWMA_K - 1} PRECEDING AND CURRENT ROW
    ) AS vals
  FROM ev
)
SELECT user_id, event_id, ts_us,
  CAST(list_sum(list_transform(vals,
        (x, i) -> x * ((1::BIGINT) << (i - 1)))) AS DOUBLE)
    / CAST(((1::BIGINT) << len(vals)) - 1 AS DOUBLE)
    / 10000.0 AS ewma
FROM framed
"""


# ---------------------------------------------------------------------------
# seasonal baseline + deviation gate (anomaly screen)
# ---------------------------------------------------------------------------
#
# Two exact aggregate passes build the seasonal model: per
# (event_type, hour-of-day) cell, the quantized mean, then the
# quantized mean ABSOLUTE deviation around that mean (computable only
# once the mean exists — the second pass is inherent, not an
# implementation artifact).  The model is |types| x 24 rows — a
# broadcast at any corpus size — so the final flagging pass is an
# embarrassingly parallel scan.  All three comparisons run on
# bit-identical doubles in both engines (quantized sums, IEEE ops on
# identical inputs), so the > gate never straddles engines.

ANOMALY_K = 3.0


def seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value deviates more than ANOMALY_K x the cell's
    mean absolute deviation from the (event_type, hour) seasonal mean."""
    from ..catalog import fan_out

    # three model/flag passes re-scan the base — fan_out keeps each
    # pass parallel when the source is a near-single-partition file
    # (no-op at real scale; measured 12.8x -> linear on the sf1 sweep)
    ev = fan_out(load_table(spark, sf_dir, "events")).select(
        "event_id",
        "user_id",
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        "value",
    )
    cell_avg = ev.groupBy("event_type", "hod").agg(
        davg("value", "cell_avg")
    )
    with_avg = ev.join(F.broadcast(cell_avg), ["event_type", "hod"])
    cell_mad = (
        with_avg.groupBy(
            F.col("event_type").alias("m_type"), F.col("hod").alias("m_hod")
        )
        .agg(davg(F.abs(F.col("value") - F.col("cell_avg")), "cell_mad"))
    )
    return (
        with_avg.join(
            F.broadcast(cell_mad),
            (F.col("event_type") == F.col("m_type"))
            & (F.col("hod") == F.col("m_hod")),
        )
        .filter(
            F.abs(F.col("value") - F.col("cell_avg"))
            > ANOMALY_K * F.col("cell_mad")
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "hod",
            "value",
            "cell_avg",
            "cell_mad",
        )
    )


_SEASONAL_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, event_type,
    CAST(hour(ts) AS BIGINT) AS hod, value
  FROM events
),
cell_avg AS (
  SELECT event_type, hod, {sql_davg('value', 'cell_avg')}
  FROM e GROUP BY event_type, hod
),
with_avg AS (
  SELECT e.*, cell_avg FROM e JOIN cell_avg USING (event_type, hod)
),
cell_mad AS (
  SELECT event_type AS m_type, hod AS m_hod,
    {sql_davg('ABS(value - cell_avg)', 'cell_mad')}
  FROM with_avg GROUP BY m_type, m_hod
)
SELECT event_id, user_id, event_type, hod, value, cell_avg, cell_mad
FROM with_avg
JOIN cell_mad ON event_type = m_type AND hod = m_hod
WHERE ABS(value - cell_avg) > {ANOMALY_K} * cell_mad
"""


# ---------------------------------------------------------------------------
# lag-k autocorrelation of the hourly activity series
# ---------------------------------------------------------------------------
#
# Temporal self-similarity per event_type: Pearson correlation between
# the hourly event count and the same series AC_LAG hours earlier.
# The series pairs come from a shifted-key equi-join on the AGGREGATED
# hourly frame (gap-safe; |hours| rows, metadata scale), and the
# correlation is closed-form from exact integer sufficient statistics
# — counts are already integers, so no quantization is even needed;
# the final r is fixed-order IEEE on identical ints (the ml_ols_multi
# recipe, numerator/denominator in one expression tree).

AC_LAG = 1  # hours


def hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("c")
    )
    lagged = hourly.select(
        F.col("event_type").alias("l_type"),
        (F.col("h") + AC_LAG).alias("l_h"),
        F.col("c").alias("c_prev"),
    )
    pairs = hourly.join(
        lagged,
        (hourly.event_type == F.col("l_type"))
        & (hourly.h == F.col("l_h")),
    ).select("event_type", "c", "c_prev")
    g = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sx"),
        F.sum("c_prev").alias("sy"),
        F.sum(F.col("c") * F.col("c")).alias("sxx"),
        F.sum(F.col("c_prev") * F.col("c_prev")).alias("syy"),
        F.sum(F.col("c") * F.col("c_prev")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    r = num / F.sqrt(denx) / F.sqrt(deny)
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.when((denx == 0.0) | (deny == 0.0), F.lit(None).cast("double"))
        .otherwise(F.round(r, 6))
        .alias("autocorr"),
    ).orderBy("event_type")


_AUTOCORR_SQL = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {HOUR_US} AS h,
    COUNT(*)::BIGINT AS c
  FROM events GROUP BY event_type, h
),
pairs AS (
  SELECT a.event_type, a.c, b.c AS c_prev
  FROM hourly a
  JOIN hourly b
    ON a.event_type = b.event_type AND a.h = b.h + {AC_LAG}
),
g AS (
  SELECT event_type,
    COUNT(*)::BIGINT AS n,
    CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(c_prev) AS BIGINT) AS sy,
    CAST(SUM(c * c) AS BIGINT) AS sxx,
    CAST(SUM(c_prev * c_prev) AS BIGINT) AS syy,
    CAST(SUM(c * c_prev) AS BIGINT) AS sxy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n AS n_pairs,
  CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
       ELSE ROUND(
         CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
         / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6)
  END AS autocorr
FROM g
ORDER BY event_type
"""



# ---------------------------------------------------------------------------
# OHLC candle bars (market-data rollup shape)
# ---------------------------------------------------------------------------
#
# Open/close are POSITIONAL aggregates (first/last value by event
# time) — the pattern every market-data / telemetry pipeline needs and
# plain min/max can't express.  Shape: ONE shuffle on the (event_type,
# hour) grain serves both window passes (same partitioning) and the
# final aggregate; high/low/volume ride along as plain aggregates.
# Partitions are (type, hour) cells — bounded and uniform, no skew.
# Determinism: ties on ts break by event_id in both engines.


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour_us, open, high, low, close, n_events,
    volume) hourly candles over the events value stream."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    wa = Window.partitionBy("event_type", "h").orderBy(
        "ts_us", "event_id"
    )
    wd = Window.partitionBy("event_type", "h").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    flagged = ev.withColumn(
        "rn_a", F.row_number().over(wa)
    ).withColumn("rn_d", F.row_number().over(wd))
    return (
        flagged.groupBy("event_type", "h")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias(
                "open"
            ),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias(
                "close"
            ),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dsum("value", "volume"),
        )
        .select(
            "event_type",
            (F.col("h") * HOUR_US).alias("hour_us"),
            "open", "high", "low", "close", "n_events", "volume",
        )
        .orderBy("event_type", "hour_us")
    )


_OHLC_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // {HOUR_US} AS h,
    epoch_us(ts) AS ts_us, event_id, value
  FROM events
),
flagged AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY event_type, h
                       ORDER BY ts_us ASC, event_id ASC) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY event_type, h
                       ORDER BY ts_us DESC, event_id DESC) AS rn_d
  FROM ev
)
SELECT event_type, h * {HOUR_US} AS hour_us,
  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
  COUNT(*)::BIGINT AS n_events,
  {sql_dsum('value', 'volume')}
FROM flagged
GROUP BY event_type, h
ORDER BY event_type, hour_us
"""


# ---------------------------------------------------------------------------
# offline CUSUM changepoint detection
# ---------------------------------------------------------------------------
#
# Per user, the classic offline CUSUM scan: the changepoint estimate is
# argmax_i |S_i| with S_i = sum_{j<=i} (x_j - xbar) (Page 1954 /
# Pettitt-style mean-shift location).  Exact integers end to end: with
# values quantized x1e4 and P_i = prefix sum, T = total, the scaled
# statistic D_i = |n*P_i - i*T| = n*|S_i| is a BIGINT, so the argmax
# never touches a float.  The bound n * sum|qv| < 2^63 is RUNTIME
# GUARDED (not just documented): keys where sum|qv| > 2^61 DIV n keep
# their row but emit NULL changepoint columns, identically in both
# engines (DuckDB would otherwise throw on BIGINT overflow while Spark
# wraps).  At larger keys pre-aggregate to hourly buckets first, same
# operator.
#
# Scale shape: ONE shuffle grain — prefix/total/count windows and the
# final (D desc, i asc) ranking window are all partitioned by user_id,
# so Spark plans a single exchange with per-key sorts; nothing global.


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n, cp_idx, cp_ts_us, cusum_stat) — the most likely
    mean-shift position in each user's event-value sequence; ties
    break to the EARLIEST index."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("tus"),
        "event_id",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("qv"),
    )
    wo = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("user_id")
    d = ev.select(
        "user_id",
        "tus",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("tus", "event_id"))
        .alias("i"),
        F.sum("qv").over(wo).alias("p"),
        F.sum("qv").over(wp).alias("t"),
        F.sum(F.abs("qv")).over(wp).alias("ta"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).select(
        "user_id",
        "tus",
        "i",
        "n",
        # overflow guard: dd = |n*p - i*t| <= 2*n*ta, so requiring
        # ta <= 2^61/n (integer div, n>=1) bounds dd < 2^63 with the
        # guard expression itself overflow-free; violating keys keep
        # their row but NULL the changepoint, identically in DuckDB
        F.expr("ta <= 2305843009213693952L DIV n").alias("ok"),
        # dd gated on ok: Spark would silently wrap on overflow but
        # DuckDB throws, so the product must not be evaluated at all
        # for violating keys (their rows all get dd=0 -> argmax i=1,
        # then the cp columns are NULLed below)
        F.expr(
            "CASE WHEN ta <= 2305843009213693952L DIV n"
            " THEN abs(n * p - i * t) ELSE 0L END"
        ).alias("dd"),
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.col("dd").desc(), F.col("i").asc()
        )
    )
    return (
        d.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            F.when(F.col("ok"), F.col("i").cast("long")).alias("cp_idx"),
            F.when(F.col("ok"), F.col("tus").cast("long")).alias(
                "cp_ts_us"
            ),
            F.when(
                F.col("ok"),
                F.round(
                    F.col("dd").cast("double")
                    / (F.col("n").cast("double") * F.lit(10000.0)),
                    6,
                ),
            ).alias("cusum_stat"),
        )
        .orderBy("user_id")
    )


_CUSUM_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qv
  FROM events
),
d AS (
  SELECT user_id, tus,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tus, event_id) AS i,
    SUM(qv) OVER (PARTITION BY user_id ORDER BY tus, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
    SUM(qv) OVER (PARTITION BY user_id) AS t,
    SUM(ABS(qv)) OVER (PARTITION BY user_id) AS ta,
    COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM e
),
s AS (
  SELECT user_id, tus, i, n,
    ta <= 2305843009213693952 // n AS ok,
    CASE WHEN ta <= 2305843009213693952 // n
         THEN ABS(n * p - i * t) ELSE 0 END AS dd
  FROM d
),
r AS (
  SELECT user_id, tus, i, n, ok, dd,
    ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY dd DESC, i ASC) AS rn
  FROM s
)
SELECT user_id, n::BIGINT AS n,
  CASE WHEN ok THEN i::BIGINT END AS cp_idx,
  CASE WHEN ok THEN tus::BIGINT END AS cp_ts_us,
  CASE WHEN ok THEN
    ROUND(dd::DOUBLE / (n::DOUBLE * 10000.0), 6) END AS cusum_stat
FROM r WHERE rn = 1
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# rolling correlation between two event series
# ---------------------------------------------------------------------------
#
# The quant-desk staple: trailing correlation of two hourly series
# ('view' vs 'purchase' hourly value sums).  Exactness: the five
# sufficient statistics are BIGINT window sums of x1e4-quantized
# values (order-independent); Pearson is assembled in doubles with one
# fixed expression order, sqrt matches libm — the ml_correlation
# pattern put under a ROWS window.  A trailing ROWS frame (last
# CORR_WINDOW observations), not RANGE, so hour gaps do not change
# the arithmetic between engines.

CORR_WINDOW = 24


def rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hour_us, n_window, corr) — trailing CORR_WINDOW-bucket Pearson
    correlation between hourly 'view' and 'purchase' value sums."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
        "event_type",
        F.floor(F.col("value") * 10000.0 + 0.5).cast("long").alias("qv"),
    )
    hourly = ev.groupBy("h").agg(
        F.sum(
            F.when(F.col("event_type") == "view", F.col("qv")).otherwise(
                0
            )
        ).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("qv")
            ).otherwise(0)
        ).alias("y"),
    )
    w = Window.orderBy("h").rowsBetween(-(CORR_WINDOW - 1), 0)
    # the hourly sums x/y are ~1e10 at sf10 (corpus-dense hours), so
    # their PRODUCTS cross int64 — decimal(19,0) operands widen the
    # product/sum to decimal(38,0), mirroring the ::HUGEINT products
    # in the DuckDB twin (this overflowed the first full sf10 sweep)
    dx = F.col("x").cast("decimal(19,0)")
    dy = F.col("y").cast("decimal(19,0)")
    g = hourly.select(
        "h",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(dx * dx).over(w).alias("sxx"),
        F.sum(dy * dy).over(w).alias("syy"),
        F.sum(dx * dy).over(w).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    corr = F.when(
        (vx > 0) & (vy > 0),
        F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6),
    )
    return g.select(
        (F.col("h") * HOUR_US).cast("long").alias("hour_us"),
        F.col("n").cast("long").alias("n_window"),
        corr.alias("corr"),
    ).orderBy("hour_us")


_ROLLING_CORR_SQL = f"""
WITH e AS (
  SELECT epoch_us(ts) // {HOUR_US} AS h, event_type,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qv
  FROM events
),
hourly AS (
  SELECT h,
    CAST(SUM(CASE WHEN event_type = 'view' THEN qv ELSE 0 END)
         AS BIGINT) AS x,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN qv ELSE 0 END)
         AS BIGINT) AS y
  FROM e GROUP BY h
),
g AS (
  SELECT h,
    COUNT(*) OVER wr AS n,
    CAST(SUM(x) OVER wr AS BIGINT) AS sx,
    CAST(SUM(y) OVER wr AS BIGINT) AS sy,
    SUM(x::HUGEINT * x) OVER wr AS sxx,
    SUM(y::HUGEINT * y) OVER wr AS syy,
    SUM(x::HUGEINT * y) OVER wr AS sxy
  FROM hourly
  WINDOW wr AS (ORDER BY h
    ROWS BETWEEN {CORR_WINDOW - 1} PRECEDING AND CURRENT ROW)
)
SELECT (h * {HOUR_US})::BIGINT AS hour_us, n::BIGINT AS n_window,
  CASE WHEN (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
        AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
    THEN ROUND(
      (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
      / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
    ELSE NULL END AS corr
FROM g
ORDER BY hour_us
"""


# ---------------------------------------------------------------------------
# classical seasonal decomposition (trend / seasonal / residual)
# ---------------------------------------------------------------------------
#
# seasonal_decompose's additive model over the hourly event-count
# series per event_type: trend = centered 25-hour moving average
# (period 24 + 1 for symmetry), seasonal = hour-of-day mean of the
# detrended series, residual = the rest.  Only full-window hours are
# emitted (the classical edge rule).
#
# Exact cross-engine by integer numerators: counts are BIGINT, the
# trend window sum S is BIGINT, so detrended = (25*cnt - S)/25 has an
# exact BIGINT numerator `num`; the seasonal mean is SUM(num) over the
# (event_type, hod) cell — again an exact BIGINT — divided ONCE.
# Every emitted double is one fixed-order expression over exact ints.
#
# 100 TB shape: the corpus-sized work is the (event_type, hour)
# count aggregate (map-side combinable); the window/seasonal passes
# run on the AGGREGATED series, whose length grows with the time span
# x type cardinality, not data volume — the two-level pattern from the
# r5 window audit.

STL_HALF = 12
STL_W = 2 * STL_HALF + 1  # 25-hour centered window


def stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-STL_HALF, STL_HALF)
    )
    t = (
        hourly.withColumn("s", F.sum("cnt").over(wt))
        .withColumn("c", F.count(F.lit(1)).over(wt))
        .filter(F.col("c") == STL_W)
        .withColumn(
            "num", F.lit(STL_W) * F.col("cnt") - F.col("s")
        )
        .withColumn("hod", F.pmod(F.col("h"), F.lit(24)))
    )
    ws = Window.partitionBy("event_type", "hod")
    seasonal = F.col("snum").cast("double") / (
        F.lit(float(STL_W)) * F.col("sn")
    )
    return (
        t.withColumn("snum", F.sum("num").over(ws))
        .withColumn("sn", F.count(F.lit(1)).over(ws))
        .select(
            "event_type",
            (F.col("h") * HOUR_US).alias("hour_us"),
            "cnt",
            (F.col("s").cast("double") / F.lit(float(STL_W))).alias(
                "trend"
            ),
            seasonal.alias("seasonal"),
            (
                F.col("num").cast("double") / F.lit(float(STL_W))
                - seasonal
            ).alias("residual"),
        )
    )


_STL_SQL = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {HOUR_US} AS h, COUNT(*) AS cnt
  FROM events GROUP BY event_type, h
),
t AS (
  SELECT *, {STL_W} * cnt - s AS num, h % 24 AS hod FROM (
    SELECT event_type, h, cnt,
      SUM(cnt) OVER w AS s, COUNT(*) OVER w AS c
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY h
                 RANGE BETWEEN {STL_HALF} PRECEDING
                 AND {STL_HALF} FOLLOWING)
  ) WHERE c = {STL_W}
)
SELECT event_type, h * {HOUR_US} AS hour_us, cnt,
  s::DOUBLE / {STL_W}.0 AS trend,
  snum::DOUBLE / ({STL_W}.0 * sn) AS seasonal,
  num::DOUBLE / {STL_W}.0 - snum::DOUBLE / ({STL_W}.0 * sn) AS residual
FROM (
  SELECT *, SUM(num) OVER c AS snum, COUNT(*) OVER c AS sn
  FROM t WINDOW c AS (PARTITION BY event_type, hod)
)
"""


# ---------------------------------------------------------------------------
# LTTB-style series downsampling — plot/preview decimation at scale
# ---------------------------------------------------------------------------
#
# Largest-Triangle-Three-Buckets (Steinarsson 2013) keeps, per time
# bucket, the point forming the largest triangle with its neighbor
# buckets — the standard visually-faithful decimation for dashboards
# over raw streams.  The sequential original anchors on the PREVIOUSLY
# SELECTED point; this is the parallel variant both anchors are the
# neighbor buckets' AVERAGE points (the same approximation the original
# already makes on the right anchor), which removes the cross-bucket
# dependency chain entirely: every bucket's argmax is independent.
#
# Scale shape: one groupBy to bucket grain (map-side combinable exact
# BIGINT sums — timestamps summed as OFFSETS from the bucket start so
# a 2^63 overflow needs ~10^8 points per bucket), lag/lead over the
# tiny bucket frame, broadcast back to points, one per-(type, bucket)
# ranking window.  Determinism: anchors are doubles built from exact
# ints in a fixed expression tree; the ranking key is the area rounded
# to 9 dp with (ts, event_id) tie-breaks.

LTTB_BUCKET_US = 6 * HOUR_US


def lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One representative point per interior 6-hour bucket per
    event_type: (event_type, bucket_us, ts_us, value, tri_area) with
    tri_area in value x bucket-width units."""
    b = LTTB_BUCKET_US
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        F.expr(f"unix_micros(ts) DIV {b}").alias("bk"),
        F.expr(f"unix_micros(ts) % {b}").alias("off"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("qv"),
    )
    bs = ev.groupBy("event_type", "bk").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("off").cast("long").alias("soff"),
        F.sum("qv").cast("long").alias("sqv"),
    )
    wb = Window.partitionBy("event_type").orderBy("bk")
    anch = bs.select(
        "event_type",
        "bk",
        *[
            f(c, 1).over(wb).alias(f"{p}_{c}")
            for f, p in ((F.lag, "p"), (F.lead, "n"))
            for c in ("bk", "cnt", "soff", "sqv")
        ],
    ).filter(F.col("p_bk").isNotNull() & F.col("n_bk").isNotNull())
    j = ev.join(F.broadcast(anch), ["event_type", "bk"])
    bd = float(b)
    # anchor/candidate coordinates in (bucket-width, value) units —
    # doubles from exact ints, identical expression tree both engines
    ax = F.col("p_bk").cast("double") + (
        F.col("p_soff").cast("double") / F.col("p_cnt").cast("double") / bd
    )
    ay = F.col("p_sqv").cast("double") / F.col("p_cnt").cast("double") / 100.0
    cx = F.col("n_bk").cast("double") + (
        F.col("n_soff").cast("double") / F.col("n_cnt").cast("double") / bd
    )
    cy = F.col("n_sqv").cast("double") / F.col("n_cnt").cast("double") / 100.0
    px = F.col("bk").cast("double") + F.col("off").cast("double") / bd
    py = F.col("qv").cast("double") / 100.0
    area = F.abs((ax - cx) * (py - ay) - (ax - px) * (cy - ay)) / 2.0
    wr = Window.partitionBy("event_type", "bk").orderBy(
        F.round(area, 9).desc(), F.col("ts_us").asc(), F.col("event_id").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            (F.col("bk") * b).alias("bucket_us"),
            "ts_us",
            "value",
            F.round(area, 6).alias("tri_area"),
        )
        .orderBy("event_type", "bucket_us")
    )


_LTTB_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
    epoch_us(ts) // {LTTB_BUCKET_US} AS bk,
    epoch_us(ts) % {LTTB_BUCKET_US} AS off,
    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS qv
  FROM events
),
bs AS (
  SELECT event_type, bk, COUNT(*)::BIGINT AS cnt,
    CAST(SUM(off) AS BIGINT) AS soff, CAST(SUM(qv) AS BIGINT) AS sqv
  FROM ev GROUP BY 1, 2
),
anch AS (
  SELECT * FROM (
    SELECT event_type, bk,
      LAG(bk) OVER w AS p_bk, LAG(cnt) OVER w AS p_cnt,
      LAG(soff) OVER w AS p_soff, LAG(sqv) OVER w AS p_sqv,
      LEAD(bk) OVER w AS n_bk, LEAD(cnt) OVER w AS n_cnt,
      LEAD(soff) OVER w AS n_soff, LEAD(sqv) OVER w AS n_sqv
    FROM bs WINDOW w AS (PARTITION BY event_type ORDER BY bk)
  ) WHERE p_bk IS NOT NULL AND n_bk IS NOT NULL
),
scored AS (
  SELECT ev.event_type, ev.bk, ts_us, value, event_id,
    ABS(
      ((p_bk::DOUBLE + p_soff::DOUBLE / p_cnt::DOUBLE
          / {LTTB_BUCKET_US}.0)
       - (n_bk::DOUBLE + n_soff::DOUBLE / n_cnt::DOUBLE
          / {LTTB_BUCKET_US}.0))
      * (qv::DOUBLE / 100.0 - p_sqv::DOUBLE / p_cnt::DOUBLE / 100.0)
      - ((p_bk::DOUBLE + p_soff::DOUBLE / p_cnt::DOUBLE
          / {LTTB_BUCKET_US}.0)
         - (ev.bk::DOUBLE + off::DOUBLE / {LTTB_BUCKET_US}.0))
      * (n_sqv::DOUBLE / n_cnt::DOUBLE / 100.0
         - p_sqv::DOUBLE / p_cnt::DOUBLE / 100.0)
    ) / 2.0 AS area
  FROM ev JOIN anch ON ev.event_type = anch.event_type AND ev.bk = anch.bk
)
SELECT event_type, bk * {LTTB_BUCKET_US} AS bucket_us, ts_us, value,
  ROUND(area, 6) AS tri_area
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type, bk
    ORDER BY ROUND(area, 9) DESC, ts_us ASC, event_id ASC) AS rn
  FROM scored
) WHERE rn = 1
ORDER BY event_type, bucket_us
"""


# ---------------------------------------------------------------------------
# peak detection — strict local maxima of the hourly mean series
# ---------------------------------------------------------------------------
#
# An hour is a peak when its mean value is STRICTLY greater than the
# means of the PEAK_W nearest POPULATED grid hours on each side (all
# neighbors must exist — edges are never peaks).  Neighbors are
# row-adjacent existing hours via lag/lead, NOT calendar-adjacent:
# across a gap in the grid the comparison window spans whatever hours
# exist on the far side, however distant (ADVICE r7 — documented
# semantics; add a max-gap guard if calendar adjacency is ever
# needed).  Every comparison of
# two rational means a1/c1 vs a2/c2 is done as the exact integer
# cross-product a1*c2 > a2*c1 — no float enters the predicate, so the
# flag cannot flip on engine ulp differences; only the REPORTED mean
# is a (rounded) float.  Shape: one hour-grain groupBy then lag/lead
# over the per-type hourly frame — the same single-exchange plan as
# the resample family.

PEAK_W = 2


def ts_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose mean value is a strict local maximum over +-PEAK_W
    grid neighbors: (event_type, hour_us, n_events, mean_value)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("qv"),
    )
    hs = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("qv").cast("long").alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    cols = [hs["*"]]
    conds = []
    for i in range(1, PEAK_W + 1):
        for f, p in ((F.lag, "p"), (F.lead, "n")):
            cols.append(f("c", i).over(w).alias(f"{p}{i}_c"))
            cols.append(f("s", i).over(w).alias(f"{p}{i}_s"))
    nb = hs.select(*cols)
    for i in range(1, PEAK_W + 1):
        for p in ("p", "n"):
            conds.append(F.col(f"{p}{i}_c").isNotNull())
            # s/c > s_i/c_i  <=>  s*c_i > s_i*c  (exact BIGINT)
            conds.append(
                F.col("s") * F.col(f"{p}{i}_c")
                > F.col(f"{p}{i}_s") * F.col("c")
            )
    flag = conds[0]
    for cnd in conds[1:]:
        flag = flag & cnd
    return (
        nb.filter(flag)
        .select(
            "event_type",
            (F.col("h") * HOUR_US).alias("hour_us"),
            F.col("c").alias("n_events"),
            F.round(
                F.col("s").cast("double") / 100.0 / F.col("c").cast("double"),
                6,
            ).alias("mean_value"),
        )
        .orderBy("event_type", "hour_us")
    )


def _peaks_sql() -> str:
    sel, conds = [], []
    for i in range(1, PEAK_W + 1):
        for f, p in (("LAG", "p"), ("LEAD", "n")):
            sel.append(f"{f}(c, {i}) OVER w AS {p}{i}_c")
            sel.append(f"{f}(s, {i}) OVER w AS {p}{i}_s")
            conds.append(f"{p}{i}_c IS NOT NULL")
            conds.append(f"s * {p}{i}_c > {p}{i}_s * c")
    return f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // {HOUR_US} AS h,
    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS qv
  FROM events
),
hs AS (
  SELECT event_type, h, COUNT(*)::BIGINT AS c,
    CAST(SUM(qv) AS BIGINT) AS s
  FROM ev GROUP BY 1, 2
),
nb AS (
  SELECT event_type, h, c, s, {', '.join(sel)}
  FROM hs WINDOW w AS (PARTITION BY event_type ORDER BY h)
)
SELECT event_type, h * {HOUR_US} AS hour_us, c AS n_events,
  ROUND(s::DOUBLE / 100.0 / c::DOUBLE, 6) AS mean_value
FROM nb
WHERE {' AND '.join(conds)}
ORDER BY event_type, hour_us
"""


# ---------------------------------------------------------------------------
# periodogram at candidate periods — seasonality strength detector
# ---------------------------------------------------------------------------
#
# DFT power of the hourly-mean series at a FIXED set of candidate
# periods (daily / half-daily / weekly) — the screen that decides which
# seasonal period ts_seasonal_anomaly / ts_stl_decompose should use,
# without materializing a full FFT (pointless on a distributed grid;
# the candidate set is always known).  Per (type, period):
#   P = [ Σ_h v_h·cos(2πφ_h) ]² + [ Σ_h v_h·sin(2πφ_h) ]²  /  n²
# with φ_h = (h mod period)/period.  Cross-engine determinism: the
# angle is a double from exact ints, cos/sin are rounded to 9 dp
# (entropy convention), each product v_h·trig is quantized to a 1e-4
# BIGINT and the two sums are BIGINT — the only float arithmetic is
# the final power expression from exact sums.  Shape: one hour-grain
# groupBy, then a |periods|-way explode of the TINY grid frame and one
# (type, period) aggregate — all map-side combinable.

PERIODOGRAM_PERIODS = [24, 12, 168]  # hours


def periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, period_h, n_cells, power) — normalized DFT power
    of the hourly mean-value series at each candidate period."""
    import math

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("qv"),
    )
    grid = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("qv").cast("long").alias("s"),
    )
    v = F.col("s").cast("double") / 100.0 / F.col("c").cast("double")
    two_pi = F.lit(2.0 * math.pi)
    exploded = grid.select(
        "event_type",
        "h",
        v.alias("v"),
        F.explode(
            F.array(*[F.lit(p) for p in PERIODOGRAM_PERIODS])
        ).alias("period_h"),
    )
    phase = (
        two_pi
        * (F.col("h") % F.col("period_h")).cast("double")
        / F.col("period_h").cast("double")
    )
    qc = F.floor(
        F.col("v") * F.round(F.cos(phase), 9) * 1e4 + 0.5
    ).cast("long")
    qs_ = F.floor(
        F.col("v") * F.round(F.sin(phase), 9) * 1e4 + 0.5
    ).cast("long")
    g = exploded.groupBy("event_type", "period_h").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(qc).cast("long").alias("sc"),
        F.sum(qs_).cast("long").alias("ss"),
    )
    scd = F.col("sc").cast("double") / 1e4
    ssd = F.col("ss").cast("double") / 1e4
    nd = F.col("n_cells").cast("double")
    return g.select(
        "event_type",
        F.col("period_h").cast("long").alias("period_h"),
        "n_cells",
        F.round((scd * scd + ssd * ssd) / (nd * nd), 6).alias("power"),
    ).orderBy("event_type", "period_h")


_PERIODOGRAM_SQL = f"""
WITH grid AS (
  SELECT event_type, epoch_us(ts) // {HOUR_US} AS h,
    COUNT(*)::BIGINT AS c,
    CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1, 2
),
exploded AS (
  SELECT event_type, h, s::DOUBLE / 100.0 / c::DOUBLE AS v,
    unnest([{', '.join(str(p) for p in PERIODOGRAM_PERIODS)}]) AS period_h
  FROM grid
),
terms AS (
  SELECT event_type, period_h,
    CAST(FLOOR(v * ROUND(cos(2.0 * pi() * (h % period_h)::DOUBLE
      / period_h::DOUBLE), 9) * 1e4 + 0.5) AS BIGINT) AS qc,
    CAST(FLOOR(v * ROUND(sin(2.0 * pi() * (h % period_h)::DOUBLE
      / period_h::DOUBLE), 9) * 1e4 + 0.5) AS BIGINT) AS qs
  FROM exploded
),
g AS (
  SELECT event_type, period_h, COUNT(*)::BIGINT AS n_cells,
    CAST(SUM(qc) AS BIGINT) AS sc, CAST(SUM(qs) AS BIGINT) AS ss
  FROM terms GROUP BY 1, 2
)
SELECT event_type, period_h::BIGINT AS period_h, n_cells,
  ROUND((sc::DOUBLE / 1e4 * sc::DOUBLE / 1e4
         + ss::DOUBLE / 1e4 * ss::DOUBLE / 1e4)
        / (n_cells::DOUBLE * n_cells::DOUBLE), 6) AS power
FROM g ORDER BY event_type, period_h
"""


# ---------------------------------------------------------------------------
# Mann-Kendall trend test + Theil-Sen slope — robust trend pair
# ---------------------------------------------------------------------------
#
# The nonparametric trend battery run on noisy operational series
# where OLS slopes (ml_group_ols) are outlier-fragile: Mann-Kendall's
# S = Σ_{i<j} sign(v_j - v_i) with the tie-corrected variance, and the
# Theil-Sen slope (median of pairwise slopes).  Both run at GRID grain
# on the integer centi-mean hourly series v = floor(100*s/c): the
# pairwise O(g²) universe is bounded by the GRID length (744 hours per
# month regardless of corpus volume — scale-free by construction, the
# same argument as the STL/autocorr family), and integer series make
# signs and tie groups exact.  The only floats: MK's final z (from
# exact S and VarS) and the pairwise slopes (double division of exact
# ints; the median is an order-statistic pick with a deterministic
# (slope, h1, h2) sort, not an aggregation).

MK_CONT_CORR = 1  # continuity correction applied toward zero


def _hour_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, h, vq) — integer centi-mean hourly grid, cached.

    Four ts queries (mann_kendall, theil_sen, sma_crossover,
    bollinger_breakouts) build on this identical plan; the .cache()
    dedups them to ONE events scan + aggregate per session instead of
    one per consumer per rep (the _token_frame pattern — cache manager
    matches on plan identity).  Grid grain is (type, hour): grows with
    the timespan, never the corpus — kilobytes at any SF."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(ts) DIV {HOUR_US}").alias("h"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("qv"),
    )
    return ev.groupBy("event_type", "h").agg(
        F.expr("CAST(FLOOR(100.0 * sum(qv) / count(1) + 0.5) AS BIGINT)")
        .alias("vq")
    ).cache()


_GRID_SQL = f"""
grid AS (
  SELECT event_type, epoch_us(ts) // {HOUR_US} AS h,
    CAST(FLOOR(100.0 * SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT))
         / COUNT(*) + 0.5) AS BIGINT) AS vq
  FROM events GROUP BY 1, 2
)"""


def mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_cells, s_stat, var_s, z) — tie-corrected
    Mann-Kendall trend test per event type's hourly centi-mean grid."""
    g = _hour_grid(spark, sf_dir)
    g2 = g.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("vq").alias("vq2"),
    )
    s = (
        g.join(
            g2, (F.col("event_type") == F.col("et2")) & (F.col("h") < F.col("h2"))
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.signum(F.col("vq2") - F.col("vq")).cast("long"))
            .cast("long")
            .alias("s_stat")
        )
    )
    n = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ties = (
        g.groupBy("event_type", "vq")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    j = s.join(n, "event_type").join(ties, "event_type")
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    )
    var_s = var18.cast("double") / 18.0
    corr = (
        F.col("s_stat")
        - F.signum(F.col("s_stat")).cast("long") * MK_CONT_CORR
    ).cast("double")
    z = F.when(var18 == 0, F.lit(0.0)).otherwise(
        corr / F.sqrt(var_s)
    )
    return j.select(
        "event_type",
        F.col("n").alias("n_cells"),
        "s_stat",
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
    ).orderBy("event_type")


_MK_SQL = f"""
WITH {_GRID_SQL},
s AS (
  SELECT a.event_type,
    CAST(SUM(CASE WHEN b.vq > a.vq THEN 1
                  WHEN b.vq < a.vq THEN -1 ELSE 0 END) AS BIGINT)
      AS s_stat
  FROM grid a JOIN grid b
    ON a.event_type = b.event_type AND a.h < b.h
  GROUP BY 1
),
n AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM grid GROUP BY 1),
ties AS (
  SELECT event_type,
    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (
    SELECT event_type, vq, COUNT(*)::BIGINT AS t
    FROM grid GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT s.event_type AS event_type, n AS n_cells, s_stat,
  ROUND((n * (n - 1) * (2 * n + 5) - tie_term)::DOUBLE / 18.0, 6)
    AS var_s,
  ROUND(CASE WHEN n * (n - 1) * (2 * n + 5) - tie_term = 0 THEN 0.0
    ELSE (s_stat - CASE WHEN s_stat > 0 THEN {MK_CONT_CORR}
                        WHEN s_stat < 0 THEN -{MK_CONT_CORR}
                        ELSE 0 END)::DOUBLE
      / sqrt((n * (n - 1) * (2 * n + 5) - tie_term)::DOUBLE / 18.0)
  END, 6) AS z
FROM s JOIN n ON s.event_type = n.event_type
JOIN ties ON s.event_type = ties.event_type
ORDER BY event_type
"""


def theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_pairs, slope) — Theil-Sen median pairwise slope
    (centi-value units per hour) of the hourly centi-mean grid; the
    standard median: average of the two middle slopes when the pair
    count is even (ADVICE r7 — the lower median biased slightly low).
    The Spark window ranks by slope ALONE (tie order immaterial: only
    the slope value survives the middle-rank filter, and the sorted
    slope multiset is unique); the DuckDB twin keeps the fully
    deterministic (slope, h1, h2) order."""
    g = _hour_grid(spark, sf_dir)
    g2 = g.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("vq").alias("vq2"),
    )
    # pair rows carry ONLY (type, slope): the (h, h2) tie-break columns
    # the r12 shape sorted alongside cannot change the RESULT — the two
    # middle ranks' slope VALUES are invariant to tie order (the sorted
    # slope multiset is unique), and h/h2 are discarded after the
    # filter — so dropping them narrows the window sort's buffered rows
    # by half (guide §2.3: shuffle/sort fewer bytes).  The DuckDB twin
    # keeps its fully-deterministic (slope, h, h2) rank order; equal
    # output is guaranteed because only slope survives the filter.
    pairs = g.join(
        g2, (F.col("event_type") == F.col("et2")) & (F.col("h") < F.col("h2"))
    ).select(
        "event_type",
        (
            (F.col("vq2") - F.col("vq")).cast("double")
            / (F.col("h2") - F.col("h")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("slope").asc())
    # pair count per type is C(n_hours, 2) of the (cached, tiny) grid —
    # computed there and broadcast instead of a second full-partition
    # count window over every pair (r13: the count window buffered the
    # whole 259k-row partition a second time for a number the grid
    # already knows; one WindowExec pass removed, same integers)
    mrow = g.groupBy("event_type").agg(
        (
            F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / F.lit(2)
        )
        .cast("long")
        .alias("m")
    )
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).cast("long").alias("rn"),
    ).join(F.broadcast(mrow), "event_type")
    # odd m: both rank expressions pick the same middle row (avg of 1);
    # even m: ranks m/2 and m/2+1 — avg of the two middle slopes
    return (
        ranked.filter(
            (F.col("rn") == F.expr("(m + 1) DIV 2"))
            | (F.col("rn") == F.expr("m DIV 2 + 1"))
        )
        .groupBy("event_type")
        .agg(
            F.max("m").alias("n_pairs"),
            F.round(F.avg("slope"), 6).alias("slope"),
        )
        .orderBy("event_type")
    )


_THEIL_SEN_SQL = f"""
WITH {_GRID_SQL},
pairs AS (
  SELECT a.event_type, a.h AS h, b.h AS h2,
    (b.vq - a.vq)::DOUBLE / (b.h - a.h)::DOUBLE AS slope
  FROM grid a JOIN grid b
    ON a.event_type = b.event_type AND a.h < b.h
),
ranked AS (
  SELECT event_type, slope,
    ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY slope ASC, h ASC, h2 ASC)::BIGINT AS rn,
    COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS m
  FROM pairs
)
SELECT event_type, CAST(MAX(m) AS BIGINT) AS n_pairs,
  ROUND(AVG(slope), 6) AS slope
FROM ranked WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# moving-average crossover detector — regime-change events
# ---------------------------------------------------------------------------
#
# The fast-SMA/slow-SMA crossing ("golden/death cross") over each
# type's hourly centi-mean grid — the classic online regime detector.
# Exactness: each SMA is a RATIONAL (windowed BIGINT sum, count), and
# the fast-vs-slow comparison is the cross-product sf·cs vs ss·cf —
# the sign, its lag, and therefore every crossing flag are float-free;
# only the reported gap is a rounded double.  Partial leading windows
# use the rows available (identical rule both engines).  Shape: one
# (type)-partitioned window stack — single exchange.

SMA_FAST = 6   # hours
SMA_SLOW = 24


def sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour_us, direction, fast_minus_slow) — hours where
    the fast SMA crosses the slow SMA; direction 'golden' = fast moved
    above, 'death' = below."""
    g = _hour_grid(spark, sf_dir)
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-(SMA_FAST - 1), 0)
    )
    ws = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-(SMA_SLOW - 1), 0)
    )
    t = g.select(
        "event_type",
        "h",
        F.sum("vq").over(wf).cast("long").alias("sf"),
        F.count(F.lit(1)).over(wf).cast("long").alias("cf"),
        F.sum("vq").over(ws).cast("long").alias("ss"),
        F.count(F.lit(1)).over(ws).cast("long").alias("cs"),
    )
    sgn = F.signum(
        (F.col("sf") * F.col("cs") - F.col("ss") * F.col("cf")).cast(
            "double"
        )
    ).cast("int")
    wl = Window.partitionBy("event_type").orderBy("h")
    flagged = t.select(
        "event_type",
        "h",
        "sf",
        "cf",
        "ss",
        "cs",
        sgn.alias("sgn"),
        F.lag(sgn, 1).over(wl).alias("psgn"),
    ).filter(
        F.col("psgn").isNotNull()
        & (F.col("sgn") != F.col("psgn"))
        & (F.col("sgn") != 0)
    )
    gap = (
        F.col("sf").cast("double") / F.col("cf").cast("double")
        - F.col("ss").cast("double") / F.col("cs").cast("double")
    ) / 100.0
    return flagged.select(
        "event_type",
        (F.col("h") * HOUR_US).alias("hour_us"),
        F.when(F.col("sgn") > 0, F.lit("golden"))
        .otherwise(F.lit("death"))
        .alias("direction"),
        F.round(gap, 6).alias("fast_minus_slow"),
    ).orderBy("event_type", "hour_us")


_SMA_CROSS_SQL = f"""
WITH {_GRID_SQL},
t AS (
  SELECT event_type, h,
    CAST(SUM(vq) OVER wf AS BIGINT) AS sf,
    COUNT(*) OVER wf AS cf,
    CAST(SUM(vq) OVER ws AS BIGINT) AS ss,
    COUNT(*) OVER ws AS cs
  FROM grid
  WINDOW wf AS (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN {SMA_FAST - 1} PRECEDING AND CURRENT ROW),
         ws AS (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN {SMA_SLOW - 1} PRECEDING AND CURRENT ROW)
),
flagged AS (
  SELECT event_type, h, sf, cf, ss, cs,
    SIGN(sf * cs - ss * cf)::INT AS sgn,
    LAG(SIGN(sf * cs - ss * cf)::INT) OVER (
      PARTITION BY event_type ORDER BY h) AS psgn
  FROM t
)
SELECT event_type, h * {HOUR_US} AS hour_us,
  CASE WHEN sgn > 0 THEN 'golden' ELSE 'death' END AS direction,
  ROUND((sf::DOUBLE / cf::DOUBLE - ss::DOUBLE / cs::DOUBLE) / 100.0, 6)
    AS fast_minus_slow
FROM flagged
WHERE psgn IS NOT NULL AND sgn <> psgn AND sgn <> 0
ORDER BY event_type, hour_us
"""


# ---------------------------------------------------------------------------
# Bollinger-band breakouts — volatility-scaled anomaly flags
# ---------------------------------------------------------------------------
#
# An hour breaks out when its centi-mean sits more than BOLL_K
# POPULATION standard deviations (σ² = Σ(x−μ)²/c, no c−1 — ADVICE r7:
# the predicate below is population variance; a sample-σ band at W=24
# would sit ~2% wider) from the TRAILING BOLL_W-hour window (current
# hour excluded — breakout vs history).  The flag never touches a
# float: (x−μ)² > k²·σ²  ⟺  (c·x − s)² > k²·(c·ssq − s²) with s, ssq
# exact BIGINT window sums — both sides exact integers, so the flag
# cannot flip on engine ulp differences (the ts_peaks cross-product
# discipline applied to second moments).  Seasonal z-scores
# (ts_seasonal_anomaly) compare to the same-hour-of-day baseline; this
# compares to the immediate regime — the pair covers both anomaly
# questions.  One partitioned window stack, single exchange.

BOLL_W = 24
BOLL_K = 2


def bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour_us, value, band_mean, direction) — hours
    whose centi-mean leaves the +-BOLL_K-sigma band of the trailing
    BOLL_W full hours."""
    g = _hour_grid(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-BOLL_W, -1)
    )
    t = g.select(
        "event_type",
        "h",
        "vq",
        F.count(F.lit(1)).over(w).cast("long").alias("c"),
        F.sum("vq").over(w).cast("long").alias("s"),
        F.sum(F.col("vq") * F.col("vq")).over(w).cast("long").alias("ssq"),
    ).filter(F.col("c") == BOLL_W)
    dev = F.col("c") * F.col("vq") - F.col("s")
    var_n = F.col("c") * F.col("ssq") - F.col("s") * F.col("s")
    hit = dev * dev > F.lit(BOLL_K * BOLL_K) * var_n
    return (
        t.filter(hit)
        .select(
            "event_type",
            (F.col("h") * HOUR_US).alias("hour_us"),
            F.round(F.col("vq").cast("double") / 10000.0, 6).alias("value"),
            F.round(
                F.col("s").cast("double")
                / F.col("c").cast("double")
                / 10000.0,
                6,
            ).alias("band_mean"),
            F.when(dev > 0, F.lit("up")).otherwise(F.lit("down")).alias(
                "direction"
            ),
        )
        .orderBy("event_type", "hour_us")
    )


_BOLL_SQL = f"""
WITH {_GRID_SQL},
t AS (
  SELECT event_type, h, vq,
    COUNT(*) OVER w AS c,
    CAST(SUM(vq) OVER w AS BIGINT) AS s,
    CAST(SUM(vq * vq) OVER w AS BIGINT) AS ssq
  FROM grid
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN {BOLL_W} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, h * {HOUR_US} AS hour_us,
  ROUND(vq::DOUBLE / 10000.0, 6) AS value,
  ROUND(s::DOUBLE / c::DOUBLE / 10000.0, 6) AS band_mean,
  CASE WHEN c * vq - s > 0 THEN 'up' ELSE 'down' END AS direction
FROM t
WHERE c = {BOLL_W}
  AND (c * vq - s) * (c * vq - s)
      > {BOLL_K * BOLL_K} * (c * ssq - s * s)
ORDER BY event_type, hour_us
"""


QUERIES = {
    "ts_stl_decompose": Query(stl_decompose, _STL_SQL),
    "ts_rolling_corr": Query(rolling_corr, _ROLLING_CORR_SQL),
    "ts_cusum_changepoint": Query(cusum_changepoint, _CUSUM_SQL),
    "ts_hourly_autocorr": Query(hourly_autocorr, _AUTOCORR_SQL),
    "ts_ohlc_bars": Query(ohlc_bars, _OHLC_SQL),
    "ts_seasonal_anomaly": Query(seasonal_anomaly, _SEASONAL_SQL),
    "ts_resample_ffill": Query(resample_ffill, _RESAMPLE_SQL),
    "ml_quantile_bins": Query(quantile_bins, _bins_sql()),
    "ts_interpolate_linear": Query(resample_interpolate, _INTERP_SQL),
    "ts_ewma": Query(ewma_smooth, _EWMA_SQL),
    "ts_lttb_downsample": Query(lttb_downsample, _LTTB_SQL),
    "ts_peaks": Query(ts_peaks, _peaks_sql()),
    "ts_periodogram": Query(periodogram, _PERIODOGRAM_SQL),
    "ts_mann_kendall": Query(mann_kendall, _MK_SQL),
    "ts_theil_sen": Query(theil_sen, _THEIL_SEN_SQL),
    "ts_sma_crossover": Query(sma_crossover, _SMA_CROSS_SQL),
    "ts_bollinger_breakouts": Query(bollinger_breakouts, _BOLL_SQL),
}
