"""Change-tracking operators: SCD2 dimension history, snapshot diff
(CDC), and count-min heavy-hitter estimation.

The reference mutates serving tables in place (Kudu upserts,
NyTaxiYellowTripStreaming.scala:223-229) and keeps no history; a
training-data pipeline needs the other direction too — reconstructing
WHAT changed:
  * scd2_history — collapse an event log into type-2 dimension rows
    (value, valid_from, valid_to, version): the standard
    slowly-changing-dimension build, one window pass, no self-join.
  * snapshot_diff — full-outer diff of two table snapshots into
    inserted/deleted/changed rows: the batch CDC primitive used to
    validate replication and to derive incremental training sets.
    Scale shape: one shuffle on the join key; at 100 TB both sides
    would be bucketed on the key and the join co-located.
  * cms_heavy_hitters — count-min sketch (Cormode & Muthukrishnan
    2005) frequency estimates.  Like the KMV sketch (operators/
    sketch.py) the estimate is a DETERMINISTIC function of the data
    given fixed hashes, so the approximate operator has an exact
    DuckDB oracle; the d x w cell grid is a map-side-combined
    aggregate (d*w bounded cells shuffle, never the key universe),
    and estimates for any candidate set come from a broadcast join
    against the tiny grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import SQL_STABLE_HASH64, stable_hash64
from ..registry import Query

# --- SCD2 history ----------------------------------------------------------


def _scd2_from(ev: DataFrame) -> DataFrame:
    """SCD2 core over a prepared (user_id, event_id, ts_us, event_type)
    frame.  Same-ts events collapse to the LAST event_id first (the
    state AS OF that instant), so ranges are always non-empty — without
    the collapse, two different-type events at one ts would emit a
    zero-duration [t, t) row and the earlier event would be covered by
    the wrong-type version."""
    w_ts = Window.partitionBy("user_id", "ts_us").orderBy(
        F.col("event_id").desc()
    )
    last_at_ts = (
        ev.withColumn("rn", F.row_number().over(w_ts))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us")
    changes = last_at_ts.withColumn(
        "prev_type", F.lag("event_type").over(w)
    ).filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    wc = Window.partitionBy("user_id").orderBy("ts_us")
    return changes.select(
        "user_id",
        F.row_number().over(wc).cast("long").alias("version"),
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(wc).alias("valid_to_us"),
    )


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's event_type: one row per change
    point, versioned, with [valid_from_us, valid_to_us) ranges (open
    range on the current row).  Same-ts events collapse to the last
    event_id (see _scd2_from); order within a user is by ts_us alone
    after the collapse, which makes it deterministic.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    return _scd2_from(ev)


_SCD2_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
last_at_ts AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, ts_us ORDER BY event_id DESC
    ) AS rn FROM e
  ) g WHERE rn = 1
),
changes AS (
  SELECT * FROM (
    SELECT *, LAG(event_type) OVER w AS prev_type
    FROM last_at_ts WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
  ) f
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id,
  ROW_NUMBER() OVER w AS version,
  event_type,
  ts_us AS valid_from_us,
  LEAD(ts_us) OVER w AS valid_to_us
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
"""


# --- SCD2 point-in-time ("AS OF") lookup -----------------------------------
#
# The read side SCD2 exists for: every user's state at one instant,
# answered by a single range predicate over the history — no event
# rescan, no window.  At 100 TB the history table is bucketed by
# user_id and the [from, to) predicate prunes row groups via footer
# stats on valid_from_us (the layout the z-order writer demonstrates).

ASOF_PIVOT_US = 1_705_276_800_000_000  # 2024-01-15T00:00:00Z


def scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, version, valid_from_us): each user's
    SCD2 state as of ASOF_PIVOT_US; users whose history starts later
    are absent (no state yet)."""
    h = scd2_history(spark, sf_dir)
    return h.filter(
        (F.col("valid_from_us") <= ASOF_PIVOT_US)
        & (
            F.col("valid_to_us").isNull()
            | (F.col("valid_to_us") > ASOF_PIVOT_US)
        )
    ).select("user_id", "event_type", "version", "valid_from_us")


_ASOF_SCD2_SQL = f"""
WITH hist AS ({_SCD2_SQL})
SELECT user_id, event_type, version, valid_from_us
FROM hist
WHERE valid_from_us <= {ASOF_PIVOT_US}
  AND (valid_to_us IS NULL OR valid_to_us > {ASOF_PIVOT_US})
"""


# --- snapshot diff (batch CDC) ---------------------------------------------
#
# Two deterministic snapshots derived from orders stand in for
# yesterday's and today's table: "old" drops keys = 0 (mod 10), "new"
# drops keys = 0 (mod 7) and bumps o_totalprice by exactly 1.0 for keys
# = 0 (mod 3) (an exact IEEE add — equality comparisons agree across
# engines).  The diff is one full-outer equi-join on the key.


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("new_price"),
    )
    j = old.join(new, "o_orderkey", "full_outer")
    status = (
        F.when(F.col("old_price").isNull(), "inserted")
        .when(F.col("new_price").isNull(), "deleted")
        .when(F.col("old_price") != F.col("new_price"), "changed")
    )
    return (
        j.withColumn("change_type", status)
        .filter(F.col("change_type").isNotNull())
        .select("o_orderkey", "change_type", "old_price", "new_price")
    )


_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey AS ok, o_totalprice AS old_price FROM orders
  WHERE o_orderkey % 10 <> 0
),
new AS (
  SELECT o_orderkey AS nk,
    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
         ELSE o_totalprice END AS new_price
  FROM orders WHERE o_orderkey % 7 <> 0
),
diff AS (
  SELECT COALESCE(ok, nk) AS o_orderkey,
    CASE WHEN old_price IS NULL THEN 'inserted'
         WHEN new_price IS NULL THEN 'deleted'
         WHEN old_price <> new_price THEN 'changed' END AS change_type,
    old_price, new_price
  FROM old FULL OUTER JOIN new ON ok = nk
)
SELECT o_orderkey, change_type, old_price, new_price
FROM diff WHERE change_type IS NOT NULL
"""


# --- count-min heavy hitters -----------------------------------------------

CMS_DEPTH = 3  # independent hash rows
CMS_WIDTH = 256  # buckets per row
CMS_CANDIDATES = 20  # user_ids < 20 are the demo estimate targets


def _cms_bucket(d: int):
    # row-d hash: shared 60-bit md5 primitive over "d|user_id" (same
    # string both engines), folded to the row's bucket
    return F.pmod(
        stable_hash64(
            F.concat_ws("|", F.lit(str(d)), F.col("user_id").cast("string"))
        ),
        F.lit(CMS_WIDTH),
    ).cast("int")


def _per_user_weights(ev: DataFrame) -> DataFrame:
    """(user_id, w): buckets depend only on user_id, so reduce to
    per-user weights FIRST (map-side combinable count over |events|
    rows), then hash once per DISTINCT user — d md5s x |users| instead
    of d x |events| (66x fewer at sf0.1's 100k events / 1.5k users);
    bit-identical cell counts by commutativity of the weighted sum.
    Single definition shared by the grid and the exact-count audit so
    the two can never desynchronize."""
    return ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("w"))


def cms_grid(ev: DataFrame) -> DataFrame:
    """(d, bucket, cnt) count-min grid of an events frame.  Cells are
    ADDITIVE, so per-micro-batch grids merge into a running sketch
    with a plain SUM — the streaming twin
    (tests/test_streaming.py::test_streaming_cms_grid_merges_to_batch)
    proves 4 arbitrary batches merge to the bit-exact batch grid."""
    cells = F.array(
        *[
            F.struct(F.lit(d).alias("d"), _cms_bucket(d).alias("bucket"))
            for d in range(CMS_DEPTH)
        ]
    )
    # the sketch: d*w bounded cells, map-side combined — the key
    # universe never shuffles
    per_user = _per_user_weights(ev)
    return (
        per_user.select("w", F.explode(cells).alias("c"))
        .groupBy("c.d", "c.bucket")
        .agg(F.sum("w").alias("cnt"))
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates vs exact counts for the candidate user set.
    est_count >= exact_count always (collisions only ADD); the gap on
    this data is the observable sketch error."""
    ev = load_table(spark, sf_dir, "events")
    grid = cms_grid(ev)
    per_user = _per_user_weights(ev)
    cand = per_user.filter(F.col("user_id") < CMS_CANDIDATES).select(
        "user_id", F.col("w").alias("exact_count")
    )
    probes = cand.select(
        "user_id",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cms_bucket(d).alias("bucket")
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("c"),
    ).select("user_id", "exact_count", "c.d", "c.bucket")
    return (
        probes.join(F.broadcast(grid), ["d", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cnt").alias("est_count"))
        .select("user_id", "est_count", "exact_count")
    )


def _cms_sql() -> str:
    def bucket(d: int, key: str) -> str:
        h = SQL_STABLE_HASH64.format(x=f"('{d}' || '|' || {key}::VARCHAR)")
        return f"CAST({h} % {CMS_WIDTH} AS INT)"

    rows = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'user_id')} AS bucket, user_id"
        " FROM events"
        for d in range(CMS_DEPTH)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, exact_count, {d} AS d,"
        f" {bucket(d, 'user_id')} AS bucket FROM cand"
        for d in range(CMS_DEPTH)
    )
    return f"""
WITH hashed AS ({rows}),
grid AS (
  SELECT d, bucket, COUNT(*) AS cnt FROM hashed GROUP BY d, bucket
),
cand AS (
  SELECT user_id, COUNT(*) AS exact_count FROM events
  WHERE user_id < {CMS_CANDIDATES} GROUP BY user_id
),
probes AS ({probe_rows})
SELECT user_id, MIN(cnt) AS est_count, ANY_VALUE(exact_count) AS exact_count
FROM probes JOIN grid USING (d, bucket)
GROUP BY user_id
"""


QUERIES = {
    "cdc_scd2_history": Query(scd2_history, _SCD2_SQL),
    "cdc_scd2_asof": Query(scd2_asof, _ASOF_SCD2_SQL),
    "cdc_snapshot_diff": Query(snapshot_diff, _DIFF_SQL),
    "sketch_cms_heavy_hitters": Query(cms_heavy_hitters, _cms_sql()),
}
