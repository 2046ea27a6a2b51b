"""Batch BI query layer — the reference's ad-hoc SQL surface (SURVEY 2.5
A4-A6, 2.3 P6-P9, 2.7 F6-F9) re-expressed on the driver's testdata star
schema.  Every query is declarative DataFrame code: Catalyst pushes the
filters into the parquet scan, prunes columns, and plans the small-dim
joins as broadcasts; aggregates are partial+final (map-side combine) and
therefore scale linearly with input, shuffling only |groups| rows.

Reference shapes:
  pricing_rollup    <- bi_payment_type_roll_up.impala:1-32   (A4: 2 grouping
                       keys, battery of SUM/AVG/MAX/COUNT aggregates)
  topk_customers    <- bi_top_ten_venders_in_trips.impala:1-36 (A5: grouped
                       subquery -> ORDER BY -> LIMIT 10; implemented
                       descending — the reference's missing DESC is a
                       recorded bug, SURVEY 8.6 — with a deterministic
                       tie-break on the key)
  time_of_day       <- bi_trip_per_time_of_day.impala:1-14    (A6: group by
                       derived dayofweek/hour keys, outer filter P7)
  point_lookup      <- bi_pull_up_vender_trip_history.impala:7-10 (P6)
  enrich_join       <- the declared-but-unimplemented dim join (J3,
                       ConnectedCarStreaming.scala:28) + broadcast-dict
                       enrichment (J2)
  dict_enrich       <- payment/rate-code Map.getOrElse lookup (J2/F9,
                       NyTaxiYellowTripStreaming.scala:24-36)

Each function takes (spark, sf_dir) and returns a DataFrame; its QUERIES
entry pairs it with bit-equivalent DuckDB SQL (see functions.scalars for
the decimal-sum determinism contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.hints import maybe_broadcast
from ..functions.scalars import (
    davg,
    dict_lookup,
    dsum,
    sql_davg,
    sql_dsum,
    sql_dsum_expr,
)
from ..registry import Query

# ---------------------------------------------------------------------------
# A4 — hash group-by rollup: 2 keys, battery of aggregates (TPC-H Q1 shape)
# ---------------------------------------------------------------------------


def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "sum_disc_price",
            ),
            dsum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                "sum_charge",
            ),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_ROLLUP_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity', 'sum_qty')},
  {sql_dsum('l_extendedprice', 'sum_base_price')},
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
  {sql_davg('l_quantity', 'avg_qty')},
  {sql_davg('l_extendedprice', 'avg_price')},
  {sql_davg('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------------
# A5 — grouped subquery -> top-k (descending + deterministic tie-break)
# ---------------------------------------------------------------------------


def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    grouped = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("order_count"),
        dsum("o_totalprice", "total_spend"),
        F.max("o_totalprice").alias("max_order_price"),
        davg("o_totalprice", "avg_order_price"),
    )
    # Catalyst plans orderBy+limit as TakeOrderedAndProject: each partition
    # keeps its local top-10, driver merges — no full sort at 100 TB.
    return grouped.orderBy(
        F.col("order_count").desc(), F.col("o_custkey").asc()
    ).limit(10)


_TOPK_CUSTOMERS_SQL = f"""
SELECT
  o_custkey,
  COUNT(*) AS order_count,
  {sql_dsum('o_totalprice', 'total_spend')},
  MAX(o_totalprice) AS max_order_price,
  {sql_davg('o_totalprice', 'avg_order_price')}
FROM orders
GROUP BY o_custkey
ORDER BY order_count DESC, o_custkey ASC
LIMIT 10
"""

# ---------------------------------------------------------------------------
# A6 + P7 — time-bucketed aggregate on derived keys, outer filter
# ---------------------------------------------------------------------------
# day_of_week convention: Spark dayofweek() is 1=Sunday..7=Saturday;
# DuckDB dayofweek() is 0=Sunday..6=Saturday, hence the +1 in the oracle.


def time_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek("ts").cast("long").alias("day_of_week"),
            F.hour("ts").cast("long").alias("hour_of_day"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            davg("value", "avg_value"),
            dsum("value", "total_value"),
        )
        .filter(F.col("day_of_week") == 3)
    )


_TIME_OF_DAY_SQL = f"""
SELECT * FROM (
  SELECT
    dayofweek(ts) + 1 AS day_of_week,
    hour(ts) AS hour_of_day,
    COUNT(*) AS event_count,
    {sql_davg('value', 'avg_value')},
    {sql_dsum('value', 'total_value')}
  FROM events
  GROUP BY 1, 2
) sub
WHERE day_of_week = 3
"""

# ---------------------------------------------------------------------------
# P6 — point lookup: full history for one business key
# ---------------------------------------------------------------------------

POINT_LOOKUP_KEY = 42


def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The key predicate is pushed into the parquet scan (PushedFilters);
    # with the serving table bucketed/partitioned on the key this is a
    # partition-pruned point read at scale.
    return load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") == POINT_LOOKUP_KEY
    )


_POINT_LOOKUP_SQL = f"""
SELECT * FROM orders WHERE o_custkey = {POINT_LOOKUP_KEY}
"""

# ---------------------------------------------------------------------------
# J2/J3 — dimension-join enrichment (broadcast at scale)
# ---------------------------------------------------------------------------


def enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    dims = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "n_name", "r_name")
    )
    # dims is |supplier| — small enough that the size estimator
    # broadcasts it at every bench scale (fact table never shuffles for
    # the join), but it GROWS with SF, so no forced hint: at 100 TB AQE
    # falls back to a shuffle join instead of OOMing the driver.
    return (
        li.join(maybe_broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("lineitem_count"),
        )
    )


_ENRICH_JOIN_SQL = f"""
SELECT
  r_name,
  n_name,
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  COUNT(*) AS lineitem_count
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

# ---------------------------------------------------------------------------
# J2/F9 — literal-map dictionary enrichment (the payment-code lookup)
# ---------------------------------------------------------------------------

EVENT_CATEGORY = {
    "click": "engagement",
    "view": "engagement",
    "purchase": "conversion",
    "signup": "conversion",
}
EVENT_CATEGORY_DEFAULT = "other"


def dict_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "category",
            dict_lookup("event_type", EVENT_CATEGORY, EVENT_CATEGORY_DEFAULT),
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            dsum("value", "total_value"),
        )
    )


_DICT_ENRICH_SQL = f"""
SELECT
  CASE
    WHEN event_type IN ('click', 'view') THEN 'engagement'
    WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
    ELSE 'other'
  END AS category,
  COUNT(*) AS event_count,
  {sql_dsum('value', 'total_value')}
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# S5 — first-N sampler (extra/ReadFirstNFromCsvFile.scala:10-30 analog):
# deterministic "head" of the stream by event time + id tie-break
# ---------------------------------------------------------------------------

FIRST_N = 100


def first_n_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # TakeOrderedAndProject: per-partition top-N, no global sort
    return ev.orderBy(F.col("ts").asc(), F.col("event_id").asc()).limit(
        FIRST_N
    )


_FIRST_N_SQL = f"""
SELECT * FROM events ORDER BY ts ASC, event_id ASC LIMIT {FIRST_N}
"""


# ---------------------------------------------------------------------------
# exact percentiles — beyond-reference analytics (reference has no
# quantiles); Spark percentile() and DuckDB quantile_cont both use
# linear interpolation on the sorted values, so results are bit-exact
# ---------------------------------------------------------------------------


def order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_PERCENTILES_SQL = """
SELECT o_orderstatus,
  quantile_cont(o_totalprice, 0.5) AS p50_price,
  quantile_cont(o_totalprice, 0.9) AS p90_price,
  quantile_cont(o_totalprice, 0.99) AS p99_price,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""

# ---------------------------------------------------------------------------
# search-index term query — the Solr serving role (K3) as SQL: term
# frequency scoring over the documents table
# ---------------------------------------------------------------------------

SEARCH_TERM = "spark"


def index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    tf = F.size(F.filter(toks, lambda t: F.lower(t) == SEARCH_TERM))
    n = F.size(toks)
    return (
        docs.select(
            "doc_id",
            tf.cast("long").alias("term_freq"),
            n.cast("long").alias("n_tokens"),
            (tf.cast("double") / n.cast("double")).alias("score"),
        )
        .filter(F.col("term_freq") > 0)
    )


_INDEX_SEARCH_SQL = f"""
WITH d AS (
  SELECT doc_id,
    regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
  len(list_filter(toks, t -> lower(t) = '{SEARCH_TERM}'))::BIGINT AS term_freq,
  len(toks)::BIGINT AS n_tokens,
  len(list_filter(toks, t -> lower(t) = '{SEARCH_TERM}'))::DOUBLE
    / len(toks)::DOUBLE AS score
FROM d
WHERE len(list_filter(toks, t -> lower(t) = '{SEARCH_TERM}')) > 0
"""


# ---------------------------------------------------------------------------
# distinct aggregates — beyond-reference (SURVEY 2.5: "no distinct
# aggregates exist in the reference"); exact COUNT(DISTINCT) both engines
# ---------------------------------------------------------------------------


def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.count(F.lit(1)).alias("event_count"),
        dsum("value", "total_value"),
    )


_DISTINCT_SQL = f"""
SELECT event_type,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
  COUNT(*) AS event_count,
  {sql_dsum('value', 'total_value')}
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# hierarchical ROLLUP — multi-level totals (flag x status, per-flag,
# grand total) in ONE pass via Catalyst's Expand: each input row fans
# into its grouping sets map-side, partial aggregation still applies,
# so the cost is one scan + one shuffle regardless of how many levels
# roll up.  grp_id (grouping_id bitmask) disambiguates NULL group keys
# from real NULLs cross-engine.
# ---------------------------------------------------------------------------


def pricing_rollup_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("grp_id"),
            dsum("l_quantity", "sum_qty"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "sum_disc_price",
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("grp_id").cast("long").alias("grp_id"),
            "sum_qty",
            "sum_disc_price",
            "count_order",
        )
    )


_PRICING_ROLLUP_LEVELS_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  GROUPING(l_returnflag, l_linestatus)::BIGINT AS grp_id,
  {sql_dsum('l_quantity', 'sum_qty')},
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# CUBE twin of the rollup: ALL 2^k grouping-set combinations (the
# cross-tab a BI tool pivots freely), same one-scan Expand shape —
# rollup covers the prefix hierarchy, cube the full lattice.


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("long").alias("ship_year"),
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
    )
    return (
        li.cube("ship_year", "l_returnflag")
        .agg(
            F.grouping_id().alias("grp_id"),
            F.count(F.lit(1)).alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
            ),
        )
        .select(
            "ship_year",
            "l_returnflag",
            F.col("grp_id").cast("long").alias("grp_id"),
            "n_items",
            "revenue",
        )
    )


_REVENUE_CUBE_SQL = f"""
SELECT
  ship_year,
  l_returnflag,
  GROUPING(ship_year, l_returnflag)::BIGINT AS grp_id,
  COUNT(*) AS n_items,
  {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM (
  SELECT year(l_shipdate)::BIGINT AS ship_year, l_returnflag,
    l_extendedprice, l_discount
  FROM lineitem
)
GROUP BY CUBE (ship_year, l_returnflag)
"""


# ---------------------------------------------------------------------------
# Pareto / revenue-concentration analysis
# ---------------------------------------------------------------------------
#
# "What share of customers produces 50/80/90% of revenue" — the
# concentration question every BI deck asks.  Exactness: per-customer
# revenue is the quantized BIGINT sum (functions.scalars contract), the
# cumulative sums stay integral, and each threshold test is the integer
# cross-multiplication 100*cum_rev >= t*total — no float compare
# anywhere; only the two reported ratios divide, once, at the end.
#
# Scale shape: customers rank by revenue DESC via the same two-level
# prefix sum as ml_auc — revenue range splits into 1000 coarse buckets
# (floor on per-row IEEE math so both engines bucket identically),
# per-bucket totals make a metadata-scale frame whose cumulative
# offsets broadcast back, and the fine cumulative window runs
# PARTITIONED by bucket.  No global-order window touches the
# per-customer frame.

PARETO_THRESHOLDS = (50, 80, 90)
PARETO_BUCKETS = 1000


def pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(threshold_pct, n_customers, pct_customers, cum_share): the
    smallest top-revenue customer count whose cumulative revenue
    reaches each threshold."""
    from ..functions.scalars import quantize

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(quantize(F.col("o_totalprice"))).cast("long").alias("rev_q")
    )
    stats = rev.agg(
        F.min("rev_q").alias("lo"),
        F.max("rev_q").alias("hi"),
        F.sum("rev_q").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_cust"),
    )
    nb = float(PARETO_BUCKETS)
    width = (F.col("hi") - F.col("lo")).cast("double") / F.lit(nb)
    bucketed = rev.join(F.broadcast(stats)).withColumn(
        "b",
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long")).otherwise(
            F.least(
                F.floor(
                    (F.col("hi") - F.col("rev_q")).cast("double") / width
                ),
                F.lit(PARETO_BUCKETS - 1).cast("long"),
            )
        ),
    )
    bt = bucketed.groupBy("b").agg(
        F.sum("rev_q").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    off = bt.select(
        "b",
        F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("long").alias("orev"),
        F.coalesce(F.sum("n").over(wb), F.lit(0)).cast("long").alias("ocnt"),
    )
    wl = (
        Window.partitionBy("b")
        .orderBy(F.col("rev_q").desc(), F.col("o_custkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        bucketed.join(F.broadcast(off), "b")
        .withColumn("cum_rev", F.col("orev") + F.sum("rev_q").over(wl))
        .withColumn(
            "rnk", F.col("ocnt") + F.row_number().over(
                Window.partitionBy("b").orderBy(
                    F.col("rev_q").desc(), F.col("o_custkey").asc()
                )
            )
        )
    )
    thr = F.explode(
        F.array(*[F.lit(t) for t in PARETO_THRESHOLDS])
    ).alias("threshold_pct")
    hits = ranked.select("cum_rev", "rnk", "tot", "n_cust", thr).filter(
        100 * F.col("cum_rev") >= F.col("threshold_pct") * F.col("tot")
    )
    return (
        hits.groupBy("threshold_pct")
        .agg(
            F.min("rnk").cast("long").alias("n_customers"),
            F.min_by("cum_rev", "rnk").cast("long").alias("cum_rev_at"),
            F.first("tot").alias("tot"),
            F.first("n_cust").alias("n_cust"),
        )
        .select(
            F.col("threshold_pct").cast("long").alias("threshold_pct"),
            "n_customers",
            (F.col("n_customers").cast("double")
             / F.col("n_cust").cast("double")).alias("pct_customers"),
            (F.col("cum_rev_at").cast("double")
             / F.col("tot").cast("double")).alias("cum_share"),
        )
    )


_PARETO_SQL = f"""
WITH rev AS (
  SELECT o_custkey,
    CAST(SUM(CAST(FLOOR(o_totalprice * 10000.0 + 0.5) AS BIGINT))
         AS BIGINT) AS rev_q
  FROM orders GROUP BY o_custkey
),
stats AS (
  SELECT MIN(rev_q) AS lo, MAX(rev_q) AS hi,
    CAST(SUM(rev_q) AS BIGINT) AS tot, COUNT(*)::BIGINT AS n_cust
  FROM rev
),
bucketed AS (
  SELECT rev.*, stats.*,
    CASE WHEN hi = lo THEN 0
         ELSE LEAST(FLOOR((hi - rev_q)::DOUBLE
                    / ((hi - lo)::DOUBLE / {float(PARETO_BUCKETS)!r})),
                    {PARETO_BUCKETS - 1})
    END::BIGINT AS b
  FROM rev CROSS JOIN stats
),
off AS (
  SELECT b,
    COALESCE(SUM(t) OVER (ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS orev,
    COALESCE(SUM(n) OVER (ORDER BY b
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS ocnt
  FROM (SELECT b, SUM(rev_q) AS t, COUNT(*) AS n FROM bucketed GROUP BY b)
),
ranked AS (
  SELECT bucketed.*, orev + SUM(rev_q) OVER (
      PARTITION BY bucketed.b ORDER BY rev_q DESC, o_custkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
    ocnt + ROW_NUMBER() OVER (
      PARTITION BY bucketed.b ORDER BY rev_q DESC, o_custkey ASC) AS rnk
  FROM bucketed JOIN off ON bucketed.b = off.b
),
hits AS (
  SELECT threshold_pct, cum_rev, rnk, tot, n_cust
  FROM ranked, (SELECT unnest([{", ".join(str(t) for t in PARETO_THRESHOLDS)}])
                AS threshold_pct)
  WHERE 100 * cum_rev >= threshold_pct * tot
)
SELECT threshold_pct::BIGINT AS threshold_pct,
  MIN(rnk)::BIGINT AS n_customers,
  MIN(rnk)::DOUBLE / ANY_VALUE(n_cust)::DOUBLE AS pct_customers,
  MIN_BY(cum_rev, rnk)::DOUBLE / ANY_VALUE(tot)::DOUBLE AS cum_share
FROM hits GROUP BY threshold_pct
"""


# ---------------------------------------------------------------------------
# shipping-priority (TPC-H Q3 shape): the canonical 3-way join
# ---------------------------------------------------------------------------
#
# customer ⋈ orders ⋈ lineitem with segment/date filters and a top-10
# revenue ranking — the join-ordering benchmark query.  The plan we
# want (and assert in tests): both date filters PUSHED into the
# parquet scans, the filtered customer dim joined unhinted (AQE/size
# stats broadcast it at bench scale; it scales with SF so no forced
# hint — see plans/hints.py), and
# the orders->lineitem join left as shuffle (both sides big; at 100 TB
# they bucket on the order key and the exchange disappears — the
# test_bucketed_join_shuffles_neither_side recipe).  Revenue uses the
# quantized-sum contract; ranking is TakeOrdered.

SHIP_SEGMENT = "BUILDING"
SHIP_PIVOT = "1998-06-01"
SHIP_TOPK = 10


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped-revenue orders for one market segment:
    (o_orderkey, revenue, o_orderdate_us, o_orderpriority)."""
    from ..functions.scalars import quantize

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == SHIP_SEGMENT)
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < SHIP_PIVOT
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > SHIP_PIVOT
    )
    rev = quantize(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    )
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(maybe_broadcast(cust), orders.o_custkey == cust.c_custkey)
    keys_sql = [
        F.col("revenue").desc(), F.col("o_orderkey").asc(),
    ]
    return (
        joined.groupBy(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        )
        .agg(
            (F.sum(rev).cast("double") / F.lit(10000.0)).alias("revenue")
        )
        .orderBy(*keys_sql)
        .limit(SHIP_TOPK)
        .select(
            "o_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate")).alias("o_orderdate_us"),
            "o_orderpriority",
        )
    )


_SHIP_SQL = f"""
SELECT o_orderkey,
  CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount)) * 10000.0
                      + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
  epoch_us(o_orderdate) AS o_orderdate_us,
  o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = '{SHIP_SEGMENT}'
  AND o_orderdate < '{SHIP_PIVOT}'
  AND l_shipdate > '{SHIP_PIVOT}'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT {SHIP_TOPK}
"""


# ---------------------------------------------------------------------------
# semi-join and anti-join shapes (TPC-H Q4 / Q22 analogs)
# ---------------------------------------------------------------------------
#
# The two join shapes the surface didn't yet exercise as queries:
# EXISTS (LeftSemi — dedup-free, never multiplies rows) and NOT EXISTS
# (LeftAnti).  Both plan as hash joins on the key — at 100 TB they
# bucket on the order/customer key like any equi-join, and Spark's
# semi/anti variants stop probing on first match instead of
# materializing the pairs.


def priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog: orders per priority that have AT LEAST ONE
    returned lineitem — (o_orderpriority, n_orders).  EXISTS, not
    join+distinct: the semi-join can't double-count an order with
    several returned lines."""
    orders = load_table(spark, sf_dir, "orders")
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


_SEMI_SQL = """
SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
)
GROUP BY o_orderpriority
"""


IDLE_SINCE = "2000-01-01"


def idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analog (churn shape): well-funded customers with NO
    recent orders — per market segment, the count and quantized total
    balance of customers above the global average balance whose last
    order predates IDLE_SINCE (anti-join against the date-filtered
    orders; the filter pushes into the scan so the anti side shrinks
    before the join).  The average is one broadcast scalar."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = cust.agg(
        dsum("c_acctbal", "s"), F.count(F.lit(1)).alias("n")
    ).select((F.col("s") / F.col("n")).alias("avg_bal"))
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= IDLE_SINCE
    ).select("o_custkey")
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return (
        rich.join(
            recent, rich.c_custkey == recent.o_custkey, "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_idle"),
            dsum("c_acctbal", "total_balance"),
        )
    )


_ANTI_SQL = f"""
WITH a AS (
  SELECT {sql_dsum_expr("c_acctbal")} / COUNT(*) AS avg_bal
  FROM customer
)
SELECT c_mktsegment, COUNT(*)::BIGINT AS n_idle,
  {sql_dsum("c_acctbal", "total_balance")}
FROM customer CROSS JOIN a
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= '{IDLE_SINCE}'
  )
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# market-share (TPC-H Q8 shape): conditional share within a multi-dim join
# ---------------------------------------------------------------------------
#
# "What fraction of PROMO-part revenue sold to ASIA customers came from
# suppliers in NATION_7, per order year" — the nested-aggregate ratio
# query.  Plan shape (the point of Q8): every dimension path collapses
# to a broadcast — part filtered to one type, customer⋈nation⋈region
# filtered to one region, supplier⋈nation projected to a flag — so the
# only big exchange is lineitem⋈orders on the order key (bucketable at
# warehouse scale).  The share is a conditional quantized sum over the
# same groups as the total: one aggregate, no second pass, and the
# division happens once per year row.

SHARE_PART_TYPE = "PROMO"
SHARE_MKT_REGION = "ASIA"
SHARE_SUPP_NATION = "NATION_7"


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_year, target_rev, total_rev, mkt_share) — NATION_7 suppliers'
    share of PROMO revenue from ASIA customers per year."""
    from ..functions.scalars import quantize

    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == SHARE_PART_TYPE
    ).select("p_partkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == SHARE_MKT_REGION
    )
    mkt_cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name").alias("sn")),
            F.col("s_nationkey") == F.col("sn.n_nationkey"),
        )
        .select(
            "s_suppkey",
            (F.col("sn.n_name") == SHARE_SUPP_NATION).alias("is_target"),
        )
    )
    orders = load_table(spark, sf_dir, "orders").join(
        maybe_broadcast(mkt_cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    li = load_table(spark, sf_dir, "lineitem")
    rev_q = quantize(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    )
    joined = (
        li.join(maybe_broadcast(part), li.l_partkey == part.p_partkey)
        .join(maybe_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("is_target"), rev_q).otherwise(F.lit(0)))
            .cast("long").alias("target_q"),
            F.sum(rev_q).cast("long").alias("total_q"),
        )
        .select(
            "o_year",
            (F.col("target_q").cast("double") / F.lit(10000.0))
            .alias("target_rev"),
            (F.col("total_q").cast("double") / F.lit(10000.0))
            .alias("total_rev"),
            (F.col("target_q").cast("double")
             / F.col("total_q").cast("double")).alias("mkt_share"),
        )
    )


_MARKET_SHARE_SQL = f"""
WITH j AS (
  SELECT year(o_orderdate)::BIGINT AS o_year,
    CAST(FLOOR((l_extendedprice * (1.0 - l_discount)) * 10000.0 + 0.5)
         AS BIGINT) AS rev_q,
    (sn.n_name = '{SHARE_SUPP_NATION}') AS is_target
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  WHERE p_type = '{SHARE_PART_TYPE}' AND r_name = '{SHARE_MKT_REGION}'
)
SELECT o_year,
  CAST(SUM(CASE WHEN is_target THEN rev_q ELSE 0 END) AS DOUBLE) / 10000.0
    AS target_rev,
  CAST(SUM(rev_q) AS DOUBLE) / 10000.0 AS total_rev,
  CAST(SUM(CASE WHEN is_target THEN rev_q ELSE 0 END) AS DOUBLE)
    / CAST(SUM(rev_q) AS DOUBLE) AS mkt_share
FROM j GROUP BY o_year
"""


# ---------------------------------------------------------------------------
# top-supplier (TPC-H Q15 shape): argmax-of-aggregate with exact ties
# ---------------------------------------------------------------------------
#
# Highest-revenue supplier(s) for one quarter.  The classic formulation
# is a view + `WHERE total = (SELECT MAX(total) FROM view)`; here the
# per-supplier revenue aggregates once, the max reduces to ONE broadcast
# row, and the equality filter runs map-side — no second scan, no sort.
# Ties are exact because revenue stays a quantized BIGINT until the
# final projection (float argmax ties are undecidable cross-engine;
# integer ones aren't).

TOP_SUPP_START = "1996-01-01"
TOP_SUPP_END = "1996-04-01"


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_suppkey, s_name, total_revenue) — supplier(s) achieving the
    max quarterly revenue (all of them, on exact-integer ties)."""
    from ..functions.scalars import quantize

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= TOP_SUPP_START)
        & (F.col("l_shipdate") < TOP_SUPP_END)
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            quantize(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        ).cast("long").alias("rev_q")
    )
    best = rev.agg(F.max("rev_q").alias("best_q"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(best))
        .filter(F.col("rev_q") == F.col("best_q"))
        .join(maybe_broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            (F.col("rev_q").cast("double") / F.lit(10000.0))
            .alias("total_revenue"),
        )
    )


_TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(FLOOR((l_extendedprice * (1.0 - l_discount)) * 10000.0
                        + 0.5) AS BIGINT)) AS BIGINT) AS rev_q
  FROM lineitem
  WHERE l_shipdate >= '{TOP_SUPP_START}' AND l_shipdate < '{TOP_SUPP_END}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_q AS DOUBLE) / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_q = (SELECT MAX(rev_q) FROM rev)
"""


# ---------------------------------------------------------------------------
# pivot / crosstab — wide conditional aggregation
# ---------------------------------------------------------------------------
#
# Order count and quantized revenue per priority, pivoted to one column
# pair per order status — the crosstab shape every BI tool exports.
# `.pivot()` with an EXPLICIT value list: Catalyst then plans a single
# aggregate with |values|x|aggs| conditional branches (one scan, one
# shuffle of |priorities| rows) instead of a values-discovery job plus
# the pivot — and the output schema is fixed, which is what makes the
# query safe to ship at 100 TB (no surprise-wide rows from a dirty
# status column).

PIVOT_STATUSES = ("F", "O", "P")


def status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, n_f, rev_f, n_o, rev_o, n_p, rev_p)."""
    from ..functions.scalars import quantize

    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(PIVOT_STATUSES))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(quantize(F.col("o_totalprice"))).cast("double")
             / F.lit(10000.0)).alias("rev"),
        )
    )
    return wide.select(
        "o_orderpriority",
        *[
            c
            for s in PIVOT_STATUSES
            for c in (
                F.col(f"{s}_n").alias(f"n_{s.lower()}"),
                F.col(f"{s}_rev").alias(f"rev_{s.lower()}"),
            )
        ],
    )


_STATUS_PIVOT_SQL = "SELECT o_orderpriority, " + ", ".join(
    f"COUNT(*) FILTER (o_orderstatus = '{s}')::BIGINT AS n_{s.lower()}, "
    f"CAST(SUM(CAST(FLOOR(o_totalprice * 10000.0 + 0.5) AS BIGINT))"
    f" FILTER (o_orderstatus = '{s}') AS DOUBLE) / 10000.0 AS rev_{s.lower()}"
    for s in PIVOT_STATUSES
) + " FROM orders GROUP BY o_orderpriority"


# ---------------------------------------------------------------------------
# UNPIVOT (wide -> long) — the inverse of bi_status_pivot
# ---------------------------------------------------------------------------
#
# Relational completeness: melt a wide per-group metric battery into
# (group, metric, value) rows — the shape BI tools and metric stores
# ingest.  Spark plans stack() as a row-local Expand (no shuffle
# beyond the aggregate that built the wide frame); |groups| x
# |metrics| output rows.


def metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_price"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).cast("double").alias("n_items"),
    )
    return (
        wide.select(
            "l_returnflag",
            F.expr(
                "stack(4, 'sum_qty', sum_qty, 'sum_price', sum_price,"
                " 'avg_disc', avg_disc, 'n_items', n_items)"
                " AS (metric, value)"
            ),
        )
        .orderBy("l_returnflag", "metric")
    )


_UNPIVOT_SQL = f"""
WITH wide AS (
  SELECT l_returnflag,
    {sql_dsum('l_quantity', 'sum_qty')},
    {sql_dsum('l_extendedprice', 'sum_price')},
    {sql_davg('l_discount', 'avg_disc')},
    COUNT(*)::DOUBLE AS n_items
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, metric, value FROM (
  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
  UNION ALL
  SELECT l_returnflag, 'sum_price', sum_price FROM wide
  UNION ALL
  SELECT l_returnflag, 'avg_disc', avg_disc FROM wide
  UNION ALL
  SELECT l_returnflag, 'n_items', n_items FROM wide
)
ORDER BY l_returnflag, metric
"""


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary terciles)
# ---------------------------------------------------------------------------
#
# The classic CRM segmentation, built scale-correct: per-customer
# R/F/M facts from one aggregate, tercile boundaries from ONE
# percentile aggregate (broadcast back — never a global NTILE, the
# quantile_bins precedent), scores from row-local boundary
# comparisons, then a |segments|-row rollup.  Recency is integer
# epoch-micros (engine-exact); the percentile<->quantile_cont bridge
# covers F and M.  Scoring convention: score k = 1 + #boundaries at
# or below the value; recency scores on (max_date - last_order), so
# LOW r_score = recent.

RFM_Q = [1 / 3, 2 / 3]


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.unix_micros("o_orderdate")).alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        dsum("o_totalprice", "monetary"),
    )
    anchor = orders.agg(
        F.max(F.unix_micros("o_orderdate")).alias("now_us")
    )
    facts = per_cust.join(F.broadcast(anchor)).withColumn(
        "rec_us", F.col("now_us") - F.col("last_us")
    )
    qlist = ", ".join(map(str, RFM_Q))
    # boundaries round to 6 dp BEFORE scoring: with dense integer
    # distributions the tercile interpolates between EQUAL order stats,
    # and Spark's (1-h)*a + h*b returns N +/- 1 ulp where DuckDB's
    # a + h*(b-a) returns exactly N — the >= gate then flips for every
    # customer sitting on the boundary (caught by the r4 sf1 oracle
    # sweep: 10 customers flipped an f_score at 10x rows).  Rounding
    # collapses both engines' ulp-noise to the same value.
    bounds = facts.agg(
        F.expr(
            f"transform(percentile(rec_us, array({qlist})),"
            " x -> round(x, 6))"
        ).alias("rb"),
        F.expr(
            f"transform(percentile(freq, array({qlist})),"
            " x -> round(x, 6))"
        ).alias("fb"),
        F.expr(
            f"transform(percentile(monetary, array({qlist})),"
            " x -> round(x, 6))"
        ).alias("mb"),
    )

    def score(col, bs):
        return F.lit(1) + F.aggregate(
            F.col(bs),
            F.lit(0),
            lambda acc, b: acc + (F.col(col) >= b).cast("int"),
        )

    scored = facts.join(F.broadcast(bounds)).select(
        "monetary",
        score("rec_us", "rb").cast("long").alias("r_score"),
        score("freq", "fb").cast("long").alias("f_score"),
        score("monetary", "mb").cast("long").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            dsum("monetary", "segment_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def _rfm_sql() -> str:
    qlist = ", ".join(map(str, RFM_Q))
    return f"""
WITH per_cust AS (
  SELECT o_custkey,
    MAX(epoch_us(o_orderdate)) AS last_us,
    COUNT(*)::BIGINT AS freq,
    {sql_dsum('o_totalprice', 'monetary')}
  FROM orders GROUP BY o_custkey
),
anchor AS (SELECT MAX(epoch_us(o_orderdate)) AS now_us FROM orders),
facts AS (
  SELECT *, now_us - last_us AS rec_us FROM per_cust CROSS JOIN anchor
),
bounds AS (
  SELECT list_transform(quantile_cont(rec_us, [{qlist}]),
                        x -> round(x, 6)) AS rb,
         list_transform(quantile_cont(freq, [{qlist}]),
                        x -> round(x, 6)) AS fb,
         list_transform(quantile_cont(monetary, [{qlist}]),
                        x -> round(x, 6)) AS mb
  FROM facts
),
scored AS (
  SELECT monetary,
    (1 + CASE WHEN rec_us >= rb[1] THEN 1 ELSE 0 END
       + CASE WHEN rec_us >= rb[2] THEN 1 ELSE 0 END)::BIGINT AS r_score,
    (1 + CASE WHEN freq >= fb[1] THEN 1 ELSE 0 END
       + CASE WHEN freq >= fb[2] THEN 1 ELSE 0 END)::BIGINT AS f_score,
    (1 + CASE WHEN monetary >= mb[1] THEN 1 ELSE 0 END
       + CASE WHEN monetary >= mb[2] THEN 1 ELSE 0 END)::BIGINT AS m_score
  FROM facts CROSS JOIN bounds
)
SELECT r_score, f_score, m_score,
  COUNT(*)::BIGINT AS n_customers,
  {sql_dsum('monetary', 'segment_revenue')}
FROM scored
GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


# ---------------------------------------------------------------------------
# year-over-year growth (time-shifted self-comparison on the AGGREGATE)
# ---------------------------------------------------------------------------
#
# Monthly revenue joined to itself shifted 12 months.  The shift is an
# equi-join on the shifted month key computed AFTER aggregation — the
# fact table is touched once, and the self-join operates on |months|
# rows (metadata scale at any corpus size).  A lag-12 window would be
# wrong under gap months; the key join is gap-safe.


def yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    monthly = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        F.trunc("l_shipdate", "month").alias("m0"),
    ).agg(
        dsum(rev, "revenue"), F.count(F.lit(1)).cast("long").alias("n_items")
    )
    prev = monthly.select(
        F.date_format(F.add_months("m0", 12), "yyyy-MM").alias("p_month"),
        F.col("revenue").alias("prev_revenue"),
    )
    return (
        monthly.join(prev, monthly.ship_month == prev.p_month, "left")
        .select(
            "ship_month",
            "n_items",
            "revenue",
            "prev_revenue",
            F.round(
                F.col("revenue") / F.col("prev_revenue") - 1.0, 6
            ).alias("yoy_growth"),
        )
        .orderBy("ship_month")
    )


_YOY_SQL = f"""
WITH monthly AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
    date_trunc('month', l_shipdate) AS m0,
    {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
    COUNT(*)::BIGINT AS n_items
  FROM lineitem
  GROUP BY ship_month, m0
),
prev AS (
  SELECT strftime(m0 + INTERVAL 12 MONTH, '%Y-%m') AS p_month,
    revenue AS prev_revenue
  FROM monthly
)
SELECT ship_month, n_items, revenue, prev_revenue,
  ROUND(revenue / prev_revenue - 1.0, 6) AS yoy_growth
FROM monthly LEFT JOIN prev ON ship_month = p_month
ORDER BY ship_month
"""


# ---------------------------------------------------------------------------
# Gini concentration of customer revenue per nation
# ---------------------------------------------------------------------------
#
# The inequality coefficient bi_pareto_share's top-20% view summarizes
# into one number: per nation, the Gini of per-customer revenue,
#   G = (2*Σ i·x_(i) - (n+1)*Σx) / (n*Σx),   x sorted ascending,
# with deterministic (revenue, custkey) tie-break ranks.  Exact end to
# end: x = revenue cents (BIGINT), Σ i·x in DECIMAL(38,0)/HUGEINT
# (i·x ≤ n·maxrev — exact far past BIGINT grain), one float division
# at the end.  Shape (r8 rewrite — VERDICT r7 finding #1: 25 nations
# meant each rank window partition held 4% of ALL customers in one
# task): per-customer rollup (map-side combinable), then the ml_auc
# two-level ranking — customers bucket by coarse revenue band,
# per-(nation, band) counts make a metadata-scale frame whose
# cumulative offsets broadcast back, and the row_number window runs
# partitioned by (nation, band).  i = offset + in-band row_number is
# the identical exact rank.  Customers with zero orders don't appear
# (revenue Gini of ACTIVE customers; document, don't silently impute).

GINI_BUCKET_W = 1 << 22  # ~4.2M-cent revenue bands; per-customer
#                          revenue is SF-invariant (~10 orders/customer)


def gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_name, n_customers, gini) — Gini coefficient of per-customer
    order revenue inside each nation."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    rev = orders.groupBy("o_custkey").agg(
        F.sum("cents").cast("long").alias("x")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    # NOTE r13: the two plan arms below (bt, ranked) repeat this
    # subplan, but AQE's runtime stage reuse already shares the shuffle
    # — an explicit .cache() here measured 3x SLOWER cold (4.3 s vs
    # 1.3 s) by adding a materialization barrier.  Leave it to AQE.
    r = rev.join(cust, rev.o_custkey == cust.c_custkey).select(
        "c_nationkey",
        "o_custkey",
        "x",
        F.floor(F.col("x") / F.lit(GINI_BUCKET_W)).cast("long").alias("b"),
    )
    bt = r.groupBy("c_nationkey", "b").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    wb = (
        Window.partitionBy("c_nationkey")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # (nation, band) grain — metadata-scale
    off = bt.withColumn(
        "o", F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("long")
    ).select("c_nationkey", "b", "o")
    wl = Window.partitionBy("c_nationkey", "b").orderBy(
        F.col("x").asc(), F.col("o_custkey").asc()
    )
    ranked = (
        r.join(F.broadcast(off), ["c_nationkey", "b"])
        .withColumn(
            "i",
            (F.col("o") + F.row_number().over(wl)).cast("decimal(19,0)"),
        )
    )
    g = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("i") * F.col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("six"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sixd = F.col("six").cast("double")
    gini = (2.0 * sixd - (nd + 1.0) * sxd) / (nd * sxd)
    return (
        g.join(F.broadcast(nat), g.c_nationkey == nat.n_nationkey)
        .select(
            "n_name",
            F.col("n").alias("n_customers"),
            F.round(gini, 6).alias("gini"),
        )
        .orderBy("n_name")
    )


_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT c_nationkey, o_custkey, x,
    ROW_NUMBER() OVER (PARTITION BY c_nationkey
                       ORDER BY x ASC, o_custkey ASC)::HUGEINT AS i
  FROM rev JOIN customer ON rev.o_custkey = customer.c_custkey
),
g AS (
  SELECT c_nationkey, COUNT(*)::BIGINT AS n,
    SUM(x::HUGEINT) AS sx, SUM(i * x::HUGEINT) AS six
  FROM ranked GROUP BY c_nationkey
)
SELECT n_name, n AS n_customers,
  ROUND((2.0 * six::DOUBLE - (n::DOUBLE + 1.0) * sx::DOUBLE)
        / (n::DOUBLE * sx::DOUBLE), 6) AS gini
FROM g JOIN nation ON g.c_nationkey = nation.n_nationkey
ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# new-vs-returning revenue split
# ---------------------------------------------------------------------------
#
# The growth-accounting staple: per order year, how much revenue came
# from customers placing their FIRST order that year vs returning
# ones?  First-occurrence bucketing again (each customer's min order
# year — no windowed distinct state), then one keyed aggregate; all
# counts and cents exact.


def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(order_year, customer_kind, n_orders, revenue_cents) with
    customer_kind in ('new', 'returning')."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    first = orders.groupBy("o_custkey").agg(
        F.min("yr").cast("long").alias("first_yr")
    )
    j = orders.join(first, "o_custkey")
    kind = F.when(F.col("yr") == F.col("first_yr"), F.lit("new")).otherwise(
        F.lit("returning")
    )
    return (
        j.groupBy(F.col("yr").alias("order_year"), kind.alias("customer_kind"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("order_year", "customer_kind")
    )


_NEW_RET_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders
),
first AS (
  SELECT o_custkey, CAST(MIN(yr) AS BIGINT) AS first_yr FROM o GROUP BY 1
)
SELECT yr AS order_year,
  CASE WHEN yr = first_yr THEN 'new' ELSE 'returning' END
    AS customer_kind,
  COUNT(*)::BIGINT AS n_orders,
  CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM o JOIN first USING (o_custkey)
GROUP BY 1, 2
ORDER BY order_year, customer_kind
"""


# ---------------------------------------------------------------------------
# ABC analysis — cumulative-share inventory classes
# ---------------------------------------------------------------------------
#
# The classic Pareto classification planners run on every catalog:
# rank parts by revenue descending, class A = parts covering the first
# 80% of cumulative revenue, B = to 95%, C = the tail.  Class
# boundaries are exact-integer predicates — cum·100 <= total·80 — so
# no float ever decides membership.  Shape (r8 rewrite — VERDICT r7
# finding #1: the old EMPTY-partition-spec cumulative window serialized
# every part through one task): part-grain rollup (map-side
# combinable), then the ml_auc two-level prefix sum — parts bucket by
# coarse revenue band, per-bucket revenue totals make a metadata-scale
# frame whose cumulative offsets broadcast back, and the fine
# cumulative window runs PARTITIONED by bucket.  cum = bucket offset +
# in-bucket prefix is the identical exact integer.

ABC_BUCKET_W = 1 << 21  # ~2.1M-cent revenue bands; per-part revenue is
#                         SF-invariant (~30 lines/part), so band count
#                         stays O(100) at every scale


def abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(abc_class, n_parts, revenue_cents, revenue_share) — Pareto
    classes over per-part revenue."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # two plan arms below (bt, ranked) repeat this aggregate; AQE's
    # runtime stage reuse shares the shuffle (an explicit .cache()
    # measured no better cold and worse under memory pressure — same
    # finding as bi_gini_revenue)
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum("cents").cast("long").alias("x"))
        .withColumn(
            "b", F.floor(F.col("x") / F.lit(ABC_BUCKET_W)).cast("long")
        )
    )
    bt = per_part.groupBy("b").agg(F.sum("x").alias("tb"))
    wb = (
        Window.orderBy(F.col("b").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # revenue-band grain (~100 rows) — metadata-scale global window
    wt = Window.orderBy(F.col("b").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off = bt.select(
        "b",
        F.coalesce(F.sum("tb").over(wb), F.lit(0)).cast("long").alias("o"),
        # grand total Σx folded into the same metadata-scale sort: the
        # exact long sum over every bucket equals the per-part total
        F.sum("tb").over(wt).cast("long").alias("t"),
    )
    wl = (
        Window.partitionBy("b")
        .orderBy(F.col("x").desc(), F.col("l_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = (
        per_part.join(F.broadcast(off), "b")
        .withColumn("cum", (F.col("o") + F.sum("x").over(wl)).cast("long"))
    )
    cls = (
        F.when(F.col("cum") * 100 <= F.col("t") * 80, F.lit("A"))
        .when(F.col("cum") * 100 <= F.col("t") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    g = ranked.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("x").cast("long").alias("revenue_cents"),
        F.max("t").alias("t"),
    )
    return g.select(
        "abc_class",
        "n_parts",
        "revenue_cents",
        F.round(
            F.col("revenue_cents").cast("double") / F.col("t").cast("double"),
            6,
        ).alias("revenue_share"),
    ).orderBy("abc_class")


_ABC_SQL = """
WITH per_part AS (
  SELECT l_partkey,
    CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS x
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(SUM(x) AS BIGINT) AS t FROM per_part),
ranked AS (
  SELECT x, t,
    CAST(SUM(x) OVER (ORDER BY x DESC, l_partkey ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum
  FROM per_part CROSS JOIN tot
),
classed AS (
  SELECT CASE WHEN cum * 100 <= t * 80 THEN 'A'
              WHEN cum * 100 <= t * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
    x, t
  FROM ranked
)
SELECT abc_class, COUNT(*)::BIGINT AS n_parts,
  CAST(SUM(x) AS BIGINT) AS revenue_cents,
  ROUND(CAST(SUM(x) AS BIGINT)::DOUBLE / MAX(t)::DOUBLE, 6)
    AS revenue_share
FROM classed GROUP BY abc_class
ORDER BY abc_class
"""


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman index — supplier concentration per nation
# ---------------------------------------------------------------------------
#
# HHI = 10000 · Σ_s share_s² per supplier nation, the antitrust-grade
# concentration number (< 1500 competitive, > 2500 concentrated) that
# complements bi_gini_revenue's customer-side view.  The share squares
# never materialize: HHI = 10000 · Σx² / (Σx)² from two exact sums —
# x in cents (BIGINT), x² in DECIMAL(38,0)/HUGEINT (x² overflows
# BIGINT past ~$30B/supplier), one float division at the end.  Shape:
# supplier rollup (map-side combinable), nation-grain re-aggregate,
# nation dim broadcast.


def market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_name, n_suppliers, hhi) — supplier revenue concentration
    inside each supplier nation, on the standard 0-10000 scale."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum("cents").cast("long").alias("x")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    g = (
        per_supp.join(supp, per_supp.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum(F.col("x").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("sx"),
            F.sum(
                F.col("x").cast("decimal(19,0)")
                * F.col("x").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("sxx"),
        )
    )
    hhi = (
        F.lit(10000.0)
        * F.col("sxx").cast("double")
        / (F.col("sx").cast("double") * F.col("sx").cast("double"))
    )
    return (
        g.join(F.broadcast(nat), g.s_nationkey == nat.n_nationkey)
        .select("n_name", "n_suppliers", F.round(hhi, 6).alias("hhi"))
        .orderBy("n_name")
    )


_HHI_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT))
      AS BIGINT) AS x
  FROM lineitem GROUP BY l_suppkey
),
g AS (
  SELECT s_nationkey, COUNT(*)::BIGINT AS n_suppliers,
    SUM(x::HUGEINT) AS sx, SUM(x::HUGEINT * x::HUGEINT) AS sxx
  FROM per_supp JOIN supplier ON per_supp.l_suppkey = supplier.s_suppkey
  GROUP BY s_nationkey
)
SELECT n_name, n_suppliers,
  ROUND(10000.0 * sxx::DOUBLE / (sx::DOUBLE * sx::DOUBLE), 6) AS hhi
FROM g JOIN nation ON g.s_nationkey = nation.n_nationkey
ORDER BY n_name
"""


QUERIES = {
    "bi_gini_revenue": Query(gini_revenue, _GINI_SQL),
    "bi_market_hhi": Query(market_hhi, _HHI_SQL),
    "bi_abc_parts": Query(abc_parts, _ABC_SQL),
    "bi_new_vs_returning": Query(new_vs_returning, _NEW_RET_SQL),
    "bi_yoy_growth": Query(yoy_growth, _YOY_SQL),
    "bi_rfm_segments": Query(rfm_segments, _rfm_sql()),
    "bi_metrics_unpivot": Query(metrics_unpivot, _UNPIVOT_SQL),
    "bi_pricing_rollup": Query(pricing_rollup, _PRICING_ROLLUP_SQL),
    "bi_rollup_levels": Query(
        pricing_rollup_levels, _PRICING_ROLLUP_LEVELS_SQL
    ),
    "bi_cube_revenue": Query(revenue_cube, _REVENUE_CUBE_SQL),
    "bi_first_n": Query(first_n_events, _FIRST_N_SQL),
    "bi_percentiles": Query(order_percentiles, _PERCENTILES_SQL),
    "bi_index_search": Query(index_search, _INDEX_SEARCH_SQL),
    "bi_distinct_counts": Query(distinct_counts, _DISTINCT_SQL),
    "bi_topk_customers": Query(topk_customers, _TOPK_CUSTOMERS_SQL),
    "bi_time_of_day": Query(time_of_day, _TIME_OF_DAY_SQL),
    "bi_point_lookup": Query(point_lookup, _POINT_LOOKUP_SQL),
    "bi_enrich_join": Query(enrich_join, _ENRICH_JOIN_SQL),
    "bi_dict_enrich": Query(dict_enrich, _DICT_ENRICH_SQL),
    "bi_pareto_share": Query(pareto_share, _PARETO_SQL),
    "bi_shipping_priority": Query(shipping_priority, _SHIP_SQL),
    "bi_priority_semijoin": Query(priority_semijoin, _SEMI_SQL),
    "bi_idle_customers": Query(idle_customers, _ANTI_SQL),
    "bi_market_share": Query(market_share, _MARKET_SHARE_SQL),
    "bi_top_supplier": Query(top_supplier, _TOP_SUPPLIER_SQL),
    "bi_status_pivot": Query(status_pivot, _STATUS_PIVOT_SQL),
}
