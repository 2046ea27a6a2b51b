"""Data-quality operators: categorical column profiling and
referential-integrity auditing — the checks a pipeline runs before
trusting a 100 TB delivery.

  * column_profile — per categorical column: cardinality, top-value
    share, Shannon entropy.  Entropy is a parallel double sum and
    would be accumulation-order-dependent; each per-group term
    p*ln(p) is computed in one fixed expression order (bit-identical
    cross-engine) and QUANTIZED to an exact integer before the sum —
    the dsum trick applied to an information-theoretic statistic.
  * referential_audit — orphan counts for every foreign-key edge of
    the star schema via anti-join (NOT EXISTS in the oracle): the
    join-shaped data-quality primitive.  One anti-join per edge; at
    100 TB each is a shuffle join on the key, bucketing co-locates.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import Query

_ESCALE = 1_000_000_000.0  # entropy terms quantized to 1e-9

PROFILE_COLS = (
    ("events", "event_type"),
    ("documents", "lang"),
    ("documents", "source"),
    ("customer", "c_mktsegment"),
    ("orders", "o_orderpriority"),
)


def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for table, col in PROFILE_COLS:
        counts = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        p = F.col("c").cast("double") / F.col("n").cast("double")
        term_q = F.floor(p * F.log(p) * F.lit(_ESCALE) + F.lit(0.5)).cast(
            "long"
        )
        n1 = counts.agg(
            F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("maxc"),
        )
        parts.append(
            counts.join(F.broadcast(n1))
            .agg(
                F.first(F.lit(f"{table}.{col}")).alias("column_name"),
                F.first("n").alias("n_rows"),
                F.first("n_distinct").alias("n_distinct"),
                (
                    F.first("maxc").cast("double")
                    / F.first("n").cast("double")
                ).alias("top_share"),
                (-F.sum(term_q).cast("double") / F.lit(_ESCALE)).alias(
                    "entropy_nats"
                ),
            )
        )
    return reduce(DataFrame.unionByName, parts)


def _profile_sql() -> str:
    parts = []
    for table, col in PROFILE_COLS:
        term = (
            f"(c::DOUBLE / n::DOUBLE) * ln(c::DOUBLE / n::DOUBLE)"
            f" * {_ESCALE}"
        )
        parts.append(
            f"""SELECT '{table}.{col}' AS column_name,
  ANY_VALUE(n)::BIGINT AS n_rows,
  ANY_VALUE(n_distinct) AS n_distinct,
  ANY_VALUE(maxc)::DOUBLE / ANY_VALUE(n)::DOUBLE AS top_share,
  -CAST(SUM(CAST(FLOOR({term} + 0.5) AS BIGINT)) AS DOUBLE) / {_ESCALE}
    AS entropy_nats
FROM (
  SELECT c, SUM(c) OVER () AS n, COUNT(*) OVER () AS n_distinct,
         MAX(c) OVER () AS maxc
  FROM (SELECT {col} AS v, COUNT(*) AS c FROM {table} GROUP BY {col})
)"""
        )
    return "\nUNION ALL\n".join(parts)


FK_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One LAZY plan: per FK edge, total child rows from a plain
    aggregate plus orphan rows from a left_anti join aggregate, joined
    on the edge label and unioned.  Nothing executes at build time
    (every other registered query is lazy too), and each edge's
    anti-join still distributes — bucketing co-locates it at scale."""
    parts = []
    for child, fk, parent, pk in FK_EDGES:
        edge = f"{child}.{fk} -> {parent}.{pk}"
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("_pk")
        )
        totals = c.agg(
            F.lit(edge).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_child"),
        )
        orphans = c.join(p, c[fk] == p["_pk"], "left_anti").agg(
            F.lit(edge).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_orphans"),
        )
        parts.append(totals.join(orphans, "fk_edge"))
    return reduce(DataFrame.unionByName, parts).select(
        "fk_edge", "n_child", "n_orphans"
    )


def _audit_sql() -> str:
    parts = []
    for child, fk, parent, pk in FK_EDGES:
        parts.append(
            f"""SELECT '{child}.{fk} -> {parent}.{pk}' AS fk_edge,
  (SELECT COUNT(*) FROM {child})::BIGINT AS n_child,
  (SELECT COUNT(*) FROM {child} c
    WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                      WHERE p.{pk} = c.{fk}))::BIGINT AS n_orphans"""
        )
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# robust (MAD) outlier screen
# ---------------------------------------------------------------------------
#
# Median-absolute-deviation outliers per event_type — the robust
# alternative to the z-score gate (ml.zscore_outliers): mean/std are
# themselves dragged by the outliers they're meant to find; median/MAD
# have a 50% breakdown point.  Cross-engine exactness rides the
# bi_percentiles precedent (Spark percentile() and DuckDB quantile_cont
# interpolate identically); the 1.4826 normal-consistency constant is
# inlined as the same literal and the fence arithmetic is fixed-order
# per-row IEEE.
#
# Scale shape: two grouped percentile aggregates (map-side partials of
# the percentile sketch buffer), each result broadcast back onto the
# scan — never a global sort.  Exact medians at 100 TB would use
# percentile_approx with documented error instead; the operator's join
# shape is unchanged.

MAD_K = 1.4826  # consistency constant for normal data
MAD_FENCE = 3.0


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, med, mad, n_outliers, outlier_share): values
    with |x - median| > 3 * 1.4826 * MAD flagged per type."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    fence = F.lit(MAD_FENCE) * (F.lit(MAD_K) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum((F.col("adev") > fence).cast("long"))
            .cast("long").alias("n_outliers"),
        )
        .select(
            "event_type", "n", "med", "mad", "n_outliers",
            (F.col("n_outliers").cast("double") / F.col("n").cast("double"))
            .alias("outlier_share"),
        )
    )


_MAD_SQL = f"""
WITH ev AS (SELECT event_type, value FROM events),
med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM ev GROUP BY event_type
),
dev AS (
  SELECT ev.event_type, value, med, ABS(value - med) AS adev
  FROM ev JOIN med ON ev.event_type = med.event_type
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT dev.event_type, COUNT(*)::BIGINT AS n,
  ANY_VALUE(med) AS med, ANY_VALUE(mad.mad) AS mad,
  CAST(SUM(CASE WHEN adev > {MAD_FENCE!r} * ({MAD_K!r} * mad.mad)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  CAST(SUM(CASE WHEN adev > {MAD_FENCE!r} * ({MAD_K!r} * mad.mad)
           THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
    / COUNT(*)::DOUBLE AS outlier_share
FROM dev JOIN mad ON dev.event_type = mad.event_type
GROUP BY dev.event_type
"""


# ---------------------------------------------------------------------------
# temporal drift screen: early-half vs late-half distribution diff
# ---------------------------------------------------------------------------
#
# The pre-retrain check "did the event mix shift?": split the stream at
# the midpoint of its time range and compare each event_type's volume
# share and value mean across halves.  ONE aggregate pass does
# everything — the half tag is a row-local comparison against a
# broadcast 1-row bounds frame, and early/late stats are conditional
# quantized aggregates of the same groupBy.  The totals join is
# |event_type| rows.  At 100 TB: one scan, one map-side-combined
# shuffle of |event_type| x partials, two broadcast singletons.


def schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )
    bounds = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid_us")
    )
    from ..functions.scalars import quantize

    early = F.col("ts_us") <= F.col("mid_us")
    q = quantize(F.col("value"))
    per_type = (
        ev.join(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.count(F.when(early, 1)).cast("long").alias("n_early"),
            F.count(F.when(~early, 1)).cast("long").alias("n_late"),
            F.sum(F.when(early, q)).alias("qs_early"),
            F.sum(F.when(~early, q)).alias("qs_late"),
        )
    )
    totals = per_type.agg(
        F.sum("n_early").alias("tot_early"), F.sum("n_late").alias("tot_late")
    )
    share_e = F.col("n_early").cast("double") / F.col("tot_early")
    share_l = F.col("n_late").cast("double") / F.col("tot_late")
    avg_e = F.col("qs_early").cast("double") / 10000.0 / F.col("n_early")
    avg_l = F.col("qs_late").cast("double") / 10000.0 / F.col("n_late")
    return (
        per_type.join(F.broadcast(totals))
        .select(
            "event_type",
            "n_early",
            "n_late",
            F.round(share_e, 6).alias("share_early"),
            F.round(share_l, 6).alias("share_late"),
            F.round(share_l - share_e, 6).alias("share_drift"),
            avg_e.alias("avg_early"),
            avg_l.alias("avg_late"),
            (avg_l - avg_e).alias("avg_drift"),
        )
        .orderBy("event_type")
    )


_DRIFT_SQL = """
WITH e AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qv
  FROM events
),
bounds AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM e),
per_type AS (
  SELECT event_type,
    COUNT(CASE WHEN ts_us <= mid_us THEN 1 END)::BIGINT AS n_early,
    COUNT(CASE WHEN ts_us >  mid_us THEN 1 END)::BIGINT AS n_late,
    SUM(CASE WHEN ts_us <= mid_us THEN qv END) AS qs_early,
    SUM(CASE WHEN ts_us >  mid_us THEN qv END) AS qs_late
  FROM e CROSS JOIN bounds
  GROUP BY event_type
),
totals AS (
  SELECT CAST(SUM(n_early) AS BIGINT) AS tot_early,
         CAST(SUM(n_late) AS BIGINT) AS tot_late
  FROM per_type
)
SELECT event_type, n_early, n_late,
  ROUND(n_early::DOUBLE / tot_early, 6) AS share_early,
  ROUND(n_late::DOUBLE / tot_late, 6) AS share_late,
  ROUND(n_late::DOUBLE / tot_late - n_early::DOUBLE / tot_early, 6)
    AS share_drift,
  CAST(qs_early AS DOUBLE) / 10000.0 / n_early AS avg_early,
  CAST(qs_late AS DOUBLE) / 10000.0 / n_late AS avg_late,
  (CAST(qs_late AS DOUBLE) / 10000.0 / n_late)
    - (CAST(qs_early AS DOUBLE) / 10000.0 / n_early) AS avg_drift
FROM per_type CROSS JOIN totals
ORDER BY event_type
"""



# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud/synthetic-data detector)
# ---------------------------------------------------------------------------
#
# Naturally-occurring monetary amounts follow Benford's law
# (P(d) = log10(1 + 1/d)); ledgers that don't are fabricated, rounded,
# or capped.  One wordcount-shaped pass: the first significant digit
# comes from the QUANTIZED integer cents (integer->string is
# bit-identical cross-engine; double->string is not), the 9-row
# rollup is map-side combinable, and the expected shares are
# constant-folded literals.


def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(digit, n, share, benford_expected, abs_dev) over order
    totals."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    per = (
        orders.filter(cents > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = per.agg(F.sum("n").cast("long").alias("total"))
    expected = F.round(
        F.log10(1.0 + 1.0 / F.col("digit").cast("double")), 6
    )
    return (
        per.join(F.broadcast(total))  # single-row total
        .select(
            "digit",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("share"),
            expected.alias("benford_expected"),
            F.round(
                F.abs(
                    F.round(
                        F.col("n").cast("double")
                        / F.col("total").cast("double"),
                        6,
                    )
                    - F.round(
                        F.log10(
                            1.0 + 1.0 / F.col("digit").cast("double")
                        ),
                        6,
                    )
                ),
                6,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


_BENFORD_SQL = """
WITH per AS (
  SELECT substr(CAST(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)
                     AS VARCHAR), 1, 1)::BIGINT AS digit,
    COUNT(*)::BIGINT AS n
  FROM orders
  WHERE CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) > 0
  GROUP BY digit
),
t AS (SELECT SUM(n)::BIGINT AS total FROM per)
SELECT digit, n,
  ROUND(n::DOUBLE / total::DOUBLE, 6) AS share,
  ROUND(log10(1.0 + 1.0 / digit::DOUBLE), 6) AS benford_expected,
  ROUND(ABS(ROUND(n::DOUBLE / total::DOUBLE, 6)
            - ROUND(log10(1.0 + 1.0 / digit::DOUBLE), 6)), 6)
    AS abs_dev
FROM per, t
ORDER BY digit
"""



# ---------------------------------------------------------------------------
# join-key skew profile (the diagnostic behind salting decisions)
# ---------------------------------------------------------------------------
#
# Whether a join needs salting/AQE-skew handling is a property of the
# KEY DISTRIBUTION — this measures it: top-key shares plus an exact
# Gini coefficient of the per-key row counts.  The Gini needs keys
# ranked by count, but the global window runs over COUNT-OF-COUNTS
# (distinct count values), not keys: ties collapse to one row each, so
# the ordered pass is bounded by the count-value universe (dozens)
# regardless of how many billions of keys exist — the pareto_share
# two-level trick.  For tied counts, sum_i i*c_(i) over a tie block of
# multiplicity m starting after cumulative position s is
# c * (m*s + m*(m+1)/2) — exact integers end to end.


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_keys, n_rows, top1_share, top10_share, gini) for
    the orders->customer join key."""
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    cc = counts.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    from pyspark.sql import Window

    w = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = cc.withColumn(
        "s", F.coalesce(F.sum("m").over(w), F.lit(0)).cast("long")
    )
    # exact BIGINT Gini accumulation (ADVICE r4: `/` is double in both
    # engines, exact only below 2^53; m*(m+1) is always even, so DIV 2
    # loses nothing)
    gini_parts = ranked.agg(
        F.sum(
            F.col("c")
            * (
                F.col("m") * F.col("s")
                + F.expr("(m * (m + 1)) DIV 2")
            )
        )
        .cast("long")
        .alias("sic"),
        F.sum(F.col("m")).cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("m")).cast("long").alias("n_rows"),
    )
    top10 = (
        counts.orderBy(F.col("c").desc(), F.col("o_custkey").asc())
        .limit(10)
        .agg(
            F.max("c").cast("long").alias("top1"),
            F.sum("c").cast("long").alias("top10"),
        )
    )
    return (
        gini_parts.join(F.broadcast(top10))  # single-row x single-row
        .select(
            "n_keys",
            "n_rows",
            F.round(
                F.col("top1").cast("double")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("top1_share"),
            F.round(
                F.col("top10").cast("double")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("top10_share"),
            F.round(
                (2.0 * F.col("sic").cast("double"))
                / (
                    F.col("n_keys").cast("double")
                    * F.col("n_rows").cast("double")
                )
                - (F.col("n_keys") + 1).cast("double")
                / F.col("n_keys").cast("double"),
                6,
            ).alias("gini"),
        )
    )


_KEY_SKEW_SQL = """
WITH counts AS (
  SELECT o_custkey, COUNT(*)::BIGINT AS c FROM orders GROUP BY o_custkey
),
cc AS (SELECT c, COUNT(*)::BIGINT AS m FROM counts GROUP BY c),
ranked AS (
  SELECT c, m,
    COALESCE(SUM(m) OVER (ORDER BY c
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
  FROM cc
),
g AS (
  SELECT SUM(c * (m * s + (m * (m + 1)) // 2))::BIGINT AS sic,
    SUM(m)::BIGINT AS n_keys,
    SUM(c * m)::BIGINT AS n_rows
  FROM ranked
),
t AS (
  SELECT MAX(c)::BIGINT AS top1, SUM(c)::BIGINT AS top10 FROM (
    SELECT c FROM counts ORDER BY c DESC, o_custkey ASC LIMIT 10
  )
)
SELECT n_keys, n_rows,
  ROUND(top1::DOUBLE / n_rows::DOUBLE, 6) AS top1_share,
  ROUND(top10::DOUBLE / n_rows::DOUBLE, 6) AS top10_share,
  ROUND((2.0 * sic::DOUBLE) / (n_keys::DOUBLE * n_rows::DOUBLE)
        - (n_keys + 1)::DOUBLE / n_keys::DOUBLE, 6) AS gini
FROM g, t
"""


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy / data-governance gate)
# ---------------------------------------------------------------------------
#
# Before a table ships to analysts, governance asks: how many rows sit
# in quasi-identifier equivalence classes smaller than k (re-
# identifiable)?  Two generalization levels are audited side by side —
# coarse QI = (nation, market segment) and fine QI = (nation, segment,
# account balance rounded to 100s) — the comparison a generalization
# planner reads.  Pure wordcount shape per level: one map-side-combined
# groupBy to class grain, one tiny aggregate over class sizes.

K_ANON = 5


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(level, n_rows, n_classes, min_class_size, rows_below_k,
    share_below_k) for k = K_ANON at two QI generalization levels."""
    cust = load_table(spark, sf_dir, "customer")
    coarse = cust.select(
        F.lit("coarse:nation+segment").alias("level"),
        F.col("c_nationkey").cast("string").alias("q1"),
        F.col("c_mktsegment").alias("q2"),
        F.lit("").alias("q3"),
    )
    fine = cust.select(
        F.lit("fine:+acctbal_100").alias("level"),
        F.col("c_nationkey").cast("string").alias("q1"),
        F.col("c_mktsegment").alias("q2"),
        (
            F.floor(F.col("c_acctbal") / 100.0).cast("long")
        ).cast("string").alias("q3"),
    )
    classes = (
        coarse.unionByName(fine)
        .groupBy("level", "q1", "q2", "q3")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    return (
        classes.groupBy("level")
        .agg(
            F.sum("m").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("m").cast("long").alias("min_class_size"),
            F.sum(F.when(F.col("m") < K_ANON, F.col("m")).otherwise(0))
            .cast("long")
            .alias("rows_below_k"),
        )
        .select(
            "level",
            "n_rows",
            "n_classes",
            "min_class_size",
            "rows_below_k",
            F.round(
                F.col("rows_below_k").cast("double")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("share_below_k"),
        )
        .orderBy("level")
    )


_KANON_SQL = f"""
WITH qi AS (
  SELECT 'coarse:nation+segment' AS level,
    c_nationkey::VARCHAR AS q1, c_mktsegment AS q2, '' AS q3
  FROM customer
  UNION ALL
  SELECT 'fine:+acctbal_100' AS level,
    c_nationkey::VARCHAR AS q1, c_mktsegment AS q2,
    CAST(FLOOR(c_acctbal / 100.0) AS BIGINT)::VARCHAR AS q3
  FROM customer
),
classes AS (
  SELECT level, q1, q2, q3, COUNT(*)::BIGINT AS m
  FROM qi GROUP BY level, q1, q2, q3
)
SELECT level,
  CAST(SUM(m) AS BIGINT) AS n_rows,
  COUNT(*)::BIGINT AS n_classes,
  MIN(m)::BIGINT AS min_class_size,
  CAST(SUM(CASE WHEN m < {K_ANON} THEN m ELSE 0 END) AS BIGINT)
    AS rows_below_k,
  ROUND(CAST(SUM(CASE WHEN m < {K_ANON} THEN m ELSE 0 END) AS BIGINT)
          ::DOUBLE
        / CAST(SUM(m) AS BIGINT)::DOUBLE, 6) AS share_below_k
FROM classes
GROUP BY level
ORDER BY level
"""


# l-diversity companion: a k-anonymous class is still unsafe if every
# member shares the sensitive value — diversity counts DISTINCT
# sensitive values (account-balance bucket) per QI class.

L_DIVERSITY = 3


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_classes, min_l, classes_below_l, rows_below_l,
    share_below_l) for the coarse QI (nation, segment) with sensitive
    attribute = acctbal rounded to 1000s."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("q1"),
        F.col("c_mktsegment").alias("q2"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("sens"),
    )
    classes = cust.groupBy("q1", "q2").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.countDistinct("sens").cast("long").alias("l"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("l").cast("long").alias("min_l"),
        F.sum((F.col("l") < L_DIVERSITY).cast("long"))
        .cast("long")
        .alias("classes_below_l"),
        F.sum(
            F.when(F.col("l") < L_DIVERSITY, F.col("m")).otherwise(0)
        )
        .cast("long")
        .alias("rows_below_l"),
        F.round(
            F.sum(
                F.when(F.col("l") < L_DIVERSITY, F.col("m")).otherwise(
                    0
                )
            ).cast("double")
            / F.sum("m").cast("double"),
            6,
        ).alias("share_below_l"),
    )


_LDIV_SQL = f"""
WITH c AS (
  SELECT c_nationkey AS q1, c_mktsegment AS q2,
    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS sens
  FROM customer
),
classes AS (
  SELECT q1, q2, COUNT(*)::BIGINT AS m,
    COUNT(DISTINCT sens)::BIGINT AS l
  FROM c GROUP BY q1, q2
)
SELECT COUNT(*)::BIGINT AS n_classes,
  MIN(l)::BIGINT AS min_l,
  CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN 1 ELSE 0 END) AS BIGINT)
    AS classes_below_l,
  CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN m ELSE 0 END) AS BIGINT)
    AS rows_below_l,
  ROUND(CAST(SUM(CASE WHEN l < {L_DIVERSITY} THEN m ELSE 0 END)
             AS BIGINT)::DOUBLE
        / CAST(SUM(m) AS BIGINT)::DOUBLE, 6) AS share_below_l
FROM classes
"""


# ---------------------------------------------------------------------------
# Tukey IQR outlier audit — the fence-based cousin of mad_outliers
# ---------------------------------------------------------------------------
#
# Per order priority: Q1/Q3 of o_totalprice (linear-interpolated
# quantiles — Spark percentile() and DuckDB quantile_cont are bit-exact
# twins, the bi_percentiles precedent), fences at 1.5 IQR, and the
# row counts outside each fence.  Scale shape: one groupBy pass for
# the fences (metadata-size result, broadcast back) + one conditional
# count pass — never a global sort.


def iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, n_rows, q1, q3, n_low, n_high), Tukey fences
    at 1.5 IQR, ordered by priority."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    fences = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))
    return (
        orders.join(F.broadcast(fences), "o_orderpriority")
        .groupBy("o_orderpriority", "n_rows", "q1", "q3")
        .agg(
            F.sum((F.col("o_totalprice") < lo).cast("long"))
            .cast("long")
            .alias("n_low"),
            F.sum((F.col("o_totalprice") > hi).cast("long"))
            .cast("long")
            .alias("n_high"),
        )
        .orderBy("o_orderpriority")
    )


_IQR_SQL = """
WITH f AS (
  SELECT o_orderpriority,
    COUNT(*)::BIGINT AS n_rows,
    quantile_cont(o_totalprice, 0.25) AS q1,
    quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders GROUP BY o_orderpriority
)
SELECT f.o_orderpriority, f.n_rows, f.q1, f.q3,
  SUM(CASE WHEN o.o_totalprice < f.q1 - 1.5 * (f.q3 - f.q1)
      THEN 1 ELSE 0 END)::BIGINT AS n_low,
  SUM(CASE WHEN o.o_totalprice > f.q3 + 1.5 * (f.q3 - f.q1)
      THEN 1 ELSE 0 END)::BIGINT AS n_high
FROM orders o JOIN f USING (o_orderpriority)
GROUP BY 1, 2, 3, 4
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# population stability index — binned-distribution drift
# ---------------------------------------------------------------------------
#
# PSI = Σ_bins (p_i - q_i) · ln(p_i / q_i) between the early and late
# halves of each event type's value stream — the industry-standard
# drift score (rule of thumb: < 0.1 stable, 0.1-0.25 shifting, > 0.25
# broken) that quality_schema_drift's mean/volume deltas can't see
# (a variance flip leaves the mean intact).  Bins are the MI-style
# fixed value buckets; Laplace +1 smoothing over the OBSERVED bins of
# each type makes empty-side bins well-defined without epsilon magic.
# Determinism: shares are doubles from exact BIGINT counts, ln rounded
# to 9 dp, each bin term quantized to a 1e-8 BIGINT and summed exact —
# one float division per output row.  Shape: one (type, bin)
# conditional-aggregate pass, metadata-grain joins after.

PSI_BIN_WIDTH_Q = 2000
PSI_BINS = 10


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_early, n_late, psi) — population stability index
    of the value distribution, early vs late half of the stream."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.least(
            F.floor(
                F.floor(F.col("value") * 100.0 + 0.5) / PSI_BIN_WIDTH_Q
            ),
            F.lit(PSI_BINS - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    bounds = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid_us")
    )
    early = F.col("ts_us") <= F.col("mid_us")
    cells = (
        ev.join(F.broadcast(bounds))
        .groupBy("event_type", "bin")
        .agg(
            F.sum(early.cast("long")).cast("long").alias("ce"),
            F.sum((~early).cast("long")).cast("long").alias("cl"),
        )
    )
    per_type = cells.groupBy("event_type").agg(
        F.sum("ce").cast("long").alias("ne"),
        F.sum("cl").cast("long").alias("nl"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    j = cells.join(F.broadcast(per_type), "event_type")
    pa = (F.col("ce") + 1).cast("double") / (
        F.col("ne") + F.col("nb")
    ).cast("double")
    pb = (F.col("cl") + 1).cast("double") / (
        F.col("nl") + F.col("nb")
    ).cast("double")
    qterm = F.floor(
        (pa - pb) * F.round(F.log(pa / pb), 9) * 1e8 + 0.5
    ).cast("long")
    out = j.groupBy("event_type").agg(
        F.max("ne").alias("n_early"),
        F.max("nl").alias("n_late"),
        F.sum(qterm).cast("long").alias("s"),
    )
    return out.select(
        "event_type",
        F.col("n_early").cast("long").alias("n_early"),
        F.col("n_late").cast("long").alias("n_late"),
        F.round(F.col("s").cast("double") / 1e8, 6).alias("psi"),
    ).orderBy("event_type")


_PSI_SQL = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us,
    LEAST(CAST(FLOOR(FLOOR(value * 100.0 + 0.5) / {PSI_BIN_WIDTH_Q})
          AS BIGINT), {PSI_BINS - 1}) AS bin
  FROM events
),
bounds AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM ev),
cells AS (
  SELECT event_type, bin,
    CAST(SUM(CASE WHEN ts_us <= mid_us THEN 1 ELSE 0 END) AS BIGINT)
      AS ce,
    CAST(SUM(CASE WHEN ts_us <= mid_us THEN 0 ELSE 1 END) AS BIGINT)
      AS cl
  FROM ev CROSS JOIN bounds
  GROUP BY 1, 2
),
per_type AS (
  SELECT event_type, CAST(SUM(ce) AS BIGINT) AS ne,
    CAST(SUM(cl) AS BIGINT) AS nl, COUNT(*)::BIGINT AS nb
  FROM cells GROUP BY 1
),
terms AS (
  SELECT cells.event_type, ne, nl,
    CAST(FLOOR(
      ((ce + 1)::DOUBLE / (ne + nb)::DOUBLE
       - (cl + 1)::DOUBLE / (nl + nb)::DOUBLE)
      * ROUND(ln(((ce + 1)::DOUBLE / (ne + nb)::DOUBLE)
                 / ((cl + 1)::DOUBLE / (nl + nb)::DOUBLE)), 9)
      * 1e8 + 0.5) AS BIGINT) AS qterm
  FROM cells JOIN per_type ON cells.event_type = per_type.event_type
)
SELECT event_type, MAX(ne)::BIGINT AS n_early, MAX(nl)::BIGINT AS n_late,
  ROUND(CAST(SUM(qterm) AS BIGINT)::DOUBLE / 1e8, 6) AS psi
FROM terms GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# cross-table constraint audit — business-rule violations as data
# ---------------------------------------------------------------------------
#
# The referential audit checks keys; this checks SEMANTIC constraints:
# a lineitem shipped before its order was placed, a non-positive order
# total, a discount outside [0, 1], tax outside [0, 1].  Each rule is
# one conditional aggregate (the cross-table rule rides the
# orderkey equi-join once); the output is the audit table a data
# contract publishes.  Exact integer counts; rates are one division.


def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rule, n_checked, n_violations, violation_rate) for four
    business rules over orders/lineitem."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    ship = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_shipdate") < F.col("o_orderdate")).cast("long"))
        .cast("long")
        .alias("v"),
    ).select(F.lit("ship_before_order").alias("rule"), "n", "v")
    price = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("o_totalprice") <= 0).cast("long"))
        .cast("long")
        .alias("v"),
    ).select(F.lit("nonpositive_totalprice").alias("rule"), "n", "v")
    disc = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("v"),
    ).select(F.lit("discount_range").alias("rule"), "n", "v")
    tax = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            ((F.col("l_tax") < 0) | (F.col("l_tax") > 1)).cast("long")
        )
        .cast("long")
        .alias("v"),
    ).select(F.lit("tax_range").alias("rule"), "n", "v")
    u = ship.unionByName(price).unionByName(disc).unionByName(tax)
    return u.select(
        "rule",
        F.col("n").alias("n_checked"),
        F.col("v").alias("n_violations"),
        F.round(
            F.col("v").cast("double") / F.col("n").cast("double"), 6
        ).alias("violation_rate"),
    ).orderBy("rule")


_CONSTRAINT_SQL = """
WITH ship AS (
  SELECT 'ship_before_order' AS rule, COUNT(*)::BIGINT AS n,
    CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END)
      AS BIGINT) AS v
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
price AS (
  SELECT 'nonpositive_totalprice', COUNT(*)::BIGINT,
    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
),
disc AS (
  SELECT 'discount_range', COUNT(*)::BIGINT,
    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0
      END) AS BIGINT)
  FROM lineitem
),
tax AS (
  SELECT 'tax_range', COUNT(*)::BIGINT,
    CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 1 THEN 1 ELSE 0 END)
      AS BIGINT)
  FROM lineitem
),
u AS (
  SELECT * FROM ship UNION ALL SELECT * FROM price
  UNION ALL SELECT * FROM disc UNION ALL SELECT * FROM tax
)
SELECT rule, n AS n_checked, v AS n_violations,
  ROUND(v::DOUBLE / n::DOUBLE, 6) AS violation_rate
FROM u ORDER BY rule
"""


# ---------------------------------------------------------------------------
# ingestion-order audit — are event ids monotone in event time?
# ---------------------------------------------------------------------------
#
# In a healthy ingest, assignment order (event_id) and event time (ts)
# agree; inversions mean clock skew, out-of-order delivery, or a
# backfill that interleaved — exactly what decides whether a streaming
# job needs a watermark and how wide.  Exact integer comparisons,
# inversion magnitude in id-steps.
#
# Scale shape (r8 rewrite — VERDICT r7 finding #1: one lag window per
# type = a per-type single-task scan of the full stream, ~5 types):
# the stream shards on the HOUR of ts — shard = floor(ts_us/3600e6) is
# monotone in ts, so the global (ts, event_id) order is exactly the
# concatenation of shard-local orders.  The lag window runs partitioned
# by (type, shard); the only adjacent pairs it misses are the shard
# boundaries, recovered from per-shard first/last (ts, id) structs —
# a (type, shard)-grain frame whose own lag window is metadata-scale.
# inversions = Σ local + Σ boundary; max regression = max of both.

ORDER_AUDIT_SHARD_US = 3600 * 1_000_000  # hour shards


def ts_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, inversions, inversion_rate,
    max_id_regression) — event_id inversions along the ts order."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    ).withColumn(
        "shard",
        F.floor(F.col("ts_us") / F.lit(ORDER_AUDIT_SHARD_US)).cast("long"),
    )
    wl = Window.partitionBy("event_type", "shard").orderBy(
        "ts_us", "event_id"
    )
    t = ev.withColumn("prev_id", F.lag("event_id").over(wl))
    inv = (F.col("prev_id") > F.col("event_id")).cast("long")
    per_shard = t.groupBy("event_type", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.coalesce(inv, F.lit(0))).cast("long").alias("inv_l"),
        F.max(
            F.when(
                F.col("prev_id") > F.col("event_id"),
                F.col("prev_id") - F.col("event_id"),
            )
        ).alias("maxreg_l"),
        F.min(F.struct("ts_us", "event_id")).alias("first"),
        F.max(F.struct("ts_us", "event_id")).alias("last"),
    )
    wb = Window.partitionBy("event_type").orderBy("shard")
    bnd = per_shard.withColumn("prev_last_id", F.lag("last.event_id").over(wb))
    b_hit = F.col("prev_last_id") > F.col("first.event_id")
    g = bnd.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        (
            F.sum("inv_l") + F.sum(F.coalesce(b_hit.cast("long"), F.lit(0)))
        ).cast("long").alias("inversions"),
        F.greatest(
            F.coalesce(F.max("maxreg_l"), F.lit(0)),
            F.coalesce(
                F.max(
                    F.when(
                        b_hit,
                        F.col("prev_last_id") - F.col("first.event_id"),
                    )
                ),
                F.lit(0),
            ),
        ).alias("maxreg"),
    )
    return g.select(
        "event_type",
        "n_events",
        "inversions",
        F.round(
            F.col("inversions").cast("double")
            / F.col("n_events").cast("double"),
            6,
        ).alias("inversion_rate"),
        F.coalesce(F.col("maxreg"), F.lit(0)).cast("long").alias(
            "max_id_regression"
        ),
    ).orderBy("event_type")


_ORDER_AUDIT_SQL = """
WITH t AS (
  SELECT event_type, event_id,
    LAG(event_id) OVER (PARTITION BY event_type
                        ORDER BY epoch_us(ts), event_id) AS prev_id
  FROM events
)
SELECT event_type, COUNT(*)::BIGINT AS n_events,
  CAST(SUM(CASE WHEN prev_id > event_id THEN 1 ELSE 0 END) AS BIGINT)
    AS inversions,
  ROUND(CAST(SUM(CASE WHEN prev_id > event_id THEN 1 ELSE 0 END)
    AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE, 6) AS inversion_rate,
  CAST(COALESCE(MAX(CASE WHEN prev_id > event_id
    THEN prev_id - event_id END), 0) AS BIGINT) AS max_id_regression
FROM t GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "quality_constraint_audit": Query(constraint_audit, _CONSTRAINT_SQL),
    "quality_ts_order_audit": Query(ts_order_audit, _ORDER_AUDIT_SQL),
    "quality_psi_drift": Query(psi_drift, _PSI_SQL),
    "quality_iqr_outliers": Query(iqr_outliers, _IQR_SQL),
    "quality_k_anonymity": Query(k_anonymity_audit, _KANON_SQL),
    "quality_l_diversity": Query(l_diversity_audit, _LDIV_SQL),
    "quality_column_profile": Query(column_profile, _profile_sql()),
    "quality_benford": Query(benford_digits, _BENFORD_SQL),
    "quality_key_skew": Query(key_skew_profile, _KEY_SKEW_SQL),
    "quality_referential_audit": Query(referential_audit, _audit_sql()),
    "quality_mad_outliers": Query(mad_outliers, _MAD_SQL),
    "quality_schema_drift": Query(schema_drift, _DRIFT_SQL),
}
