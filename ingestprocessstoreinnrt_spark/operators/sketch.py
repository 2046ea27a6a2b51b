"""Cardinality sketching: KMV (k-minimum-values) approximate distinct
count — the sketch family HyperLogLog belongs to, chosen here because
its estimate is a DETERMINISTIC function of the data given the hash:
the k smallest distinct hash values are a set property, independent of
partitioning, arrival order, or merge shape.  That makes the
approximate operator itself bit-exactly oracle-checkable — DuckDB
computes the same k-th smallest hash by brute force and lands on the
same estimate — unlike HLL, whose register layouts differ per engine.

Scale shape (the point of a sketch): NO shuffle of the value universe.
Each partition reduces to <= K hash values inside one Arrow-batched
mapInPandas pass (numpy unique + partial k-min — the map-side combine
Spark lacks a built-in aggregate for), and only |partitions| x K small
longs reach the final tiny sort.  Estimating |D| of a 100 TB column
moves kilobytes.  Exact distinct is computed alongside at test scale
to expose the observed error; at production scale you run the sketch
alone.

Estimator (Bar-Yossef et al. 2002): with u_(k) = k-th smallest of
distinct hashes normalized to [0,1), E[|D|] ~ (k-1)/u_(k).  The hash
is the shared 60-bit md5 primitive (functions.scalars.stable_hash64),
so u_(k) = h_(k) / 2^60 and the one multiply+divide is evaluated in
the same order by both engines.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import SQL_STABLE_HASH64, stable_hash64
from ..registry import Query

KMV_K = 256
_HASH_SPACE = float(1 << 60)  # stable_hash64 is uniform on [0, 2^60)


def kmv_partials(hashes: DataFrame, k: int = KMV_K) -> DataFrame:
    """Per-partition k smallest distinct hashes via mapInPandas: each
    partition emits <= k rows however many rows it holds."""
    import numpy as np

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best = None
        for pdf in batches:
            u = np.unique(pdf["h"].values)  # sorted ascending
            merged = u if best is None else np.concatenate([best, u])
            best = np.unique(merged)[:k]
        if best is not None and len(best):
            yield pd.DataFrame({"h": best})

    return hashes.mapInPandas(_partial, schema="h long")


def kmv_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct o_custkey over orders, KMV(k=256), with the
    exact count alongside so the observed error is visible."""
    orders = load_table(spark, sf_dir, "orders")
    h = orders.select(
        stable_hash64(F.col("o_custkey").cast("string")).alias("h")
    )
    # partials: <= K rows per partition; global k-min over the tiny set
    topk = kmv_partials(h).distinct().orderBy("h").limit(KMV_K)
    s = topk.agg(
        F.count(F.lit(1)).cast("long").alias("k_eff"),
        F.max("h").alias("kth_hash"),
    )
    e = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    # fewer than K distinct values => the "sketch" saw everything: exact
    approx = F.when(
        F.col("k_eff") < KMV_K, F.col("k_eff").cast("double")
    ).otherwise(
        (F.lit(float(KMV_K - 1)) * F.lit(_HASH_SPACE))
        / F.col("kth_hash").cast("double")
    )
    return s.crossJoin(e).select(
        F.lit("o_custkey").alias("column_name"),
        "k_eff",
        "kth_hash",
        approx.alias("approx_distinct"),
        "exact_distinct",
    )


_KMV_SQL = f"""
WITH h AS (
  SELECT DISTINCT {SQL_STABLE_HASH64.format(x="o_custkey::VARCHAR")} AS h
  FROM orders
),
topk AS (SELECT h FROM h ORDER BY h LIMIT {KMV_K}),
s AS (
  SELECT COUNT(*)::BIGINT AS k_eff, MAX(h) AS kth_hash FROM topk
),
e AS (
  SELECT COUNT(DISTINCT o_custkey)::BIGINT AS exact_distinct FROM orders
)
SELECT 'o_custkey' AS column_name, k_eff, kth_hash,
  CASE WHEN k_eff < {KMV_K} THEN k_eff::DOUBLE
       ELSE ({float(KMV_K - 1)} * {_HASH_SPACE}) / kth_hash::DOUBLE
  END AS approx_distinct,
  exact_distinct
FROM s, e
"""

# --- grouped KMV: approximate distinct PER GROUP ---------------------------
#
# The merge property sketches exist for: per input partition, per
# group, keep the k smallest distinct hashes (one Arrow pass, NO
# shuffle of the value universe); the global per-group sketch is then
# the k-min over <= partitions x k partial rows.  This is the
# map-side-combine shape PySpark lacks a native UDAF for — mapInPandas
# emits the partials, a tiny window finishes the merge.


def kmv_group_partials(
    hashes: DataFrame, group_col: str = "g", k: int = KMV_K
) -> DataFrame:
    import numpy as np

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby(group_col, sort=False):
                u = np.unique(sub["h"].values)
                prev = best.get(g)
                merged = u if prev is None else np.unique(
                    np.concatenate([prev, u])
                )
                best[g] = merged[:k]
        for g, arr in best.items():
            if len(arr):
                yield pd.DataFrame({group_col: g, "h": arr})

    return hashes.mapInPandas(_partial, schema=f"{group_col} string, h long")


def kmv_distinct_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct o_custkey per o_orderpriority (KMV k=256),
    exact count alongside."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    h = orders.select(
        F.col("o_orderpriority").alias("g"),
        stable_hash64(F.col("o_custkey").cast("string")).alias("h"),
    )
    w = Window.partitionBy("g").orderBy("h")
    topk = (
        kmv_group_partials(h)
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
    )
    s = topk.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("k_eff"),
        F.max("h").alias("kth_hash"),
    )
    e = orders.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )
    approx = F.when(
        F.col("k_eff") < KMV_K, F.col("k_eff").cast("double")
    ).otherwise(
        (F.lit(float(KMV_K - 1)) * F.lit(_HASH_SPACE))
        / F.col("kth_hash").cast("double")
    )
    return s.join(e, "g").select(
        F.col("g").alias("group_value"),
        "k_eff",
        "kth_hash",
        approx.alias("approx_distinct"),
        "exact_distinct",
    )


_KMV_GROUP_SQL = f"""
WITH h AS (
  SELECT DISTINCT o_orderpriority AS g,
    {SQL_STABLE_HASH64.format(x="o_custkey::VARCHAR")} AS h
  FROM orders
),
topk AS (
  SELECT g, h FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {KMV_K}
),
s AS (
  SELECT g, COUNT(*)::BIGINT AS k_eff, MAX(h) AS kth_hash
  FROM topk GROUP BY g
),
e AS (
  SELECT o_orderpriority AS g,
    COUNT(DISTINCT o_custkey)::BIGINT AS exact_distinct
  FROM orders GROUP BY o_orderpriority
)
SELECT s.g AS group_value, k_eff, kth_hash,
  CASE WHEN k_eff < {KMV_K} THEN k_eff::DOUBLE
       ELSE ({float(KMV_K - 1)} * {_HASH_SPACE}) / kth_hash::DOUBLE
  END AS approx_distinct,
  exact_distinct
FROM s JOIN e ON s.g = e.g
"""


# ---------------------------------------------------------------------------
# sample-based quantile estimation (the KMV idea applied to quantiles)
# ---------------------------------------------------------------------------

SQ_K = 512  # deterministic sample size
SQ_QUANTS = (50, 90, 99)


def sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate value quantiles from the deterministic k-min hash
    sample: rows whose event_id hash ranks among the SQ_K smallest form
    a uniform sample that is a SET PROPERTY of the data (independent of
    partitioning and order, like KMV), so the estimate has an exact
    DuckDB twin.  Nearest-rank pick from the value-sorted sample — no
    interpolation arithmetic to drift cross-engine.

    Scale shape: the sample is a global top-k by hash
    (TakeOrdered: per-partition k-min + driver merge of |parts| x k
    longs — same movement as KMV); the quantile pick runs on k rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "value",
        stable_hash64(F.col("event_id").cast("string")).alias("h"),
    )
    samp = ev.orderBy("h").limit(SQ_K).select("value")
    from pyspark.sql import Window

    ranked = samp.withColumn(
        "rn", F.row_number().over(Window.orderBy("value"))
    ).join(F.broadcast(samp.agg(F.count(F.lit(1)).alias("k_eff"))))
    quants = F.explode(
        F.array(*[F.lit(q) for q in SQ_QUANTS])
    ).alias("quantile")
    return (
        ranked.select("rn", "value", "k_eff", quants)
        .filter(
            F.col("rn")
            == F.floor(
                F.col("quantile") / 100.0 * (F.col("k_eff") - 1)
            ).cast("int")
            + 1
        )
        .select(
            F.col("quantile").cast("long").alias("quantile"),
            F.col("value").alias("est_value"),
            F.col("k_eff").cast("long").alias("k_eff"),
        )
    )


_SQ_HASH = SQL_STABLE_HASH64.format(x="event_id::VARCHAR")
_SQ_SQL = f"""
WITH samp AS (
  SELECT value FROM events ORDER BY {_SQ_HASH} LIMIT {SQ_K}
),
ranked AS (
  SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn,
    COUNT(*) OVER () AS k_eff
  FROM samp
),
q AS (SELECT unnest([{", ".join(str(q) for q in SQ_QUANTS)}]) AS quantile)
SELECT quantile::BIGINT AS quantile, value AS est_value,
  k_eff::BIGINT AS k_eff
FROM ranked, q
WHERE rn = FLOOR(quantile / 100.0 * (k_eff - 1))::INT + 1
"""


# ---------------------------------------------------------------------------
# HyperLogLog — made bit-exactly oracle-checkable after all
# ---------------------------------------------------------------------------
#
# The module docstring's original objection to HLL was that register
# LAYOUTS differ per engine.  That objection disappears once the
# registers are computed from the shared stable_hash64 primitive with
# integer-only math: bucket j = h % m, remainder w = h DIV m (50 bits),
# rho(w) = 51 - bitlength(w) via the string-identical `bin()` both
# engines expose (bin(0) = '0' in both, handled by CASE).  The harmonic
# sum Σ 2^-M[j] is then EXACT: each term 2^-r is scaled by 2^51 to the
# integer 2^(51-r) (shiftleft), so the register sum is an
# order-independent BIGINT (max 1024·2^51 = 2^61 < 2^63) and the
# Flajolet alpha_m·m²/Z estimate is ONE double division by that exact
# integer.  The small-range branch (E <= 2.5m with empty registers)
# uses linear counting m·ln(m/z) — ln matches libm bit-for-bit in both
# engines given identical double inputs (measured; the historical
# mismatch was Spark's decimal literal division, avoided by explicit
# DOUBLE casts).
#
# Scale shape — the reason HLL exists: the whole column reduces to m
# registers via ONE map-side-combinable (j, max rho) aggregate; a 100 TB
# column moves 1024 longs per partition, and register maxes merge
# associatively at any tree depth.  Two probe columns ride one query to
# exercise both estimator branches: event_id (10k distinct -> raw HLL)
# and user_id (150 distinct -> linear counting).

HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers
_HLL_W_BITS = 60 - HLL_P  # remainder width -> rho in [1, 51]
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# alpha * m^2 * 2^51, precomputed in ONE host multiply chain and inlined
# as the same literal into both engines' expressions
_HLL_NUMER = _HLL_ALPHA * HLL_M * HLL_M * float(1 << _HLL_W_BITS + 1)
_HLL_LC_GATE = 2.5 * HLL_M  # small-range correction threshold


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """(j, r) register frame for a column — the mergeable core: the
    registers of a union are the elementwise MAX of the parts'
    registers (tested deterministically and property-based, and used
    as the streaming merge)."""
    h = stable_hash64(F.col(col).cast("string"))
    rho = F.when(
        F.expr(f"h DIV {HLL_M}") == 0, F.lit(_HLL_W_BITS + 1)
    ).otherwise(
        F.lit(_HLL_W_BITS + 1)
        - F.length(F.bin(F.expr(f"h DIV {HLL_M}")))
    )
    return (
        df.select(h.alias("h"))
        .select((F.col("h") % HLL_M).alias("j"), rho.alias("rho"))
        .groupBy("j")
        .agg(F.max("rho").alias("r"))
    )


def _hll_frame(df: DataFrame, col: str) -> DataFrame:
    """One-row HLL summary for a column: registers, exact harmonic sum,
    estimate, and the exact count alongside for observed error."""
    regs = hll_registers(df, col)
    s = regs.agg(
        F.count(F.lit(1)).cast("long").alias("hit_registers"),
        F.sum(
            F.expr(f"shiftleft(1L, cast({_HLL_W_BITS + 1} - r as int))")
        ).cast("long").alias("s_present"),
    )
    exact = df.agg(
        F.countDistinct(col).cast("long").alias("exact_distinct")
    )
    zero = F.lit(HLL_M).cast("long") - F.col("hit_registers")
    s_total = (
        F.col("s_present")
        + zero * F.lit(1 << (_HLL_W_BITS + 1)).cast("long")
    )
    raw = F.lit(_HLL_NUMER) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(_HLL_LC_GATE)) & (zero > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zero.cast("double")),
    ).otherwise(raw)
    return s.crossJoin(exact).select(
        F.lit(col).alias("column_name"),
        "hit_registers",
        zero.alias("zero_registers"),
        s_total.alias("register_sum"),
        est.alias("est_distinct"),
        "exact_distinct",
    )


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL(p=10) over two events columns spanning both estimator
    branches; (column_name, hit_registers, zero_registers,
    register_sum, est_distinct, exact_distinct)."""
    ev = load_table(spark, sf_dir, "events")
    return _hll_frame(ev, "event_id").unionByName(
        _hll_frame(ev, "user_id")
    )


def _hll_col_sql(col: str) -> str:
    hsh = SQL_STABLE_HASH64.format(x=f"{col}::VARCHAR")
    w = f"(h // {HLL_M})"
    rb = _HLL_W_BITS + 1
    return f"""
SELECT '{col}' AS column_name, hit_registers,
  ({HLL_M}::BIGINT - hit_registers) AS zero_registers,
  (s_present + ({HLL_M}::BIGINT - hit_registers)
    * {1 << rb}::BIGINT) AS register_sum,
  CASE WHEN ({_HLL_NUMER!r} / (s_present
          + ({HLL_M}::BIGINT - hit_registers) * {1 << rb}::BIGINT)::DOUBLE
        ) <= {_HLL_LC_GATE!r}
        AND ({HLL_M}::BIGINT - hit_registers) > 0
    THEN {float(HLL_M)!r} * ln({float(HLL_M)!r}
          / ({HLL_M}::BIGINT - hit_registers)::DOUBLE)
    ELSE {_HLL_NUMER!r} / (s_present
          + ({HLL_M}::BIGINT - hit_registers) * {1 << rb}::BIGINT)::DOUBLE
  END AS est_distinct,
  (SELECT COUNT(DISTINCT {col})::BIGINT FROM events) AS exact_distinct
FROM (
  SELECT COUNT(*)::BIGINT AS hit_registers,
    CAST(SUM(1::BIGINT << ({rb} - r)) AS BIGINT) AS s_present
  FROM (
    SELECT j, MAX(rho) AS r FROM (
      SELECT h % {HLL_M} AS j,
        CASE WHEN {w} = 0 THEN {rb}
             ELSE {rb} - length(bin({w})) END AS rho
      FROM (SELECT {hsh} AS h FROM events)
    ) GROUP BY j
  )
)"""


_HLL_SQL = (
    _hll_col_sql("event_id") + "\nUNION ALL BY NAME\n" + _hll_col_sql("user_id")
)


# ---------------------------------------------------------------------------
# HLL set algebra: intersection by inclusion-exclusion
# ---------------------------------------------------------------------------
#
# |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B), where the union sketch is the
# elementwise register MAX — the estimate audiences/overlap tooling
# ships (no exact co-group of two 100 TB sides; three 1024-register
# sketches meet on the driver-free single-row plan).  The exact
# intersection rides along for observed error.

HLL_IX_A, HLL_IX_B = "view", "purchase"


def _hll_est_row(regs: DataFrame, alias: str) -> DataFrame:
    """One-row estimate from a (j, r) register frame — the SAME
    expression tree as _hll_frame / the SQL twin."""
    s = regs.agg(
        F.count(F.lit(1)).cast("long").alias("hit"),
        F.sum(
            F.expr(f"shiftleft(1L, cast({_HLL_W_BITS + 1} - r as int))")
        ).cast("long").alias("sp"),
    )
    zero = F.lit(HLL_M).cast("long") - F.col("hit")
    s_total = (
        F.col("sp") + zero * F.lit(1 << (_HLL_W_BITS + 1)).cast("long")
    )
    raw = F.lit(_HLL_NUMER) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(_HLL_LC_GATE)) & (zero > 0),
        F.lit(float(HLL_M))
        * F.log(F.lit(float(HLL_M)) / zero.cast("double")),
    ).otherwise(raw)
    return s.select(est.alias(alias))


def hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(set_a, set_b, est_a, est_b, est_union, est_intersection,
    exact_intersection) — audience-overlap estimate between the users
    of two event types."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == HLL_IX_A).select("user_id")
    b = ev.filter(F.col("event_type") == HLL_IX_B).select("user_id")
    ra = hll_registers(a, "user_id")
    rb = hll_registers(b, "user_id")
    ru = (
        ra.unionByName(rb).groupBy("j").agg(F.max("r").alias("r"))
    )
    exact = (
        a.distinct()
        .join(b.distinct(), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    return (
        _hll_est_row(ra, "est_a")
        .crossJoin(_hll_est_row(rb, "est_b"))
        .crossJoin(_hll_est_row(ru, "est_union"))
        .crossJoin(exact)
        .select(
            F.lit(HLL_IX_A).alias("set_a"),
            F.lit(HLL_IX_B).alias("set_b"),
            "est_a",
            "est_b",
            "est_union",
            (
                F.col("est_a") + F.col("est_b") - F.col("est_union")
            ).alias("est_intersection"),
            "exact_intersection",
        )
    )


def _hll_ix_sql() -> str:
    rb_ = _HLL_W_BITS + 1
    hsh = SQL_STABLE_HASH64.format(x="user_id::VARCHAR")

    def regs(etype: str) -> str:
        return f"""SELECT j, MAX(rho) AS r FROM (
  SELECT h % {HLL_M} AS j,
    CASE WHEN (h // {HLL_M}) = 0 THEN {rb_}
         ELSE {rb_} - length(bin(h // {HLL_M})) END AS rho
  FROM (SELECT {hsh} AS h FROM events
        WHERE event_type = '{etype}')
) GROUP BY j"""

    def est(rel: str, alias: str) -> str:
        st = f"(sp + ({HLL_M}::BIGINT - hit) * {1 << rb_}::BIGINT)"
        return f"""SELECT CASE
  WHEN ({_HLL_NUMER!r} / {st}::DOUBLE) <= {_HLL_LC_GATE!r}
       AND ({HLL_M}::BIGINT - hit) > 0
  THEN {float(HLL_M)!r} * ln({float(HLL_M)!r}
       / ({HLL_M}::BIGINT - hit)::DOUBLE)
  ELSE {_HLL_NUMER!r} / {st}::DOUBLE END AS {alias}
FROM (SELECT COUNT(*)::BIGINT AS hit,
        CAST(SUM(1::BIGINT << ({rb_} - r)) AS BIGINT) AS sp
      FROM {rel})"""

    return f"""
WITH ra AS ({regs(HLL_IX_A)}),
rb AS ({regs(HLL_IX_B)}),
ru AS (
  SELECT j, MAX(r) AS r FROM (
    SELECT * FROM ra UNION ALL SELECT * FROM rb
  ) GROUP BY j
),
ea AS ({est('ra', 'est_a')}),
eb AS ({est('rb', 'est_b')}),
eu AS ({est('ru', 'est_union')}),
ex AS (
  SELECT COUNT(*)::BIGINT AS exact_intersection FROM
    (SELECT DISTINCT user_id FROM events
     WHERE event_type = '{HLL_IX_A}')
    JOIN (SELECT DISTINCT user_id FROM events
          WHERE event_type = '{HLL_IX_B}') USING (user_id)
)
SELECT '{HLL_IX_A}' AS set_a, '{HLL_IX_B}' AS set_b,
  est_a, est_b, est_union,
  est_a + est_b - est_union AS est_intersection,
  exact_intersection
FROM ea, eb, eu, ex
"""


# ---------------------------------------------------------------------------
# sketch algebra: per-group KMV sketches UNION-merge to the global one
# ---------------------------------------------------------------------------
#
# The property that makes sketches the 100 TB cardinality tool: the
# k smallest hashes of a union are computable from each part's k
# smallest alone.  This query materializes both sides IN-ENGINE — the
# global sketch merged from the per-priority sketches next to the
# directly-built one — and emits their estimates plus the exact count.
# By the k-min algebra the two sketches are identical (the oracle
# proves both engines agree on that, bit-for-bit on kth_hash).


def kmv_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    h = orders.select(
        F.col("o_orderpriority").alias("g"),
        stable_hash64(F.col("o_custkey").cast("string")).alias("h"),
    )
    # per-group sketches: k smallest distinct hashes per priority
    w = Window.partitionBy("g").orderBy("h")
    group_sk = (
        h.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("h")
    )
    # merged global sketch: k-min over the <=5k sketch rows
    merged = group_sk.distinct().orderBy("h").limit(KMV_K)
    ms = merged.agg(
        F.count(F.lit(1)).cast("long").alias("k_merged"),
        F.max("h").alias("kth_merged"),
    )
    # direct global sketch over the raw hash stream
    direct = (
        h.select("h").distinct().orderBy("h").limit(KMV_K)
    )
    ds = direct.agg(
        F.count(F.lit(1)).cast("long").alias("k_direct"),
        F.max("h").alias("kth_direct"),
    )
    e = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("exact_distinct")
    )

    def est(kc, kh):
        return F.when(
            F.col(kc) < KMV_K, F.col(kc).cast("double")
        ).otherwise(
            (F.lit(float(KMV_K - 1)) * F.lit(_HASH_SPACE))
            / F.col(kh).cast("double")
        )

    return (
        ms.crossJoin(ds)
        .crossJoin(e)
        .select(
            "k_merged",
            "kth_merged",
            est("k_merged", "kth_merged").alias("approx_merged"),
            "k_direct",
            "kth_direct",
            est("k_direct", "kth_direct").alias("approx_direct"),
            (
                (F.col("k_merged") == F.col("k_direct"))
                & (F.col("kth_merged") == F.col("kth_direct"))
            ).alias("sketches_identical"),
            "exact_distinct",
        )
    )


_KMV_MERGE_SQL = f"""
WITH h AS (
  SELECT DISTINCT o_orderpriority AS g,
    {SQL_STABLE_HASH64.format(x="o_custkey::VARCHAR")} AS h
  FROM orders
),
group_sk AS (
  SELECT h FROM (
    SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= {KMV_K}
),
merged AS (SELECT DISTINCT h FROM group_sk ORDER BY h LIMIT {KMV_K}),
ms AS (
  SELECT COUNT(*)::BIGINT AS k_merged, MAX(h) AS kth_merged FROM merged
),
direct AS (SELECT DISTINCT h FROM h ORDER BY h LIMIT {KMV_K}),
ds AS (
  SELECT COUNT(*)::BIGINT AS k_direct, MAX(h) AS kth_direct FROM direct
),
e AS (
  SELECT COUNT(DISTINCT o_custkey)::BIGINT AS exact_distinct FROM orders
)
SELECT k_merged, kth_merged,
  CASE WHEN k_merged < {KMV_K} THEN k_merged::DOUBLE
       ELSE ({float(KMV_K - 1)} * {_HASH_SPACE}) / kth_merged::DOUBLE
  END AS approx_merged,
  k_direct, kth_direct,
  CASE WHEN k_direct < {KMV_K} THEN k_direct::DOUBLE
       ELSE ({float(KMV_K - 1)} * {_HASH_SPACE}) / kth_direct::DOUBLE
  END AS approx_direct,
  (k_merged = k_direct AND kth_merged = kth_direct)
    AS sketches_identical,
  exact_distinct
FROM ms, ds, e
"""


# ---------------------------------------------------------------------------
# sketch algebra II: theta-style set DIFFERENCE from two KMV sketches
# ---------------------------------------------------------------------------
#
# |A \ B| from the k smallest hashes of each side (theta-sketch a-not-b,
# Dasgupta et al., "Theta-Sketch Framework", 2016): theta = min of the
# two sketch thresholds (an unsaturated sketch covers its whole set, so
# its threshold is the full hash space); below theta BOTH samples are
# complete, so the anti-join count there is an exact sample count and
# the estimate is one division: cnt * SPACE / theta.  A = customers
# with an urgent order, B = customers with a non-urgent order; the
# exact |A \ B| rides along for the error to be visible.
#
# 100 TB shape: each sketch is a k-row TakeOrdered (per-partition
# k-min + driver merge, kilobytes of shuffle); the difference is an
# anti-join of two k-row frames — metadata scale end to end.


def kmv_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def sk(pred):
        return (
            orders.filter(pred)
            .select(
                stable_hash64(F.col("o_custkey").cast("string")).alias("h")
            )
            .distinct()
            .orderBy("h")
            .limit(KMV_K)
        )

    urgent = F.col("o_orderpriority") == "1-URGENT"
    ska = sk(urgent).cache()
    skb = sk(~urgent).cache()

    def theta_of(s):
        return s.agg(
            F.count(F.lit(1)).alias("k"), F.max("h").alias("kth")
        ).select(
            F.when(F.col("k") < KMV_K, F.lit(_HASH_SPACE))
            .otherwise(F.col("kth"))
            .alias("theta")
        )

    th = (
        theta_of(ska)
        .crossJoin(theta_of(skb).withColumnRenamed("theta", "theta_b"))
        .select(
            F.least(F.col("theta"), F.col("theta_b")).alias("theta")
        )
    )
    diff_cnt = (
        ska.join(skb, "h", "left_anti")
        .crossJoin(F.broadcast(th))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_sample"))
    )
    exact = (
        orders.filter(urgent)
        .select("o_custkey")
        .distinct()
        .join(
            orders.filter(~urgent).select("o_custkey").distinct(),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_diff"))
    )
    return (
        th.crossJoin(diff_cnt)
        .crossJoin(exact)
        .select(
            "theta",
            "n_sample",
            (
                F.col("n_sample").cast("double")
                * (F.lit(_HASH_SPACE) / F.col("theta").cast("double"))
            ).alias("approx_diff"),
            "exact_diff",
        )
    )


_KMV_DIFF_SQL = f"""
WITH ha AS (
  SELECT DISTINCT {SQL_STABLE_HASH64.format(x="o_custkey::VARCHAR")} AS h
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
hb AS (
  SELECT DISTINCT {SQL_STABLE_HASH64.format(x="o_custkey::VARCHAR")} AS h
  FROM orders WHERE NOT (o_orderpriority = '1-URGENT')
),
ska AS (SELECT h FROM ha ORDER BY h LIMIT {KMV_K}),
skb AS (SELECT h FROM hb ORDER BY h LIMIT {KMV_K}),
tha AS (
  SELECT CASE WHEN COUNT(*) < {KMV_K} THEN {_HASH_SPACE}
         ELSE MAX(h) END AS theta_a FROM ska
),
thb AS (
  SELECT CASE WHEN COUNT(*) < {KMV_K} THEN {_HASH_SPACE}
         ELSE MAX(h) END AS theta_b FROM skb
),
th AS (
  SELECT LEAST(theta_a, theta_b) AS theta FROM tha, thb
),
dc AS (
  SELECT COUNT(*)::BIGINT AS n_sample
  FROM ska, th
  WHERE ska.h < th.theta AND ska.h NOT IN (SELECT h FROM skb)
),
ex AS (
  SELECT COUNT(*)::BIGINT AS exact_diff FROM (
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders
    WHERE NOT (o_orderpriority = '1-URGENT')
  )
)
SELECT theta, n_sample,
  n_sample::DOUBLE * ({_HASH_SPACE} / theta::DOUBLE) AS approx_diff,
  exact_diff
FROM th, dc, ex
"""


QUERIES = {
    "sketch_kmv_difference": Query(kmv_set_difference, _KMV_DIFF_SQL),
    "sketch_kmv_merge": Query(kmv_union_merge, _KMV_MERGE_SQL),
    "sketch_kmv_distinct": Query(kmv_distinct_customers, _KMV_SQL),
    "sketch_kmv_by_group": Query(kmv_distinct_by_group, _KMV_GROUP_SQL),
    "sketch_sample_quantiles": Query(sample_quantiles, _SQ_SQL),
    "sketch_hll_distinct": Query(hll_distinct, _HLL_SQL),
    "sketch_hll_intersection": Query(hll_intersection, _hll_ix_sql()),
}
