"""Scalar column helpers — the reference's F1-F20 surface (SURVEY 2.7)
re-expressed as native Column expressions (JVM-side, codegen-friendly;
no Python UDFs).

Also home of the *exact aggregation* helpers: double sums are made
order-independent by casting each row-level value to DECIMAL before the
sum, so a Spark aggregate and a DuckDB oracle aggregate produce
bit-identical doubles regardless of partitioning / accumulation order.
This is what makes hash-compare correctness gates stable at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Exact (order-independent) aggregates
# ---------------------------------------------------------------------------
#
# A parallel double sum is accumulation-order-dependent, and engine decimal
# casts round differently (Spark goes through the double's shortest string
# representation; DuckDB rounds the binary value), so neither plain SUM nor
# SUM(CAST(x AS DECIMAL)) hash-matches across engines.  What *is* bit-stable
# everywhere is per-row IEEE-754 arithmetic on identical input bits.  So:
# quantize each value with pure double ops — floor(x * 10000.0 + 0.5), i.e.
# round-half-up to 4 decimals — to an exact BIGINT, sum integers (exact,
# associative, order-free), and convert back with exact double division.
# Semantics: "SUM/AVG of x quantized to 1e-4" — deterministic at any
# parallelism, any engine, any scale factor.

_SCALE = "10000.0"


def quantize(c: Column) -> Column:
    return F.floor(c * F.lit(10000.0) + F.lit(0.5)).cast("long")


def dsum(col: Column | str, alias: str, bounded: bool = False) -> Column:
    """Order-independent SUM of a double column (quantized to 4 decimals),
    returned as double.  The accumulator is decimal(38,0), not long: a
    quantized extendedprice is ~1e9/row, so an int64 sum overflows around
    1e10 rows — inside the 100 TB target — while DuckDB's SUM(BIGINT)
    widens to HUGEINT automatically.  Decimal summing the exact integers
    is the faithful mirror; values (and hashes) are unchanged wherever the
    long sum didn't overflow.

    `bounded=True` keeps the BIGINT accumulator (whole-stage-codegen
    primitive path; decimal summing measured 1.75x slower on the bare
    aggregate — PERFORMANCE.md §decimal-accumulators).  The
    CALLER owns the proof obligation: per-group quantized |sum| must
    stay under 2^63 AT 100 TB, i.e. the GROUP's row count must not
    grow with corpus size (entity-keyed rollups where rows-per-entity
    is structurally constant — ~10 orders/customer at any TPC-H SF —
    qualify; corpus-grain or low-cardinality-group sums do NOT).
    State the bound in a comment at the call site.  The SQL twins are
    unaffected either way (DuckDB auto-widens BIGINT sums to
    HUGEINT)."""
    c = F.col(col) if isinstance(col, str) else col
    acc = quantize(c) if bounded else quantize(c).cast("decimal(38,0)")
    return (F.sum(acc).cast("double") / F.lit(10000.0)).alias(alias)


def davg(col: Column | str, alias: str, bounded: bool = False) -> Column:
    """Order-independent AVG (quantized sum / count), returned as double.
    `bounded` as in dsum — same proof obligation on the caller."""
    c = F.col(col) if isinstance(col, str) else col
    acc = quantize(c) if bounded else quantize(c).cast("decimal(38,0)")
    return (
        F.sum(acc).cast("double") / F.lit(10000.0) / F.count(c)
    ).alias(alias)


def sql_dsum_expr(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {_SCALE}"
    )


def sql_davg_expr(expr: str) -> str:
    return f"{sql_dsum_expr(expr)} / COUNT({expr})"


def sql_dsum(expr: str, alias: str) -> str:
    return f"{sql_dsum_expr(expr)} AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return f"{sql_davg_expr(expr)} AS {alias}"


# ---------------------------------------------------------------------------
# Reference scalar surface (SURVEY 2.7) as Column helpers
# ---------------------------------------------------------------------------


def clean_numeric(col: Column | str, default: str = "0") -> Column:
    """Empty/blank/missing cell -> default, then usable for cast.

    Reference semantics: checkForEmptyNull (NyTaxiYellowTrip.scala:78-84)
    maps null/"" to "0" before Double/Long parsing.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.nullif(F.trim(c), F.lit("")), F.lit(default))


def safe_num(col: Column | str, typ: str, default: str = "0") -> Column:
    """clean_numeric + try_cast: under Spark 4's default ANSI mode a
    plain cast THROWS on malformed content ('N/A' in a numeric cell),
    turning one bad record into a permanent streaming poison pill.
    try_cast yields null instead; the ingest keeps flowing (the
    reference would have crashed the executor on NumberFormatException).
    """
    return clean_numeric(col, default).try_cast(typ)


def parse_ts_millis(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """String timestamp -> epoch millis (LongType); malformed values ->
    null (try_to_timestamp — ANSI mode would otherwise throw mid-job).

    Reference parses with SimpleDateFormat("yyyy-MM-dd hh:mm:ss")
    (NyTaxiYellowTrip.scala:55-58); the 12-hour `hh` there is a bug
    (SURVEY 8.3) — intended 24-hour `HH` is implemented.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(F.try_to_timestamp(c, F.lit(fmt)))


def millis_to_iso8601(col: Column | str) -> Column:
    """Epoch millis -> ISO-8601 string, the Solr-document timestamp format
    (reference NyTaxiYellowTripStreaming.scala:189-195)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(
        F.timestamp_millis(c.cast("long")), "yyyy-MM-dd'T'HH:mm:ss'Z'"
    )


def dict_lookup(col: Column | str, mapping: dict, default: str) -> Column:
    """Tiny-dimension enrichment: Map.getOrElse
    (reference NyTaxiYellowTripStreaming.scala:24-36, applied :285) as a
    literal map lookup — stays inside codegen, no join, no shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    pairs = []
    for k, v in mapping.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.coalesce(F.element_at(F.create_map(*pairs), c), F.lit(default))


def clamp(col: Column | str, lo, hi) -> Column:
    """least(greatest(x, lo), hi) — reference maintenance-period clamping
    (ConnectedCarProfile.scala:126-131)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def accel_magnitude(ax: Column | str, ay: Column | str, az: Column | str) -> Column:
    """sqrt(ax^2+ay^2+az^2) — reference derived a_a (P1.scala:22-23)."""
    cx = F.col(ax) if isinstance(ax, str) else ax
    cy = F.col(ay) if isinstance(ay, str) else ay
    cz = F.col(az) if isinstance(az, str) else az
    return F.sqrt(F.pow(cx, 2) + F.pow(cy, 2) + F.pow(cz, 2))


def composite_id(*cols: Column | str, sep: str = "-") -> Column:
    """Composite document id (reference NyTaxiYellowTripStreaming.scala:192)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.concat_ws(sep, *cs)


def stable_hash64(col: Column | str) -> Column:
    """Portable deterministic 60-bit hash shared with the DuckDB oracle:
    first 15 hex chars of md5, as a BIGINT.  (Spark's hash/xxhash64 seeds
    differ from DuckDB's hash(); md5 is identical in both engines.)

    Spark:  conv(substring(md5(x), 1, 15), 16, 10) :: long
    DuckDB: ('0x' || substr(md5(x), 1, 15)) :: BIGINT
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


SQL_STABLE_HASH64 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
