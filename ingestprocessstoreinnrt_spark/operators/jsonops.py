"""Semi-structured (JSON) column operators — typed extraction and
schema discovery over the events.props payload column.

The reference's parsers only ever see positional CSV (NyTaxiYellowTrip
parser, SURVEY 2.3); a modern event pipeline lands JSON side-payloads
that must be queryable without a pre-declared schema.  Two shapes:

  * json_props_rollup — TYPED extraction: pull one known field with
    get_json_object (JVM codegen, no Python) and aggregate it per
    event_type.  Malformed or missing JSON degrades to NULL, never an
    exception — the same poison-pill discipline as
    functions.scalars.safe_num.
  * json_key_profile — SCHEMA DISCOVERY: parse each payload as
    map<string,string> and explode, yielding the observed key
    universe with per-key coverage and value stats.  This is the
    "what fields exist and how often" audit run before promoting a
    JSON field to a real column.

Scale shapes: both are one scan + one map-side-combined aggregate; the
JSON parse is a per-row expression inside whole-stage codegen.  At
100 TB the rollup's group count is |event_type| and the profile's is
|distinct keys| — kilobytes of shuffle either way.  DuckDB twins use
->> extraction and the json_each lateral; Spark's map-explode and
DuckDB's json_each enumerate keys in the same per-row order, and both
results flow through order-insensitive aggregates anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import Query


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type stats of the numeric `k` field inside props:
    (event_type, n, n_with_k, min_k, max_k, sum_k, n_distinct_k)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("k").cast("long").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
        )
    )


_PROPS_SQL = """
SELECT event_type, COUNT(*)::BIGINT AS n,
  COUNT(k)::BIGINT AS n_with_k,
  MIN(k) AS min_k, MAX(k) AS max_k,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  COUNT(DISTINCT k)::BIGINT AS n_distinct_k
FROM (
  SELECT event_type, TRY_CAST(props ->> 'k' AS BIGINT) AS k FROM events
)
GROUP BY event_type
"""


def key_profile_of(df: DataFrame, json_col: str) -> DataFrame:
    """Schema-discovery core over any string JSON column; malformed
    payloads parse to NULL maps and simply contribute no keys."""
    kv = df.select(
        F.explode(
            F.from_json(F.col(json_col), "map<string,string>")
        ).alias("key", "val")
    )
    total = df.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        kv.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("val").cast("long").alias("n_distinct"),
            F.min(F.col("val").try_cast("long")).alias("min_num"),
            F.max(F.col("val").try_cast("long")).alias("max_num"),
        )
        .join(F.broadcast(total))
        .select(
            "key",
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("n_total").cast("double"))
            .alias("coverage"),
            "n_distinct",
            "min_num",
            "max_num",
        )
    )


def json_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed JSON schema of props: one row per key with coverage
    and numeric value stats — (key, n_rows, coverage, n_distinct,
    min_num, max_num).  coverage = n_rows / corpus (one double
    division of exact integers)."""
    return key_profile_of(load_table(spark, sf_dir, "events"), "props")


_KEYS_SQL = """
WITH kv AS (
  -- lockstep unnest over json_keys + dynamic-path extraction (the
  -- json_each lateral needs the non-bundled json extension)
  SELECT unnest(json_keys(props)) AS key,
         json_extract_string(props, unnest(json_keys(props))) AS val
  FROM events
),
t AS (SELECT COUNT(*)::BIGINT AS n_total FROM events)
SELECT key, COUNT(*)::BIGINT AS n_rows,
  COUNT(*)::DOUBLE / ANY_VALUE(n_total)::DOUBLE AS coverage,
  COUNT(DISTINCT val)::BIGINT AS n_distinct,
  MIN(TRY_CAST(val AS BIGINT)) AS min_num,
  MAX(TRY_CAST(val AS BIGINT)) AS max_num
FROM kv CROSS JOIN t
GROUP BY key
"""


QUERIES = {
    "json_props_rollup": Query(json_props_rollup, _PROPS_SQL),
    "json_key_profile": Query(json_key_profile, _KEYS_SQL),
}
