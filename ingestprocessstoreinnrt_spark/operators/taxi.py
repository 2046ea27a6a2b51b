"""NY-taxi vertical: the reference's A1 entity aggregation and the four
Impala BI queries, on the canonical typed trip table.

Entity semantics = NyTaxiYellowEntity.`+` (NyTaxiYellowEntity.scala:31-58):
trip count, passenger sum, distance sum (the reference adds distance into
total_dispute_trips, line 36 — intended column implemented, SURVEY 8.1),
running max distance, 7 measures x {credit_card, cash} conditional sums
(:38-51), and 6 payment-code counters (:52-57).  Expressed as one
algebraic groupBy — partial-aggregated map-side, order-free, identical in
batch / incremental / streaming use.

BI queries = impala/ny_taxi/*.impala, with recorded-bug deviations:
top-ten is descending (bi_top_ten_venders_in_trips.impala:35 lacks DESC,
SURVEY 8.6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import davg, dsum
from ..planmemo import session_columns

_MEASURES = {
    "fare_amount": "fare_amount",
    "extra": "extra",
    "mta_tax": "mta_tax",
    "impr_surcharge": "improvement_surcharge",
    "tip_amount": "tip_amount",
    "tolls_amount": "tolls_amount",
    "total_amount": "total_amount",
}
_CODE_NAMES = {
    "1": "credit_card",
    "2": "cash",
    "3": "no_charge",
    "4": "dispute",
    "5": "unknown",
    "6": "voided",
}


def _gated(code: str, col: str) -> Column:
    return F.when(F.col("payment_type") == code, F.col(col))


def _entity_columns() -> tuple[list[Column], dict[str, Column]]:
    """The entity's aggregates and its zero-fill map."""
    aggs: list[Column] = [
        F.count(F.lit(1)).alias("total_trips"),
        F.sum("passenger_count").cast("long").alias("total_passengers"),
        dsum("trip_distance", "total_distance_of_trips"),
        F.max("trip_distance").alias("max_distance_of_trip"),
    ]
    fill: dict[str, Column] = {}
    for gate, stem in (("1", "credit_card"), ("2", "cash")):
        for out_name, col in _MEASURES.items():
            name = f"total_{stem}_{out_name}"
            aggs.append(dsum(_gated(gate, col), name))
            # reference accumulators start at 0.0
            fill[name] = F.coalesce(F.col(name), F.lit(0.0))
    for code, name in _CODE_NAMES.items():
        aggs.append(
            F.sum(F.when(F.col("payment_type") == code, 1).otherwise(0))
            .cast("long")
            .alias(f"total_{name}_trips")
        )
    return aggs, fill


def entity_from_trips(trips: DataFrame) -> DataFrame:
    """A1: per-vendor running entity (schemas.TAXI_ENTITY).  The column
    expressions are built once per application
    (planmemo.session_columns): building them costs ~2,800 py4j round
    trips, which per micro-batch was the upsert stream's largest
    driver-side cost."""
    aggs, fill = session_columns(
        trips.sparkSession, ("taxi.entity",), _entity_columns
    )
    return trips.groupBy("vender_id").agg(*aggs).withColumns(fill)


def merge_taxi_entities(*parts: DataFrame) -> DataFrame:
    """Exact merge of per-split vendor entities (streaming upsert path)."""
    from .merge import merge_keyed

    cols = parts[0].columns
    qsums = [
        c
        for c in cols
        if c == "total_distance_of_trips"
        or (c.startswith(("total_credit_card_", "total_cash_")) and not c.endswith("_trips"))
    ]
    return merge_keyed(
        parts,
        key_cols=["vender_id"],
        count_cols=[
            c
            for c in cols
            if c.endswith(("_trips", "_passengers"))
            and c != "total_distance_of_trips"  # a qsum despite the suffix
        ],
        qsum_cols=qsums,
        max_cols=["max_distance_of_trip"],
    )


# --- Impala BI queries over the trip table ---------------------------------


def payment_type_rollup(trips: DataFrame) -> DataFrame:
    """bi_payment_type_roll_up.impala:1-32 — GROUP BY payment_type,
    vender_id with the SUM/MAX/AVG battery + COUNT(*)."""
    measures = [
        "passenger_count",
        "trip_distance",
        "fare_amount",
        "extra",
        "mta_tax",
        "tip_amount",
        "tolls_amount",
        "total_amount",
    ]
    aggs = [F.count(F.lit(1)).alias("trip_count")]
    for m in measures:
        aggs.append(dsum(m, f"sum_{m}"))
        aggs.append(F.max(m).alias(f"max_{m}"))
        aggs.append(davg(m, f"avg_{m}"))
    return trips.groupBy("payment_type", "vender_id").agg(*aggs)


def top_ten_vendors(trips: DataFrame) -> DataFrame:
    """bi_top_ten_venders_in_trips.impala:1-36 (intended: DESC).
    Plans as TakeOrderedAndProject — per-partition top-10 then a driver
    merge, no global sort."""
    return (
        trips.groupBy("vender_id")
        .agg(
            F.count(F.lit(1)).alias("trip_count"),
            dsum("total_amount", "sum_total_amount"),
            dsum("trip_distance", "sum_trip_distance"),
            davg("trip_distance", "avg_trip_distance"),
        )
        .orderBy(F.col("trip_count").desc(), F.col("vender_id"))
        .limit(10)
    )


def trip_per_time_of_day(trips: DataFrame, day_of_week: int = 3) -> DataFrame:
    """bi_trip_per_time_of_day.impala:1-14: group by
    dayofweek/hour(from_unixtime(pickup/1000)), measures incl. the
    ratio-of-averages speed; outer filter on day_of_week (P7)."""
    ts = F.timestamp_millis(F.col("tpep_pickup_datetime"))
    dur_sec = (
        F.col("tpep_dropoff_datetime") - F.col("tpep_pickup_datetime")
    ) / 1000.0
    return (
        trips.withColumn("day_of_week", F.dayofweek(ts))
        .withColumn("hour_of_day", F.hour(ts))
        .withColumn("duration_sec", dur_sec)
        .groupBy("day_of_week", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("trip_count"),
            davg("trip_distance", "avg_distance"),
            davg("duration_sec", "avg_duration_sec"),
        )
        .withColumn(
            "avg_mph",
            F.col("avg_distance") / (F.col("avg_duration_sec") / 3600.0),
        )
        .filter(F.col("day_of_week") == day_of_week)
    )


def vendor_trip_history(trips: DataFrame, vender_id: str) -> DataFrame:
    """bi_pull_up_vender_trip_history.impala:7-10 (P6 point lookup)."""
    return trips.filter(F.col("vender_id") == vender_id)
