"""Structured-Streaming pipelines — the reference's DStream graph
(NyTaxiYellowTripStreaming.scala:113-180, ConnectedCarStreaming.scala:
196-267) rebuilt on readStream/writeStream:

  S1  source            file stream in tests; `kafka_lines_stream` for a
                        real Kafka topic (same downstream plan)
  K1  fact append       writeStream parquet append (exactly-once via
                        checkpoint + idempotent file sink)
  K2  entity upsert     foreachBatch: aggregate the micro-batch, exact-
                        merge into the UpsertTable (A2's New/Modified/
                        Untouched flags collapse into MERGE semantics)
  J1  initial state     UpsertTable.init(snapshot) before starting —
                        unlike the reference's dead taxi bootstrap
                        (SURVEY 8.2), the seed actually participates
  K5  console sink      debug_console()

Exactly-once: the upsert ledger skips re-delivered batch ids, so
crash/restart replay does not double-count (the reference instead
swallowed duplicate-key write errors, NyTaxiYellowTripStreaming.scala:
298-313).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .upsert import UpsertTable


def checkpoint_namespace(checkpoint: str) -> str:
    """Exactly-once ledger namespace for a checkpoint location.

    A fresh checkpoint restarts batch ids at 0, so ledger keys carry a
    per-checkpoint namespace.  Derived from the NORMALIZED ABSOLUTE
    path: 'ckpt/', './ckpt' and '/abs/ckpt' are the same checkpoint,
    and a restart that spells it differently must land in the same
    namespace or replayed batch ids double-merge.
    """
    import hashlib
    import os

    canon = os.path.abspath(os.path.normpath(checkpoint))
    return hashlib.md5(canon.encode()).hexdigest()[:8]


# The record shape the kafka source emits (Spark's fixed wire schema) —
# the contract test decodes a frame of this shape so the projection
# below is exercised even where the kafka jar/broker is absent.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def kafka_reader_options(
    brokers: str, topics: str, starting_offsets: str = "latest"
) -> dict[str, str]:
    """The structured-streaming option surface equivalent to the
    reference's direct stream (NyTaxiYellowTripStreaming.scala:110-114:
    `metadata.broker.list` -> bootstrap servers, comma topic list ->
    `subscribe`; the old direct API starts at latest offsets unless
    told otherwise, hence the default)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
    }


def decode_kafka_lines(raw: DataFrame) -> DataFrame:
    """Binary (key, value) -> string lines: the StringDecoder role in
    the reference's createDirectStream[String, String, ...].  Shared by
    the live reader and the contract test's wire-schema twin."""
    return raw.selectExpr(
        "CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value"
    )


def kafka_lines_stream(
    spark: SparkSession,
    brokers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka CSV-lines source (S1): same (key, value) contract as the
    reference's direct stream.  Requires the spark-sql-kafka package at
    runtime; tests use file streams with the identical downstream plan
    plus a contract test over the option surface and wire schema."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(brokers, topics, starting_offsets).items():
        reader = reader.option(k, v)
    return decode_kafka_lines(reader.load())


def append_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger_once: bool = True,
    partition_by: list[str] | None = None,
) -> StreamingQuery:
    """K1 — append typed fact rows to a table (the Kudu insert path)."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def upsert_aggregate_stream(
    source: DataFrame,
    table: UpsertTable,
    aggregate_fn: Callable[[DataFrame], DataFrame],
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None,
    checkpoint: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """K2/A1/A2 — per micro-batch: aggregate the batch's rows, then
    exact-merge the partial aggregate into the keyed table.  Because the
    merge is associative and bit-exact (operators.merge), the table after
    any number of micro-batches equals the batch aggregate over all rows
    ever seen — the incremental == batch invariant, now end-to-end."""

    ns = checkpoint_namespace(checkpoint)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # merge_fn None -> last-write-wins row upsert (document sinks);
        # otherwise exact aggregate merge with the table's current rows
        # (the first batch creates the table from the partial alone).
        # No isEmpty() job here: apply_batch's bucket collect finds an
        # empty partial and returns without touching the table
        table.apply_batch(
            batch_id, aggregate_fn(batch_df), merge_fn, namespace=ns
        )

    w = (
        source.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def debug_console(df: DataFrame, n: int = 10) -> StreamingQuery:
    """K5 — tripDStream.print(10) analog."""
    return (
        df.writeStream.format("console")
        .option("numRows", n)
        .outputMode("append")
        .start()
    )
