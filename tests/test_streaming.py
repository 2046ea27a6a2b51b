"""Structured-Streaming path: file-source micro-batches -> foreachBatch
exact-merge upsert; invariants: streaming result == batch aggregate over
all data (bit-exact), replay idempotency, initial-state bootstrap."""

from __future__ import annotations

import os
import time
import shutil

import pytest
from pyspark.sql import functions as F

from ingestprocessstoreinnrt_spark.catalog import load_table
from ingestprocessstoreinnrt_spark.operators import car, entity, taxi
from ingestprocessstoreinnrt_spark.sources import csv_clean, generators
from ingestprocessstoreinnrt_spark.streaming import pipelines
from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
from tests.conftest import SF_ORACLE


def _rows(df, key):
    return {r[key]: tuple(r[c] for c in sorted(df.columns)) for r in df.collect()}


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


def _write_chunked_csv(path, rows, n_chunks, seed):
    """One fixture CSV split into n chunk files (distinct micro-batches)."""
    full = generators.write_taxi_csv(path + "/all.csv", rows=rows, seed=seed)
    with open(full) as f:
        lines = [ln for ln in f.read().splitlines() if ln]
    header, data = lines[0], lines[1:]
    os.makedirs(path + "/stream", exist_ok=True)
    k = len(data) // n_chunks + 1
    for i in range(n_chunks):
        with open(f"{path}/stream/chunk{i:03d}.csv", "w") as f:
            f.write("\n".join([header] + data[i * k : (i + 1) * k]) + "\n")
    return path + "/stream", full


def test_streaming_entity_equals_batch(spark, workdir):
    stream_dir, full_csv = _write_chunked_csv(workdir, 2000, 4, seed=13)
    table = UpsertTable(
        spark, workdir + "/entity_table", ["vender_id"], num_buckets=4
    )
    src = csv_clean.read_taxi_trips_stream(spark, stream_dir)
    q = pipelines.upsert_aggregate_stream(
        src,
        table,
        taxi.entity_from_trips,
        lambda cur, new: taxi.merge_taxi_entities(cur, new),
        checkpoint=workdir + "/ckpt",
    )
    q.awaitTermination(120)

    batch = taxi.entity_from_trips(csv_clean.read_taxi_trips(spark, full_csv))
    assert _rows(table.read(), "vender_id") == _rows(batch, "vender_id")


def test_header_only_batch_leaves_no_table_or_marker(spark, workdir):
    """An empty micro-batch (a header-only CSV) creates no table and no
    ledger marker; the data batch after it lands exactly."""
    full_csv = generators.write_taxi_csv(workdir + "/all.csv", rows=600, seed=19)
    with open(full_csv) as f:
        header = f.readline()
    stream_dir, ckpt = workdir + "/stream", workdir + "/ckpt"
    os.makedirs(stream_dir)
    with open(stream_dir + "/a_header_only.csv", "w") as f:
        f.write(header)
    table = UpsertTable(spark, workdir + "/entity", ["vender_id"], num_buckets=4)

    def run():
        pipelines.upsert_aggregate_stream(
            csv_clean.read_taxi_trips_stream(spark, stream_dir),
            table, taxi.entity_from_trips,
            lambda c, n: taxi.merge_taxi_entities(c, n), ckpt,
        ).awaitTermination(120)

    run()
    assert os.path.exists(ckpt + "/commits/0"), "the empty batch ran"
    assert not table.exists()
    assert not os.path.isdir(table._ledger) or not os.listdir(table._ledger)

    shutil.copy(full_csv, stream_dir + "/b_data.csv")
    run()
    assert os.path.exists(ckpt + "/commits/1")
    batch = taxi.entity_from_trips(csv_clean.read_taxi_trips(spark, full_csv))
    assert _rows(table.read(), "vender_id") == _rows(batch, "vender_id")
    assert len(os.listdir(table._ledger)) == 1


def test_upsert_stream_builds_columns_once_within_round_trip_budget(
    spark, workdir, monkeypatch
):
    """The upsert path's column expressions are built once per
    application, not per micro-batch: over a multi-batch stream the
    entity builder runs once, and a warm aggregate + merge
    construction stays within a py4j round-trip budget (rebuilding
    the columns costs ~5,000)."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    from ingestprocessstoreinnrt_spark import planmemo

    stream_dir, full_csv = _write_chunked_csv(workdir, 900, 3, seed=31)
    builds = []
    build = taxi._entity_columns
    monkeypatch.setattr(
        taxi, "_entity_columns", lambda: builds.append(1) or build()
    )
    planmemo.clear()
    table = UpsertTable(spark, workdir + "/entity", ["vender_id"], num_buckets=4)
    src = csv_clean.taxi_trips_from_lines(
        spark.readStream.option("maxFilesPerTrigger", 1)
        .format("text").load(stream_dir)
    )
    q = pipelines.upsert_aggregate_stream(
        src, table, taxi.entity_from_trips,
        lambda c, n: taxi.merge_taxi_entities(c, n),
        checkpoint=workdir + "/ckpt",
    )
    q.awaitTermination(120)
    assert sum(p.numInputRows > 0 for p in q.recentProgress) >= 3
    trips = csv_clean.read_taxi_trips(spark, full_csv)
    assert _rows(table.read(), "vender_id") == _rows(
        taxi.entity_from_trips(trips), "vender_id"
    )
    assert len(builds) == 1

    current = table.read()
    calls = [0]
    send = ClientServerConnection.send_command
    # count this thread's calls only: py4j's finalizer thread sends the
    # deletes of objects freed before the window (by gc.collect() below)
    # whenever it gets to them, and those are not construction
    me = threading.get_ident()

    def counting(self, command):
        calls[0] += threading.get_ident() == me
        return send(self, command)

    gc.collect()
    gc.disable()  # no finalizer of an older py4j object lands in the count
    try:
        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        merged = taxi.merge_taxi_entities(current, taxi.entity_from_trips(trips))
        monkeypatch.setattr(ClientServerConnection, "send_command", send)
    finally:
        gc.enable()
    assert merged.columns == current.columns
    assert calls[0] <= 500, f"{calls[0]} py4j round trips"


def test_streaming_restart_is_exactly_once(spark, workdir):
    stream_dir, full_csv = _write_chunked_csv(workdir, 1500, 3, seed=17)
    table = UpsertTable(
        spark, workdir + "/entity_table", ["vender_id"], num_buckets=4
    )
    ckpt = workdir + "/ckpt"

    # first run consumes everything
    src = csv_clean.read_taxi_trips_stream(spark, stream_dir)
    pipelines.upsert_aggregate_stream(
        src, table, taxi.entity_from_trips,
        lambda c, n: taxi.merge_taxi_entities(c, n), ckpt,
    ).awaitTermination(120)
    first = _rows(table.read(), "vender_id")

    # restart with the same checkpoint: nothing new -> no change
    src2 = csv_clean.read_taxi_trips_stream(spark, stream_dir)
    pipelines.upsert_aggregate_stream(
        src2, table, taxi.entity_from_trips,
        lambda c, n: taxi.merge_taxi_entities(c, n), ckpt,
    ).awaitTermination(120)
    assert _rows(table.read(), "vender_id") == first

    # add one more file; only it is processed
    extra_dir, extra_csv = _write_chunked_csv(workdir + "/x", 500, 1, seed=23)
    shutil.copy(extra_dir + "/chunk000.csv", stream_dir + "/chunk900.csv")
    src3 = csv_clean.read_taxi_trips_stream(spark, stream_dir)
    pipelines.upsert_aggregate_stream(
        src3, table, taxi.entity_from_trips,
        lambda c, n: taxi.merge_taxi_entities(c, n), ckpt,
    ).awaitTermination(120)

    both = csv_clean.read_taxi_trips(spark, full_csv).unionByName(
        csv_clean.read_taxi_trips(spark, extra_csv)
    )
    assert _rows(table.read(), "vender_id") == _rows(
        taxi.entity_from_trips(both), "vender_id"
    )


def test_initial_state_bootstrap(spark, workdir):
    """J1 — seed the entity table from a 'prior' snapshot, stream only the
    remainder, end equal to batch over everything (the wiring the
    reference's taxi job loads but never uses, SURVEY 8.2)."""
    stream_dir, full_csv = _write_chunked_csv(workdir, 1200, 2, seed=29)
    trips = csv_clean.read_taxi_trips(spark, full_csv).cache()
    seed_trips = trips.filter(F.pmod(F.xxhash64("tpep_pickup_datetime"), F.lit(2)) == 0)
    rest_trips = trips.filter(F.pmod(F.xxhash64("tpep_pickup_datetime"), F.lit(2)) == 1)

    table = UpsertTable(spark, workdir + "/entity", ["vender_id"], num_buckets=4)
    table.init(taxi.entity_from_trips(seed_trips))

    rest_dir = workdir + "/rest"
    os.makedirs(rest_dir, exist_ok=True)
    rest_trips.coalesce(1).write.mode("overwrite").parquet(workdir + "/rest_pq")
    rest_lines = spark.read.parquet(workdir + "/rest_pq")
    # stream the remainder as parquet file-source micro-batches
    src = spark.readStream.schema(rest_lines.schema).parquet(workdir + "/rest_pq")
    pipelines.upsert_aggregate_stream(
        src, table, taxi.entity_from_trips,
        lambda c, n: taxi.merge_taxi_entities(c, n), workdir + "/ckpt",
    ).awaitTermination(120)

    assert _rows(table.read(), "vender_id") == _rows(
        taxi.entity_from_trips(trips), "vender_id"
    )
    trips.unpersist()


def test_upsert_last_write_wins_and_pruning(spark, workdir):
    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=8)
    df1 = spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["k", "v"])
    t.init(df1)
    t.upsert(spark.createDataFrame([(5, "NEW"), (7, "NEW")], ["k", "v"]))
    got = {r.k: r.v for r in t.read().collect()}
    assert got[5] == "NEW" and got[7] == "NEW" and got[3] == "v3"
    assert len(got) == 100
    # replay same logical batch via ledger -> no-op
    t.apply_batch(1, spark.createDataFrame([(5, "X")], ["k", "v"]))
    t.apply_batch(1, spark.createDataFrame([(5, "Y")], ["k", "v"]))
    assert {r.v for r in t.read().filter("k=5").collect()} == {"X"}


def test_apply_batch_crash_rollback(spark, workdir):
    """Crash between data-write and applied-marker must not double-count
    on replay: the undo log renames the pre-batch buckets back first."""
    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=4)
    mk = lambda rows: spark.createDataFrame(rows, ["k", "n"])  # noqa: E731
    merge = lambda cur, new: (  # additive merge: double-apply detectable
        cur.unionByName(new)
        .groupBy("k")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    t.apply_batch(0, mk([(1, 10), (2, 20)]), merge)

    # the crash window for batch 1: the swap landed the merged buckets
    # in data/ with the pre-batch ones in the undo entry, and the
    # writer died before commit() wrote the applied marker
    class WriterDied(BaseException):
        pass

    def die(_key):
        raise WriterDied

    dead = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=4)
    dead.txn_log.commit = die
    with pytest.raises(WriterDied):
        dead.apply_batch(1, mk([(1, 1)]), merge)
    assert {r.k: r.n for r in t.read().collect()} == {1: 11, 2: 20}
    assert not t.already_applied(1)
    # Structured Streaming replays 1:
    t.apply_batch(1, mk([(1, 1)]), merge)
    got = {r.k: r.n for r in t.read().collect()}
    assert got == {1: 11, 2: 20}, got  # 10+1 once, NOT 10+1+1


def test_streaming_car_profile_stats(spark, workdir):
    """Car profile via sufficient statistics: streamed stats == batch
    stats bit-for-bit, and the derived profile matches."""
    p = generators.write_car_readings_csv(
        workdir + "/car.csv", cars=10, sweeps=60, seed=5, error_mode=True
    )
    # split to 3 chunk files
    with open(p) as f:
        lines = f.read().splitlines()
    os.makedirs(workdir + "/carstream", exist_ok=True)
    k = len(lines) // 3 + 1
    for i in range(3):
        with open(f"{workdir}/carstream/c{i}.csv", "w") as f:
            f.write("\n".join(lines[i * k : (i + 1) * k]) + "\n")

    table = UpsertTable(spark, workdir + "/stats", ["vin"], num_buckets=4)
    src = csv_clean.read_car_readings_stream(spark, workdir + "/carstream")
    pipelines.upsert_aggregate_stream(
        src, table, car.stats_from_readings,
        lambda c, n: car.merge_stats(c, n), workdir + "/ckpt2",
    ).awaitTermination(120)

    batch_stats = car.stats_from_readings(csv_clean.read_car_readings(spark, p))
    assert _rows(table.read(), "vin") == _rows(batch_stats, "vin")
    prof = car.profile_from_stats(table.read())
    assert prof.count() == batch_stats.count()
    assert "oil_replacement_period" in prof.columns


def test_streaming_orders_entity(spark, workdir):
    """Same machinery on the testdata orders table (customer entity)."""
    orders = load_table(spark, SF_ORACLE, "orders")
    orders.write.mode("overwrite").parquet(workdir + "/orders_pq")
    static = spark.read.parquet(workdir + "/orders_pq")
    src = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "2"
    ).parquet(workdir + "/orders_pq")
    table = UpsertTable(spark, workdir + "/ent", ["o_custkey"], num_buckets=8)
    pipelines.upsert_aggregate_stream(
        src, table, entity.entity_from_orders,
        lambda c, n: entity.merge_entities(c, n), workdir + "/ckpt3",
    ).awaitTermination(180)
    assert _rows(table.read(), "o_custkey") == _rows(
        entity.entity_from_orders(static), "o_custkey"
    )


def test_first_batch_in_batch_duplicate_keys_deduped(spark, workdir):
    """Table-creation path must honor the same deterministic LWW dedup
    as the merge path: one row per key even on the very first batch."""
    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=4)
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "x"), (1, "c")], ["k", "v"]
    )
    t.upsert(dup)
    rows = t.read().collect()
    assert len(rows) == 2
    winner = {r.k: r.v for r in rows}
    # rerun on a fresh table -> same winner (deterministic tie-break)
    t2 = UpsertTable(spark, workdir + "/t2", ["k"], num_buckets=4)
    t2.upsert(dup)
    assert {r.k: r.v for r in t2.read().collect()} == winner


def test_merge_fn_out_of_batch_keys_refused(spark, workdir):
    """A merge_fn that invents keys hashing outside the batch's buckets
    would dynamic-overwrite buckets that were never read (losing their
    rows) — apply_batch/upsert must refuse instead."""
    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=16)
    mk = lambda rows: spark.createDataFrame(rows, ["k", "n"])  # noqa: E731
    t.init(mk([(i, i) for i in range(64)]))

    def bad_merge(cur, new):
        # emits every key 0..63 regardless of the batch
        return mk([(i, -1) for i in range(64)])

    before = sorted((r.k, r.n) for r in t.read().collect())
    with pytest.raises(ValueError, match="outside the batch's buckets"):
        t.apply_batch(7, mk([(3, 100)]), bad_merge)
    # table untouched and batch NOT marked applied
    assert sorted((r.k, r.n) for r in t.read().collect()) == before
    assert not t.already_applied(7)
    # the ledger-free entry point runs the same check
    with pytest.raises(ValueError, match="outside the batch's buckets"):
        t.upsert(mk([(3, 100)]), bad_merge)
    assert sorted((r.k, r.n) for r in t.read().collect()) == before


@pytest.mark.parametrize("use_merge_fn", [False, True], ids=["lww", "merge_fn"])
def test_undo_snapshot_covers_every_written_bucket(spark, workdir, use_merge_fn):
    """The undo log must move out every bucket the write replaces, or a
    rollback leaves that bucket half-applied.  The list is the staged
    output's `_bucket=NN` listing, so pin it: the snapshotted buckets
    are exactly the `_bucket=NN` dirs whose file listing the write
    changed."""
    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=8)
    mk = lambda rows: spark.createDataFrame(rows, ["k", "n"])  # noqa: E731
    t.init(mk([(i, i) for i in range(64)]))
    merge = lambda cur, new: (  # noqa: E731
        cur.unionByName(new)
        .groupBy("k")
        .agg(F.sum("n").cast("long").alias("n"))
    )

    def listing():
        return {
            d: sorted(os.listdir(os.path.join(t._data(), d)))
            for d in os.listdir(t._data())
            if d.startswith("_bucket=")
        }

    snapped: list = []
    orig = t.txn_log.snapshot_buckets

    def recording(key, data_dir, buckets):
        snapped.extend(buckets)
        return orig(key, data_dir, buckets)

    t.txn_log.snapshot_buckets = recording
    before = listing()
    t.apply_batch(
        1, mk([(3, 100), (17, 100), (40, 100)]), merge if use_merge_fn else None
    )
    after = listing()
    changed = {
        d for d in before.keys() | after.keys()
        if before.get(d) != after.get(d)
    }
    assert changed
    assert sorted(f"_bucket={b}" for b in snapped) == sorted(changed)


def test_kafka_reader_contract(spark):
    """S1 — the Kafka front door, executed as far as the environment
    allows (no broker, no kafka jar): the option surface must match the
    reference's direct-stream invocation
    (NyTaxiYellowTripStreaming.scala:110-114), the StringDecoder
    projection must decode the fixed kafka wire schema, and the live
    reader builder must either produce the streaming (key, value) frame
    or fail with the documented missing-datasource error — nothing
    else."""
    opts = pipelines.kafka_reader_options(
        "broker1:9092,broker2:9092", "taxi-trips,car-events"
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "taxi-trips,car-events",
        "startingOffsets": "latest",
    }

    raw = spark.createDataFrame(
        [
            (
                bytearray(b"42"),
                bytearray(b"2026-01-01 00:01:00,2026-01-01 00:06:00,1,2.5"),
                "taxi-trips",
                0,
                7,
                None,
                0,
            ),
            (None, bytearray(b"k2,v2"), "taxi-trips", 1, 9, None, 0),
        ],
        pipelines.KAFKA_WIRE_SCHEMA,
    )
    out = pipelines.decode_kafka_lines(raw)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("key", "string"),
        ("value", "string"),
    ]
    rows = {r.key: r.value for r in out.collect()}
    assert rows["42"].startswith("2026-01-01 00:01:00,")
    assert rows[None] == "k2,v2"  # null keys survive the cast

    try:
        df = pipelines.kafka_lines_stream(spark, "localhost:9092", "t")
    except Exception as exc:  # environment limit: kafka jar absent
        assert "kafka" in str(exc).lower()
    else:
        assert df.isStreaming
        assert [f.name for f in df.schema.fields] == ["key", "value"]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join emits exactly the
    batch interval-join pairs once both watermarks pass the data."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.streaming import joins as sjoins
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_ORACLE, "events")
    d = str(tmp_path / "ev_join")
    ev.write.mode("overwrite").parquet(d)
    static = spark.read.parquet(d)
    clicks_b = static.filter(F.col("event_type") == "click")
    purchases_b = static.filter(F.col("event_type") == "purchase")
    batch = {
        (r.purchase_id, r.click_id)
        for r in sjoins.click_purchase_interval_join(
            clicks_b, purchases_b
        ).collect()
    }
    assert batch  # the corpus contains attributable purchases

    src = spark.readStream.schema(static.schema).parquet(d)
    clicks_s = src.filter(F.col("event_type") == "click")
    purchases_s = src.filter(F.col("event_type") == "purchase")
    joined = sjoins.click_purchase_interval_join(clicks_s, purchases_s)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    }
    # append-mode emission waits on the watermark: with availableNow
    # over one file the final watermark covers all data, so the emitted
    # set must equal the batch join exactly (no dupes, no misses)
    assert streamed == batch


def test_stream_dedup_drops_redelivered_rows(spark, tmp_path):
    """dropDuplicatesWithinWatermark emits one row per key when the
    source redelivers: duplicated input -> batch-distinct output."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.streaming import joins as sjoins
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_ORACLE, "events").limit(2000)
    d = str(tmp_path / "ev_dup")
    # an at-least-once source: every event delivered twice
    ev.unionByName(ev).write.mode("overwrite").parquet(d)
    static = spark.read.parquet(d)
    assert static.count() == 2 * ev.count()

    src = spark.readStream.schema(static.schema).parquet(d)
    deduped = sjoins.dedup_stream(src, ["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("sdd_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT event_id FROM sdd_test").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids))  # no duplicate emissions
    assert set(ids) == {r.event_id for r in ev.select("event_id").collect()}


def test_continuous_hourly_rollup_via_upsert(spark, tmp_path):
    """Continuous aggregate (hypertable-rollup style): the streaming
    upsert path maintains an hourly x event_type rollup incrementally;
    after all micro-batches it equals the batch tumbling rollup."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.operators import windows as bwin
    from ingestprocessstoreinnrt_spark.streaming import pipelines
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable
    from ingestprocessstoreinnrt_spark.functions.scalars import dsum
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_ORACLE, "events").limit(5000)
    d = str(tmp_path / "ev_cont")
    ev.write.mode("overwrite").parquet(d)  # several files => micro-batches
    static = spark.read.parquet(d)

    def hourly(batch_df):
        return (
            batch_df.groupBy(
                F.window("ts", "1 hour").alias("w"), F.col("event_type")
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

    def merge(cur, new):
        # exact merge: counts add; quantized sums add (associative ints)
        u = cur.unionByName(new)
        return u.groupBy("window_start_us", "event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum(F.floor(F.col("total_value") * 10000 + 0.5).cast("long"))
            .cast("double")
            .alias("_q"),
        ).withColumn("total_value", F.col("_q") / 10000.0).drop("_q")

    table = UpsertTable(
        spark,
        str(tmp_path / "cont_rollup"),
        ["window_start_us", "event_type"],
        num_buckets=4,
    )
    src = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(d)
    q = pipelines.upsert_aggregate_stream(
        src, table, hourly, merge, checkpoint=str(tmp_path / "ckpt_cont")
    )
    q.awaitTermination()

    got = {
        (r.window_start_us, r.event_type): (r.n_events, round(r.total_value, 4))
        for r in table.read().collect()
    }
    want = {
        (r.window_start_us, r.event_type): (r.n_events, round(r.total_value, 4))
        for r in hourly(static).collect()
    }
    assert got == want


def test_streaming_incremental_agg_equals_batch_query(spark, workdir):
    """Streaming twin of operators/incremental.py: orders arrive in 4
    micro-batches, each batch's per-customer PARTIALS merge into the
    upsert table; the derived (n_orders, avg) table ends bit-identical
    to the oracled incremental_customer_agg batch query — the IVM
    monoid survives the trip through foreachBatch."""
    from ingestprocessstoreinnrt_spark.operators import incremental

    orders = load_table(spark, SF_ORACLE, "orders")
    src_dir = workdir + "/orders_stream"
    # 4 deterministic chunks as separate parquet files
    orders.withColumn(
        "chunk", F.pmod(F.col("o_orderkey"), F.lit(4))
    ).write.partitionBy("chunk").parquet(src_dir)

    schema = orders.schema
    table = UpsertTable(
        spark, workdir + "/partials", ["o_custkey"], num_buckets=4
    )

    def merge(cur, new):
        return (
            cur.unionByName(new)
            .groupBy("o_custkey")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("qsum").alias("qsum"),
            )
        )

    for c in range(4):
        stream = spark.readStream.schema(schema).parquet(
            f"{src_dir}/chunk={c}"
        )
        pipelines.upsert_aggregate_stream(
            stream,
            table,
            incremental._partials,
            merge,
            checkpoint=f"{workdir}/ckpt{c}",
        ).awaitTermination(120)

    got = table.read().select(
        "o_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        (
            F.col("qsum").cast("double")
            / F.lit(10000.0)
            / F.col("n_orders").cast("double")
        ).alias("avg_totalprice"),
    )
    want = incremental.incremental_customer_agg(spark, SF_ORACLE)
    assert _rows(got, "o_custkey") == _rows(want, "o_custkey")


def test_streaming_incremental_dedup_equals_batch(spark, workdir):
    """Streaming twin of dedup_incremental (VERDICT r6 item 3): docs
    arrive in 3 file micro-batches; each batch's near-dup verdicts are
    computed against the UpsertTable-persisted signature index BEFORE
    the batch's own signatures upsert (exactly-once via apply_batch).
    The union of streamed verdicts equals the whole-corpus LSH pairs —
    the corpus is never rescanned, only the doc_id-keyed index/token
    tables grow."""
    from ingestprocessstoreinnrt_spark.operators import dedup

    docs = load_table(spark, SF_ORACLE, "documents")
    src = workdir + "/docs_stream"
    docs.withColumn(
        "chunk", F.pmod(F.col("doc_id"), F.lit(3))
    ).write.partitionBy("chunk").parquet(src)

    sig_table = UpsertTable(
        spark, workdir + "/sigs", ["doc_id", "band"], num_buckets=4
    )
    tok_table = UpsertTable(
        spark, workdir + "/toks", ["doc_id"], num_buckets=4
    )
    out_dir = workdir + "/verdicts"

    def handle(batch_df, chunk: int):
        part = dedup._token_frame(batch_df)
        index = (
            sig_table.read()
            if sig_table.exists()
            else dedup._band_frame(part).filter(F.lit(False))
        )
        known = (
            tok_table.read().unionByName(part)
            if tok_table.exists()
            else part
        )
        v = dedup.incremental_lsh_verdicts(part, index, known)
        # verdicts must MATERIALIZE before the index mutates (the
        # upsert rewrites bucket files a lazy plan would re-read)
        v.write.mode("overwrite").parquet(f"{out_dir}/chunk={chunk}")
        sig_table.apply_batch(
            chunk, dedup._band_frame(part), namespace="sigs"
        )
        tok_table.apply_batch(chunk, part, namespace="toks")

    for c in range(3):
        stream = spark.readStream.schema(docs.schema).parquet(
            f"{src}/chunk={c}"
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid, c=c: handle(df, c)
            )
            .option("checkpointLocation", f"{workdir}/ckpt{c}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in spark.read.parquet(out_dir).collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(spark, SF_ORACLE).collect()
    }
    assert got == want


def test_streaming_hll_registers_merge_to_batch_sketch(spark, workdir):
    """HLL is a streaming-native sketch: per micro-batch register
    partials merge into the upsert table with MAX — after 4 arbitrary
    batches the (j, r) register table is identical to the batch
    sketch, hence so is the estimate.  This is the cross-batch twin
    of the partition-invariance property."""
    from ingestprocessstoreinnrt_spark.operators import sketch

    ev = load_table(spark, SF_ORACLE, "events").select("event_id")
    src_dir = workdir + "/ev_stream"
    ev.withColumn(
        "chunk", F.pmod(F.col("event_id"), F.lit(4))
    ).write.partitionBy("chunk").parquet(src_dir)

    registers = lambda df: sketch.hll_registers(df, "event_id")  # noqa: E731

    table = UpsertTable(spark, workdir + "/regs", ["j"], num_buckets=4)

    def merge(cur, new):
        return (
            cur.unionByName(new)
            .groupBy("j")
            .agg(F.max("r").alias("r"))
        )

    schema = ev.schema
    for c in range(4):
        stream = spark.readStream.schema(schema).parquet(
            f"{src_dir}/chunk={c}"
        )
        pipelines.upsert_aggregate_stream(
            stream, table, registers, merge,
            checkpoint=f"{workdir}/hckpt{c}",
        ).awaitTermination(120)

    streamed = {(r.j, r.r) for r in table.read().select("j", "r").collect()}
    batch = {(r.j, r.r) for r in registers(ev).collect()}
    assert streamed == batch


def test_streaming_cms_grid_merges_to_batch(spark, workdir):
    """Count-min cells are additive: per micro-batch grid partials
    merge into the upsert table with SUM — after 4 arbitrary batches
    the (d, bucket) grid is bit-identical to the batch sketch, hence
    every heavy-hitter estimate is too.  Streaming twin of the HLL
    register MAX-merge test, for the additive sketch family."""
    from ingestprocessstoreinnrt_spark.operators import cdc

    ev = load_table(spark, SF_ORACLE, "events").select("user_id", "event_id")
    src_dir = workdir + "/cms_stream"
    ev.withColumn(
        "chunk", F.pmod(F.col("event_id"), F.lit(4))
    ).write.partitionBy("chunk").parquet(src_dir)

    table = UpsertTable(spark, workdir + "/cmsgrid", ["d", "bucket"],
                        num_buckets=4)

    def merge(cur, new):
        return (
            cur.unionByName(new)
            .groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    schema = ev.schema
    for c in range(4):
        stream = spark.readStream.schema(schema).parquet(
            f"{src_dir}/chunk={c}"
        )
        pipelines.upsert_aggregate_stream(
            stream, table, cdc.cms_grid, merge,
            checkpoint=f"{workdir}/cmsckpt{c}",
        ).awaitTermination(120)

    streamed = {
        (r.d, r.bucket, r.cnt)
        for r in table.read().select("d", "bucket", "cnt").collect()
    }
    batch = {
        (r.d, r.bucket, r.cnt) for r in cdc.cms_grid(ev).collect()
    }
    assert streamed == batch


def test_streaming_funnel_equals_batch(spark, workdir):
    """The stateful streaming funnel (streaming/funnel.py) replayed
    over 4 event-time-ordered micro-batches lands on the batch window
    computation's exact per-user (t0, t1, t2) chains.  ONE checkpoint
    carries the state store across restarts while chunk files land in
    event-time order (global ts splits, so per-user arrival is ordered
    and equal-ts events share a batch — the engine's contract)."""
    import glob as _glob
    import shutil

    from ingestprocessstoreinnrt_spark.operators import funnel as bf
    from ingestprocessstoreinnrt_spark.streaming import funnel as sfun

    ev = load_table(spark, SF_ORACLE, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    qs = ev.approxQuantile("ts_us", [0.25, 0.5, 0.75], 0.0)
    chunk = (
        F.when(F.col("ts_us") <= qs[0], 0)
        .when(F.col("ts_us") <= qs[1], 1)
        .when(F.col("ts_us") <= qs[2], 2)
        .otherwise(3)
    )
    staging = workdir + "/funnel_staging"
    ev.withColumn("chunk", chunk).write.partitionBy("chunk").parquet(staging)

    stream_dir = workdir + "/funnel_stream"
    os.makedirs(stream_dir)
    schema = ev.schema
    final = {}
    for c in range(4):
        for i, f in enumerate(
            sorted(_glob.glob(f"{staging}/chunk={c}/part-*.parquet"))
        ):
            shutil.copy(f, f"{stream_dir}/chunk{c:02d}_{i:03d}.parquet")
        stream = spark.readStream.schema(schema).parquet(stream_dir)
        out_dir = workdir + "/funnel_out"

        def _sink(bdf, bid):
            bdf.write.mode("append").parquet(out_dir)

        q = (
            sfun.funnel_chain_stream(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", workdir + "/funnel_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # states are monotone (null -> value, never revised), so min over
    # all emissions per user reconstructs the final chain
    for r in (
        spark.read.parquet(workdir + "/funnel_out")
        .groupBy("user_id")
        .agg(F.min("t0").alias("t0"), F.min("t1").alias("t1"),
             F.min("t2").alias("t2"))
        .collect()
    ):
        final[r.user_id] = (r.t0, r.t1, r.t2)

    batch = {
        r.user_id: (r.t0, r.t1, r.t2)
        for r in bf.user_chains(ev).collect()
    }
    assert final == batch


def test_streaming_session_windows_equal_batch(spark, tmp_path):
    """session_window maintained in the state store across micro-batches
    == the same session_window computed in one batch pass — multi-file
    source so sessions genuinely MERGE across batches.  The split is
    random, so events arrive out of event-time order across batches; a
    watermark wider than the whole (historical) event range keeps every
    late row admissible and the equality exact — with the default 2 h
    watermark the same pipeline would correctly DROP cross-batch
    stragglers and diverge from batch."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.streaming import windows as sw
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_ORACLE, "events").select(
        "ts", "user_id", "value"
    )
    d = str(tmp_path / "ev_sess")
    # 4 files -> 4 micro-batches; random split so one user's session
    # spans batches and the state-store merge path actually runs
    ev.repartition(4).write.mode("overwrite").parquet(d)
    static = spark.read.parquet(d)

    batch = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events,
         r.session_value)
        for r in sw.session_windowed_counts_stream(
            static, watermark="3650 days"
        ).collect()
    }
    assert batch

    src = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = sw.session_windowed_counts_stream(src, watermark="3650 days")
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_twin")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, session_start_us, session_end_us, n_events,"
            " session_value FROM sess_twin"
        ).collect()
    }
    assert streamed == batch
    # sessions are disjoint per user (window end already includes the
    # 30-min gap, so the next session may start exactly at it)
    per_user: dict = {}
    for u, s, e, n, v in sorted(batch):
        assert e >= s and n >= 1
        if u in per_user:
            assert s >= per_user[u]
        per_user[u] = e


def test_streaming_logistic_scoring_equals_batch(spark, workdir):
    """Deployment shape of the learned quality gate: fit OFFLINE on the
    full corpus, score ONLINE as documents stream in — 4 micro-batches
    through the stateless score expression must reproduce the batch
    per-source gate table bit-exactly (same betas, same quantized
    sigmoid, no state)."""
    from ingestprocessstoreinnrt_spark.operators import ml

    feats = ml._logi_feats(spark, SF_ORACLE)
    beta = ml._fit_logistic(feats)

    docs = load_table(spark, SF_ORACLE, "documents")
    src = workdir + "/docs_stream"
    docs.withColumn(
        "chunk", F.pmod(F.col("doc_id"), F.lit(4))
    ).write.partitionBy("chunk").parquet(src)

    got_parts = []
    for c in range(4):
        stream = spark.readStream.schema(docs.schema).parquet(
            f"{src}/chunk={c}"
        )

        def score_batch(bdf, _bid, acc=got_parts):
            from ingestprocessstoreinnrt_spark.functions.text import tokens

            toks = tokens(F.lower(F.col("text")))
            d = bdf.filter(F.trim(F.col("text")) != "").select(
                "source",
                toks.alias("toks"),
            )
            nd = F.size("toks").cast("double")
            f = d.select(
                "source",
                (
                    F.length(F.concat_ws("", "toks")).cast("double") / nd
                ).alias("x1"),
                (
                    F.size(
                        F.filter(
                            "toks", lambda t: t.isin(*ml._LOGI_STOP)
                        )
                    ).cast("double")
                    / nd
                ).alias("x2"),
            )
            acc.extend(
                f.select(
                    "source", (ml._logi_p(beta) >= 0.5).alias("ok")
                ).collect()
            )

        q = (
            stream.writeStream.foreachBatch(score_batch)
            .option("checkpointLocation", f"{workdir}/sckpt{c}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    stream_tab: dict = {}
    for r in got_parts:
        n, p = stream_tab.get(r.source, (0, 0))
        stream_tab[r.source] = (n + 1, p + (1 if r.ok else 0))
    batch_tab = {
        r.source: (r.n_docs, r.n_pass)
        for r in ml.quality_gate(spark, SF_ORACLE).collect()
    }
    assert stream_tab == batch_tab


def test_concurrent_writers_single_batch_exactly_once(spark, workdir):
    """Two interleaved writers racing the SAME batch id must apply it
    exactly once (VERDICT r5 item 5): the additive merge makes a
    double-apply arithmetically visible.  Races all interleavings via
    real threads — the O_EXCL claim is the only serialization."""
    import threading

    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=4)
    mk = lambda rows: spark.createDataFrame(rows, ["k", "n"])  # noqa: E731
    merge = lambda cur, new: (  # noqa: E731
        cur.unionByName(new)
        .groupBy("k")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    t.apply_batch(0, mk([(1, 100), (2, 200)]), merge, writer_id="w0")

    errs: list[Exception] = []

    def writer(wid: str) -> None:
        try:
            # each writer has its OWN table handle (separate driver)
            tw = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=4)
            tw.apply_batch(1, mk([(1, 1)]), merge, writer_id=wid)
        except Exception as exc:  # pragma: no cover - failure reporting
            errs.append(exc)

    threads = [
        threading.Thread(target=writer, args=(f"w{i}",)) for i in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errs, errs
    got = {r.k: r.n for r in t.read().collect()}
    assert got == {1: 101, 2: 200}, got  # +1 exactly once across 4 racers
    # protocol left nothing behind: no claims, no lock, marker present
    assert not os.listdir(t.txn_log.intent_dir)
    assert not os.path.exists(t.txn_log.lock_path)
    assert t.already_applied(1)


def test_concurrent_writers_distinct_batches_serialize(spark, workdir):
    """Writers applying DIFFERENT batches to overlapping buckets: the
    commit lock must serialize read-merge-write so neither batch's
    merge reads a bucket mid-overwrite — final state == sequential."""
    import threading

    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=2)
    mk = lambda rows: spark.createDataFrame(rows, ["k", "n"])  # noqa: E731
    merge = lambda cur, new: (  # noqa: E731
        cur.unionByName(new)
        .groupBy("k")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    t.apply_batch(0, mk([(k, 0) for k in range(8)]), merge, writer_id="init")

    errs: list[Exception] = []

    def writer(wid: str, batch: int) -> None:
        try:
            tw = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=2)
            tw.apply_batch(
                batch, mk([(k, batch) for k in range(8)]), merge,
                writer_id=wid,
            )
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [
        threading.Thread(target=writer, args=(f"w{b}", b))
        for b in (1, 2, 3)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(180)
    assert not errs, errs
    got = {r.k: r.n for r in t.read().collect()}
    assert got == {k: 6 for k in range(8)}, got  # 0+1+2+3 each, no loss


def test_claim_loser_waits_then_skips(spark, workdir):
    """A writer arriving while another holds the batch claim must wait
    and return WITHOUT applying once the holder's marker lands."""
    import threading

    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=2)
    mk = lambda rows: spark.createDataFrame(rows, ["k", "n"])  # noqa: E731
    merge = lambda cur, new: (  # noqa: E731
        cur.unionByName(new)
        .groupBy("k")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    t.apply_batch(0, mk([(1, 5)]), merge)
    # simulate an in-flight foreign writer holding the claim
    key = t._ledger_key(1, "")
    assert t.txn_log.try_claim(key, "foreign")

    done = threading.Event()

    def late_writer() -> None:
        t.apply_batch(1, mk([(1, 1)]), merge, writer_id="late")
        done.set()

    th = threading.Thread(target=late_writer)
    th.start()
    time.sleep(0.3)
    assert not done.is_set()  # still waiting on the foreign claim
    # foreign writer lands its marker and releases
    t.mark_applied(1)
    t.txn_log.release_claim(key)
    th.join(60)
    assert done.is_set()
    got = {r.k: r.n for r in t.read().collect()}
    assert got == {1: 5}, got  # late writer applied NOTHING


def test_reclaim_recovers_crash_inside_commit_lock(spark, workdir):
    """VERDICT r6 item 8 — the one recovery path previously only
    code-read: a writer dies HOLDING the commit lock, after the bucket
    snapshot and the table write but before commit (the most dangerous
    window: the table carries the half-applied merge).  reclaim_stale
    must break the lock + claim AND roll the half-applied write back,
    so the successor's re-apply lands the batch exactly once.  The
    additive merge makes a double-apply arithmetically visible
    (5 +7 +7 = 19 would betray a missing rollback)."""
    import pytest as _pytest

    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=2)
    mk = lambda rows: spark.createDataFrame(rows, ["k", "n"])  # noqa: E731
    merge = lambda cur, new: (  # noqa: E731
        cur.unionByName(new)
        .groupBy("k")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    t.apply_batch(0, mk([(1, 5)]), merge, writer_id="w0")

    # -- dead writer: runs the real merge-and-write sequence but dies
    # (process death) after the table write, before commit, still
    # holding claim + commit lock
    key = t._ledger_key(1, "")
    assert t.txn_log.try_claim(key, "dead-writer")
    fd = os.open(
        t.txn_log.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
    )
    with os.fdopen(fd, "w") as f:
        f.write("dead-writer")

    class WriterDied(BaseException):
        pass

    def die(_key):
        raise WriterDied

    dead = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=2)
    dead.txn_log.commit = die
    with _pytest.raises(WriterDied):
        dead._merge_and_write(mk([(1, 7)]), merge, key)
    # <- writer died here: no commit, no release, lock file remains

    # the table is observably half-applied and the batch unmarked
    assert {r.n for r in t.read().filter("k=1").collect()} == {12}
    assert not t.already_applied(1)

    # a successor is blocked by the dead writer's claim…
    with _pytest.raises(TimeoutError):
        t.apply_batch(
            1, mk([(1, 7)]), merge, writer_id="w2", claim_timeout=0.3
        )
    # …and by the lock even for a DIFFERENT batch
    with _pytest.raises(TimeoutError):
        t.apply_batch(
            2, mk([(1, 1)]), merge, writer_id="w2", claim_timeout=0.3
        )

    t.txn_log.reclaim_stale(t._data(), max_age_sec=0.0)
    # lock + claim broken, half-applied write rolled back to 5
    assert not os.path.exists(t.txn_log.lock_path)
    assert not t.txn_log.claim_held(key)
    assert {r.n for r in t.read().filter("k=1").collect()} == {5}

    # successor re-applies: exactly once, not 19
    t.apply_batch(1, mk([(1, 7)]), merge, writer_id="w2")
    assert {r.n for r in t.read().filter("k=1").collect()} == {12}
    assert t.already_applied(1)
    assert not os.listdir(t.txn_log.intent_dir)
    assert not os.path.exists(t.txn_log.lock_path)


def test_reclaim_stale_breaks_dead_writer(spark, workdir):
    """A crashed writer's claim + lock block successors until the
    explicit reclaim entrypoint breaks them and rolls back."""
    import pytest as _pytest

    t = UpsertTable(spark, workdir + "/t", ["k"], num_buckets=2)
    mk = lambda rows: spark.createDataFrame(rows, ["k", "n"])  # noqa: E731
    t.apply_batch(0, mk([(1, 5)]))
    key = t._ledger_key(1, "")
    assert t.txn_log.try_claim(key, "dead-writer")
    with _pytest.raises(TimeoutError):
        t.apply_batch(1, mk([(1, 7)]), writer_id="w2", claim_timeout=0.3)
    t.txn_log.reclaim_stale(t._data(), max_age_sec=0.0)
    t.apply_batch(1, mk([(1, 7)]), writer_id="w2")
    assert {r.n for r in t.read().filter("k=1").collect()} == {7}


def test_streaming_ann_index_upsert_equals_batch(spark, workdir):
    """Streaming twin of sim_ann_incremental (VERDICT r7 item 3):
    embedding batches arrive as 2 file micro-batches; each is coarse-
    assigned with the base-fitted quantizer inside foreachBatch and
    upserted into the UpsertTable-persisted IVF index (exactly-once
    via apply_batch) — no refit, no corpus rescan.  The maintained
    index then serves top-k identically to a one-pass rebuild."""
    from ingestprocessstoreinnrt_spark.catalog import fan_out
    from ingestprocessstoreinnrt_spark.operators import similarity as sim

    emb = fan_out(load_table(spark, SF_ORACLE, "embeddings"))
    base = emb.filter(
        F.pmod(F.col("vec_id"), F.lit(sim.ANN_INC_MOD))
        != F.lit(sim.ANN_INC_REM)
    )
    cdf = sim.base_coarse_row(spark, SF_ORACLE)
    table = UpsertTable(spark, workdir + "/ivf", ["vec_id"], num_buckets=4)
    table.init(sim.ivf_assign_rows(base, cdf))
    batch = emb.filter(
        F.pmod(F.col("vec_id"), F.lit(sim.ANN_INC_MOD))
        == F.lit(sim.ANN_INC_REM)
    )
    src = workdir + "/emb_stream"
    # vec_id % 10 == 7 is always odd — chunk on the decade instead
    batch.withColumn(
        "chunk", F.pmod(F.floor(F.col("vec_id") / F.lit(10)), F.lit(2))
    ).write.partitionBy("chunk").parquet(src)
    chunk_schema = spark.read.parquet(src + "/chunk=0").schema

    for c in range(2):
        stream = spark.readStream.schema(chunk_schema).parquet(
            f"{src}/chunk={c}"
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid, c=c: table.apply_batch(
                    c, sim.ivf_assign_rows(df, cdf), namespace="ivf"
                )
            )
            .option("checkpointLocation", f"{workdir}/ann_ckpt{c}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def serve(index):
        return {
            (r.query_id, r.vec_id): (r.cos_sim, r.rank)
            for r in sim._ivf_probe_topk(
                index, emb, cdf, sim.IVF_NPROBE_MULTI
            ).collect()
        }

    assert serve(table.read()) == serve(sim.ivf_assign_rows(emb, cdf))
