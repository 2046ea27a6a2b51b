"""Change-tracking operators: SCD2 invariants, snapshot-diff key
partition, count-min overestimate property.  Cross-engine value
equality is the driver oracle's job (operators/cdc.py QUERIES); these
check the semantic contracts directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestprocessstoreinnrt_spark.operators import cdc
from tests.conftest import SF_SMOKE


def test_scd2_ranges_partition_time(spark):
    """Per user: versions are 1..n contiguous, ranges chain exactly
    (valid_to of v == valid_from of v+1), only the last is open."""
    rows = cdc.scd2_history(spark, SF_SMOKE).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r.version)
        assert [v.version for v in vs] == list(range(1, len(vs) + 1))
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to_us == b.valid_from_us
            assert a.event_type != b.event_type  # change points only
        assert vs[-1].valid_to_us is None  # current row open-ended


def test_scd2_covers_every_event_state(spark):
    """Any event's type equals its covering SCD2 row's type."""
    ev = (
        cdc.load_table(spark, SF_SMOKE, "events")
        .select(
            "user_id", F.unix_micros("ts").alias("ts_us"), "event_type"
        )
        .limit(500)
    )
    hist = cdc.scd2_history(spark, SF_SMOKE)
    covered = ev.alias("e").join(
        hist.alias("h"),
        (F.col("e.user_id") == F.col("h.user_id"))
        & (F.col("e.ts_us") >= F.col("h.valid_from_us"))
        & (
            F.col("h.valid_to_us").isNull()
            | (F.col("e.ts_us") < F.col("h.valid_to_us"))
        ),
    )
    bad = covered.filter(
        F.col("e.event_type") != F.col("h.event_type")
    ).count()
    assert bad == 0
    assert covered.count() == ev.count()  # exactly one covering row each


def test_scd2_same_ts_collision_collapses_no_zero_width(spark):
    """Two different-type events at ONE timestamp collapse to the last
    event_id's type — no zero-duration [t, t) range, and the instant is
    covered by exactly one row of the winning type (testdata has no
    such collisions, so this crafts one)."""
    ev = spark.createDataFrame(
        [
            (1, 10, "a", 1_000_000),
            (1, 11, "b", 2_000_000),  # collision at ts 2s: b then c
            (1, 12, "c", 2_000_000),  # higher event_id wins
            (1, 13, "c", 3_000_000),  # no change -> no new version
            (1, 14, "a", 4_000_000),
        ],
        "user_id LONG, event_id LONG, event_type STRING, ts_us LONG",
    )
    rows = sorted(
        cdc._scd2_from(ev).collect(), key=lambda r: r.version
    )
    assert [(r.event_type, r.valid_from_us, r.valid_to_us) for r in rows] == [
        ("a", 1_000_000, 2_000_000),
        ("c", 2_000_000, 4_000_000),
        ("a", 4_000_000, None),
    ]
    for r in rows:  # never a zero-width range
        assert r.valid_to_us is None or r.valid_to_us > r.valid_from_us


def test_snapshot_diff_statuses_partition_keys(spark):
    diff = {r.o_orderkey: r for r in cdc.snapshot_diff(spark, SF_SMOKE).collect()}
    keys = [
        r.o_orderkey
        for r in cdc.load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey")
        .collect()
    ]
    for k in keys:
        in_old, in_new = k % 10 != 0, k % 7 != 0
        r = diff.get(k)
        if in_old and not in_new:
            assert r.change_type == "deleted" and r.new_price is None
        elif in_new and not in_old:
            assert r.change_type == "inserted" and r.old_price is None
        elif in_old and in_new and k % 3 == 0:
            assert r.change_type == "changed"
            assert r.new_price == r.old_price + 1.0
        else:
            assert r is None  # unchanged or absent from both snapshots


def test_cms_never_underestimates(spark):
    rows = cdc.cms_heavy_hitters(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.est_count >= r.exact_count


def test_scd2_asof_is_unique_and_consistent_with_history(spark):
    """Exactly one AS-OF state per user whose history has begun, and
    it equals the row a direct range probe of the history returns."""
    from pyspark.sql import functions as F

    from ingestprocessstoreinnrt_spark.operators import cdc
    from tests.conftest import SF_ORACLE

    asof = {r.user_id: r for r in cdc.scd2_asof(spark, SF_ORACLE).collect()}
    assert len(asof) == len(set(asof))
    hist = cdc.scd2_history(spark, SF_ORACLE).collect()
    started = {
        h.user_id for h in hist if h.valid_from_us <= cdc.ASOF_PIVOT_US
    }
    assert set(asof) == started
    for h in hist:
        covers = h.valid_from_us <= cdc.ASOF_PIVOT_US and (
            h.valid_to_us is None or h.valid_to_us > cdc.ASOF_PIVOT_US
        )
        if covers:
            a = asof[h.user_id]
            assert (a.event_type, a.version) == (h.event_type, h.version)
