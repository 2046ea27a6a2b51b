"""Crash points of the exactly-once upsert path, named at step
boundaries rather than private helpers.

A write to an existing table and a compaction swap run the same
commit: stage into `_staging/<key>/` -> begin -> swap-out (each live
bucket renamed into `_pending/<key>/`) -> swap-in (each staged bucket
renamed into `data/`) -> commit (ledger marker, then undo-entry
cleanup).  Each case is killed at each boundary by a BaseException
raised from the patched step (it unwinds past every `except
Exception`), then a fresh table handle, as a restarted driver would
open, replays the batch.  The table must equal the batch aggregate of
the delivered rows, bit-exact, with nothing left in `_pending/` or
`_staging/`."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ingestprocessstoreinnrt_spark.streaming import compact
from ingestprocessstoreinnrt_spark.streaming.upsert import (
    LocalFSTxnLog,
    UpsertTable,
)


class Killed(BaseException):
    pass


def _raise(*_a, **_k):
    raise Killed


def _after_half_the_swap_outs(self, key, data_dir, buckets):
    half = buckets[: len(buckets) // 2]
    ORIG["snapshot_buckets"](self, key, data_dir, half)
    raise Killed


def _after_marker(self, key):
    self.mark_applied(key)
    raise Killed


ORIG = {"snapshot_buckets": LocalFSTxnLog.snapshot_buckets}
# crash point -> (patched LocalFSTxnLog step, replacement)
POINTS = {
    "after-stage": ("begin", _raise),
    "mid-swap-out": ("snapshot_buckets", _after_half_the_swap_outs),
    "after-swap-in": ("commit", _raise),
    "after-marker": ("commit", _after_marker),
}


def _merge(cur, new):
    return (
        cur.unionByName(new)
        .groupBy("k")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def _rows(t):
    return sorted((r.k, r.n) for r in t.read().collect())


def _aggregate(batches, additive):
    out: dict[int, int] = {}
    for rows in batches:
        for k, n in rows:
            out[k] = out.get(k, 0) + n if additive else n
    return sorted(out.items())


def _fragment(spark, t, tmp_path):
    """Rewrite every bucket as one file per row, so compaction has a
    swap to make for each."""
    for e in os.listdir(t._data()):
        if e.startswith("_bucket="):
            p, tmp = os.path.join(t._data(), e), str(tmp_path / f"frag{e}")
            df = spark.read.parquet(p)
            df.write.option("maxRecordsPerFile", 1).parquet(tmp)
            shutil.rmtree(p)
            os.rename(tmp, p)


def _assert_no_leftovers(t):
    for d in (t.txn_log.pending_dir, t.txn_log.staging_dir):
        assert not (os.path.isdir(d) and os.listdir(d)), (d, os.listdir(d))


BATCH0 = [(k, 10 * k) for k in range(6)]
BATCH1 = [(k, 1) for k in range(3, 13)]


@pytest.mark.parametrize("point", list(POINTS))
@pytest.mark.parametrize("case", ["lww", "merge_fn", "compaction"])
def test_crash_point_then_replay_equals_batch(
    spark, tmp_path, monkeypatch, case, point
):
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["k"], num_buckets=8)
    mk = lambda rows: spark.createDataFrame(rows, "k long, n long")  # noqa: E731
    merge = _merge if case == "merge_fn" else None
    t.apply_batch(0, mk(BATCH0), merge)
    # the killed batch both replaces live buckets and creates new ones
    live = {int(e.split("=")[1]) for e in os.listdir(t._data()) if "=" in e}
    hit = set(t._affected_buckets(mk(BATCH1)))
    assert len(hit & live) >= 2 and hit - live

    if case == "compaction":
        t.apply_batch(1, mk(BATCH1))
        _fragment(spark, t, tmp_path)
        before = after = _rows(t)
    else:
        before = _rows(t)
        after = _aggregate([BATCH0, BATCH1], additive=merge is not None)

    def run(table):
        if case == "compaction":
            compact.compact_upsert_table(table, target_bytes=10**9)
        else:
            table.apply_batch(1, mk(BATCH1), merge)

    step, fn = POINTS[point]
    with monkeypatch.context() as m:
        m.setattr(LocalFSTxnLog, step, fn)
        with pytest.raises(Killed):
            run(t)

    # a restarted driver opens the table: the crash is undone (or, past
    # the marker, only cleaned up) before anyone reads it
    reopened = UpsertTable(spark, path, ["k"], num_buckets=8)
    assert _rows(reopened) == (after if point == "after-marker" else before)
    run(reopened)  # replay
    assert _rows(reopened) == after
    _assert_no_leftovers(reopened)
    if case == "compaction":
        for e in os.listdir(t._data()):
            p = os.path.join(t._data(), e)
            if e.startswith("_bucket="):
                assert compact.parquet_file_stats(p)[0] == 1, e


def test_writes_and_compaction_copy_no_bucket(spark, tmp_path, monkeypatch):
    """The undo log renames buckets, it never copies them: merge and
    LWW apply_batch and a compaction all run on an existing table with
    shutil.copytree unavailable."""

    def no_copy(*_a, **_k):
        raise AssertionError("a bucket was copied")

    t = UpsertTable(spark, str(tmp_path / "t"), ["k"], num_buckets=4)
    mk = lambda rows: spark.createDataFrame(rows, "k long, n long")  # noqa: E731
    t.init(mk([(k, k) for k in range(16)]))
    monkeypatch.setattr(shutil, "copytree", no_copy)
    t.apply_batch(1, mk([(k, 1) for k in range(8)]), _merge)
    t.apply_batch(2, mk([(3, 7)]))
    _fragment(spark, t, tmp_path)
    assert compact.compact_upsert_table(t, target_bytes=10**9)
    expected = {k: k + (1 if k < 8 else 0) for k in range(16)}
    expected[3] = 7
    assert _rows(t) == sorted(expected.items())
