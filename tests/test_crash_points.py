"""Crash points of the exactly-once upsert path, named at step
boundaries rather than private helpers.

Every write — `apply_batch`, `upsert()` and a compaction swap — runs
the same commit inside the table's write section: stage into
`_staging/<key>/` -> begin -> swap-out (each live bucket renamed into
`_pending/<key>/`) -> swap-in (each staged bucket renamed into
`data/`) -> commit (ledger marker, then undo-entry cleanup).  Each
case is killed at each boundary, and between two swap-in renames, by a
BaseException raised from the patched step (it unwinds past every
`except Exception`), then a fresh table handle, as a restarted driver
would open, replays the write.  The table must equal the batch
aggregate of the delivered rows, bit-exact, with nothing left in
`_pending/` or `_staging/`."""

from __future__ import annotations

import os
import shutil
import threading

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


def _kill_swap_in_after(m, k):
    """Let k staged-bucket renames into data/ through, kill the next."""
    rename, done = os.rename, []

    def rename_or_die(src, dst, *a, **kw):
        if f"{os.sep}_staging{os.sep}" in src:
            if len(done) == k:
                raise Killed
            done.append(src)
        rename(src, dst, *a, **kw)

    m.setattr(os, "rename", rename_or_die)


ORIG = {"snapshot_buckets": LocalFSTxnLog.snapshot_buckets}
# crash point -> patch that installs it (on a monkeypatch context).
# mid-swap-in lets one swap-in through: a write dies after 1 of its
# n >= 3 staged-bucket renames, a compaction inside its second swap.
POINTS = {
    "after-stage": lambda m: m.setattr(LocalFSTxnLog, "begin", _raise),
    "mid-swap-out": lambda m: m.setattr(
        LocalFSTxnLog, "snapshot_buckets", _after_half_the_swap_outs
    ),
    "mid-swap-in": lambda m: _kill_swap_in_after(m, 1),
    "after-swap-in": lambda m: m.setattr(LocalFSTxnLog, "commit", _raise),
    "after-marker": lambda m: m.setattr(
        LocalFSTxnLog, "commit", _after_marker
    ),
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
@pytest.mark.parametrize("case", ["lww", "merge_fn", "upsert", "compaction"])
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
        elif case == "upsert":  # LWW: re-issuing it is idempotent
            table.upsert(mk(BATCH1))
        else:
            table.apply_batch(1, mk(BATCH1), merge)

    with monkeypatch.context() as m:
        POINTS[point](m)
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


def test_upsert_killed_at_first_swap_in_loses_no_rows(
    spark, tmp_path, monkeypatch
):
    """An upsert() killed at its first staged-bucket rename must reopen
    whole.  Without an undo entry it deleted each live bucket just
    before renaming its replacement in, so the kill reopened a 40-row,
    4-bucket table with 28 rows and no error."""
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["k"], num_buckets=4)
    mk = lambda rows: spark.createDataFrame(rows, "k long, n long")  # noqa: E731
    t.init(mk([(k, k) for k in range(40)]))
    with monkeypatch.context() as m:
        _kill_swap_in_after(m, 0)
        with pytest.raises(Killed):
            t.upsert(mk([(k, -k) for k in range(40)]))
    reopened = UpsertTable(spark, path, ["k"], num_buckets=4)
    assert _rows(reopened) == [(k, k) for k in range(40)]


def test_first_upsert_killed_before_marker_leaves_no_table(
    spark, tmp_path, monkeypatch
):
    """A first upsert() into a new table is undone like a first
    apply_batch: the reopened table does not exist, and re-issuing the
    upsert creates it."""
    path = str(tmp_path / "t")
    t = UpsertTable(spark, path, ["k"], num_buckets=4)
    rows = spark.createDataFrame(BATCH0, "k long, n long")
    with monkeypatch.context() as m:
        m.setattr(LocalFSTxnLog, "commit", _raise)
        with pytest.raises(Killed):
            t.upsert(rows)
    reopened = UpsertTable(spark, path, ["k"], num_buckets=4)
    assert not reopened.exists()
    reopened.upsert(rows)
    assert _rows(reopened) == sorted(BATCH0)
    _assert_no_leftovers(reopened)


def test_ledger_keeps_only_batch_markers(spark, tmp_path):
    """upsert() and compaction swap under fresh keys whose markers
    matter only while their undo entry exists: after 3 upserts and a
    compaction the ledger holds the two batch markers and nothing
    else."""
    t = UpsertTable(spark, str(tmp_path / "t"), ["k"], num_buckets=4)
    mk = lambda rows: spark.createDataFrame(rows, "k long, n long")  # noqa: E731
    t.apply_batch(0, mk(BATCH0))
    t.apply_batch(1, mk(BATCH1))
    _fragment(spark, t, tmp_path)
    for k in range(3):
        t.upsert(mk([(k, 100 + k)]))
    assert compact.compact_upsert_table(t, target_bytes=10**9)
    assert sorted(os.listdir(t._ledger)) == ["0", "1"]
    assert t.already_applied(0) and t.already_applied(1)


def test_upsert_waits_for_the_commit_lock(spark, tmp_path, monkeypatch):
    """upsert() serializes with every other writer: while another
    writer holds the commit lock it starts no merge and data/ is
    unchanged; once the lock is released it lands."""
    t = UpsertTable(spark, str(tmp_path / "t"), ["k"], num_buckets=8)
    mk = lambda rows: spark.createDataFrame(rows, "k long, n long")  # noqa: E731
    t.init(mk(BATCH0))
    merging = threading.Event()
    merge_and_write = UpsertTable._merge_and_write

    def signalled(self, *a, **kw):
        merging.set()
        return merge_and_write(self, *a, **kw)

    monkeypatch.setattr(UpsertTable, "_merge_and_write", signalled)

    def files():
        return sorted(
            os.path.relpath(os.path.join(r, f), t._data())
            for r, _d, fs in os.walk(t._data())
            for f in fs
        )

    before, errors = files(), []

    def upsert():
        try:
            t.upsert(mk(BATCH1))
        except Exception as ex:  # noqa: BLE001 - surfaced via assert
            errors.append(ex)

    th = threading.Thread(target=upsert)
    with t.txn_log.table_lock("other"):
        th.start()
        assert not merging.wait(0.5)
        assert files() == before
    th.join(60)
    assert not th.is_alive() and not errors, errors
    assert _rows(t) == _aggregate([BATCH0, BATCH1], additive=False)
