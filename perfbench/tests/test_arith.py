"""The benchmark's own arithmetic: the percentile rule, the freshness
join, self time, and event-log folding.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import nrt  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# --- percentile rule ------------------------------------------------------


@pytest.mark.parametrize("n, want", [
    (0, None), (1, 50.0), (20, 50.0), (99, 50.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_highest_supported_percentile(n, want):
    assert stats.highest_supported(n) == want


def test_supported_percentile_leaves_ten_samples_beyond():
    for n in range(1, 3000, 7):
        p = stats.highest_supported(n)
        if p != 50.0:
            assert stats.samples_beyond(n, p) >= stats.MIN_BEYOND


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile([5.0, 1.0], 0) == 1.0


def test_summary_reports_count_and_support():
    s = stats.summary([1.0] * 99 + [9.0])
    assert s["n"] == 100 and s["p50"] == 1.0 and s["supported"] == 90.0


# --- freshness join -------------------------------------------------------


def _source_log(d, batches):
    """Synthetic file-source log: batch 1 plain, batch 2 compacted
    (carries the entries of batches 0..2, as Spark's compaction does)."""
    os.makedirs(d)
    entry = lambda name, b: json.dumps(  # noqa: E731
        {"path": f"file:///x/src/{name}", "timestamp": 0, "batchId": b})
    with open(os.path.join(d, "1"), "w") as f:
        f.write("v1\n" + entry("c.csv", 1) + "\n")
    with open(os.path.join(d, "2.compact"), "w") as f:
        f.write("v1\n" + "\n".join(entry(n, b) for n, b in batches) + "\n")
    open(os.path.join(d, ".2.compact.crc"), "w").close()


def test_freshness_joins_file_batch_and_ledger_marker(tmp_path):
    log = str(tmp_path / "sources" / "0")
    _source_log(log, [("a.csv", 0), ("b.csv", 0), ("c.csv", 1), ("d.csv", 2)])
    ledger = tmp_path / "_applied_batches"
    ledger.mkdir()
    for b, t in ((0, 100.0), (1, 105.0)):  # batch 2 never committed
        p = ledger / f"ns-{b}"
        p.touch()
        os.utime(p, (t, t))
    (ledger / ".ns-2.tmp").touch()
    published = {"a.csv": 98.0, "b.csv": 99.5, "c.csv": 101.0, "d.csv": 104.0}

    assert nrt.file_batches(log) == {"a.csv": 0, "b.csv": 0, "c.csv": 1, "d.csv": 2}
    got = nrt.freshness(log, str(ledger), "ns", published)
    assert got == pytest.approx({"a.csv": 2.0, "b.csv": 0.5, "c.csv": 4.0})


def test_freshness_ignores_other_namespaces(tmp_path):
    log = str(tmp_path / "log")
    _source_log(log, [("a.csv", 0)])
    ledger = tmp_path / "led"
    ledger.mkdir()
    (ledger / "other-0").touch()
    assert nrt.freshness(log, str(ledger), "ns", {"a.csv": 0.0}) == {}


# --- self time ------------------------------------------------------------


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "parent": parent, "start": start, "end": end,
            "name": name, "attrs": {}, "run": "r"}


def test_self_time_subtracts_union_of_children():
    spans_ = [
        _span(1, None, 0.0, 10.0, "root"),
        _span(2, 1, 1.0, 4.0, "a"),
        _span(3, 1, 3.0, 5.0, "b"),     # overlaps a: union 1..5 = 4
        _span(4, 1, 9.0, 12.0, "c"),    # sticks out: only 9..10 counts
        _span(5, 2, 1.5, 2.0, "grandchild"),
    ]
    st = spans.self_times(spans_)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[5] == pytest.approx(0.5)
    by_name = spans.self_time_by_name(spans_)
    assert by_name["root"] == pytest.approx(5.0)


def test_covered_merges_and_clips():
    assert spans.covered([], 0, 1) == 0
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 1, 5.5) == pytest.approx(2.5)


def test_tracer_nests_spans_per_thread():
    t = spans.Tracer("r")
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["attrs"] == {"k": 1}


def test_wrap_context_manager_times_acquire_and_release():
    import contextlib

    class Lock:
        @contextlib.contextmanager
        def hold(self):
            yield

    t = spans.Tracer("r")
    spans.wrap_context_manager(t, Lock, "hold", "acq", "rel")
    with Lock().hold():
        pass
    t.restore()
    assert [s["name"] for s in t.spans] == ["acq", "rel"]


# --- event-log folding ----------------------------------------------------


def test_fold_event_log_by_job_property(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "q1:0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 2**21},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 2**20}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000}},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    folded = spans.fold_event_log(str(p), spans.JOB_GROUP_PROP)
    assert folded["q1:0"] == {
        "jobs": 1, "tasks": 1, "task_cpu_s": 2.0, "gc_s": 0.5,
        "shuffle_write_mb": 1.0, "shuffle_read_mb": 2.0, "spill_mb": 1.0}
    assert folded[""]["task_cpu_s"] == 1.0
    assert spans.total_of(folded)["jobs"] == 2


# --- micro-batch layer split ----------------------------------------------


def test_nrt_ranking_splits_trigger_time_into_layers():
    import report

    row = {
        "batch_id": 3, "trigger_s": 2.0, "add_batch_s": 1.6, "apply_s": 1.2,
        "pre_apply_s": 0.4, "compute_s": 1.1,
        "phases_ms": {"triggerExecution": 2000, "addBatch": 1600,
                      "latestOffset": 150, "getBatch": 50, "walCommit": 100,
                      "commitOffsets": 90},
        "txnlog.rollback_s": 0.01, "txnlog.claim_lock_s": 0.02,
        "txnlog.snapshot_s": 0.03, "txnlog.commit_s": 0.04,
    }
    ranking = report.nrt_ranking([row, row])
    assert sum(t for _n, t, _c in ranking) == pytest.approx(2 * row["trigger_s"])
    own = {n: t for n, t, _c in ranking}
    assert own["upsert.compute"] == pytest.approx(2.2)
    assert own["stream.other"] == pytest.approx(2 * 0.01)
    assert ranking[0][0] == "upsert.compute"
