"""Workload `nrt_taxi_trickle`: open-loop NRT ingest on the exactly-once
upsert path.

A separate generator process (datagen.py) publishes one 5-row taxi CSV
file every 250 ms (20 rows/s, the reference producer's rate; see
datagen.INTERVAL_S and ROWS_PER_FILE) into a watched directory.  The
program streams it with
`pipelines.upsert_aggregate_stream(..., trigger_once=False)` on the
default trigger: `csv_clean.taxi_trips_from_lines` ->
`taxi.entity_from_trips` -> `UpsertTable.apply_batch` merging with
`taxi.merge_taxi_entities` into a 3-vendor, 4-bucket table.

The first micro-batches of a fresh session are several times slower
while the JIT warms up: on a 4-core box the first two take 2-3x the
steady batch time, the fourth about 1.3x, after which the decline is
slow.  So the measured window opens only once SETTLE_BATCHES data
batches have committed (MAX_SETTLE_S is a safety net for a stalled box,
not a schedule; a run that hits it is recorded as unsettled, see
run.py).  It closes once the run's seconds have passed and at least
WINDOW_BATCHES more batches have committed, so the batch-time median
rests on the same number of batches on a slow box as on a fast one.
Only files published inside the window, and the batches that carry
them, are measured.  The settle batches' summed triggerExecution is
recorded as `cold_s`.

Freshness of a file is the time from its publish (rename) until the
ledger marker of the batch that consumed it landed; the file -> batch
map comes from the checkpoint's file-source log.  Both are read after
the run, so the untraced run carries no instrumentation.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import stats
import spans as tr
import common
from common import ROOT, fresh_dir

SETTLE_BATCHES = 4
MAX_SETTLE_S = 60.0
WINDOW_BATCHES = 6
MAX_WINDOW_EXTRA_S = 40.0
BUCKETS = 4
STREAM_PHASES = {
    "latestOffset": "stream.latest_offset_ms",
    "getBatch": "stream.get_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "addBatch": "stream.add_batch_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}
# txn-log spans folded into the four per-layer txnlog metrics
TXN_GROUPS = {
    "txnlog.rollback_s": ("txn.rollback_incomplete",),
    "txnlog.claim_lock_s": ("txn.is_applied", "txn.try_claim",
                            "txn.release_claim", "txn.lock_acquire",
                            "txn.lock_release"),
    "txnlog.snapshot_s": ("txn.begin", "txn.record_fresh_table",
                          "txn.snapshot_buckets"),
    "txnlog.commit_s": ("txn.commit",),
}


# --- post-run joins (pure functions over files on disk) -------------------


def file_batches(source_log_dir: str) -> dict[str, int]:
    """File name -> batch id, from a file-source metadata log (plain
    and `.compact` files: a 'v1' line, then one JSON entry per file)."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(source_log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def freshness(source_log_dir: str, ledger_dir: str, namespace: str,
              published: dict[str, float]) -> dict[str, float]:
    """File name -> seconds from publish until the ledger marker of
    the batch that consumed it.  Files never consumed are absent."""
    out = {}
    for name, batch in file_batches(source_log_dir).items():
        marker = os.path.join(ledger_dir, f"{namespace}-{batch}")
        if name in published and os.path.exists(marker):
            out[name] = os.stat(marker).st_mtime - published[name]
    return out


def _by_vendor(rows) -> dict:
    return {r["vender_id"]: sorted(r.asDict().items()) for r in rows}


# --- the workload ---------------------------------------------------------


def run(seed: int, seconds: float, tracer: tr.Tracer | None) -> dict:
    work = fresh_dir(f"trickle-{os.getpid()}")
    src_dir, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
    table_path, manifest = os.path.join(work, "table"), os.path.join(work, "manifest.jsonl")
    os.makedirs(src_dir)

    t0 = time.perf_counter()
    from ingestprocessstoreinnrt_spark import session

    if tracer:
        tr.wrap_callable(tracer, session, "get_spark", "session.get_spark")
    spark = session.get_spark()
    spark.range(1).count()
    setup_s = time.perf_counter() - t0

    from ingestprocessstoreinnrt_spark.operators import taxi
    from ingestprocessstoreinnrt_spark.sources import csv_clean
    from ingestprocessstoreinnrt_spark.streaming import compact, pipelines
    from ingestprocessstoreinnrt_spark.streaming.upsert import (
        LocalFSTxnLog, UpsertTable)

    if tracer:
        _instrument_write_path(tracer, UpsertTable, LocalFSTxnLog)
    table = UpsertTable(spark, table_path, ["vender_id"], num_buckets=BUCKETS)
    source = csv_clean.taxi_trips_from_lines(
        spark.readStream.format("text").load(src_dir)
    )
    q = pipelines.upsert_aggregate_stream(
        source, table, taxi.entity_from_trips,
        lambda cur, new: taxi.merge_taxi_entities(cur, new),
        checkpoint=ckpt, trigger_once=False,
    )
    q_start = time.time()
    stop_file = os.path.join(work, "stop")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "datagen.py"),
         "trickle", "--seed", str(seed), "--out", src_dir,
         "--manifest", manifest, "--stop-file", stop_file],
        stdout=subprocess.DEVNULL,
    )

    def data_batches_after(batch_id: int) -> int:
        return sum(p.numInputRows > 0 and p.batchId > batch_id
                   for p in q.recentProgress)

    try:
        deadline = time.time() + MAX_SETTLE_S
        while (data_batches_after(-1) < SETTLE_BATCHES
               and time.time() < deadline and q.isActive):
            time.sleep(0.05)
        settled = time.time() < deadline
        opened = time.time()
        last_settle = max((p.batchId for p in q.recentProgress), default=-1)
        deadline = opened + seconds + MAX_WINDOW_EXTRA_S
        while q.isActive and time.time() < deadline and (
                time.time() < opened + seconds
                or data_batches_after(last_settle) < WINDOW_BATCHES):
            time.sleep(0.05)
        window = (opened, time.time())
        open(stop_file, "w").close()
        gen_rc = gen.wait(timeout=30)
        q.processAllAvailable()
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        q.stop()
    drained = time.time()
    retained = common.retained_mb(spark)
    with open(manifest) as f:
        files = [json.loads(line) for line in f]
    published = {m["file"]: m["published"] for m in files}
    ns = pipelines.checkpoint_namespace(ckpt)
    source_log = os.path.join(ckpt, "sources", "0")
    consumed = file_batches(source_log)
    fresh = freshness(source_log, table.txn_log.ledger_dir, ns, published)
    timed = [m for m in files if window[0] <= m["published"] < window[1]]
    timed_batches = {consumed[m["file"]] for m in timed if m["file"] in consumed}
    data_batches = [p for p in q.recentProgress if p.numInputRows > 0]
    settle = data_batches[:SETTLE_BATCHES]
    progress = [p for p in data_batches[SETTLE_BATCHES:]
                if p.batchId in timed_batches]
    markers = [os.stat(os.path.join(table.txn_log.ledger_dir, n)).st_mtime
               for n in os.listdir(table.txn_log.ledger_dir)
               if not n.startswith(".")]

    # operations: every batch plus three checks (every file delivered and
    # visible; final table == batch aggregate over every delivered file,
    # bit-exact; rows committed == rows published)
    attempted, failed = len(set(consumed.values())) + 3, 0
    if gen_rc != 0 or set(consumed) != set(published) or len(fresh) != len(published):
        failed += 1
    delivered = [os.path.join(src_dir, n) for n in sorted(consumed)]
    expected = taxi.entity_from_trips(csv_clean.read_taxi_trips(spark, delivered))
    got = table.read().collect()
    if _by_vendor(got) != _by_vendor(expected.collect()):
        failed += 1
    rows_in = sum(m["rows"] for m in files)
    rows_committed = sum(r["total_trips"] for r in got)
    if rows_committed != rows_in:
        failed += 1
    checked = time.time()

    fresh_s = [fresh[m["file"]] for m in timed if m["file"] in fresh]
    trig = [p.durationMs["triggerExecution"] / 1000 for p in progress]
    summ = stats.summary(fresh_s)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": summ["p50"],
        "cycle_p50_s": statistics.median(trig),
        "retained_mb": retained,
    }
    record = {
        "freshness": summ,
        "cold_s": sum(p.durationMs["triggerExecution"] / 1000 for p in settle),
        "batch_s": stats.summary(trig),
        "batch_trigger_s": trig,
        "files_published": len(files),
        "files_timed": len(timed),
        "batches_timed": len(progress),
        "settle_trigger_s": [p.durationMs["triggerExecution"] / 1000 for p in settle],
        "settled": settled,
        "rows_published": rows_in,
        "rows_committed": rows_committed,
        "ingest_rows_per_s": rows_committed / (max(markers) - q_start),
        "first_commit_s": min(markers) - q_start,
        # seconds after query start: where a run's wall time goes
        "timeline_s": {"window_open": window[0] - q_start,
                       "drained": drained - q_start,
                       "checked": checked - q_start},
        "gen_late_p90_s": stats.percentile(
            [m["published"] - m["due"] for m in files], 90),
    }
    layers = {}
    if tracer:
        layers = _write_path_layers(tracer, progress, table, timed, compact)
    shutil.rmtree(work, ignore_errors=True)
    return {"spark": spark, "metrics": metrics, "record": record,
            "layers": layers, "attempted": attempted, "failed": failed,
            "batch_ids": [p.batchId for p in progress]}


def _instrument_write_path(tracer, UpsertTable, LocalFSTxnLog) -> None:
    def batch_attr(self, batch_id, *a, **k):
        return {"batch_id": batch_id}

    def snap_attr(self, key, data_dir, buckets):
        size = 0
        for b in buckets:
            for root, _d, fs in os.walk(os.path.join(data_dir, f"_bucket={b}")):
                size += sum(os.path.getsize(os.path.join(root, f)) for f in fs)
        return {"buckets": len(buckets), "bytes": size}

    tr.wrap_callable(tracer, UpsertTable, "apply_batch", "upsert.apply_batch",
                     batch_attr)
    for meth in ("is_applied", "try_claim", "release_claim", "begin",
                 "record_fresh_table", "commit", "rollback_incomplete"):
        tr.wrap_callable(tracer, LocalFSTxnLog, meth, f"txn.{meth}")
    tr.wrap_callable(tracer, LocalFSTxnLog, "snapshot_buckets",
                     "txn.snapshot_buckets", snap_attr)
    tr.wrap_context_manager(tracer, LocalFSTxnLog, "table_lock",
                            "txn.lock_acquire", "txn.lock_release")


def _write_path_layers(tracer, progress, table, files, compact) -> dict:
    spans = tracer.spans
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def descendants(sid):
        for c in by_parent.get(sid, []):
            yield c
            yield from descendants(c["id"])

    applies = {s["attrs"]["batch_id"]: s for s in spans
               if s["name"] == "upsert.apply_batch"}
    per_batch = []
    for p in progress:
        a = applies.get(p.batchId)
        if a is None:
            continue
        apply_s = a["end"] - a["start"]
        inner = list(descendants(a["id"]))
        row = {"batch_id": p.batchId, "apply_s": apply_s,
               "add_batch_s": p.durationMs.get("addBatch", 0) / 1000,
               "trigger_s": p.durationMs["triggerExecution"] / 1000,
               "phases_ms": dict(p.durationMs), "rows": p.numInputRows}
        txn_total = 0.0
        for metric, names in TXN_GROUPS.items():
            v = sum(s["end"] - s["start"] for s in inner if s["name"] in names)
            row[metric] = v
            txn_total += v
        snaps = [s for s in inner if s["name"] == "txn.snapshot_buckets"]
        row["snapshot_mb"] = sum(s["attrs"]["bytes"] for s in snaps) / 2**20
        row["buckets"] = sum(s["attrs"]["buckets"] for s in snaps)
        row["compute_s"] = apply_s - txn_total
        row["pre_apply_s"] = row["add_batch_s"] - apply_s
        per_batch.append(row)
    tracer.tables["per_batch"] = per_batch

    def med(key):
        return stats.median([r[key] for r in per_batch])

    layers = {
        "upsert.apply_batch_s": med("apply_s"),
        "upsert.compute_s": med("compute_s"),
        "pipelines.pre_apply_s": med("pre_apply_s"),
        "txnlog.snapshot_mb": med("snapshot_mb"),
        "upsert.buckets_touched": med("buckets"),
        "stream.batches": len(progress),
        "stream.rows_per_batch": stats.median([p.numInputRows for p in progress]),
        "gen.late_p90_s": stats.percentile(
            [m["published"] - m["due"] for m in files], 90),
    }
    for metric in TXN_GROUPS:
        layers[metric] = med(metric)
    named = []
    for key, metric in STREAM_PHASES.items():
        layers[metric] = stats.median([p.durationMs.get(key, 0) for p in progress])
        named.append(key)
    layers["stream.other_ms"] = stats.median([
        p.durationMs["triggerExecution"] - sum(p.durationMs.get(k, 0) for k in named)
        for p in progress
    ])
    n_files, n_bytes = compact.parquet_file_stats(os.path.join(table.path, "data"))
    layers["upsert.table_files"] = n_files
    layers["upsert.table_mb"] = n_bytes / 2**20
    return layers
