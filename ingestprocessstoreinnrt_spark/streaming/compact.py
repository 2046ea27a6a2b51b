"""Small-file compaction for the keyed upsert table.

A micro-batch sink produces one-or-more files per trigger; at
2-second triggers that is ~43k files/day/table — metadata pressure and
scan overhead at 100 TB.  Compaction rewrites data to ~target-sized
files (content-preserving, verified by row count), the OPTIMIZE step a
table maintenance job runs off the hot path.

`compact_upsert_table` compacts a live UpsertTable bucket by bucket.
It has no crash protocol of its own: each coalesced bucket is staged
and swapped in through the table's write section and transaction log,
the same commit an upsert makes, so a crashed compaction is undone by
the same `rollback_incomplete` as a crashed write (see its docstring).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def parquet_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under a parquet directory."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def _coalesce_copy(
    spark: SparkSession, src: str, dst: str, target_bytes: int
) -> int:
    """Write src's rows to dst as ceil(total/target) files, verified by
    row count; returns that file count.  0 means nothing was written:
    src is empty or already at (or under) the target layout, so a
    steady-state compactor loop pays one directory stat here, not a
    full rewrite under the table commit lock (ADVICE r9)."""
    n_before, total = parquet_file_stats(src)
    n_files = max(1, -(-total // target_bytes))  # ceil
    if total == 0 or n_before <= n_files:
        return 0
    df = spark.read.parquet(src)
    before = df.count()
    df.coalesce(n_files).write.mode("overwrite").parquet(dst)
    after = spark.read.parquet(dst).count()
    if after != before:
        shutil.rmtree(dst, ignore_errors=True)
        raise RuntimeError(
            f"compaction row-count mismatch: {before} -> {after}"
        )
    return n_files


def compact_upsert_table(
    table,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    writer_id: str = "compactor",
    lock_timeout: float = 120.0,
) -> dict[str, int]:
    """OPTIMIZE for a live UpsertTable: compact each `_bucket=NN`
    partition to ~target-sized files while micro-batch upserts keep
    landing (VERDICT r8 item 4 — compaction under ingest).

    Each bucket is one commit inside the table's write section
    (LocalFSTxnLog.write_section — the commit lock every apply_batch
    and upsert() holds, so a swap never interleaves with a write's
    read-merge-swap and a committed write is never lost):
      * the section first rolls back a crashed write or compaction and
        clears dead staging, so the bucket is read whole;
      * the bucket is coalesced into `_staging/<key>/_bucket=NN` and
        its row count checked unchanged;
      * the staged bucket is swapped in by the same begin ->
        snapshot_buckets -> rename -> commit sequence a write uses.
        The key is fresh for every swap and never reused, because
        rollback trusts the key's ledger marker; it is forgotten once
        the swap commits.
    Staging sits outside data/, so a crash never leaves a phantom
    partition; a crash mid-swap leaves the moved bucket in `_pending/`,
    which table open, the next write or compaction, or reclaim_stale
    renames back.  The lock is released between buckets, so ingest
    stalls are bounded by ONE bucket's rewrite, not the table's.

    On a transactional table format this whole function is the
    engine's OPTIMIZE/rewrite-data-files action; the commit-lock
    composition is what its snapshot-conflict detection provides.
    Returns {bucket_dir_name: new_file_count} for the buckets that were
    actually REWRITTEN — already-compact buckets are omitted."""
    data = table._data()
    if not os.path.isdir(data):
        return {}
    log = table.txn_log
    out: dict[str, int] = {}
    for entry in sorted(os.listdir(data)):
        if not entry.startswith("_bucket="):
            continue
        with log.write_section(writer_id, data, timeout=lock_timeout):
            key = f"compact-{uuid.uuid4().hex}"
            staged = os.path.join(log.staging_dir, key)
            n = _coalesce_copy(
                table.spark,
                os.path.join(data, entry),
                os.path.join(staged, entry),
                target_bytes,
            )
            if n:
                log.swap(staged, data, [int(entry.split("=", 1)[1])], key)
                log.commit(key)
                log.forget(key)
                out[entry] = n
        # yield window between buckets: the commit lock is an unfair
        # O_EXCL poll — re-acquiring the instant it is released starves
        # a waiting writer (poll interval 20 ms), and the "stalls
        # bounded by one bucket" contract above depends on the writer
        # actually winning the lock here
        time.sleep(0.05)
    return out
