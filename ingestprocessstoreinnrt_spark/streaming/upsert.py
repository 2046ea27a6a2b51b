"""Mutable keyed table on plain parquet — the serving-layer role Kudu
plays in the reference (upsert by primary key, hash-partitioned:
`DISTRIBUTE BY HASH (vender_id) INTO 3 BUCKETS`,
create_ny_taxi_yellow_trip_table.impala:22; insert-vs-update chosen per
row, NyTaxiYellowTripStreaming.scala:223-229).

Design for 100 TB:
  * rows live under hash-bucket partitions (`_bucket=NN/`); an upsert
    rewrites ONLY the buckets its keys touch (per-write dynamic
    partition overwrite), so cost scales with the update's key spread,
    not table size.  Bucket count is the knob — same role as Kudu's
    hash buckets.
  * point lookups filter on the derivable `_bucket` value, so Catalyst
    partition-prunes to one directory.
  * exactly-once under micro-batch replay: `apply_batch` is guarded by
    a batch-id ledger AND stage-and-swap.  The merged buckets are
    written to `_staging/<batch>/`, outside the live table; then, under
    the undo log, each live bucket they replace is renamed into
    `_pending/<batch>/`, each staged bucket is renamed into `data/`,
    and the applied-marker lands.  A crash anywhere before the marker
    is undone on the next call by renaming the moved buckets back, so
    a redelivered batch replays against the pre-batch state (no
    double-merge).  Renames are O(1) per bucket: nothing is copied.
    This replaces the reference's swallow-duplicate-key-errors approach
    (NyTaxiYellowTripStreaming.scala:298-313).
  * one merge-and-write sequence (`_merge_and_write`) serves both
    entry points, always under a swap key and always inside
    `LocalFSTxnLog.write_section` (commit lock, rollback of crashed
    swaps, dead staging cleared): `upsert()` uses a fresh key and
    drops its marker after the commit, `apply_batch` its batch key
    under the batch claim.  One bucket collect of the batch prunes the
    current-read and tests for emptiness (empty -> no table, no
    marker); one last-write-wins dedup serves fresh and existing
    tables; the staged directory's `_bucket=NN` listing is the
    output's bucket list, so refusing a merge_fn whose keys leave the
    batch's buckets costs no Spark job.
  * compaction (compact.py) swaps each compacted bucket through the
    same section and log, so one recovery path, `rollback_incomplete`,
    serves every write.

Filesystem scope: all ledger/undo bookkeeping lives behind the
LocalFSTxnLog interface (write_section, is_applied/mark_applied/forget,
begin/snapshot_buckets/swap/commit, rollback_incomplete) — driver-local
filesystem operations, correct for the local/NFS paths of this
environment.  On an object store (s3a://...) slot a transactional
table format in its place; LocalFSTxnLog's docstring maps each method
onto the Delta/Iceberg equivalent.  The DataFrame read/write calls
themselves are already URI-agnostic.

The reference's per-row insert-vs-update flag dance collapses into
last-write-wins MERGE by key (deterministic: ties inside one batch are
broken by a stable row hash); a `merge_fn(current, new)` hook supports
aggregate merging (running entities) instead of row replacement.  It is
called only when the table exists, so `current` is never None; the
first write creates the table from the new rows as given.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class LocalFSTxnLog:
    """The upsert table's transaction log: an applied-batch ledger plus
    a per-batch undo log of bucket renames, as driver-local filesystem
    operations.  This class is the ONLY place UpsertTable touches the
    filesystem outside DataFrame reads/writes, so swapping the backend
    swaps the consistency story without touching merge logic.

    Mapping onto a transactional table format (the object-store path):
      * is_applied/mark_applied  -> Delta's idempotent-write txn action
        (`txnAppId`/`txnVersion`) or an Iceberg snapshot summary
        property: commit metadata, atomic with the data commit.
      * the buckets staged under `_staging/<key>/` -> the uncommitted
        data files of a commit: written first, invisible to readers
        until the commit references them.
      * swap (the staged-bucket renames) -> the commit itself,
        `replaceWhere` (Delta) / overwrite-by-filter (Iceberg).
      * snapshot_buckets + rollback_incomplete -> rename-based undo,
        unnecessary there: the format's snapshot isolation means a
        crashed write simply never commits, and replay starts from the
        last committed snapshot (what the undo log reconstructs by
        hand on plain parquet).
    On a local/NFS filesystem this implementation is correct as-is;
    on s3a:// it is not (rename/list consistency), use a table format.

    Protocol for every write (apply_batch, upsert(), compaction), one
    batch key or fresh key per swap:
      write_section (commit lock -> rollback_incomplete, which undoes
      any key that began but never committed -> clear `_staging/`) ->
      <stage into _staging/<key>/> -> begin(key) ->
      [record_fresh_table | snapshot_buckets + staged-bucket renames]
      -> commit(key).
    commit's ledger marker is the commit point.  Only batch keys keep
    it; upsert() and compaction forget theirs once commit returns.
    """

    def __init__(self, root: str):
        self.root = root
        self.ledger_dir = os.path.join(root, "_applied_batches")
        self.pending_dir = os.path.join(root, "_pending")
        self.staging_dir = os.path.join(root, "_staging")
        self.intent_dir = os.path.join(root, "_intents")
        self.lock_path = os.path.join(root, "_commit_lock")

    # -- applied-batch ledger ----------------------------------------

    def is_applied(self, key: str) -> bool:
        return os.path.exists(os.path.join(self.ledger_dir, key))

    def mark_applied(self, key: str) -> None:
        os.makedirs(self.ledger_dir, exist_ok=True)
        tmp = os.path.join(self.ledger_dir, f".{key}.tmp")
        with open(tmp, "w") as f:
            f.write("")
        os.rename(tmp, os.path.join(self.ledger_dir, key))

    def forget(self, key: str) -> None:
        """Drop a committed swap key's marker: only its undo entry ever
        needed it, and commit has removed that."""
        with contextlib.suppress(FileNotFoundError):
            os.unlink(os.path.join(self.ledger_dir, key))

    # -- per-key undo log --------------------------------------------

    def _pdir(self, key: str) -> str:
        return os.path.join(self.pending_dir, key)

    def pending(self) -> list[str]:
        """Keys whose swap began and has not finished committing."""
        try:
            return os.listdir(self.pending_dir)
        except FileNotFoundError:
            return []

    def begin(self, key: str) -> None:
        """Open the key's undo entry.  A leftover entry would hold the
        only copy of live buckets, so it is never discarded here:
        rollback_incomplete resolves it first."""
        os.makedirs(self._pdir(key))

    def record_fresh_table(self, key: str) -> None:
        """The batch is about to CREATE the table; undo = drop it."""
        open(os.path.join(self._pdir(key), "_fresh_table"), "w").close()

    def snapshot_buckets(
        self, key: str, data_dir: str, buckets: list
    ) -> None:
        """Move each live bucket the swap replaces into the undo entry
        (one rename, nothing copied), or record `_absent_bucket=NN` for
        one the swap creates.  Every bucket in the entry has left the
        live table, so rollback always restores it."""
        pdir = self._pdir(key)
        for b in buckets:
            live = os.path.join(data_dir, f"_bucket={b}")
            if os.path.isdir(live):
                os.rename(live, os.path.join(pdir, f"_bucket={b}"))
            else:
                open(os.path.join(pdir, f"_absent_bucket={b}"), "w").close()

    def swap(
        self, staged: str, data_dir: str, buckets: list, key: str
    ) -> None:
        """begin -> snapshot_buckets (every live bucket replaced moves
        into the undo entry) -> rename each staged `_bucket=NN` dir
        into data_dir, then drop the staging dir; the caller commits.
        No bucket is ever deleted: a crash at any rename leaves it in
        `_pending/<key>/` for rollback_incomplete."""
        self.begin(key)
        self.snapshot_buckets(key, data_dir, buckets)
        for b in buckets:
            os.rename(
                os.path.join(staged, f"_bucket={b}"),
                os.path.join(data_dir, f"_bucket={b}"),
            )
        shutil.rmtree(staged, ignore_errors=True)

    def commit(self, key: str) -> None:
        """Applied-marker first, then drop the undo entry: a crash
        between the two replays as already_applied (marker wins)."""
        self.mark_applied(key)
        shutil.rmtree(self._pdir(key), ignore_errors=True)

    def rollback_incomplete(self, data_dir: str) -> None:
        """Undo every key that began but never committed (crash window)
        and drop its undo entry (write_section clears the staging).

        A `_bucket=NN` in the entry was moved out of the live table, so
        it is renamed back over whatever the swap put in its place; an
        `_absent_bucket=NN` means the swap created that bucket, so it
        is deleted (else its half-applied rows would be double-merged);
        `_fresh_table` means the write created the table, so it is
        dropped.  A crash mid-rollback leaves the buckets not yet
        restored in the entry for the next call."""
        for key in self.pending():
            pdir = self._pdir(key)
            if self.is_applied(key):
                pass  # committed: only the cleanup below was lost
            elif os.path.exists(os.path.join(pdir, "_fresh_table")):
                shutil.rmtree(data_dir, ignore_errors=True)
            else:
                for entry in os.listdir(pdir):
                    b = entry.split("=", 1)[1]
                    live = os.path.join(data_dir, f"_bucket={b}")
                    shutil.rmtree(live, ignore_errors=True)
                    if entry.startswith("_bucket="):
                        os.rename(os.path.join(pdir, entry), live)
            shutil.rmtree(pdir, ignore_errors=True)

    # -- multi-writer protocol ---------------------------------------
    #
    # Two gates make concurrent drivers safe (the Delta `_delta_log`
    # shape at toy scale — serialized atomic commits):
    #   * per-batch CLAIM: O_CREAT|O_EXCL creation of _intents/<key> —
    #     POSIX-atomic, exactly one winner per batch id; the loser
    #     waits for the winner's ledger marker (batch applied) or the
    #     claim's release (winner rolled back; retry).  This is what
    #     makes replay-racing writers unable to double-apply a batch.
    #   * table-level COMMIT LOCK: O_EXCL creation of _commit_lock
    #     around the read-merge-stage-swap-commit critical section
    #     (write_section), so two writers — batches, upsert(),
    #     compaction — cannot interleave a bucket read with the
    #     other's bucket overwrite (plain parquet has no snapshot
    #     isolation to hide behind).  Delta replaces this mutex with
    #     optimistic commit + retry; on a single table directory the
    #     mutex is the honest equivalent.
    # Both files carry the writer id.  A claim/lock left by a CRASHED
    # writer blocks successors by design (liveness over safety is the
    # wrong trade for a ledger); `reclaim_stale` is the explicit
    # operator/supervisor entrypoint that breaks files older than
    # max_age after rollback_incomplete has restored the table.

    def try_claim(self, key: str, writer_id: str) -> bool:
        """Atomically claim the batch for writer_id.  True if this call
        won the claim OR the claim is already held by writer_id (a
        restarted writer resumes its own in-flight batch)."""
        os.makedirs(self.intent_dir, exist_ok=True)
        p = os.path.join(self.intent_dir, key)
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(p) as f:
                    return f.read() == writer_id
            except OSError:
                return False
        with os.fdopen(fd, "w") as f:
            f.write(writer_id)
        return True

    def claim_held(self, key: str) -> bool:
        return os.path.exists(os.path.join(self.intent_dir, key))

    def release_claim(self, key: str) -> None:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(os.path.join(self.intent_dir, key))

    @contextlib.contextmanager
    def table_lock(
        self, writer_id: str, timeout: float = 60.0, poll: float = 0.02
    ):
        """Mutual exclusion over the table's commit critical section."""
        os.makedirs(self.root, exist_ok=True)  # a new table has no dir
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(
                    self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                break
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"table commit lock held past {timeout}s "
                        f"(holder: {self._lock_holder()!r}); if that "
                        "writer is dead, run reclaim_stale()"
                    ) from None
                time.sleep(poll)
        try:
            with os.fdopen(fd, "w") as f:
                f.write(writer_id)
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(self.lock_path)

    @contextlib.contextmanager
    def write_section(
        self, writer_id: str, data_dir: str, timeout: float = 60.0
    ):
        """The one entry for every write to the table: take the commit
        lock, undo any swap a crashed writer left (renaming buckets back
        while another writer swaps them would corrupt the table, so this
        runs under the lock), then clear `_staging/`.  Every writer
        stages only inside this section, so whatever is staged when it
        opens was left by a writer that died."""
        with self.table_lock(writer_id, timeout=timeout):
            self.rollback_incomplete(data_dir)
            shutil.rmtree(self.staging_dir, ignore_errors=True)
            yield

    def _lock_holder(self) -> str | None:
        try:
            with open(self.lock_path) as f:
                return f.read()
        except OSError:
            return None

    def reclaim_stale(self, data_dir: str, max_age_sec: float) -> None:
        """Operator/supervisor recovery from a crashed writer: break
        the commit lock and any uncommitted claims older than
        max_age_sec, then roll back the half-applied swap (a writer's
        or a compactor's) from the undo log.  NEVER called
        automatically — a slow-but-alive writer must not be usurped."""
        now = time.time()

        def _stale(p: str) -> bool:
            try:
                return now - os.stat(p).st_mtime > max_age_sec
            except OSError:
                return False

        if _stale(self.lock_path):
            with contextlib.suppress(FileNotFoundError):
                os.unlink(self.lock_path)
        if os.path.isdir(self.intent_dir):
            for key in os.listdir(self.intent_dir):
                p = os.path.join(self.intent_dir, key)
                if self.is_applied(key) or _stale(p):
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(p)
        self.rollback_incomplete(data_dir)


# How long table open waits for the commit lock when it finds a swap
# in _pending/: a live writer's or compactor's swap window is a few
# renames (milliseconds); past this the holder is taken to be dead and
# open raises toward reclaim_stale.
OPEN_RECOVERY_GRACE_SEC = 2.0


class UpsertTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        num_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.num_buckets = num_buckets
        # built once: every micro-batch reuses the expression
        self._bucket_col = F.pmod(
            F.xxhash64(*self.key_cols), F.lit(self.num_buckets)
        ).cast("int")
        self.txn_log = LocalFSTxnLog(path)
        # layout aliases (tests and external tooling inspect these)
        self._ledger = self.txn_log.ledger_dir
        self._pending = self.txn_log.pending_dir
        self._open_recover()

    def _open_recover(self) -> None:
        """Crash recovery at table open.  Readers take no lock, so open
        is their only checkpoint: a key in _pending/ is a swap that
        began and never committed, and the live table may be missing
        the buckets it moved out.  Roll it back under the commit lock.
        If the lock stays held past OPEN_RECOVERY_GRACE_SEC while the
        swap is still pending, its holder crashed (or stalled)
        mid-swap: raise toward reclaim_stale and leave the crash state
        untouched rather than serve a table minus a bucket.  One
        listing when nothing is pending."""
        seen = self.txn_log.pending()
        if not seen:
            return
        try:
            with self.txn_log.table_lock(
                "table-open-recovery", timeout=OPEN_RECOVERY_GRACE_SEC
            ):
                self.txn_log.rollback_incomplete(self._data())
        except TimeoutError as exc:
            if not set(seen) & set(self.txn_log.pending()):
                return  # the swaps seen at entry committed: live holders
            raise RuntimeError(
                f"table {self.path}: swap(s) {sorted(seen)} began and "
                "never committed, so buckets may be missing from data/, "
                f"and the {exc}"
            ) from None

    # -- storage ------------------------------------------------------------

    def _data(self) -> str:
        return os.path.join(self.path, "data")

    def exists(self) -> bool:
        return os.path.exists(self._data())

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self._data()).drop("_bucket")

    def _affected_buckets(self, keys_df: DataFrame) -> list[int]:
        return [
            r[0]
            for r in keys_df.select(self._bucket_col.alias("b"))
            .distinct()
            .collect()
        ]

    def read_bucket_pruned(self, buckets: list[int]) -> DataFrame:
        """Read only the given bucket partitions (Catalyst prunes the
        rest)."""
        df = self.spark.read.parquet(self._data())
        return df.filter(F.col("_bucket").isin(buckets)).drop("_bucket")

    def init(self, df: DataFrame) -> None:
        """Create/replace the whole table from a snapshot (bootstrap,
        J1)."""
        self._write_buckets(df, self._data())

    def _write_buckets(self, df: DataFrame, path: str) -> None:
        """Hash-bucket df into `_bucket=NN` dirs under path.  Static
        overwrite on the directory — replaces every bucket there
        regardless of session conf."""
        (
            df.withColumn("_bucket", self._bucket_col)
            .repartition("_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("_bucket")
            .parquet(path)
        )

    # -- upsert -------------------------------------------------------------

    def upsert(
        self,
        new_rows: DataFrame,
        merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    ) -> None:
        """MERGE by key, without the exactly-once ledger (DML, maintained
        indexes).  Default: last-write-wins row replacement
        (deterministic under in-batch duplicate keys via a stable row
        hash).  With merge_fn(current_subset, new_rows) -> merged:
        aggregate merging; merge_fn is only called when the table
        exists, so `current_subset` is never None.  Only the buckets
        present in `new_rows` are rewritten; an empty `new_rows` is a
        no-op.  Same locked, undoable sequence as apply_batch, under a
        fresh swap key whose marker is dropped once it commits."""
        key = f"upsert-{uuid.uuid4().hex}"
        with self.txn_log.write_section("upsert", self._data()):
            self._merge_and_write(new_rows, merge_fn, key)
            self.txn_log.forget(key)

    def _last_write_wins(
        self, current: DataFrame | None, new_rows: DataFrame
    ) -> DataFrame:
        """One row per key: new rows win over current; ties among new
        rows broken by a deterministic hash of the whole row so reruns
        of the same input persist the same row."""
        ranked = new_rows.withColumn("_pri", F.lit(1)).withColumn(
            "_tie", F.xxhash64(*new_rows.columns)
        )
        if current is not None:
            ranked = (
                current.withColumn("_pri", F.lit(0))
                .withColumn("_tie", F.lit(0).cast("long"))
                .unionByName(ranked)
            )
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.col("_pri").desc(), F.col("_tie").desc()
        )
        return (
            ranked.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_pri", "_tie", "_rn")
        )

    def _merge_and_write(
        self,
        new_rows: DataFrame,
        merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None,
        key: str,
    ) -> None:
        """The one merge-and-write sequence behind upsert() and
        apply_batch, run inside the txn log's write_section and
        bracketed by the undo log under `key`: a fresh table is begin ->
        record_fresh_table -> write -> commit; an existing one stages
        the merged buckets, then swaps them in (begin ->
        snapshot_buckets -> renames) -> commit."""
        new_rows = new_rows.cache()
        try:
            # the batch's bucket list is collected ONCE: it prunes the
            # current-read and is the merge_fn safety check's reference
            # — each collect is a Spark job, the dominant fixed cost of
            # a small micro-batch.  It doubles as the emptiness test: an
            # empty batch changes nothing and leaves no table and no
            # ledger marker (a replay of it is just as empty)
            buckets = self._affected_buckets(new_rows)
            if not buckets:
                return
            if not self.exists():
                # a fresh table: nothing to merge with, so merge_fn is
                # not called; the undo log records the creation so a
                # crash before the marker drops the half-created table
                self.txn_log.begin(key)
                self.txn_log.record_fresh_table(key)
                self.init(
                    new_rows
                    if merge_fn is not None
                    else self._last_write_wins(None, new_rows)
                )
            else:
                current = self.read_bucket_pruned(buckets)
                merged = (
                    self._last_write_wins(current, new_rows)
                    if merge_fn is None
                    else merge_fn(current, new_rows)
                )
                # staged outside data/, so the write never overwrites
                # the buckets `merged` reads
                staged = os.path.join(self.txn_log.staging_dir, key)
                self._write_buckets(merged, staged)
                out = [
                    int(e.split("=", 1)[1])
                    for e in os.listdir(staged)
                    if e.startswith("_bucket=")
                ]
                # a merge_fn key hashing to a bucket the batch lacks
                # would replace a bucket that was never read, dropping
                # its rows (LWW keeps exactly the batch's keys)
                extra = set(out) - set(buckets)
                if extra:
                    raise ValueError(
                        "merge_fn emitted keys hashing to buckets "
                        f"{sorted(extra)} outside the batch's buckets; "
                        "those buckets were not read, so writing would "
                        "drop their existing rows. merge_fn must only "
                        "return keys drawn from the batch or the "
                        "current subset it was given."
                    )
                self.txn_log.swap(staged, self._data(), out, key)
            self.txn_log.commit(key)
        finally:
            new_rows.unpersist()

    # -- exactly-once ledger + undo log -------------------------------------
    #
    # Ledger keys are "<namespace>-<batch_id>": Structured Streaming
    # batch ids restart at 0 for every new checkpoint, so a bare id
    # would make a reprocessing run (fresh checkpoint, same table)
    # silently skip batches that collide with history.  Pipelines pass
    # a namespace derived from the checkpoint location.

    @staticmethod
    def _ledger_key(batch_id: int, namespace: str) -> str:
        return f"{namespace}-{batch_id}" if namespace else str(batch_id)

    def already_applied(self, batch_id: int, namespace: str = "") -> bool:
        return self.txn_log.is_applied(self._ledger_key(batch_id, namespace))

    def mark_applied(self, batch_id: int, namespace: str = "") -> None:
        self.txn_log.mark_applied(self._ledger_key(batch_id, namespace))

    def apply_batch(
        self,
        batch_id: int,
        new_rows: DataFrame,
        merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
        namespace: str = "",
        writer_id: str = "driver",
        claim_timeout: float = 60.0,
    ) -> None:
        """Idempotent upsert keyed by (namespace, micro-batch id) — the
        foreachBatch contract for exactly-once delivery to this table.
        Runs upsert()'s merge-and-write sequence, with the same merge_fn
        contract (never called with a None current).
        Crash-safe: the merged buckets are staged, then swapped in by
        renames under the undo log; a replay after a crash first renames
        the half-swapped buckets back, so the merge never double-counts.
        Multi-writer-safe: an atomic per-batch claim makes replay-racing
        writers apply each batch exactly once, and a table-level commit
        lock serializes the read-merge-write critical section across
        writers of different batches (see LocalFSTxnLog's multi-writer
        protocol notes)."""
        if self.already_applied(batch_id, namespace):
            return
        key = self._ledger_key(batch_id, namespace)

        # batch claim: exactly one writer owns this batch id.  A loser
        # waits for the winner's outcome — ledger marker (done: return)
        # or claim release without a marker (winner failed: retry the
        # claim and apply ourselves).
        deadline = time.monotonic() + claim_timeout
        while not self.txn_log.try_claim(key, writer_id):
            if self.txn_log.is_applied(key):
                return
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"batch {key} claim held past {claim_timeout}s by "
                    "another writer; if it is dead, run "
                    "txn_log.reclaim_stale()"
                )
            time.sleep(0.02)
        try:
            if self.txn_log.is_applied(key):
                return  # claimed a batch a prior owner already landed
            with self.txn_log.write_section(
                writer_id, self._data(), timeout=claim_timeout
            ):
                self._merge_and_write(new_rows, merge_fn, key)
        finally:
            self.txn_log.release_claim(key)
