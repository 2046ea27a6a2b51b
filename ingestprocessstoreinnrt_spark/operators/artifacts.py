"""Persisted per-corpus fitted indexes: parquet frames (dedup and
basket pair frames, signature indexes) via `corpus_artifact`, and small
JSON values (ml.py's centroid lists and PQ codebooks) via
`json_artifact`.  Both go through one key, one atomic publish, one
prune and one set of `STATS` counters.

Such an index is a pure function of the corpus contents that a
production service builds once and maintains next to the data.
Rebuilding it on every session start is the 100 TB anti-pattern: the
r11 sf10 sweep spent 1502 s of dedup-family cold time (half the
sweep's cold budget) re-deriving a corpus index that had not changed
(VERDICT r11 item 4).

Artifacts live under `<repo>/.cache/artifacts/<name>/<corpus>/<fp>`,
where the fingerprint hashes BOTH the source table's file stats (names,
sizes, `st_mtime_ns`, file count, total bytes) AND the builder's source
code — so a changed corpus OR a changed builder gets a fresh build,
never a stale read (VERDICT r12 item 1 + ADVICE r12: a
name/size/whole-second-mtime key is blind to a same-second same-size
rewrite, and blind entirely to code edits).

Every hit is validated (the dir must still hold readable data, not
just a surviving `_SUCCESS`); a corrupt, partial, or missing artifact
falls through to the builder, so correctness never depends on the
cache.  Writes are atomic (a pid-suffixed tmp dir renamed into place),
so concurrent sessions race safely.  Stale fingerprints of the same
name+corpus are pruned after a publish, but only once unused past
`PRUNE_GRACE_SEC` — each hit touches the `_SUCCESS` marker, so a
session still reading an old-fingerprint frame keeps its files for the
grace window (VERDICT r12 item 4).

Determinism contract: a builder wired through this module MUST be a
deterministic pure function of the source table (integer minhash/PPJoin
math, exact verification, integer Lloyd's), so reading the artifact is
bit-identical to rebuilding, and the DuckDB oracle twins stay green
with or without a cache hit.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# per-process hit/miss counters, recorded into bench records so every
# committed number is self-identifying about whether it measured the
# steady-state (artifact read) or first-build path
STATS = {"hit": 0, "miss": 0}

# stale-fingerprint dirs younger than this (by publish OR last-hit
# time) survive pruning: a reader that opened the old artifact before
# the corpus mutated gets a grace window to finish its actions
PRUNE_GRACE_SEC = 1800

_ART_DIR = os.path.join(
    os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ),
    ".cache",
    "artifacts",
)


def corpus_key(sf_dir: str, table: str = "documents") -> str:
    """Identity of the SOURCE (path, not contents): artifacts of
    different corpora (sf0.001 vs sf0.01 vs sf10) live side by side
    under distinct keys, so pruning one corpus's stale fingerprints
    can never delete another's live artifact (the failure the first
    r12 test-suite run caught: a later sf0.001 build pruned the
    sf0.01 pair artifact out from under the suite's cached frames)."""
    raw = f"{os.path.abspath(sf_dir)}|{table}"
    return hashlib.md5(raw.encode()).hexdigest()[:16]


def table_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """md5 over the source table's file names / sizes / `st_mtime_ns`
    plus file count and total bytes: any rewrite of the table —
    including a same-second rewrite that happens to preserve file
    names and sizes — produces a different fingerprint and therefore a
    rebuild, never a stale read.  (Whole-second `st_mtime` was the one
    silent-stale-read path VERDICT r12 named; nanosecond mtimes close
    it on every POSIX filesystem this runs on.)"""
    p = os.path.join(sf_dir, f"{table}.parquet")
    parts = []
    total = 0
    if os.path.isdir(p):
        for name in sorted(os.listdir(p)):
            st = os.stat(os.path.join(p, name))
            total += st.st_size
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(p):
        st = os.stat(p)
        total += st.st_size
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    raw = f"n={len(parts)}|bytes={total}|" + "|".join(parts)
    return hashlib.md5(raw.encode()).hexdigest()


# (path, size, mtime_ns) -> md5 of file contents; module sources are
# stable within a session, so each is read at most once
_CODE_FP_CACHE: dict[tuple[str, int, int], str] = {}


def builder_fingerprint(build: Callable[[], DataFrame]) -> str:
    """code_fingerprint of the builder's defining module.  Coarse on
    purpose: any edit to the defining module rebuilds that module's
    artifacts, which costs one redundant build per edit and can never
    serve a stale pair frame."""
    fname = getattr(getattr(build, "__code__", None), "co_filename", None)
    return code_fingerprint(
        *([fname] if fname and os.path.isfile(fname) else [])
    )


def code_fingerprint(*paths: str) -> str:
    """md5 of the given source files plus this module's own source: an
    edit to builder code — tokenization, hash families, salting, verify
    logic, fit shaping — invalidates persisted artifacts exactly like
    an edit to the data (ADVICE r12)."""
    digests = []
    for p in (*paths, os.path.abspath(__file__)):
        try:
            st = os.stat(p)
            key = (p, st.st_size, st.st_mtime_ns)
            h = _CODE_FP_CACHE.get(key)
            if h is None:
                with open(p, "rb") as f:
                    h = hashlib.md5(f.read()).hexdigest()
                _CODE_FP_CACHE[key] = h
            digests.append(h)
        except OSError:
            digests.append("unreadable")
    return hashlib.md5("|".join(digests).encode()).hexdigest()


def _done_marker(path: str) -> str:
    return os.path.join(path, "_SUCCESS")


def _has_parquet_data(path: str) -> bool:
    """True iff the artifact dir still holds at least one Spark data
    file — a surviving `_SUCCESS` over a gutted dir (files partially
    deleted by an aggressive cleaner) must read as a miss, not raise
    at action time (ADVICE r12)."""
    try:
        return any(
            n.startswith("part-") and n.endswith(".parquet")
            for n in os.listdir(path)
        )
    except OSError:
        return False


def _entry_age_sec(path: str) -> float:
    """Seconds since this artifact dir was published or last hit
    (whichever is more recent); hits touch the `_SUCCESS` marker."""
    newest = 0.0
    for p in (path, _done_marker(path)):
        try:
            newest = max(newest, os.stat(p).st_mtime)
        except OSError:
            pass
    return time.time() - newest


def _artifact(
    sf_dir: str,
    name: str,
    table: str,
    code_fp: str,
    read: Callable[[str], object],
    write: Callable[[str], None],
    direct: Callable[[], object],
):
    """The shared key / hit / publish / prune path.  `read(path)`
    returns the published value, or None if the dir holds no valid
    data; `write(tmp)` builds the value into a fresh dir; `direct()`
    serves the value when no published copy can be read."""
    fp = hashlib.md5(
        (table_fingerprint(sf_dir, table) + "|" + code_fp).encode()
    ).hexdigest()
    base = os.path.join(_ART_DIR, name, corpus_key(sf_dir, table))
    final = os.path.join(base, fp)

    def published():
        if os.path.exists(_done_marker(final)):
            return read(final)
        return None

    got = published()
    if got is not None:
        STATS["hit"] += 1
        try:
            # recency touch: keeps this fingerprint out of a concurrent
            # publisher's prune for PRUNE_GRACE_SEC
            os.utime(_done_marker(final))
        except OSError:
            pass
        return got
    STATS["miss"] += 1
    tmp = f"{final}.tmp-{os.getpid()}"
    try:
        write(tmp)
    except Exception:
        # a write failure is either an unwritable cache dir (read-only
        # checkout, full disk — Spark surfaces it as a JVM IOException,
        # not OSError) or a broken builder.  Correctness never depends
        # on the cache: serve the value directly; a genuinely broken
        # builder re-raises out of `direct`.
        shutil.rmtree(tmp, ignore_errors=True)
        got = published()  # concurrent winner
        return direct() if got is None else got
    try:
        os.rename(tmp, final)
    except OSError:
        # lost a publish race (keep a VALID winner) or `final` is gutted
        # (marker without data): replace it with the fresh build
        if published() is None:
            shutil.rmtree(final, ignore_errors=True)
            try:
                os.rename(tmp, final)
            except OSError:
                pass
        shutil.rmtree(tmp, ignore_errors=True)
    # prune artifacts of dead corpora (fingerprint changed): they can
    # never be MISSED again and only cost disk — but give any session
    # still holding a lazy read of one a grace window before deleting
    # its files (hits refresh the window via the _SUCCESS touch).
    # Never touch tmp dirs — another session may be mid-publish.
    try:
        for entry in os.listdir(base):
            if entry == fp or ".tmp-" in entry:
                continue
            epath = os.path.join(base, entry)
            if _entry_age_sec(epath) > PRUNE_GRACE_SEC:
                shutil.rmtree(epath, ignore_errors=True)
    except OSError:
        pass
    got = published()
    return direct() if got is None else got  # no valid winner: serve direct


def corpus_artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    table: str = "documents",
    cleanup: Callable[[], None] | None = None,
) -> DataFrame:
    """Return `name` for this corpus, building + persisting on miss.

    Cache hit: one parquet read of the artifact (steady-state cost — a
    production index is read, not refit, by every consumer session).
    Cache miss: run `build()`, persist its FULL result, atomically
    publish, prune stale fingerprints past their grace window, and
    return a read of the published copy — so hit and miss return
    plan-identical frames and downstream .cache() dedup works across
    invocations either way.

    `cleanup` (optional) runs ONLY after the build's result is fully
    materialized to parquet — the hook for a builder to unpersist
    scratch frames it cached for its own fan-out (the LSH signature
    frame).  It is NOT run on the direct-serve fallback paths, where
    the returned frame is still lazy and may depend on those caches."""

    def read(path: str) -> DataFrame | None:
        if _has_parquet_data(path):
            return spark.read.parquet(path)
        return None

    def write(tmp: str) -> None:
        build().write.mode("overwrite").parquet(tmp)
        if cleanup is not None:
            try:
                cleanup()
            except Exception:
                pass  # scratch-cache hygiene only; never fail a publish

    return _artifact(
        sf_dir, name, table, builder_fingerprint(build), read, write, build
    )


def json_artifact(
    sf_dir: str,
    name: str,
    build: Callable[[], object],
    sources: tuple[str, ...],
    table: str,
):
    """Return the small JSON-serializable value `name` for this corpus
    (e.g. a centroid list), building + persisting on miss.  `sources`
    lists every source file whose code determines the value; an edit
    to any of them rebuilds.  Hit and miss both return the value read
    back from the published JSON (the built value itself only when
    nothing could be published)."""
    built: list = []

    def read(path: str):
        try:
            with open(os.path.join(path, "part-0.json")) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def write(tmp: str) -> None:
        built.append(build())
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "part-0.json"), "w") as f:
            json.dump(built[0], f)
        open(_done_marker(tmp), "w").close()

    return _artifact(
        sf_dir,
        name,
        table,
        code_fingerprint(*sources),
        read,
        write,
        lambda: built[0] if built else build(),
    )
