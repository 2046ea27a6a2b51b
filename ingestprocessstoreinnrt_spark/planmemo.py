"""The one home for in-process memos.

Every frame or fit memo in the package goes through one accessor,
``session_memo(spark, name, sf_dir, part, build)``: it keys the entry
on ``(os.path.abspath(sf_dir), part)`` inside memo `name`, calls
``build()`` on a miss and hands back the entry.  The memos:

* ``"plan"`` — the declared queries' frames (``memoize_pure``);
* ``"load_table"`` — the parquet table frames (catalog.load_table);
* ``"basket_index"`` — the basket index (operators/basket.py);
* ``"vector_index"`` — the fitted vector index (operators/similarity.py);
* ``"dedup_index"`` — the near-duplicate index (operators/dedup.py);
* ``"bpe"`` and ``"logistic_beta"`` — the tokenizer and logistic fits.

One lifecycle for all of them:

* Entries live as long as the Spark session that built them.  The
  first call from another application or session drops every entry of
  the old one, so dead sessions' DataFrames never pin py4j handles.
* A hit hands back the identical object, which shared ``.cache()``
  entries and the benchmark's memo-hit count rely on.  A part that
  caches its frame does so once, inside its ``build``.
* ``clear()`` empties every memo, the column memo below included.
  Callers clear the Spark cache and the memos together
  (``spark.catalog.clearCache()`` then ``clear()``): after a bare
  ``clearCache()`` a memoized part stays memoized but uncached, and
  every later query over it recomputes it on each action.  bench.py
  and tools/isolated_probe.py do both at each family boundary.

The upsert path's column lists (the taxi entity's aggregates and
zero-fill map, merge_keyed's requantize map and merge aggregates) live
in ``session_columns(spark, key, build)`` instead, scoped to the Spark
*application*, not the session.  A streaming query hands each
foreachBatch frame the stream's cloned session, while the UpsertTable
reads its current rows through the session it was opened with, so one
micro-batch touches two sessions: a session-scoped memo would drop and
rebuild itself twice per batch (the same goes for any ``session_memo``
use inside foreachBatch — it is emptied every batch).  Sharing the
entries across sessions is sound because an unresolved ``Column`` is a
bare expression tree that names columns and functions and carries no
session.  Rebuilding them would cost ~2,800 py4j round trips per
micro-batch for the taxi entity alone; with them memoized its warm
construction makes ~80.

What must outlive a session is persisted by operators/artifacts.py,
keyed on the data and the builder code.

The declared queries ride the plan memo (``memoize_pure``).  Rebuilding
a declared query's DataFrame costs 0.3-1.7 s of pure py4j round trips
at sf0.1 (r13 profile; ~44 s per 240-query sweep pass); handing the
second invocation the same lazy frame removes that cost.  Only queries
whose repeat construction triggers ZERO Spark jobs are memoized — the
ones that run fits, collects or localCheckpoint rounds while building
are declared ``impure=True`` on their registry entry and always
rebuild, so their warm reps keep measuring the recompute
(tests/test_planmemo.py pins both directions).

A hit reuses the frame's resolved and planned query, and with it the
shuffle output of earlier actions on it that Spark still holds: each
action runs the plan's jobs again but skips every stage whose shuffle
files survive.  Re-collecting the memoized ``bi_topk_customers`` at
sf0.01 runs 1 job with 1 of its 2 stages executing (110-150 ms on 4
vCPUs), where a freshly built copy runs 2 jobs (300-350 ms).  No
result rows are kept: the final stage always executes.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# (applicationId, session UUID) -> memo name -> entries; holds at most
# one session's memos
_MEMOS: dict[tuple[str, str], dict[str, dict]] = {}

# applicationId -> key -> built columns; holds at most one application's
_COLUMNS: dict[str, dict[tuple, object]] = {}


def _session_token(spark: SparkSession) -> tuple[str, str]:
    """(applicationId, session UUID): session-stable, unlike id(spark),
    which is collision-safe only while something pins the old session
    alive (ADVICE r11)."""
    app = spark.sparkContext.applicationId
    try:
        sess = str(spark._jsparkSession.sessionUUID())
    except Exception:  # non-classic backends without the JVM handle
        sess = f"pyid-{id(spark)}"
    return app, sess


def session_memo(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    part: object,
    build: Callable[[], T],
) -> T:
    """Entry `part` of memo `name` for the corpus at `sf_dir`, built by
    `build()` once per session (see the module docstring).  The first
    call from a new application or session drops every other session's
    entries (ADVICE r13: a stale session UUID of a still-live app would
    otherwise accumulate dead DataFrame handles)."""
    token = _session_token(spark)
    memos = _MEMOS.get(token)
    if memos is None:
        _MEMOS.clear()
        memos = _MEMOS[token] = {}
    memo = memos.setdefault(name, {})
    key = (os.path.abspath(sf_dir), part)
    if key not in memo:
        memo[key] = build()
    return memo[key]


def session_columns(
    spark: SparkSession, key: tuple, build: Callable[[], T]
) -> T:
    """The column expressions `build()` returns, built once per Spark
    application and shared by all its sessions (see the module
    docstring).  The first call from a new application drops the old
    one's entries."""
    app = spark.sparkContext.applicationId
    cols = _COLUMNS.get(app)
    if cols is None:
        _COLUMNS.clear()
        cols = _COLUMNS[app] = {}
    if key not in cols:
        cols[key] = build()
    return cols[key]


def clear() -> None:
    """Forget every memo, so the next invocation of anything memoized
    rebuilds (and re-registers its .cache() marks)."""
    _MEMOS.clear()
    _COLUMNS.clear()


def _wrap(name: str, fn):
    def wrapped(spark, sf_dir):
        return session_memo(
            spark, "plan", sf_dir, name, lambda: fn(spark, sf_dir)
        )

    wrapped.__name__ = f"memoized_{name}"
    wrapped.__wrapped__ = fn
    return wrapped


def memoize_pure(registry: dict) -> dict:
    """Each registry entry's builder by name, wrapped in the plan memo
    unless the entry is declared impure."""
    return {
        name: (q.build if q.impure else _wrap(name, q.build))
        for name, q in registry.items()
    }
