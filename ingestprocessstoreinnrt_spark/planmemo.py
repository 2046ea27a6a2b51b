"""The one home for in-process memos.

Every frame or fit memo in the package (declared-query plans, table
loads, fitted pair and tokenizer frames, centroid lists, the logistic
fit) is a dict from ``session_memo(spark, name)``, with one lifecycle:

* Entries live as long as the Spark session that built them.  The
  first call from another application or session drops every entry of
  the old one, so dead sessions' DataFrames never pin py4j handles.
* Callers key entries by ``os.path.abspath(sf_dir)`` plus their own
  parameters; a hit hands back the identical object, which downstream
  ``.cache()`` dedup and the benchmark's memo-hit count rely on.
* ``clear()`` empties every memo, the column memo below included;
  bench.py and tools/isolated_probe.py call it with
  ``spark.catalog.clearCache()`` at each family boundary.

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
at sf0.1 (r13 profile; ~44 s per 240-query sweep pass) that recompute
NOTHING; handing the second invocation the same lazy frame removes
that cost.  It never shades into result caching: only queries whose
repeat construction triggers ZERO Spark jobs are memoized — the ones
that run fits, collects, localCheckpoint rounds or artifact reads
while building are declared ``impure=True`` on their registry entry
and always rebuild, so their warm reps keep measuring the recompute
(tests/test_planmemo.py pins both directions) — and every action still
executes the full lazy plan.
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


def session_memo(spark: SparkSession, name: str) -> dict:
    """The dict of memo `name` for `spark`'s session.  The first call
    from a new application or session drops every other session's
    entries (ADVICE r13: a stale session UUID of a still-live app would
    otherwise accumulate dead DataFrame handles)."""
    token = _session_token(spark)
    memos = _MEMOS.get(token)
    if memos is None:
        _MEMOS.clear()
        memos = _MEMOS[token] = {}
    return memos.setdefault(name, {})


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
        memo = session_memo(spark, "plan")
        key = (name, os.path.abspath(sf_dir))
        df = memo.get(key)
        if df is None:
            df = memo[key] = fn(spark, sf_dir)
        return df

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
