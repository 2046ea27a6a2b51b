"""The one home for session memos.

Every in-process memo in the package (declared-query plans, table
loads, fitted pair and tokenizer frames, centroid lists, the logistic
fit) is a dict from ``session_memo(spark, name)``, with one lifecycle:

* Entries live as long as the Spark session that built them.  The
  first call from another application or session drops every entry of
  the old one, so dead sessions' DataFrames never pin py4j handles.
* Callers key entries by ``os.path.abspath(sf_dir)`` plus their own
  parameters; a hit hands back the identical object, which downstream
  ``.cache()`` dedup and the benchmark's memo-hit count rely on.
* ``clear()`` empties every memo; bench.py and tools/isolated_probe.py
  call it with ``spark.catalog.clearCache()`` at each family boundary.

What must outlive a session is persisted by operators/artifacts.py,
keyed on the data and the builder code.

The declared queries ride the plan memo (``memoize_pure``).  Rebuilding
a declared query's DataFrame costs 0.3-1.7 s of pure py4j round trips
at sf0.1 (r13 profile; ~44 s per 240-query sweep pass) that recompute
NOTHING; handing the second invocation the same lazy frame removes
that cost.  It never shades into result caching: only queries whose
repeat construction triggers ZERO Spark jobs are memoized — the ones
that run fits, collects or localCheckpoint rounds while building are
in PLAN_IMPURE and always rebuild, so their warm reps keep measuring
the recompute (tests/test_planmemo.py pins this) — and every action
still executes the full lazy plan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Queries whose construction RUNS Spark jobs (fits, collects,
# localCheckpoint iterations, artifact reads) — never memoized: their
# construction cost is real computation the warm rep must re-measure.
# Derived by the r13 classifier (setJobGroup around a repeat
# construction; zero job ids => pure) and pinned by
# tests/test_planmemo.py.
PLAN_IMPURE = frozenset(
    {
        # r14: construction opens the persisted basket pair artifact
        # (a parquet read) when the session's basket pair memo is cold —
        # the same treatment as the dedup artifact openers below
        "bi_basket_lift",
        "graph_degree_stats",
        "curation_bpe_train_batched",
        "dedup_best_match",
        "dedup_clusters",
        "dedup_incremental",
        "dedup_jaccard_full",
        "dedup_keep_longest",
        "dedup_keep_longest_lsh",
        "graph_assortativity",
        "graph_clustering_coeff",
        "graph_components",
        "graph_jaccard_neighbors",
        "graph_kcore_peel",
        "graph_pagerank",
        "graph_pref_attachment",
        "graph_resource_allocation",
        "graph_rich_club",
        "graph_triangles",
        "join_bloom_semijoin",
        "ml_decision_tree",
        "ml_kmeans",
        "ml_pca_power",
        "pipeline_dedup_corpus",
    }
)

# (applicationId, session UUID) -> memo name -> entries; holds at most
# one session's memos
_MEMOS: dict[tuple[str, str], dict[str, dict]] = {}


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


def clear() -> None:
    """Forget every memo, so the next invocation of anything memoized
    rebuilds (and re-registers its .cache() marks)."""
    _MEMOS.clear()


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


def memoize_pure(qdict: dict) -> dict:
    """Wrap every pure-plan query in the registry dict; PLAN_IMPURE
    entries pass through untouched."""
    return {
        name: (fn if name in PLAN_IMPURE else _wrap(name, fn))
        for name, fn in qdict.items()
    }
