"""Pin the plan-memo invariants (ingestprocessstoreinnrt_spark.planmemo).

1. Every memoized query (registry entry with ``impure`` false) is a
   PURE plan builder: repeat construction triggers zero Spark jobs.  A
   query that starts running fits/collects during construction must be
   declared ``impure=True``, or its warm bench reps would silently stop
   re-measuring the recompute.  Conversely every ``impure=True`` query
   runs at least one job when rebuilt after ``clear()``; one that has
   become pure would lose its memo for nothing.
2. The memo hands repeat invocations the SAME frame object, and a
   memoized frame still computes (lazy plan only — no result capture).
3. clear() forgets every session memo, so a family-cold rebuild
   re-registers its .cache() marks.
4. planmemo.session_memo is the only home for module-level memos: no
   other package module binds an empty dict or set at module level.
5. session_columns hands every session of an application the same
   built columns, one entry per key, and clear() forgets them.
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ingestprocessstoreinnrt_spark import planmemo  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from ingestprocessstoreinnrt_spark.session import get_spark

    s = get_spark("test-planmemo")
    yield s


def test_memoized_queries_are_pure_plan_builders(spark):
    import __spark_entry__ as e

    qs, reg = e.queries(), e.registry()
    sc = spark.sparkContext
    # first pass builds everything (fit memos populate, artifact reads
    # run) — job activity here is expected and uncounted
    for fn in qs.values():
        fn(spark, SF)
    impure_hits = []
    for name, fn in qs.items():
        if reg[name].impure:
            continue
        # repeat construction must be a memo hit: same object, no jobs
        sc.setJobGroup(f"pm-{name}", name)
        df1 = fn(spark, SF)
        df2 = fn(spark, SF)
        # ADVICE r13: the two calls above are memo HITS — they return
        # the cached frame without invoking the builder, so they can
        # never exercise purity.  Force one REAL rebuild inside the job
        # group (fit memos / artifacts are warm from the first pass, so
        # any job recorded here is genuine construction-time compute
        # that the memo would be hiding from warm bench reps).
        fn.__wrapped__(spark, SF)
        sc.setJobGroup(None, None)
        assert df1 is df2, f"{name}: memo did not hand back the frame"
        if sc.statusTracker().getJobIdsForGroup(f"pm-{name}"):
            impure_hits.append(name)
    assert not impure_hits, (
        "queries ran Spark jobs during memoized construction — declare "
        f"them impure=True: {impure_hits}"
    )


def test_impure_queries_are_not_memoized(spark):
    import __spark_entry__ as e

    qs = e.queries()
    for name, q in e.registry().items():
        if q.impure:
            assert not getattr(qs[name], "__wrapped__", None), name


def test_impure_queries_run_jobs_when_rebuilt(spark):
    import __spark_entry__ as e
    from ingestprocessstoreinnrt_spark.catalog import TABLES, load_table

    qs = e.queries()
    impure = sorted(n for n, q in e.registry().items() if q.impure)
    assert impure
    sc = spark.sparkContext
    pure_now = []
    for name in impure:
        # a cold rebuild: with warm fit memos some builders (the basket
        # pair-artifact openers) skip their jobs.  The tables are loaded
        # again before the job group opens: a table load's schema
        # inference job is not construction.
        planmemo.clear()
        for table in TABLES:
            load_table(spark, SF, table)
        sc.setJobGroup(f"imp-{name}", name)
        qs[name](spark, SF)
        sc.setJobGroup(None, None)
        if not sc.statusTracker().getJobIdsForGroup(f"imp-{name}"):
            pure_now.append(name)
    assert not pure_now, (
        "impure=True queries ran no Spark job when rebuilt after clear() "
        f"— drop the flag so the plan memo serves them: {pure_now}"
    )


def test_memoized_frame_still_computes_and_clear_forgets(spark):
    import __spark_entry__ as e
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.operators import (
        basket,
        curation,
        dedup,
        similarity,
    )

    qs = e.queries()
    name = next(n for n, q in e.registry().items() if not q.impure)
    df1 = qs[name](spark, SF)
    n1 = df1.count()
    assert n1 == qs[name](spark, SF).count()
    memoized = {
        "corpus_tokens": lambda: dedup.corpus_tokens(spark, SF),
        "_cluster_labels": lambda: dedup._cluster_labels(
            spark, SF, dedup.jaccard_pairs_full
        ),
        "lsh_pair_frame": lambda: dedup.lsh_pair_frame(spark, SF),
        "_pair_counts": lambda: basket._pair_counts(spark, SF),
        "triangle_edges": lambda: basket.triangle_edges(spark, SF),
        "coarse_row": lambda: similarity.coarse_row(spark, SF),
        "pq_codebook_row": lambda: similarity.pq_codebook_row(spark, SF),
        "_run_bpe": lambda: curation._run_bpe(spark, SF),
        "load_table": lambda: load_table(spark, SF, "orders"),
    }
    before = {m: fn() for m, fn in memoized.items()}
    for m, fn in memoized.items():
        assert fn() is before[m], f"{m}: a hit must hand back the object"
    planmemo.clear()
    df2 = qs[name](spark, SF)
    assert df2 is not df1, "clear() must force a rebuild"
    assert df2.count() == n1
    for m, fn in memoized.items():
        assert fn() is not before[m], f"{m}: clear() must forget it"


def test_dedup_index_builds_each_part_once(spark, monkeypatch):
    """The dedup queries and text_ngram_novelty read the token and
    shingle frames from the near-duplicate index: building every one of
    them twice tokenizes and shingles the corpus once each."""
    import __spark_entry__ as e
    from ingestprocessstoreinnrt_spark.operators import dedup

    calls = {"_token_frame": 0, "_shingle_frame": 0}
    for fn_name in calls:
        fn = getattr(dedup, fn_name)

        def counted(docs, fn=fn, fn_name=fn_name):
            calls[fn_name] += 1
            return fn(docs)

        monkeypatch.setattr(dedup, fn_name, counted)
    reg = e.registry()
    planmemo.clear()
    for _ in range(2):
        for name in [*dedup.QUERIES, "text_ngram_novelty"]:
            reg[name].build(spark, SF)
    assert calls == {"_token_frame": 1, "_shingle_frame": 1}


def test_fitted_index_leaves_no_quantized_frame_cached(spark):
    """The embedding queries read their fits from the vector index, and
    a Lloyd's fit caches its input only while its passes run: building
    the IVF, IVF-PQ, IVFADC and SemDeDup queries leaves no cache entry
    on the quantized-vector frame, whether their fits ran or were read
    back from the artifacts."""
    from pyspark import StorageLevel

    import __spark_entry__ as e
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import ml

    qs = e.queries()
    names = (
        "sim_ann_ivf",
        "sim_ivfpq_search",
        "sim_ivfpq_residual_search",
        "dedup_semantic",
    )

    def quantized_level():
        emb = fan_out(load_table(spark, SF, "embeddings"))
        return emb.select("vec_id", ml._qvec().alias("qv")).storageLevel

    for name in names:  # fits on an artifact miss, reads them on a hit
        qs[name](spark, SF)
    assert quantized_level() == StorageLevel.NONE
    planmemo.clear()
    spark.catalog.clearCache()
    for name in names:  # the artifacts hit
        qs[name](spark, SF)
    assert quantized_level() == StorageLevel.NONE


def test_session_columns_shared_across_sessions_until_clear(spark):
    from pyspark.sql import functions as F

    builds = []

    def build():
        builds.append(1)
        return [F.col("a"), F.lit(1)]

    key = ("test", "session_columns")
    cols = planmemo.session_columns(spark, key, build)
    assert planmemo.session_columns(spark, key, build) is cols
    assert planmemo.session_columns(spark.newSession(), key, build) is cols
    assert len(builds) == 1
    planmemo.clear()
    assert planmemo.session_columns(spark, key, build) is not cols
    assert len(builds) == 2


def _taxi_trips(session, tmp_path):
    from ingestprocessstoreinnrt_spark.sources import csv_clean, generators

    path = str(tmp_path / "taxi.csv")
    if not (tmp_path / "taxi.csv").exists():
        generators.write_taxi_csv(path, rows=400, seed=41)
    return csv_clean.read_taxi_trips(session, path)


def test_merge_columns_keyed_per_kind_split(spark, tmp_path, monkeypatch):
    """The taxi and car merges declare different column kinds, so each
    gets its own entry; a shared key would hand one the other's
    aggregates."""
    from ingestprocessstoreinnrt_spark.operators import car, merge, taxi
    from ingestprocessstoreinnrt_spark.sources import csv_clean, generators

    ent = taxi.entity_from_trips(_taxi_trips(spark, tmp_path))
    car_csv = generators.write_car_readings_csv(
        str(tmp_path / "car.csv"), cars=6, sweeps=20, seed=43
    )
    stats = car.stats_from_readings(csv_clean.read_car_readings(spark, car_csv))
    builds = []
    build = merge._merge_columns
    monkeypatch.setattr(
        merge, "_merge_columns", lambda *a: builds.append(a) or build(*a)
    )
    planmemo.clear()
    for _ in range(2):
        m_taxi = taxi.merge_taxi_entities(ent, ent)
        m_car = car.merge_stats(stats, stats)
    assert len(builds) == 2, "one build per kind split"
    assert m_taxi.columns == ent.columns and m_car.columns == stats.columns
    once = {r.vender_id: r for r in ent.collect()}
    for r in m_taxi.collect():
        assert r.total_trips == 2 * once[r.vender_id].total_trips
        assert r.max_distance_of_trip == once[r.vender_id].max_distance_of_trip
    once = {r.vin: r for r in stats.collect()}
    for r in m_car.collect():
        assert r.readings_count == 2 * once[r.vin].readings_count
        assert r.last_updated == once[r.vin].last_updated


def test_entity_columns_serve_two_sessions_cell_identical(
    spark, tmp_path, monkeypatch
):
    """A foreachBatch frame belongs to the stream's cloned session; the
    app-scoped columns built in one session must give the same cells in
    another."""
    from ingestprocessstoreinnrt_spark.operators import taxi

    builds = []
    build = taxi._entity_columns
    monkeypatch.setattr(
        taxi, "_entity_columns", lambda: builds.append(1) or build()
    )
    planmemo.clear()
    got = [
        sorted(taxi.entity_from_trips(_taxi_trips(s, tmp_path)).collect())
        for s in (spark, spark.newSession())
    ]
    assert len(builds) == 1
    assert got[0] and got[0] == got[1]


# module-level empty containers that are not session memos
_MEMO_EXEMPT = {
    # keyed by source-file stat, holds no Spark handle
    ("operators/artifacts.py", "_CODE_FP_CACHE"),
}


def _empty_container(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "set")
        and not node.args
        and not node.keywords
    )


def test_no_memo_outside_planmemo():
    pkg = Path(planmemo.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "planmemo.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if not _empty_container(value):
                continue
            for t in targets:
                name = ast.unparse(t)
                if (rel, name) not in _MEMO_EXEMPT:
                    found.append(f"{rel}:{node.lineno} {name}")
    assert not found, (
        "module-level memo outside planmemo — use "
        f"planmemo.session_memo(spark, name, sf_dir, part, build): {found}"
    )
