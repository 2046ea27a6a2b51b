"""operators/artifacts.py — persisted per-corpus index cache.

Pins the cache contract the dedup family now rests on (VERDICT r11
item 4): build-on-miss, read-on-hit (builder NOT re-run), fingerprint
invalidation when the source table changes, stale-fingerprint pruning,
and correctness-never-depends-on-the-cache fallback.
"""

from __future__ import annotations

import os

import pytest

from ingestprocessstoreinnrt_spark.operators import artifacts as A


@pytest.fixture()
def corpus(tmp_path, spark):
    """A tiny standalone 'sf dir' with a documents table we can mutate."""
    sf = tmp_path / "sfx"
    sf.mkdir()
    spark.range(10).selectExpr("id AS doc_id", "id * 2 AS v").write.parquet(
        str(sf / "documents.parquet")
    )
    return str(sf)


@pytest.fixture(autouse=True)
def _isolated_art_dir(tmp_path, monkeypatch):
    monkeypatch.setattr(A, "_ART_DIR", str(tmp_path / "art"))


def test_build_on_miss_then_read_on_hit(spark, corpus):
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).selectExpr("doc_id", "v * 10 AS w")

    a = A.corpus_artifact(spark, corpus, "t1", build)
    assert sorted((r.doc_id, r.w) for r in a.collect()) == [
        (i, i * 20) for i in range(10)
    ]
    assert calls == [1]
    b = A.corpus_artifact(spark, corpus, "t1", build)
    assert calls == [1], "hit must not re-run the builder"
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, a.collect()))
    # hit and miss return plan-identical frames (same parquet path), so
    # downstream .cache() dedup works across invocations
    assert a.schema == b.schema


def test_fingerprint_invalidation_on_table_change(spark, corpus, monkeypatch):
    # grace window off: this test pins the PRUNE mechanics; retention
    # semantics are pinned by test_prune_grace_spares_recent_readers
    monkeypatch.setattr(A, "PRUNE_GRACE_SEC", -1)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).selectExpr("max(v) AS mx")

    assert A.corpus_artifact(spark, corpus, "t2", build).collect()[0].mx == 18
    # rewrite the corpus: bigger table, backdated-impossible mtime bump
    spark.range(20).selectExpr("id AS doc_id", "id * 3 AS v").write.mode(
        "overwrite"
    ).parquet(os.path.join(corpus, "documents.parquet"))
    got = A.corpus_artifact(spark, corpus, "t2", build).collect()[0].mx
    assert got == 57, "changed corpus must rebuild, not read stale"
    assert calls == [1, 1]
    # stale fingerprint pruned after the successful publish
    base = os.path.join(A._ART_DIR, "t2", A.corpus_key(corpus))
    live = [e for e in os.listdir(base) if ".tmp-" not in e]
    assert len(live) == 1


def test_same_second_same_size_rewrite_rebuilds(spark, corpus):
    """The one silent-stale-read path VERDICT r12 named: a corpus
    rewritten within the same whole second with identical file names
    AND sizes must still change the fingerprint (st_mtime_ns + file
    stats), forcing a rebuild instead of serving the old index."""
    tbl = os.path.join(corpus, "documents.parquet")
    fp1 = A.table_fingerprint(corpus)
    # freeze every file's mtime to an exact whole second, re-fingerprint
    for n in os.listdir(tbl):
        p = os.path.join(tbl, n)
        st = os.stat(p)
        os.utime(p, ns=(st.st_atime_ns, (st.st_mtime_ns // 10**9) * 10**9))
    fp_frozen = A.table_fingerprint(corpus)
    # "rewrite": same names, same sizes, same WHOLE SECOND — only the
    # sub-second component moves, as a same-second in-place rewrite does
    for n in os.listdir(tbl):
        p = os.path.join(tbl, n)
        st = os.stat(p)
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    fp_rewritten = A.table_fingerprint(corpus)
    assert fp_frozen != fp_rewritten, (
        "same-second same-size rewrite must change the fingerprint"
    )
    assert fp1 != fp_frozen  # ns-precision visible both directions

    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(tbl).selectExpr("count(*) AS n")

    assert A.corpus_artifact(spark, corpus, "ss", build).collect()[0].n == 10
    for n in os.listdir(tbl):
        p = os.path.join(tbl, n)
        st = os.stat(p)
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    A.corpus_artifact(spark, corpus, "ss", build).collect()
    assert calls == [1, 1], "ns-level mtime change must rebuild"


def test_builder_code_change_invalidates(spark, corpus, tmp_path):
    """ADVICE r12 (medium): an edit to the builder's defining module
    must invalidate the persisted artifact exactly like a data edit —
    otherwise changed tokenization/hash/verify logic silently serves
    pairs computed by the OLD code."""
    import importlib.util

    mod_path = tmp_path / "fake_builder_mod.py"
    src = (
        "def make(spark, tbl):\n"
        "    return lambda: spark.read.parquet(tbl)"
        ".selectExpr('sum(v) AS s')\n"
    )
    mod_path.write_text(src)

    def load():
        spec = importlib.util.spec_from_file_location(
            "fake_builder_mod", str(mod_path)
        )
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        return m

    tbl = os.path.join(corpus, "documents.parquet")
    b1 = load().make(spark, tbl)
    fp_code_1 = A.builder_fingerprint(b1)
    assert A.corpus_artifact(spark, corpus, "cv", b1).collect()[0].s == 90

    # edit the module (comment only — behavior identical, source differs)
    mod_path.write_text(src + "# v2\n")
    b2 = load().make(spark, tbl)
    fp_code_2 = A.builder_fingerprint(b2)
    assert fp_code_1 != fp_code_2, "module edit must change the code fp"
    # both fingerprints now live under the artifact name -> two dirs
    A.corpus_artifact(spark, corpus, "cv", b2).collect()
    base = os.path.join(A._ART_DIR, "cv", A.corpus_key(corpus))
    live = [e for e in os.listdir(base) if ".tmp-" not in e]
    assert len(live) == 2, "code edit must mint a new fingerprint dir"


def test_gutted_artifact_reads_as_miss(spark, corpus):
    """A `_SUCCESS` marker surviving over deleted data files must fall
    through to the builder, not raise at action time (ADVICE r12: the
    docstring's correctness-never-depends-on-cache claim now holds on
    the READ path too)."""
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ).selectExpr("min(v) AS mn")

    assert A.corpus_artifact(spark, corpus, "gut", build).collect()[0].mn == 0
    base = os.path.join(A._ART_DIR, "gut", A.corpus_key(corpus))
    (fp_dir,) = [e for e in os.listdir(base) if ".tmp-" not in e]
    final = os.path.join(base, fp_dir)
    for n in os.listdir(final):
        if n.startswith("part-"):
            os.remove(os.path.join(final, n))
    assert os.path.exists(os.path.join(final, "_SUCCESS"))
    got = A.corpus_artifact(spark, corpus, "gut", build).collect()[0].mn
    assert got == 0
    assert calls == [1, 1], "gutted dir must rebuild, not raise"
    # and the rebuild REPLACED the gutted copy: next call is a hit
    A.corpus_artifact(spark, corpus, "gut", build).collect()
    assert calls == [1, 1]


def test_prune_grace_spares_recent_readers(spark, corpus, monkeypatch):
    """VERDICT r12 item 4: a session still holding a lazy read of an
    old-fingerprint artifact keeps its files through the grace window;
    only fingerprints idle PAST the window are pruned."""
    monkeypatch.setattr(A, "PRUNE_GRACE_SEC", 3600)
    tbl = os.path.join(corpus, "documents.parquet")

    def build():
        return spark.read.parquet(tbl).selectExpr("count(*) AS n")

    old_frame = A.corpus_artifact(spark, corpus, "gr", build)
    assert old_frame.collect()[0].n == 10
    base = os.path.join(A._ART_DIR, "gr", A.corpus_key(corpus))
    (fp_old,) = [e for e in os.listdir(base) if ".tmp-" not in e]

    # corpus mutates; a fresh session rebuilds and publishes+prunes
    spark.range(7).selectExpr("id AS doc_id", "id AS v").write.mode(
        "overwrite"
    ).parquet(tbl)
    assert A.corpus_artifact(spark, corpus, "gr", build).collect()[0].n == 7
    live = [e for e in os.listdir(base) if ".tmp-" not in e]
    assert fp_old in live, "recent old fingerprint must survive the prune"
    # ... so the stale reader's already-returned frame still collects
    assert old_frame.collect()[0].n == 10

    # backdate the old fingerprint past the grace window; next publish
    # (corpus mutates again) sweeps it
    old_dir = os.path.join(base, fp_old)
    for p in (old_dir, os.path.join(old_dir, "_SUCCESS")):
        st = os.stat(p)
        os.utime(p, (st.st_atime - 7200, st.st_mtime - 7200))
    spark.range(3).selectExpr("id AS doc_id", "id AS v").write.mode(
        "overwrite"
    ).parquet(tbl)
    assert A.corpus_artifact(spark, corpus, "gr", build).collect()[0].n == 3
    live = [e for e in os.listdir(base) if ".tmp-" not in e]
    assert fp_old not in live, "idle-past-grace fingerprint must be pruned"


def test_prune_never_touches_another_corpus(spark, corpus, tmp_path):
    """The first r12 suite run's failure mode, pinned: two corpora
    sharing an artifact NAME must keep independent caches — a rebuild
    for one must not prune (delete) the other's live artifact."""
    sf2 = tmp_path / "sfy"
    sf2.mkdir()
    spark.range(5).selectExpr("id AS doc_id", "id AS v").write.parquet(
        str(sf2 / "documents.parquet")
    )

    def build_for(sf):
        return lambda: spark.read.parquet(
            os.path.join(sf, "documents.parquet")
        ).selectExpr("count(*) AS n")

    a = A.corpus_artifact(spark, corpus, "shared", build_for(corpus))
    b = A.corpus_artifact(spark, str(sf2), "shared", build_for(str(sf2)))
    # both artifacts remain readable after each other's publish+prune
    assert a.collect()[0].n == 10
    assert b.collect()[0].n == 5
    # and a re-read of the first still hits (files not pruned)
    again = A.corpus_artifact(spark, corpus, "shared", build_for(corpus))
    assert again.collect()[0].n == 10


def test_unwritable_cache_falls_through_to_builder(spark, corpus, monkeypatch):
    """Read-only checkout / full disk: the artifact layer must serve
    the built frame directly — correctness never depends on the
    cache."""
    monkeypatch.setattr(A, "_ART_DIR", "/proc/definitely-not-writable")
    df = A.corpus_artifact(
        spark,
        corpus,
        "t3",
        lambda: spark.read.parquet(
            os.path.join(corpus, "documents.parquet")
        ),
    )
    assert df.count() == 10



def test_json_artifact_unwritable_cache_serves_the_fit_once(tmp_path, monkeypatch):
    """An unpublishable small value is served from the one build, not
    refit: a centroid fit costs iters-1 Spark aggregate passes."""
    monkeypatch.setattr(A, "_ART_DIR", "/proc/definitely-not-writable")
    calls = []

    def build():
        calls.append(1)
        return [[0, [1, 2]]]

    got = A.json_artifact(str(tmp_path), "j", build, (), table="documents")
    assert got == [[0, [1, 2]]]
    assert calls == [1]


def test_centroid_artifact_keys_on_data_and_code(spark, tmp_path, monkeypatch):
    """fit_centroids persists through json_artifact: a same-size
    rewrite of embeddings.parquet within the same whole second refits,
    an edit to a source that shapes the fit refits, and a fresh session
    reads the persisted fit back unchanged."""
    import shutil

    from ingestprocessstoreinnrt_spark import planmemo
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.operators import ml
    from tests.conftest import SF_SMOKE

    here = os.path.dirname(os.path.abspath(ml.__file__))
    for f in ("ml.py", "similarity.py"):
        assert os.path.join(here, f) in ml._CENTROID_SOURCES
    extra = tmp_path / "shaping_mod.py"
    extra.write_text("v = 1\n")
    monkeypatch.setattr(
        ml, "_CENTROID_SOURCES", (*ml._CENTROID_SOURCES, str(extra))
    )
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    emb_file = os.path.join(sf, "embeddings.parquet")
    os.chmod(emb_file, 0o644)
    whole = (os.stat(emb_file).st_mtime_ns // 10**9) * 10**9
    os.utime(emb_file, ns=(whole, whole))

    def fit(session):
        before = dict(A.STATS)
        q = load_table(session, sf, "embeddings").select(
            "vec_id", ml._qvec().alias("qv")
        )
        cents = ml.fit_centroids(session, q, 4, 2, memo_key=sf)
        return cents, A.STATS["hit"] - before["hit"], A.STATS["miss"] - before["miss"]

    first, hits, misses = fit(spark)
    assert (hits, misses) == (0, 1)
    assert [c for c, _ in first] == [0, 1, 2, 3]

    # same bytes, same size, same whole-second mtime: only st_mtime_ns moves
    with open(emb_file, "rb") as f:
        data = f.read()
    with open(emb_file, "wb") as f:
        f.write(data)
    os.utime(emb_file, ns=(whole, whole + 1))
    planmemo.clear()  # the session memo answers before the artifact layer
    again, hits, misses = fit(spark)
    assert (hits, misses) == (0, 1), "same-second rewrite must refit"
    assert again == first

    extra.write_text("v = 22\n")
    planmemo.clear()
    _, hits, misses = fit(spark)
    assert (hits, misses) == (0, 1), "a code edit must refit"

    fresh, hits, misses = fit(spark.newSession())
    assert (hits, misses) == (1, 0), "a fresh session reads the artifact"
    assert fresh == first
