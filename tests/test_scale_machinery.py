"""Scale machinery: salted aggregation correctness + plan shape, salted
join correctness, and bucketed co-located joins (shuffle elimination)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestprocessstoreinnrt_spark.catalog import load_table
from ingestprocessstoreinnrt_spark.operators import skew
from ingestprocessstoreinnrt_spark.plans import explain as E
from tests.conftest import SF_ORACLE
from tests.test_bi import _compare


def test_salted_rollup_matches_plain_oracle(spark, duck):
    # the oracle is the UNSALTED single-stage SQL: salting must be
    # invisible in the result
    _compare(spark, duck, "scale_salted_rollup")


def test_salted_rollup_has_two_aggregation_stages(spark):
    df = skew.salted_rollup(spark, SF_ORACLE)
    # partial+final for each of the two groupBys
    assert E.partial_aggregation_count(df) >= 4


def test_salted_join_equals_plain_join(spark):
    li = load_table(spark, SF_ORACLE, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    supp = load_table(spark, SF_ORACLE, "supplier")
    plain = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    big_s, small_s, _ = skew.salt_join_keys(li, supp, "l_suppkey")
    salted = (
        big_s.join(
            small_s,
            (big_s.l_suppkey == small_s.s_suppkey)
            & (big_s._salt == small_s._salt),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {tuple(r) for r in plain.collect()} == {
        tuple(r) for r in salted.collect()
    }


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the Exchange:
    the co-located join strategy for repeated big-big joins at 100 TB."""
    orders = load_table(spark, SF_ORACLE, "orders")
    li = load_table(spark, SF_ORACLE, "lineitem")
    # (warehouse dir is a static conf; managed tables land in the
    # default ./spark-warehouse, which is gitignored and dropped below —
    # including orphaned dirs from a previous interrupted run, which
    # DROP TABLE won't remove once the catalog forgot them)
    import shutil

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lineitem")
    )
    # at test scale the dims would auto-broadcast and hide the effect —
    # disable to expose the big-big sort-merge path bucketing targets.
    # AQE must also be off for the plan dump to show Exchange nodes
    # (see plans.explain.has_shuffle_exchange caveat).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = E.formatted_plan(joined)
        assert "SortMergeJoin" in plan
        # bucket-aligned tables: no shuffle exchange feeds the join
        assert not E.has_shuffle_exchange(joined), plan
        # sanity that the detector is not vacuous: joining the bucketed
        # fact with the UNBUCKETED orders must show an Exchange
        half = spark.table("b_lineitem").join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        assert E.has_shuffle_exchange(half)
        # and results are right
        n = joined.count()
        plain = li.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_self_join_zipf_mega_bucket(spark):
    """Skew hardening for the pair-generating self-joins (VERDICT r5
    item 7): a deliberately Zipf-skewed key distribution — one
    mega-bucket holding half the rows — must (a) split into
    ceil(m/cap) salt groups so no task absorbs the whole m^2 bucket,
    and (b) emit EXACTLY the same pair set as the unsalted join
    (lossless cap-split)."""
    import math

    from ingestprocessstoreinnrt_spark.operators.dedup import (
        _salted_self_join_pairs,
    )

    # Zipf-ish: key 0 holds 300 rows (the boilerplate mega-bucket),
    # keys 1.. hold 300/r rows at rank r — the real shape of band
    # buckets over a boilerplate-heavy corpus.
    rows, rid = [], 0
    for rank in range(25):
        for _ in range(300 // (rank + 1)):
            rows.append((rid, rank))
            rid += 1
    keyed = spark.createDataFrame(rows, "doc_id long, key int")

    cap = 50
    got = {
        (r.doc_a, r.doc_b)
        for r in _salted_self_join_pairs(
            keyed, ["key"], cap=cap
        ).collect()
    }
    by_key: dict[int, list[int]] = {}
    for i, k in rows:
        by_key.setdefault(k, []).append(i)
    want = {
        (a, b)
        for ids in by_key.values()
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    }
    assert got == want  # lossless under the split

    # the split actually engaged and bounds per-task input: recompute
    # the salt assignment with the SAME server-side expression the
    # helper uses (pmod(xxhash64(doc_id), nsplit)) and check every
    # (key=0, salt) group's right side stays near cap — the join work
    # for the mega-bucket is spread over nsplit tasks of ~m*cap
    # comparisons instead of one m^2/2 task.
    m = len(by_key[0])
    nsplit = math.ceil(m / cap)
    assert nsplit >= 6
    group_sizes = [
        r.n
        for r in keyed.filter(F.col("key") == 0)
        .groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(nsplit)).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert sum(group_sizes) == m
    assert max(group_sizes) <= 2 * cap  # hash-balance slack


def test_semdedup_design_grain_pair_counts_bounded(spark):
    """SemDeDup at its DESIGN operating point (VERDICT r6 item 7): k
    scales as n/target_cluster_size so per-cluster quadratic work
    stays bounded — since r11 the oracled dedup_semantic itself does
    this (_sem_k), closing the r10 sf10 exponent-1.98 flag; this test
    proves the bound at sf1 with an independent target.  Run the actual
    machinery (Lloyd's fit + nearest assignment + the salted in-cluster
    pair generator) at sf1 with k = n/250 and prove (a) the in-cluster
    pair universe stays ~n*target — NOT the n^2/2 a collapsed
    clustering would produce — and (b) the salt cap bounds any
    straggler cluster's per-task input regardless."""
    import math
    import os

    import pytest

    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table
    from ingestprocessstoreinnrt_spark.operators import ml
    from ingestprocessstoreinnrt_spark.operators.dedup import (
        HOT_BUCKET_CAP,
        _salted_self_join_pairs,
    )

    sf1 = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bigdata",
        "sf1",
    )
    if not os.path.isdir(sf1):
        pytest.skip("sf1 dataset not generated (tools/make_sf1.py)")

    emb = fan_out(load_table(spark, sf1, "embeddings"))
    n = emb.count()
    target = 250
    k = max(8, n // target)
    qv = emb.select("vec_id", ml._qvec().alias("qv"))
    cents = ml.fit_centroids(spark, qv, k, ml.KMEANS_ITERS)
    assigned = ml.assign_nearest(
        emb.withColumn("qv", ml._qvec()), ml._cdf_of(spark, cents)
    ).select("vec_id", "cid")
    sizes = [
        r.m
        for r in assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("m"))
        .collect()
    ]
    assert sum(sizes) == n
    # (a) pair universe bounded: sum m_i^2/2 stays within a small
    # multiple of n*target (balanced would be exactly n*target/2);
    # a clustering collapse would show ~n^2/2 here
    total_pairs = sum(m * (m - 1) // 2 for m in sizes)
    assert total_pairs <= 5 * n * target, (
        f"pair universe {total_pairs} blew past O(n*target) "
        f"(n={n}, target={target}, max cluster={max(sizes)})"
    )
    # (b) the salted generator splits any straggler cluster: per-task
    # right-side input is bounded by ~cap by construction
    m_max = max(sizes)
    nsplit = math.ceil(m_max / HOT_BUCKET_CAP)
    assert nsplit * HOT_BUCKET_CAP >= m_max
    # materialize the actual candidate join (safe now that (a) holds)
    # and check it emits exactly the per-cluster pair universe
    got = _salted_self_join_pairs(
        assigned, ["cid"], id_col="vec_id"
    ).count()
    assert got == total_pairs


def test_fit_centroids_undersized_table(spark):
    """A table with fewer than k rows must fit without IndexError: the
    update loop iterates the centroids that exist (ADVICE r8) and the
    fit degrades to one centroid per row."""
    from ingestprocessstoreinnrt_spark.operators import ml

    rows = [(i, [i * 10] * 4) for i in range(3)]  # 3 rows, ask k=8
    qv = spark.createDataFrame(rows, "vec_id long, qv array<bigint>")
    cents = ml.fit_centroids(spark, qv, k=8, iters=3)
    assert len(cents) == 3
    # each row is its own nearest centroid, so Lloyd's is a fixpoint
    assert [cv for _, cv in cents] == [[0] * 4, [10] * 4, [20] * 4]

    # empty table: no clusters, no crash
    empty = qv.filter(F.col("vec_id") < 0)
    assert ml.fit_centroids(spark, empty, k=8, iters=3) == []


def test_quantized_sums_survive_beyond_int64(spark):
    """Round-10 sf10 lesson: ml_correlation's product-term sums
    (extendedprice^2 * scale ~ 1e12/row) overflowed an int64
    accumulator at 60M rows and crashed the first full sf10 sweep.
    dsum/davg and ml's _quantp now accumulate in decimal(38,0) —
    exact far past int64, matching DuckDB's automatic
    BIGINT -> HUGEINT widening.  This pins the headroom with values
    whose quantized sum is ~40x past int64 max."""
    from ingestprocessstoreinnrt_spark.functions.scalars import davg, dsum
    from ingestprocessstoreinnrt_spark.operators.ml import _pscale, _quantp
    from pyspark.sql import functions as F

    # 40 rows of 9.2e14 -> quantized 9.2e18 each ~ int64 max PER ROW
    v = 922_337_203_685_477.0
    df = spark.range(40).select(F.lit(v).alias("x"))
    row = df.agg(
        dsum("x", "s"),
        davg("x", "a"),
        F.sum(_quantp(F.col("x"), _pscale("l_quantity", "l_quantity")))
        .cast("double")
        .alias("p"),
    ).collect()[0]
    assert row.s == 40 * v
    assert row.a == v
    assert row.p == 40 * v * 10000.0


def test_adaptive_plan_params_match_sql_twins():
    """r11 scale fix: embedding_neardup's signature width and
    dedup_semantic's cluster count are corpus-adaptive on BOTH engines.
    The Python rule and the SQL threshold chain must agree at every
    corpus size — especially at the power-of-two boundaries where a
    floating log2 would wobble.  (Own connection: the session `duck`
    fixture's registered views must not be shadowed.)"""
    import duckdb

    from ingestprocessstoreinnrt_spark.operators.dedup import (
        NEARDUP_MAX_BITS,
        NEARDUP_TARGET_BUCKET,
        SEM_MAX_K,
        SEM_TARGET_CLUSTER,
        _adaptive_mask_sql,
        _sem_k,
        _sem_k_sql,
        adaptive_sig_bits,
    )

    con = duckdb.connect()
    # boundary-heavy probe set: around every threshold, plus extremes
    ns = {1, 2, 100, 200, 2000, 20000, 200000, 10**9}
    for b in range(8, NEARDUP_MAX_BITS + 1):
        t = NEARDUP_TARGET_BUCKET << b
        ns |= {t - 1, t, t + 1}
    for m in (1, SEM_TARGET_CLUSTER, SEM_MAX_K * SEM_TARGET_CLUSTER):
        ns |= {m - 1, m, m + 1}
    for n in sorted(ns):
        con.execute(
            "CREATE OR REPLACE VIEW embeddings AS "
            f"SELECT 1 AS vec_id FROM range({n})"
        )
        (mask,) = con.execute(f"SELECT {_adaptive_mask_sql()}").fetchone()
        assert mask == (1 << adaptive_sig_bits(n)) - 1, n
        (k,) = con.execute(f"SELECT {_sem_k_sql()}").fetchone()
        assert k == _sem_k(n), n
    con.close()
    # driver scales stay at the pre-adaptive operating point
    assert adaptive_sig_bits(200) == 8 and adaptive_sig_bits(2000) == 8
    assert _sem_k(200) == 8 and _sem_k(2000) == 8
    # the measured sf1/sf10 corpora land where the fix predicts
    assert adaptive_sig_bits(20000) == 11
    assert adaptive_sig_bits(200000) == 14
    assert _sem_k(20000) == 50 and _sem_k(200000) == 500
