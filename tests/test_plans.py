"""Plan-regression tests: correctness gates don't catch a lost filter
pushdown or a broadcast that degraded to sort-merge — these do."""

from __future__ import annotations

from ingestprocessstoreinnrt_spark.operators import bi, entity
from ingestprocessstoreinnrt_spark.plans import explain as E
from tests.conftest import SF_ORACLE


def test_point_lookup_pushes_key_filter(spark):
    df = bi.point_lookup(spark, SF_ORACLE)
    assert E.has_pushed_filter(df, "EqualTo(o_custkey,42)")


def test_pricing_rollup_pushes_date_filter_and_prunes(spark):
    df = bi.pricing_rollup(spark, SF_ORACLE)
    # shipdate is int64 nanos at scan time; the <= must still push down
    assert E.has_pushed_filter(df, "l_shipdate")
    # projection pruning: untouched lineitem columns never leave the scan
    assert not E.scan_reads_column(df, "l_orderkey")
    assert not E.scan_reads_column(df, "l_partkey")
    # partial + final aggregation (map-side combine)
    assert E.partial_aggregation_count(df) >= 2


def test_enrich_join_broadcasts_dims(spark):
    df = bi.enrich_join(spark, SF_ORACLE)
    assert E.uses_broadcast_join(df)
    assert not E.uses_sort_merge_join(df)


def test_topk_plans_as_take_ordered(spark):
    assert E.uses_top_k(bi.topk_customers(spark, SF_ORACLE))


def test_entity_rollup_prunes_unused_columns(spark):
    df = entity.customer_entity(spark, SF_ORACLE)
    assert not E.scan_reads_column(df, "o_orderdate")


def test_jaccard_full_avoids_nested_loop_join(spark):
    """The PPJoin path must candidate-generate via an equi-join on
    prefix hashes — a BroadcastNestedLoopJoin/CartesianProduct here
    means the O(n^2) theta-join came back and the operator no longer
    scales past the sample gate."""
    from ingestprocessstoreinnrt_spark.operators import dedup

    # inspect the BUILDER's plan, not jaccard_pairs_full's: since r12
    # the public entrypoint reads the persisted pair artifact (a plain
    # scan), which would make this assertion vacuously green even if
    # the build regressed to a theta-join
    from ingestprocessstoreinnrt_spark.catalog import fan_out, load_table

    plan = E.formatted_plan(
        dedup._ppjoin_pairs(
            fan_out(load_table(spark, SF_ORACLE, "documents"))
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # (the empty-doc scan pushdown can't be asserted here: the cached
    # token frame hides the file scan behind InMemoryTableScan)


def test_embedding_neardup_avoids_nested_loop_join(spark):
    """Bucketized near-dup must candidate-generate via the probe-key
    equi-join — a BroadcastNestedLoopJoin here means the O(n^2)
    vec_id<vec_id theta-join came back."""
    from ingestprocessstoreinnrt_spark.operators import dedup

    plan = E.formatted_plan(dedup.embedding_neardup(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_ivf_has_no_corpus_self_join(spark):
    """The inverted-list assignment is an in-row broadcast fold; a
    SortMergeJoin on vec_id here means the corpus self-join came back
    (one full shuffle of the embedding table per query at scale)."""
    from ingestprocessstoreinnrt_spark.operators import similarity

    assert not E.uses_sort_merge_join(
        similarity.ann_ivf_topk(spark, SF_ORACLE)
    )


def test_ann_ivf_multiprobe_same_pruned_plan(spark):
    """The recall tier must keep the base IVF plan shape: candidates
    reach the corpus only through the broadcast equi-join on the
    inverted-list id (cid) — no corpus self-join, no cartesian against
    the corpus (the single-row centroid ride-in is the one intended
    BNLJ)."""
    from ingestprocessstoreinnrt_spark.operators import similarity

    df = similarity.ann_ivf_multiprobe(spark, SF_ORACLE)
    assert not E.uses_sort_merge_join(df)
    body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body
    assert "cid" in body  # probe equi-join keyed on the list id


def test_quantile_bins_has_no_global_window(spark):
    """Binning must come from broadcast boundary comparison; a Window
    operator here means a global NTILE serializing the corpus through
    one partition.  (The boundaries ride in as a condition-less 1-row
    BroadcastNestedLoopJoin — that one is metadata-scale by
    construction and is the intended shape.)"""
    from ingestprocessstoreinnrt_spark.operators import timeseries

    plan = E.formatted_plan(timeseries.quantile_bins(spark, SF_ORACLE))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_snapshot_diff_is_an_equi_join(spark):
    from ingestprocessstoreinnrt_spark.operators import cdc

    plan = E.formatted_plan(cdc.snapshot_diff(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_is_single_window_pass_no_join(spark):
    from ingestprocessstoreinnrt_spark.operators import cdc

    plan = E.formatted_plan(cdc.scd2_history(spark, SF_ORACLE))
    assert "Join" not in plan  # lag/lead windows only — no self-join


def test_contamination_gram_join_is_equi_no_cartesian(spark):
    """Decontamination must probe eval grams against the train set with
    a gram-keyed equi-join — a nested-loop/cartesian here means the
    pairwise doc comparison came back."""
    from ingestprocessstoreinnrt_spark.operators import curation

    plan = E.formatted_plan(
        curation.ngram_contamination(spark, SF_ORACLE)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_chunk_windows_is_narrow_no_exchange(spark):
    """Chunking is a per-row transform: the plan must not shuffle
    (generate/project only on top of the scan)."""
    from ingestprocessstoreinnrt_spark.operators import curation

    import re

    plan = E.formatted_plan(curation.chunk_windows(spark, SF_ORACLE))
    body = plan.split("== Physical Plan ==")[-1]
    # fan_out may round-robin ONE repartition of the (small) input;
    # nothing else may introduce an exchange (formatted plans print
    # each node twice — tree + detail — so count distinct node ids)
    assert len(set(re.findall(r"Exchange \(\d+\)", body))) <= 1
    assert "SortMergeJoin" not in body and "HashJoin" not in body


def test_bpe_pairs_aggregates_map_side(spark):
    """Both wordcount-shaped aggregates must run partial+final."""
    from ingestprocessstoreinnrt_spark.operators import curation

    df = curation.bpe_pair_counts(spark, SF_ORACLE)
    assert E.partial_aggregation_count(df) >= 2


def test_incremental_agg_prunes_and_combines(spark):
    from ingestprocessstoreinnrt_spark.operators import incremental

    df = incremental.incremental_customer_agg(spark, SF_ORACLE)
    # untouched orders columns never leave the scan
    assert not E.scan_reads_column(df, "o_orderdate")
    assert not E.scan_reads_column(df, "o_orderpriority")
    assert E.partial_aggregation_count(df) >= 2


def test_bucketed_join_shuffles_neither_side(spark, tmp_path):
    """The scale story's standing claim — 'bucketing co-locates the
    join' — demonstrated on Spark's own planner: orders and customer
    saved bucketed by the join key produce a SortMergeJoin with NO
    Exchange on either side (scan -> sort -> join), while the same
    join over plain parquet shuffles both sides."""
    import re

    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.plans import explain as E
    from tests.conftest import SF_ORACLE

    orders = load_table(spark, SF_ORACLE, "orders")
    cust = load_table(spark, SF_ORACLE, "customer")

    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable("orders_bkt")
    )
    (
        cust.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable("customer_bkt")
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bkt = spark.table("orders_bkt").join(
            spark.table("customer_bkt"),
            spark.table("orders_bkt").o_custkey
            == spark.table("customer_bkt").c_custkey,
        )
        plain = orders.join(cust, orders.o_custkey == cust.c_custkey)

        def n_exchanges(df):
            body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
            return len(set(re.findall(r"Exchange \(\d+\)", body)))

        assert n_exchanges(bkt) == 0  # co-located: no shuffle at all
        assert n_exchanges(plain) >= 2  # both sides shuffle without it
        # and the co-located plan computes the same join
        assert bkt.count() == plain.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_newest_ops_have_clean_plans(spark):
    """pack/zscore/mix: no cartesian anywhere; sample_quantiles: the
    sample is a TakeOrdered (per-partition k-min + driver merge, the
    KMV movement), and its only nested-loop join is the single-row
    k_eff broadcast (metadata-scale by construction, like
    quantile_bins' boundary ride-in)."""
    from ingestprocessstoreinnrt_spark.operators import curation, ml, sketch

    for df in (
        curation.pack_sequences(spark, SF_ORACLE),
        ml.zscore_outliers(spark, SF_ORACLE),
        curation.mix_weighted_sources(spark, SF_ORACLE),
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in body
        assert "BroadcastNestedLoopJoin" not in body

    q = E.formatted_plan(sketch.sample_quantiles(spark, SF_ORACLE))
    assert "TakeOrdered" in q
    assert "CartesianProduct" not in q


def test_shipping_priority_plan_shape(spark):
    """TPC-H Q3 shape: date filters pushed to both fact scans, the
    filtered customer dim broadcast, top-k as TakeOrdered."""
    df = bi.shipping_priority(spark, SF_ORACLE)
    assert E.has_pushed_filter(df, "o_orderdate")
    assert E.has_pushed_filter(df, "l_shipdate")
    assert E.uses_broadcast_join(df)
    assert E.uses_top_k(df)
    rows = df.collect()
    assert len(rows) <= bi.SHIP_TOPK
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_semijoin_and_antijoin_plan_shapes(spark):
    """The EXISTS query must plan as LeftSemi (never join+distinct),
    the churn query as LeftAnti with the date filter pushed into the
    orders scan."""
    semi = bi.priority_semijoin(spark, SF_ORACLE)
    splan = semi._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in splan
    anti = bi.idle_customers(spark, SF_ORACLE)
    aplan = anti._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in aplan
    assert E.has_pushed_filter(anti, "o_orderdate")
    # semi-join can't multiply rows: per-priority counts bound by orders
    total = sum(r.n_orders for r in semi.collect())
    from ingestprocessstoreinnrt_spark.catalog import load_table

    assert total <= load_table(spark, SF_ORACLE, "orders").count()


def test_cohort_ltv_has_no_broadcast_at_all(spark):
    """The r3 verdict's one perf-weak: the cohort anchor used to be an
    aggregate over the fact keyspace force-broadcast back into the fact
    scan — unbounded at 100 TB.  The anchor is now a window MIN over
    o_custkey: the plan must contain a window, and NO broadcast
    exchange anywhere (nothing here is small enough to prove)."""
    from ingestprocessstoreinnrt_spark.operators import dss

    plan = E.formatted_plan(dss.cohort_ltv(spark, SF_ORACLE))
    body = plan.split("== Physical Plan ==")[-1]
    assert "Window" in body
    assert "BroadcastExchange" not in body
    # shuffles: window partitioning, final agg, output ordering — and
    # nothing else (count numbered plan nodes, not tree-art echoes)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", body)) <= 3


def test_sf_scaling_dims_broadcast_by_size_not_by_hint(spark):
    """plans/hints.py policy: sf-scaling dims (part, supplier,
    customer, fact-keyed aggregates) carry NO forced broadcast hint —
    at bench scale the engine must still pick BroadcastHashJoin from
    its own size estimate (so no perf regression), while at 100 TB the
    same unhinted plan degrades to shuffle join instead of OOM."""
    from ingestprocessstoreinnrt_spark.operators import dss

    for df in (
        dss.promo_share(spark, SF_ORACLE),       # part dim
        dss.nation_profit(spark, SF_ORACLE),     # part+supplier+nation
        bi.enrich_join(spark, SF_ORACLE),        # supplier-grain dims
        bi.shipping_priority(spark, SF_ORACLE),  # filtered customer
    ):
        assert E.uses_broadcast_join(df)


def test_maybe_broadcast_guard():
    """The helper only forces a hint for provably bounded frames."""
    from ingestprocessstoreinnrt_spark.plans import hints

    class _Probe:
        def hint(self, *a, **k):  # what F.broadcast does under the hood
            raise AssertionError("should not be hinted")

    probe = _Probe()
    # unhinted: returned unchanged
    assert hints.maybe_broadcast(probe) is probe
    assert (
        hints.maybe_broadcast(probe, est_rows=hints.BROADCAST_ROW_CAP + 1)
        is probe
    )


def test_r4_ops_have_clean_plans(spark):
    """New r4 operators: no cartesian products; the only nested-loop
    joins are single-row stat broadcasts (benford/PMI totals); OHLC's
    two window passes share one shuffle grain (<=2 exchanges + sort)."""
    import re

    import __spark_entry__ as e

    qs = e.queries()
    bnlj_whitelist = {
        "quality_benford", "text_pmi_collocations",
        "ml_regression_metrics",  # 1-row h0 anchor ride-in
    }
    for name in (
        "dedup_paragraphs", "curation_substr_contamination",
        "graph_components", "text_zipf_slope", "text_unigram_entropy",
        "quality_benford", "ts_ohlc_bars", "text_pmi_collocations",
        "win_session_rollup", "curation_gopher_repetition",
        "bi_cheapest_supplier", "ml_regression_metrics",
    ):
        body = E.formatted_plan(qs[name](spark, SF_ORACLE)).split(
            "== Physical Plan =="
        )[-1]
        assert "CartesianProduct" not in body, name
        bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", body))
        assert bnlj <= (1 if name in bnlj_whitelist else 0), name
    ohlc = E.formatted_plan(
        qs["ts_ohlc_bars"](spark, SF_ORACLE)
    ).split("== Physical Plan ==")[-1]
    assert len(re.findall(r"\(\d+\) Exchange", ohlc)) <= 2


def test_r5_ops_have_clean_plans(spark):
    """New r5 operators: no cartesian products; the only nested-loop
    join is km_survival's single-row global-max anchor (whitelisted,
    metadata-scale by construction); the multimodal frame sampler is
    map-only — zero exchanges (r13 removed the media_id pre-shuffle:
    scan partitions are already independent slices) and the resize
    plan adds no exchange either."""
    import re

    import __spark_entry__ as e

    bnlj_whitelist = {"ml_km_survival"}  # 1-row MAX(ts) anchor ride-in
    qs = e.queries()
    for name in (
        "dedup_keep_longest_lsh",
        "multimodal_frame_sample",
        "multimodal_resize_plan",
        "curation_quality_gate",
        "ml_calibration_bins",
        "ts_cusum_changepoint",
        "text_rake_keywords",
        "dedup_fuzzy_names",
        "quality_k_anonymity",
        "quality_l_diversity",
        "win_event_transitions",
        "funnel_conversion_latency",
        "bi_cube_revenue",
        "curation_bpe_encode",
        "graph_bellman_ford",
        "ml_km_survival",
        "bi_forecast_revenue",
        "ts_rolling_corr",
    ):
        body = E.formatted_plan(qs[name](spark, SF_ORACLE)).split(
            "== Physical Plan =="
        )[-1]
        assert "CartesianProduct" not in body, name
        bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", body))
        assert bnlj <= (1 if name in bnlj_whitelist else 0), name
    frames = E.formatted_plan(
        qs["multimodal_frame_sample"](spark, SF_ORACLE)
    ).split("== Physical Plan ==")[-1]
    assert len(re.findall(r"\(\d+\) Exchange", frames)) == 0


def test_q6_filters_reach_the_scan(spark):
    """bi_forecast_revenue is the canonical pushdown shape: all four
    band predicates must land in PushedFilters and the scan must read
    only the four referenced columns."""
    import __spark_entry__ as e

    plan = E.formatted_plan(
        e.queries()["bi_forecast_revenue"](spark, SF_ORACLE)
    )
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_discount", "l_quantity", "l_shipdate"):
        assert col in pushed, (col, pushed)
    read = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "l_extendedprice" in read
    assert "l_orderkey" not in read  # pruned


def test_r6_ops_have_clean_plans(spark):
    """Round-6 additions: the corpus rewriters and SemDeDup must plan
    without any cartesian; SemDeDup's only nested-loop join is the
    single-row broadcast centroid ride-in (metadata-scale, same shape
    as ann_ivf's), and its pair generation is the salted equi-join."""
    # Plan-SHAPE assertions need uncached plans: the vector index hands
    # every build the same centroid row, so repeat plans are EQUAL and
    # frames cached by earlier test files dedup into these plans as
    # InMemoryTableScan and hide the join nodes under inspection.
    spark.catalog.clearCache()
    from ingestprocessstoreinnrt_spark.operators import curation, dedup

    from ingestprocessstoreinnrt_spark.operators import (
        graph,
        ml,
        timeseries,
    )

    # single-row stat-anchor ride-ins (global sums / centroid rows)
    # legitimately plan as BNLJ; corpus-scale ops must not
    for df in (
        ml.target_encoding(spark, SF_ORACLE),
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in body

    for df in (
        curation.remove_repetition(spark, SF_ORACLE),
        curation.strip_boilerplate(spark, SF_ORACLE),
        curation.decontaminate(spark, SF_ORACLE),
        dedup.containment_pairs(spark, SF_ORACLE),
        timeseries.stl_decompose(spark, SF_ORACLE),
        graph.harmonic_landmarks(spark, SF_ORACLE),
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in body
        assert "BroadcastNestedLoopJoin" not in body

    s = E.formatted_plan(dedup.dedup_semantic(spark, SF_ORACLE)).split(
        "== Physical Plan =="
    )[-1]
    assert "CartesianProduct" not in s
    # The BNLJ lines are all the SAME plan node — the single-row
    # centroid ride-in (ml._cdf_of: a one-row broadcast, the
    # whitelisted stat-anchor shape), textually repeated because the
    # cached assignment frame feeds every arm of the salted pair join.
    # The corpus-scale joins (pair generation + verify lookups) must
    # all be equi-joins, so distinct BNLJ node ids stay at 1.
    import re

    bnlj_ids = {
        m.group(1)
        for m in re.finditer(
            r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", s
        )
    }
    # <=2: the ride-in can plan as separate nodes for the fit-frame
    # arm vs the assignment arm depending on cache materialization
    assert len(bnlj_ids) <= 2, s


def test_r7_ops_have_clean_plans(spark):
    """Round-7 additions: no cartesians anywhere; the only
    nested-loop joins allowed are single-row broadcast stat anchors
    (keyness totals, MI grand total, RRF query vector); corpus-scale
    work must stay equi-join / window / TakeOrdered shaped."""
    import re

    from ingestprocessstoreinnrt_spark.operators import (
        ml,
        similarity,
        textops,
        timeseries,
    )

    # corpus-scale: no BNLJ at all
    for df in (
        textops.source_vocab_overlap(spark, SF_ORACLE),
        ml.ridge_regression(spark, SF_ORACLE),
        ml.spearman_corr(spark, SF_ORACLE),
        timeseries.lttb_downsample(spark, SF_ORACLE),
        timeseries.ts_peaks(spark, SF_ORACLE),
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in body, body
        assert "BroadcastNestedLoopJoin" not in body, body

    # single-row broadcast stat anchors allowed, never a cartesian.
    # Each logical anchor contributes 2 regex hits (tree node + detail
    # section) — same counting as the r6 SemDeDup pin above.
    for df, max_bnlj in (
        (textops.keyness_llr(spark, SF_ORACLE), 2),      # totals row
        (ml.mutual_information(spark, SF_ORACLE), 2),    # grand total
        (similarity.hybrid_rrf(spark, SF_ORACLE), 4),    # qvec + bm25 stats
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in body, body
        ids = {
            m.group(1)
            for m in re.finditer(r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", body)
        }
        assert len(ids) <= max_bnlj, body


def test_lttb_bucket_stats_broadcast(spark):
    """The LTTB anchor frame (bucket grain, tiny) must ride back to the
    point frame as a broadcast hash join, never sort-merge."""
    from ingestprocessstoreinnrt_spark.operators import timeseries

    df = timeseries.lttb_downsample(spark, SF_ORACLE)
    assert E.uses_broadcast_join(df)


def test_spearman_single_rank_exchange_per_axis(spark):
    """The rank transform must partition by group (no global window):
    WindowExec with an empty partition spec would move the corpus to
    one task."""
    from ingestprocessstoreinnrt_spark.operators import ml

    body = E.formatted_plan(ml.spearman_corr(spark, SF_ORACLE)).split(
        "== Physical Plan =="
    )[-1]
    # every Window node in the plan must carry a partition spec
    for m in __import__("re").finditer(r"Arguments: \[.*windowspec.*\]", body):
        assert "l_returnflag" in m.group(0)


def test_r7_late_ops_have_clean_plans(spark):
    """Late round-7 batch: no cartesian anywhere; single-row stat
    anchors (totals rows) are the only nested-loop joins allowed."""
    import re

    from ingestprocessstoreinnrt_spark.operators import (
        basket,
        bi,
        curation,
        incremental,
        ml,
        multimodal,
        quality,
        textops,
        timeseries,
    )

    # corpus-scale: no BNLJ at all
    for df in (
        bi.gini_revenue(spark, SF_ORACLE),
        bi.new_vs_returning(spark, SF_ORACLE),
        bi.market_hhi(spark, SF_ORACLE),
        incremental.ivm_join_delta(spark, SF_ORACLE),
        quality.ts_order_audit(spark, SF_ORACLE),
        quality.constraint_audit(spark, SF_ORACLE),
        timeseries.mann_kendall(spark, SF_ORACLE),
        timeseries.theil_sen(spark, SF_ORACLE),
        timeseries.sma_crossover(spark, SF_ORACLE),
        timeseries.bollinger_breakouts(spark, SF_ORACLE),
        basket.assortativity(spark, SF_ORACLE),
        basket.pref_attachment(spark, SF_ORACLE),
        multimodal.multimodal_content_dedup(spark, SF_ORACLE),
        curation.bpe_fertility(spark, SF_ORACLE),
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in body, body

    # ops with a deliberate single-row broadcast totals anchor
    for df, max_ids in (
        (bi.abc_parts(spark, SF_ORACLE), 2),
        # rich_club: single-row edge-counts x single-row node-counts
        # totals join — metadata-scale by construction
        (basket.rich_club(spark, SF_ORACLE), 2),
        (textops.term_burstiness(spark, SF_ORACLE), 2),
        (textops.js_divergence(spark, SF_ORACLE), 2),
        (ml.mutual_information(spark, SF_ORACLE), 2),
        (ml.cramers_v(spark, SF_ORACLE), 2),
        # psi: the 1-row mid_us bounds ride-in is re-planned under both
        # consumers of the cells frame (per-type totals + term join)
        (quality.psi_drift(spark, SF_ORACLE), 4),
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in body, body
        ids = {
            m.group(1)
            for m in re.finditer(
                r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", body
            )
        }
        assert len(ids) <= max_ids, body


# --------------------------------------------------------------------------
# Generalized constant-cardinality window guard (VERDICT r7 finding #1)
# --------------------------------------------------------------------------
#
# A WindowExec whose partition spec is empty or built only from
# constant-cardinality columns concentrates its WHOLE input in O(1)
# tasks — the one shape that turns a correct plan into a 100 TB
# scale-killer.  The rule: such a window is allowed ONLY when its input
# frame is metadata-scale by construction.  Every allowance below is a
# (count, grain) pair naming why the frame can't grow with the corpus:
#
#   bucket-offsets   the COARSE window of the ml_auc two-level prefix
#                    sum: input = one row per (group, value-band) —
#                    band count is domain-bounded, corpus-independent
#   hour-grid        input = per-(type, hour) cells; grows with the
#                    TIMESPAN, never with corpus rows (pair variants
#                    are quadratic in the grid, still corpus-free)
#   limit-then-rank  orderBy().limit(K) plans as TakeOrderedAndProject
#                    BEFORE the window, so row_number ranks <= K rows
#   rank-limit       rank <= K filter: Spark inserts a map-side
#                    WindowGroupLimit, so the shuffle carries <= K rows
#                    per input partition (asserted separately below)
#   value-histogram  input = one row per DISTINCT value of a bounded
#                    measure (count-of-counts, retention day, sample)

CONSTANT_CARDINALITY_COLS = frozenset(
    {
        "l_returnflag", "l_linestatus", "event_type", "c_nationkey",
        "n_nationkey", "n_name", "r_name", "o_orderstatus",
        "o_orderpriority", "abc_class", "s_nationkey", "direction",
        "rule", "lang", "source", "quality_band", "split", "kind",
        "et", "et2", "event_type_a", "event_type_b",
    }
)

CONSTANT_WINDOW_ALLOWANCE = {
    # --- bucket-offsets (two-level prefix-sum coarse frames) ---
    "ml_auc": (1, "bucket-offsets"),
    "ml_spearman_corr": (2, "bucket-offsets"),  # one per rank axis
    "bi_abc_parts": (1, "bucket-offsets"),
    "bi_pareto_share": (1, "bucket-offsets"),
    "bi_gini_revenue": (1, "bucket-offsets"),
    "quality_ts_order_audit": (1, "bucket-offsets"),  # shard boundaries
    "curation_pack_sequences": (1, "bucket-offsets"),
    # --- hour-grid grain ---
    "ts_bollinger_breakouts": (1, "hour-grid"),
    "ts_lttb_downsample": (1, "hour-grid"),
    "ts_peaks": (1, "hour-grid"),
    "ts_sma_crossover": (2, "hour-grid"),
    "ts_stl_decompose": (1, "hour-grid"),
    "ts_theil_sen": (1, "hour-grid"),  # pair grain = grid^2, corpus-free
    "ts_rolling_corr": (1, "hour-grid"),
    "win_reach_curve": (1, "hour-grid"),  # day grain
    # --- limit-then-rank (<= K-row frames) ---
    "bi_basket_lift": (1, "limit-then-rank"),
    "graph_jaccard_neighbors": (1, "limit-then-rank"),
    "graph_pagerank": (1, "limit-then-rank"),
    "graph_pref_attachment": (1, "limit-then-rank"),
    "graph_resource_allocation": (1, "limit-then-rank"),
    "graph_triangles": (1, "limit-then-rank"),
    "sim_hybrid_rrf": (3, "limit-then-rank"),  # both legs + fused rank
    "text_bm25": (1, "limit-then-rank"),
    "text_bigram_lm": (1, "limit-then-rank"),
    "text_keyness_llr": (1, "limit-then-rank"),
    "text_pmi_collocations": (1, "limit-then-rank"),
    "text_term_burstiness": (1, "limit-then-rank"),
    "text_zipf_slope": (1, "limit-then-rank"),
    # --- rank-limit (map-side WindowGroupLimit, asserted below) ---
    "sample_weighted": (1, "rank-limit"),
    "curation_bpe_pairs": (1, "rank-limit"),  # char-bigram domain too
    # --- value-histogram / bounded-domain frames ---
    "quality_key_skew": (1, "value-histogram"),  # count-of-counts rows
    "ml_km_survival": (2, "value-histogram"),  # distinct retention days
    "sketch_sample_quantiles": (1, "value-histogram"),  # k-row sample
    "text_vocab_growth": (1, "value-histogram"),  # checkpoint grain
    "curation_token_budget": (1, "value-histogram"),  # source grain acc
}


def test_no_corpus_grain_constant_window(spark):
    """Sweep EVERY registered query's physical plan: a Window node
    whose partition spec is empty or constant-cardinality-only must be
    covered by a documented metadata-grain allowance — and the
    allowance must stay tight (an entry that stops being needed fails
    too, so the table can't rot)."""
    import __spark_entry__ as e

    qs = e.queries()
    over, stale = {}, {}
    for name, fn in sorted(qs.items()):
        specs = E.window_partition_specs(fn(spark, SF_ORACLE))
        n_bad = sum(
            1
            for s in specs
            if not s or set(s) <= CONSTANT_CARDINALITY_COLS
        )
        allowed = CONSTANT_WINDOW_ALLOWANCE.get(name, (0, ""))[0]
        if n_bad > allowed:
            over[name] = (n_bad, allowed)
        elif n_bad < allowed:
            stale[name] = (n_bad, allowed)
    assert not over, (
        f"corpus-grain constant/empty-spec windows over allowance: {over}"
    )
    assert not stale, f"stale allowances (tighten the table): {stale}"


def test_rank_limit_windows_group_limit_pushdown(spark):
    """The 'rank-limit' allowance class is only sound because Spark
    bounds the window input ahead of the shuffle — either a map-side
    WindowGroupLimit (rank <= K filter) or a TakeOrderedAndProject
    (LimitPushDownThroughWindow) — pin that one of them planned."""
    from ingestprocessstoreinnrt_spark.operators import curation, textops

    for df in (
        textops.weighted_sample(spark, SF_ORACLE),
        curation.bpe_pair_counts(spark, SF_ORACLE),
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert (
            "WindowGroupLimit" in body or "TakeOrderedAndProject" in body
        ), body


def test_ann_incremental_probe_is_cell_pruned(spark):
    """The maintained-index serve must be CELL PRUNING: a broadcast
    hash equi-join keyed on the inverted-list id (cid), never a
    cartesian/corpus-wide nested loop."""
    import re

    from ingestprocessstoreinnrt_spark.operators import similarity

    body = E.formatted_plan(
        similarity.ann_incremental(spark, SF_ORACLE)
    ).split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body, body
    assert re.search(r"keys \[1\]: \[cid#\d+", body), body
    assert "BroadcastHashJoin" in body, body


def test_r8_sim_ops_have_clean_plans(spark):
    """Round-8 similarity additions: no cartesian anywhere; nested-loop
    joins are only the bounded anchors (the <= N_QUERIES query panel
    and the 1-row codebook/centroid rides — metadata-scale by
    construction, the sim_topk_cosine serving shape).  recall_eval's
    final audit join runs over two <= k x N_QUERIES frames, so its
    join strategy is immaterial."""
    import re

    from ingestprocessstoreinnrt_spark.operators import similarity

    for df, max_bnlj in (
        (similarity.pq_search(spark, SF_ORACLE), 5),
        (similarity.ann_recall_eval(spark, SF_ORACLE), 4),
        (similarity.ann_incremental(spark, SF_ORACLE), 4),
    ):
        body = E.formatted_plan(df).split("== Physical Plan ==")[-1]
        assert "CartesianProduct" not in body, body
        ids = {
            m.group(1)
            for m in re.finditer(
                r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", body
            )
        }
        assert len(ids) <= max_bnlj, body


def test_r9_sim_ops_have_clean_plans(spark):
    """Round-9 similarity additions: the composed IVF-PQ serve is cell
    pruned (broadcast hash equi-join keyed on cid, codes-only corpus
    side), never cartesian; nested-loop joins stay the bounded anchors
    (<= N_QUERIES query panel, 1-row artifact rides).  The incremental
    LSH serve keeps sim_ann_lsh's shape: its hamming<=1 probe is a
    nested-loop against the 8-row broadcast query panel only."""
    import re

    # uncached plans required — see test_r6_ops_have_clean_plans
    spark.catalog.clearCache()
    from ingestprocessstoreinnrt_spark.operators import similarity

    body = E.formatted_plan(
        similarity.ivfpq_search(spark, SF_ORACLE)
    ).split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body, body
    assert re.search(r"keys \[1\]: \[cid#\d+", body), body
    assert "BroadcastHashJoin" in body, body
    # 8 = the 1-row artifact rides only: coarse-centroid row + codebook
    # row on each of (index build, probe side, dt side) plus the
    # re-planned qraw arm — every BNLJ build side is <= N_QUERIES rows
    ids = {
        m.group(1)
        for m in re.finditer(r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", body)
    }
    assert len(ids) <= 8, body

    body2 = E.formatted_plan(
        similarity.ann_lsh_incremental(spark, SF_ORACLE)
    ).split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body2, body2
    ids2 = {
        m.group(1)
        for m in re.finditer(r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", body2)
    }
    assert len(ids2) <= 1, body2

    # IVFADC serve: same cell-pruned shape as the raw-code serve
    body3 = E.formatted_plan(
        similarity.ivfpq_residual_search(spark, SF_ORACLE)
    ).split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in body3, body3
    assert re.search(r"keys \[1\]: \[cid#\d+", body3), body3
    ids3 = {
        m.group(1)
        for m in re.finditer(r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", body3)
    }
    assert len(ids3) <= 8, body3
