"""Market-basket + triangle invariants; exact values are the DuckDB
oracle's job (the QUERIES oracles in operators/basket.py)."""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from ingestprocessstoreinnrt_spark.operators import basket
from ingestprocessstoreinnrt_spark.plans import explain as E
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_basket_lift_ranks_and_bounds(spark):
    rows = sorted(
        basket.basket_pair_lift(spark, SF_SMOKE).collect(),
        key=lambda r: r.rank,
    )
    assert rows, "smoke data must produce at least one qualifying pair"
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.p1 < r.p2
        assert r.pair_orders >= basket.MIN_PAIR_ORDERS
        # co-occurrence can't exceed either item's own order count
        assert r.pair_orders <= min(r.p1_orders, r.p2_orders)
        assert r.lift_q > 0
    for a, b in zip(rows, rows[1:]):
        assert (a.pair_orders, a.lift_q) >= (b.pair_orders, b.lift_q)


def test_basket_lift_matches_brute_force(spark):
    """Driver-side brute force over the smoke baskets reproduces the
    distributed pair supports exactly."""
    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets: dict = {}
    for r in li:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    want: dict = {}
    for parts in baskets.values():
        for p1, p2 in combinations(sorted(parts), 2):
            want[(p1, p2)] = want.get((p1, p2), 0) + 1
    got = basket.basket_pair_lift(spark, SF_SMOKE).collect()
    for r in got:
        assert want[(r.p1, r.p2)] == r.pair_orders


def test_triangles_match_brute_force(spark):
    """Exact triangle census on the smoke co-purchase graph."""
    edges = {
        (r.p1, r.p2)
        for r in basket.triangle_edges(spark, SF_SMOKE).collect()
    }
    assert all(a < b for a, b in edges)
    tri_nodes: dict = {}
    total = 0
    es = sorted(edges)
    adj: dict = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
    for a, b in es:
        for c in adj.get(a, ()) & adj.get(b, set()):
            total += 1
            for n in (a, b, c):
                tri_nodes[n] = tri_nodes.get(n, 0) + 1
    rows = basket.graph_triangles(spark, SF_SMOKE).collect()
    if total == 0:
        assert rows == []
        return
    want_top = sorted(
        tri_nodes.items(), key=lambda kv: (-kv[1], kv[0])
    )[: basket.TRI_TOPK]
    got = [(r.part_id, r.n_triangles) for r in
           sorted(rows, key=lambda r: r.rank)]
    assert got == want_top
    assert all(r.total_triangles == total for r in rows)


def test_triangle_node_counts_sum_to_three_per_triangle(spark):
    """Σ per-node participation == 3 × total (each triangle touches
    exactly 3 nodes) — checked on the oracle-scale graph without
    collecting it."""
    df = basket.graph_triangles(spark, SF_ORACLE)
    rows = df.collect()
    if not rows:
        return
    total = rows[0].total_triangles
    # recompute the full per-node frame (not just top-k) for the sum
    e = basket.triangle_edges(spark, SF_ORACLE).localCheckpoint()
    e1 = e.select(F.col("p1").alias("a"), F.col("p2").alias("b"))
    e2 = e.select(F.col("p1").alias("a2"), F.col("p2").alias("c"))
    tri = (
        e1.join(e2, (F.col("a") == F.col("a2")) & (F.col("b") < F.col("c")))
        .join(
            e.select(F.col("p1").alias("b"), F.col("p2").alias("c")),
            ["b", "c"],
        )
    )
    assert tri.count() == total


def test_basket_plans_have_no_cartesian_and_take_ordered(spark):
    lift = basket.basket_pair_lift(spark, SF_ORACLE)
    plan = lift._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert E.uses_top_k(lift)
    tri = basket.graph_triangles(spark, SF_ORACLE)
    tplan = tri._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in tplan


@pytest.mark.parametrize("name", sorted(basket.QUERIES))
def test_basket_query_reads_the_index_not_lineitem(spark, name):
    """Every basket query reads only the session's basket index (pairs,
    item supports, N, the cached edge set), so its cost is O(pairs) at
    any scale: no scan of lineitem anywhere in its physical plan, and
    no scan of an RDD a per-query checkpoint materialized."""
    df = basket.QUERIES[name].build(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans, plan
    for ln in scans:
        assert "lineitem" not in ln and "l_partkey" not in ln, ln


def test_degree_stats_mass_conservation(spark):
    """Σ degree*n_nodes == 2*|edges| (handshake lemma) and node count
    matches the edge endpoints."""
    import ingestprocessstoreinnrt_spark.operators.basket as B

    rows = B.degree_stats(spark, SF_ORACLE).collect()
    edges = B.triangle_edges(spark, SF_ORACLE).collect()
    nodes = {x for e in edges for x in (e.p1, e.p2)}
    assert sum(r.degree * r.n_nodes for r in rows) == 2 * len(edges)
    assert sum(r.n_nodes for r in rows) == len(nodes)


def test_jaccard_neighbors_matches_brute_force(spark):
    """Exact neighbor-set Jaccard on the smoke co-purchase graph."""
    edges = {
        (r.p1, r.p2)
        for r in basket.triangle_edges(spark, SF_SMOKE).collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for a in adj:
        for b in adj:
            if a < b:
                common = len(adj[a] & adj[b])
                if common:
                    want[(a, b)] = (
                        common,
                        round(common / len(adj[a] | adj[b]), 6),
                    )
    rows = basket.jaccard_neighbors(spark, SF_SMOKE).collect()
    assert rows
    ranked = sorted(rows, key=lambda r: r.rank)
    exp_order = sorted(
        want.items(), key=lambda kv: (-kv[1][1], -kv[1][0], kv[0])
    )[: basket.JACCARD_TOPK]
    assert [(r.p1, r.p2) for r in ranked] == [k for k, _ in exp_order]
    for r in ranked:
        common, jq = want[(r.p1, r.p2)]
        assert r.common == common
        assert r.jaccard_q == jq
        assert len(adj[r.p1]) == r.degree1 and len(adj[r.p2]) == r.degree2
