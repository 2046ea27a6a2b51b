"""PageRank invariants on smoke data; exact values are the DuckDB
oracle's job (the QUERIES oracles in operators/graph.py)."""

from __future__ import annotations

from ingestprocessstoreinnrt_spark.operators import graph
from tests.conftest import SF_SMOKE


def test_pagerank_ranks_and_kinds(spark):
    rows = sorted(
        graph.pagerank_shipments(spark, SF_SMOKE).collect(),
        key=lambda r: r.rank,
    )
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == graph.PR_TOPK
    base = (
        (graph.PR_D_DEN - graph.PR_D_NUM)
        * graph.PR_SCALE
        // graph.PR_D_DEN
    )
    for a, b in zip(rows, rows[1:]):
        # strict ranking order: score desc, node asc on ties
        assert (a.score_q, -a.node_id) >= (b.score_q, -b.node_id)
    for r in rows:
        assert r.score_q >= base  # damping floor
        assert r.node_kind == (
            "supplier" if r.node_id % 2 == 0 else "customer"
        )


def test_pagerank_customers_absorb_rank(spark):
    """Every edge points supplier -> customer, so after 1+ iterations
    customers (rank sinks with in-edges) dominate the top of the
    ranking on this bipartite graph."""
    rows = graph.pagerank_shipments(spark, SF_SMOKE).collect()
    top5 = sorted(rows, key=lambda r: r.rank)[:5]
    assert all(r.node_kind == "customer" for r in top5)


def test_pagerank_converged_equals_fixed_depth(spark):
    """The tolerance-driven variant lands on scores BIT-IDENTICAL to
    running the fixed-iteration loop the same number of times, and the
    stopping rule really holds at that depth (max |delta| <= tol) but
    not one pass earlier."""
    from pyspark.sql import functions as F

    tol = 100
    scores, n = graph.pagerank_converged(spark, SF_SMOKE, tol_q=tol)
    assert 1 <= n < 50

    ed, verts = graph._pr_frames(spark, SF_SMOKE)
    fixed = verts.withColumn("s", F.lit(graph.PR_SCALE).cast("long"))
    prev = None
    for _ in range(n):
        prev = fixed
        fixed = graph._pr_step(ed, verts, fixed).localCheckpoint(
            eager=True
        )
    got = {r.node: r.s for r in scores.collect()}
    want = {r.node: r.s for r in fixed.collect()}
    assert got == want

    def max_delta(a, b):
        return (
            a.alias("a")
            .join(b.alias("b"), "node")
            .agg(F.max(F.abs(F.col("a.s") - F.col("b.s"))))
            .collect()[0][0]
        )

    assert max_delta(fixed, prev) <= tol
    if n > 1:
        prev2 = verts.withColumn("s", F.lit(graph.PR_SCALE).cast("long"))
        for _ in range(n - 2):
            prev2 = graph._pr_step(ed, verts, prev2).localCheckpoint(
                eager=True
            )
        assert max_delta(prev, prev2) > tol


def test_bellman_ford_matches_python_replay(spark):
    """K-round relaxation from the landmark set must equal a pure-Python
    Bellman-Ford limited to the same number of rounds (hop-bounded
    cheapest cost, ties to the lowest landmark id)."""
    from ingestprocessstoreinnrt_spark.operators import graph
    from tests.conftest import SF_ORACLE

    we = {
        (r.src, r.dst): r.w
        for r in graph._weighted_edges(spark, SF_ORACLE).collect()
    }
    und: dict = {}
    for (s, d), w in we.items():
        und.setdefault(s, []).append((d, w))
        und.setdefault(d, []).append((s, w))
    # landmark set = lowest supplier NODES overall (match the query:
    # lowest s_suppkey*2 from the supplier table, not just the graph)
    from ingestprocessstoreinnrt_spark.catalog import load_table

    landmarks = [
        r[0] * 2
        for r in load_table(spark, SF_ORACLE, "supplier")
        .select("s_suppkey")
        .orderBy("s_suppkey")
        .limit(graph.BFS_LANDMARKS)
        .collect()
    ]
    best = {n: (0, n) for n in landmarks}
    for _ in range(graph.BELLMAN_ROUNDS):
        nxt = dict(best)
        for u, (cu, lu) in best.items():
            for v, w in und.get(u, []):
                cand = (cu + w, lu)
                if v not in nxt or cand < nxt[v]:
                    nxt[v] = cand
        best = nxt
    got = {
        r.node: (r.cost_q, r.nearest_landmark)
        for r in graph.bellman_ford(spark, SF_ORACLE).collect()
    }
    assert got == best
