"""PageRank over the supplier -> customer shipment graph — the second
"inherently iterative" operator family (after connected components and
Lloyd's k-means) made exactly oracle-checkable.

Determinism recipe: all score arithmetic is BIGINT — scores start at
SCALE per vertex (PageRank is scale-invariant), each iteration
distributes `score DIV outdeg` along edges (integral division; the
leaked remainder mass is deterministic and identical cross-engine) and
damps with integer ratios: next = (DEN-D)*SCALE DIV DEN
+ D * inbound DIV DEN.  Integer sums are order-independent, so the
fixed-iteration unrolled DuckDB CTE chain lands on bit-identical
scores.

Scale shape: the textbook distributed PageRank — edges keyed by src
with a precomputed out-degree, one shuffle per iteration
(contributions groupBy dst), vertices co-partitioned.  At 100 TB you
bucket edges and scores on the vertex id so the per-iteration join is
co-located, and AQE splits skewed hubs; iteration count is fixed, so
the lazy 3-deep plan here (no checkpoint needed) mirrors the unrolled
SQL exactly.

Graph: lineitem (sampled 1-in-10 by order key) joined to orders gives
directed edges supplier -> ordering customer.  Supplier and customer
key spaces overlap numerically, so vertex ids are disambiguated to
2*suppkey and 2*custkey+1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import Query

PR_SCALE = 1_000_000
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as an exact integer ratio
PR_ITERS = 3
PR_TOPK = 20
_EDGE_MOD = 10  # 1-in-10 order sample keeps the demo graph light


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % _EDGE_MOD == 0)
        .select("l_orderkey", "l_suppkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )


def _pr_frames(spark: SparkSession, sf_dir: str):
    """(ed, verts): the loop-invariant frames, materialized once.
    localCheckpoint (vs cache) keeps each pass's plan SHALLOW so
    whole-stage codegen compiles one iteration shape and reuses it —
    the same lesson as the kmeans one-plan-shape fix (13.9 s -> ~4 s
    first-run at sf0.1)."""
    edges = _edges(spark, sf_dir)
    out = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = edges.join(out, "src").localCheckpoint(eager=True)
    verts = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return ed, verts


_PR_BASE = (PR_D_DEN - PR_D_NUM) * PR_SCALE // PR_D_DEN


def _pr_step(ed: DataFrame, verts: DataFrame, scores: DataFrame) -> DataFrame:
    """One exact-integer damped iteration (lazy; caller checkpoints)."""
    inbound = (
        ed.join(scores, ed.src == scores.node)
        .select("dst", F.expr("s DIV outdeg").alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("inb"))
    )
    return verts.join(inbound, verts.node == inbound.dst, "left").select(
        "node",
        (
            F.lit(_PR_BASE).cast("long")
            + F.expr(f"{PR_D_NUM} * coalesce(inb, 0L) DIV {PR_D_DEN}")
        ).alias("s"),
    )


def pagerank_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PR_TOPK vertices by damped PageRank after PR_ITERS exact
    integer iterations: (node_id, node_kind, score_q, rank).

    The PR_ITERS loop stays LAZY: for a small fixed depth, one codegen
    pass over the 3-deep plan beats materializing every iteration
    (measured 3.2 s vs 4.7 s first-run at sf0.1 — checkpointing per
    pass pays 3 materializations to save codegen the loop doesn't
    need).  The unbounded-depth convergence variant below is the
    opposite trade and checkpoints each pass."""
    ed, verts = _pr_frames(spark, sf_dir)
    scores = verts.withColumn("s", F.lit(PR_SCALE).cast("long"))
    for _ in range(PR_ITERS):
        scores = _pr_step(ed, verts, scores)

    # top-k FIRST (TakeOrderedAndProject: per-partition local top-k,
    # driver merge), THEN rank the <= PR_TOPK survivors — the global
    # row_number window never sees the |verts|-sized score frame
    keys = [F.col("s").desc(), F.col("node").asc()]
    return (
        scores.orderBy(*keys)
        .limit(PR_TOPK)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
        .select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, "supplier")
            .otherwise("customer")
            .alias("node_kind"),
            F.col("s").alias("score_q"),
            "rank",
        )
    )


def pagerank_converged(
    spark: SparkSession, sf_dir: str, tol_q: int = 100, max_iters: int = 50
) -> tuple[DataFrame, int]:
    """Tolerance-driven variant: iterate the SAME exact-integer step
    until no vertex's quantized score moves by more than `tol_q`
    (default 100 = 1e-4 of the PR_SCALE mass unit), or max_iters.

    Returns (scores, n_iters) where scores is (node, s) at the
    converged depth — bit-identical to running the fixed-iteration
    loop n_iters times (asserted in tests/test_graph.py), so the
    unrolled-CTE oracle construction still applies at any depth.
    Cost per pass: the same one co-located shuffle plus a
    metadata-scale max-|delta| aggregate on the (small, checkpointed)
    score frames; the convergence decision is the only driver-side
    scalar, like kmeans' movement check."""
    ed, verts = _pr_frames(spark, sf_dir)
    scores = verts.withColumn("s", F.lit(PR_SCALE).cast("long"))
    n = 0
    while n < max_iters:
        nxt = _pr_step(ed, verts, scores).localCheckpoint(eager=True)
        n += 1
        delta = (
            nxt.alias("a")
            .join(scores.alias("b"), "node")
            .agg(F.max(F.abs(F.col("a.s") - F.col("b.s"))).alias("d"))
            .collect()[0][0]
        )
        scores = nxt
        if delta is not None and delta <= tol_q:
            break
    return scores, n


def _pagerank_sql() -> str:
    base = (PR_D_DEN - PR_D_NUM) * PR_SCALE // PR_D_DEN
    ctes = [
        f"""edges AS (
  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % {_EDGE_MOD} = 0
)""",
        "outd AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)",
        "verts AS (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges)",
        f"s0 AS (SELECT node, {PR_SCALE}::BIGINT AS s FROM verts)",
    ]
    for t in range(1, PR_ITERS + 1):
        ctes.append(
            f"""i{t} AS (
  SELECT dst, SUM(s // outdeg) AS inb
  FROM edges JOIN outd USING (src) JOIN s{t - 1} ON src = node
  GROUP BY dst
)"""
        )
        ctes.append(
            f"""s{t} AS (
  SELECT node, {base}::BIGINT
    + {PR_D_NUM} * COALESCE(inb, 0) // {PR_D_DEN} AS s
  FROM verts LEFT JOIN i{t} ON node = dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node AS node_id,
  CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_kind,
  CAST(s AS BIGINT) AS score_q, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY s DESC, node ASC) AS rank
  FROM s{PR_ITERS}
) r
WHERE rank <= {PR_TOPK}
"""
    )


# ---------------------------------------------------------------------------
# multi-source BFS: landmark hop distances
# ---------------------------------------------------------------------------
#
# Exact hop distance from each of BFS_LANDMARKS landmark vertices (the
# lowest supplier ids — deterministic) to every vertex within BFS_HOPS
# hops of the UNDIRECTED shipment graph.  The frontier loop is the
# third iterative family (after PageRank and connected components):
# each hop is one equi-join frontier expansion + a (node, landmark)
# MIN aggregate — both map-side combinable, both co-partitionable on
# the vertex id at 100 TB.  Distances are small exact ints; the
# BFS_HOPS loop stays lazy like the fixed PageRank loop (measured
# faster than checkpointing at depth <= 3), and the oracle is the
# identically-unrolled CTE chain.

BFS_HOPS = 3
BFS_LANDMARKS = 5


def bfs_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lm = (
        load_table(spark, sf_dir, "supplier")
        .select((F.col("s_suppkey") * 2).alias("node"))
        .orderBy("node")
        .limit(BFS_LANDMARKS)
    )
    dist = lm.select(
        "node", F.col("node").alias("landmark"), F.lit(0).alias("dist")
    )
    for _ in range(BFS_HOPS):
        hop = (
            und.join(dist, und.src == dist.node)
            .select(
                F.col("dst").alias("node"),
                "landmark",
                (F.col("dist") + 1).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("node", "landmark")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select(
        F.col("node").cast("long").alias("node"),
        F.col("landmark").cast("long").alias("landmark"),
        F.col("dist").cast("long").alias("dist"),
    )


def _bfs_ctes() -> list:
    ctes = [
        f"""edges AS (
  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % {_EDGE_MOD} = 0
)""",
        "und AS (SELECT src, dst FROM edges "
        "UNION ALL SELECT dst, src FROM edges)",
        f"""d0 AS (
  SELECT node, node AS landmark, 0 AS dist FROM (
    SELECT s_suppkey * 2 AS node FROM supplier
    ORDER BY node LIMIT {BFS_LANDMARKS})
)""",
    ]
    for t in range(1, BFS_HOPS + 1):
        ctes.append(
            f"""d{t} AS (
  SELECT node, landmark, MIN(dist) AS dist FROM (
    SELECT node, landmark, dist FROM d{t - 1}
    UNION ALL
    SELECT und.dst AS node, landmark, dist + 1 AS dist
    FROM und JOIN d{t - 1} ON und.src = d{t - 1}.node
  ) GROUP BY node, landmark
)"""
        )
    return ctes


def _bfs_sql() -> str:
    return (
        "WITH "
        + ",\n".join(_bfs_ctes())
        + f"""
SELECT node::BIGINT AS node, landmark::BIGINT AS landmark,
  dist::BIGINT AS dist
FROM d{BFS_HOPS}
"""
    )


# ---------------------------------------------------------------------------
# harmonic centrality (landmark-sampled)
# ---------------------------------------------------------------------------
#
# The standard large-graph centrality estimate (Boldi & Vigna,
# "Axioms for Centrality", 2014): harmonic centrality sums 1/d over
# all reachable sources; at scale it is estimated from a landmark
# sample — exactly the frame bfs_landmarks already computes.  The sum
# of reciprocals is kept EXACT cross-engine by integer division:
# contribution = 1_000_000 // dist (BIGINT), so the aggregate is an
# exact integer in both engines (no float-order hazard).  One extra
# map-side-combinable aggregate over the (node, landmark) frame.

HARMONIC_Q = 1_000_000


def harmonic_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, n_reached, harmonic_q): landmark-sampled harmonic
    centrality, quantized as SUM(1e6 // dist) over landmarks at
    dist > 0; n_reached counts reachable landmarks (self included)."""
    dist = bfs_landmarks(spark, sf_dir)
    return (
        dist.groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum(
                F.when(
                    F.col("dist") > 0,
                    # DIV, not float /+floor: the repo's exact
                    # integral-division convention (DuckDB //)
                    F.expr(f"{HARMONIC_Q} DIV dist"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("harmonic_q"),
        )
        .orderBy("node")
    )


def _harmonic_sql() -> str:
    return (
        "WITH "
        + ",\n".join(_bfs_ctes())
        + f"""
SELECT node::BIGINT AS node, COUNT(*)::BIGINT AS n_reached,
  SUM(CASE WHEN dist > 0 THEN {HARMONIC_Q} // dist ELSE 0 END)::BIGINT
    AS harmonic_q
FROM d{BFS_HOPS}
GROUP BY node
ORDER BY node
"""
    )


# ---------------------------------------------------------------------------
# weighted shortest paths: fixed-round Bellman-Ford (nearest landmark)
# ---------------------------------------------------------------------------
#
# The weighted companion to bfs_landmarks: cheapest cost (min summed
# edge price) from the landmark suppliers to every vertex within
# BELLMAN_ROUNDS relaxations.  (cost, landmark) is packed into ONE
# BIGINT — cost*2^20 + landmark — so each relaxation is a plain
# map-side-combinable MIN that carries the argmin for free, and ties
# break (cost, then landmark id) deterministically.  Bound: cost_q <
# 4 rounds * max price*100 ~ 4e7, landmark < 2^20, pack < 2^46.
# Sixth iterative family; fixed rounds -> unrolled-CTE oracle.

BELLMAN_ROUNDS = 4
_BF_SHIFT = 1 << 20


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % _EDGE_MOD == 0)
        .select(
            "l_orderkey",
            "l_suppkey",
            F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
            .cast("long")
            .alias("w"),
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .agg(F.min("w").alias("w"))
    )


def bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, nearest_landmark, cost_q, cost) — cheapest
    BELLMAN_ROUNDS-hop-bounded route cost from the BFS_LANDMARKS
    landmark suppliers over the undirected priced shipment graph."""
    we = _weighted_edges(spark, sf_dir)
    und = we.unionByName(
        we.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    lm = (
        load_table(spark, sf_dir, "supplier")
        .select((F.col("s_suppkey") * 2).alias("node"))
        .orderBy("node")
        .limit(BFS_LANDMARKS)
    )
    dist = lm.select("node", F.col("node").alias("p"))  # cost 0
    for _ in range(BELLMAN_ROUNDS):
        relax = und.join(dist, und.src == dist.node).select(
            F.col("dst").alias("node"),
            (
                (F.expr(f"p DIV {_BF_SHIFT}") + F.col("w"))
                * F.lit(_BF_SHIFT)
                + F.pmod(F.col("p"), F.lit(_BF_SHIFT))
            ).alias("p"),
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("p").alias("p"))
        )
    return dist.select(
        F.col("node").cast("long").alias("node"),
        F.pmod(F.col("p"), F.lit(_BF_SHIFT))
        .cast("long")
        .alias("nearest_landmark"),
        F.expr(f"p DIV {_BF_SHIFT}").cast("long").alias("cost_q"),
        F.round(
            F.expr(f"p DIV {_BF_SHIFT}").cast("double") / 100.0, 6
        ).alias("cost"),
    ).orderBy("node")


def _bellman_sql() -> str:
    ctes = [
        f"""we AS (
  SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst,
    MIN(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % {_EDGE_MOD} = 0
  GROUP BY 1, 2
)""",
        "und AS (SELECT src, dst, w FROM we "
        "UNION ALL SELECT dst, src, w FROM we)",
        f"""d0 AS (
  SELECT node, node AS p FROM (
    SELECT s_suppkey * 2 AS node FROM supplier
    ORDER BY node LIMIT {BFS_LANDMARKS})
)""",
    ]
    for t in range(1, BELLMAN_ROUNDS + 1):
        ctes.append(
            f"""d{t} AS (
  SELECT node, MIN(p) AS p FROM (
    SELECT node, p FROM d{t - 1}
    UNION ALL
    SELECT und.dst AS node,
      ((p // {_BF_SHIFT}) + w) * {_BF_SHIFT} + (p % {_BF_SHIFT}) AS p
    FROM und JOIN d{t - 1} ON und.src = d{t - 1}.node
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node::BIGINT AS node,
  (p % {_BF_SHIFT})::BIGINT AS nearest_landmark,
  (p // {_BF_SHIFT})::BIGINT AS cost_q,
  ROUND((p // {_BF_SHIFT})::DOUBLE / 100.0, 6) AS cost
FROM d{BELLMAN_ROUNDS}
ORDER BY node
"""
    )


# ---------------------------------------------------------------------------
# k-core peeling (fixed rounds)
# ---------------------------------------------------------------------------
#
# Iterative subgraph refinement — the densest-region screen used to
# find spam farms / tight communities before an expensive pass: each
# round drops vertices with degree < KCORE_K in the surviving
# subgraph, then recomputes degrees.  A fixed KCORE_ROUNDS unrolled
# loop (lazy, like the fixed PageRank loop); each round is two
# semi-joins + one map-side-combined degree aggregate, all
# co-partitionable on the vertex id.  Fixed rounds make the oracle an
# identically-unrolled CTE chain; full peeling to a fixpoint would
# checkpoint per pass like pagerank_converged.

KCORE_K = 3
KCORE_ROUNDS = 3


def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    # the undirected edge frame feeds TWO semi-joins per round plus the
    # final degree pass (~8 plan references at 3 rounds); materialized
    # once it is scanned, not recomputed (19 s -> ~6 s at sf0.1 —
    # the loop-invariant rule from _pr_frames)
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    kept = und.select(F.col("src").alias("node")).distinct()
    for _ in range(KCORE_ROUNDS):
        e = und.join(
            kept.select(F.col("node").alias("src")), "src", "left_semi"
        ).join(
            kept.select(F.col("node").alias("dst")), "dst", "left_semi"
        )
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # per-round checkpoint: kept_t is referenced TWICE by round
        # t+1's semi-joins, so a lazy loop doubles the subplan per
        # round (2^rounds refs); the frame is tiny (<= |verts| ids)
        kept = (
            deg.filter(F.col("deg") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=True)
        )
    final_e = und.join(
        kept.select(F.col("node").alias("src")), "src", "left_semi"
    ).join(kept.select(F.col("node").alias("dst")), "dst", "left_semi")
    return (
        final_e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(
            F.col("node").cast("long").alias("node"),
            F.when(F.col("node") % 2 == 0, "supplier")
            .otherwise("customer")
            .alias("node_kind"),
            "core_degree",
        )
    )


def _kcore_sql() -> str:
    ctes = [
        f"""edges AS (
  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % {_EDGE_MOD} = 0
)""",
        "und AS (SELECT src, dst FROM edges "
        "UNION ALL SELECT dst, src FROM edges)",
        "k0 AS (SELECT DISTINCT src AS node FROM und)",
    ]
    for t in range(1, KCORE_ROUNDS + 1):
        ctes.append(
            f"""k{t} AS (
  SELECT src AS node FROM und
  WHERE src IN (SELECT node FROM k{t - 1})
    AND dst IN (SELECT node FROM k{t - 1})
  GROUP BY src HAVING COUNT(*) >= {KCORE_K}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT src::BIGINT AS node,
  CASE WHEN src % 2 = 0 THEN 'supplier' ELSE 'customer' END AS node_kind,
  COUNT(*)::BIGINT AS core_degree
FROM und
WHERE src IN (SELECT node FROM k{KCORE_ROUNDS})
  AND dst IN (SELECT node FROM k{KCORE_ROUNDS})
GROUP BY src
"""
    )



# ---------------------------------------------------------------------------
# connected components (label propagation + pointer jumping)
# ---------------------------------------------------------------------------
#
# Component discovery over a sparser slice of the shipment graph
# (full-quantity lineitems only — the 1-in-10 demo graph is one giant
# component, which makes the answer a single row; the quantity gate
# splinters it into dozens of co-purchase communities).  The Spark side
# reuses dedup.connected_components: distributed min-label propagation
# with pointer jumping and per-pass localCheckpoints, converging in
# ~log(diameter) passes; under SMALL_GRAPH_MAX_EDGES it short-circuits
# to an exact driver union-find (metadata-scale collect, guarded).
# The DuckDB oracle is an independent formulation: a recursive CTE
# accumulating the transitive (node, reaching-label) closure, then
# MIN(label) per node — O(sum |component|^2) rows, fine at oracle
# scale, never run at bench scale.

_CC_MIN_QTY = 48


def components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(component_id, n_nodes, n_suppliers, n_customers) per connected
    component of the full-quantity shipment graph, largest first."""
    from .dedup import connected_components

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_orderkey") % _EDGE_MOD == 0)
            & (F.col("l_quantity") >= _CC_MIN_QTY)
        )
        .select("l_orderkey", "l_suppkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).alias("doc_a"),
            (F.col("o_custkey") * 2 + 1).alias("doc_b"),
        )
        .distinct()
    )
    labels = connected_components(edges)
    return (
        labels.groupBy(F.col("cluster_rep").alias("component_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum((F.col("doc_id") % 2 == 0).cast("long"))
            .cast("long")
            .alias("n_suppliers"),
            F.sum((F.col("doc_id") % 2 == 1).cast("long"))
            .cast("long")
            .alias("n_customers"),
        )
        .orderBy(F.col("n_nodes").desc(), F.col("component_id").asc())
    )


_COMPONENTS_SQL = f"""
WITH RECURSIVE ed AS (
  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % {_EDGE_MOD} = 0 AND l_quantity >= {_CC_MIN_QTY}
),
e AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
nodes AS (SELECT DISTINCT src AS node FROM e),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, reach.lbl FROM reach JOIN e ON e.src = reach.node
),
lab AS (SELECT node, MIN(lbl) AS component_id FROM reach GROUP BY node)
SELECT component_id,
  COUNT(*)::BIGINT AS n_nodes,
  SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_suppliers,
  SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_customers
FROM lab
GROUP BY component_id
ORDER BY n_nodes DESC, component_id ASC
"""


QUERIES = {
    "graph_pagerank": Query(pagerank_shipments, _pagerank_sql(), impure=True),
    "graph_components": Query(components, _COMPONENTS_SQL, impure=True),
    "graph_bfs_landmarks": Query(bfs_landmarks, _bfs_sql()),
    "graph_kcore_peel": Query(kcore_peel, _kcore_sql(), impure=True),
    "graph_bellman_ford": Query(bellman_ford, _bellman_sql()),
    "graph_harmonic_landmarks": Query(harmonic_landmarks, _harmonic_sql()),
}
