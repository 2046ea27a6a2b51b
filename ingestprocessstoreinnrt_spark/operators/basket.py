"""Market-basket co-occurrence analytics and triangle counting over the
part↔order bipartite projection — the "what sells together" family the
reference's BI layer gestures at with its group-by batteries
(nyTaxi impala queries, SURVEY 2.5) but never takes to pair grain.

Every query here reads one basket index, built once per session
(_index): the item supports, the order count N and the co-occurrence
pair frame, persisted per corpus, plus the support-thresholded
co-purchase edge set cached on top of the pairs.  No query scans
lineitem while the artifacts hit.

  * basket_pair_lift — association pairs (p1, p2) with support and
    lift, the apriori primitives, joined from the pairs, the item
    supports and N.  Scale shape of the pair build: item counts are
    aggregated FIRST and items below min support are pruned BEFORE
    pairs are generated (support is anti-monotone — a pair can't beat
    the support its rarer item has), so the quadratic step runs on the
    survivor set only, bounded by basket size squared; the TPC-H-ish
    baskets here cap at 13 items, and at 100 TB a `F.slice` cap on
    baskets bounds pathological carts the same way.  Lift ranking
    crosses engines via the proven round-to-6dp + id tie-break pattern
    (functions.scalars notes).
  * the graph queries (triangles, degrees, clustering, link
    prediction, assortativity, rich club) — all over the one cached
    edge frame (triangle_edges).  Canonical orientation (p1 < p2 on
    every edge) makes each triangle (a<b<c) countable exactly once by
    the textbook two-equi-join plan: wedges (a,b)x(a,c) with b<c,
    closed against the edge set on (b,c).  No cartesian anywhere
    (plan-tested); at 100 TB you additionally orient edges low-degree
    -> high-degree so wedge fan-out is bounded by the graph's
    degeneracy, and the joins bucket on the wedge pivot.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..planmemo import session_memo
from ..plans.hints import maybe_broadcast
from ..registry import Query
from .artifacts import corpus_artifact, json_artifact

MIN_ITEM_ORDERS = 2  # apriori item prune: item must appear in >= 2 orders
MIN_PAIR_ORDERS = 2  # pair support threshold (edges of the co-graph)
BASKET_CAP = 1000  # pair-explosion bound for pathological carts
BASKET_TOPK = 100
TRI_TOPK = 20


def _order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, part) memberships — the bipartite incidence."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )


def _index(spark: SparkSession, sf_dir: str, part: str, build: Callable):
    """One part of this corpus's basket index, built once per session
    (planmemo.session_memo): the item supports, the order count, the
    pair frame and the co-purchase edges derived from it.  The first
    three are persisted per corpus (operators.artifacts) and keyed on
    lineitem and this module's code, so a fresh session reads them and
    no query scans lineitem while the artifacts hit."""
    memo = session_memo(spark, "basket_index")
    key = (os.path.abspath(sf_dir), part)
    if key not in memo:
        memo[key] = build()
    return memo[key]


def _item_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p, n_ord): the number of orders each part appears in — the
    apriori first pass, over every part in lineitem.  The pair build
    prunes on it and basket_pair_lift reads the two item supports of
    each pair from it; the .cache() hands both one in-memory entry per
    session."""

    def build() -> DataFrame:
        return _order_items(spark, sf_dir).groupBy("p").agg(
            F.count(F.lit(1)).cast("long").alias("n_ord")
        )

    return _index(
        spark,
        sf_dir,
        "item_orders",
        lambda: corpus_artifact(
            spark, sf_dir, "basket_item_orders", build, table="lineitem"
        ).cache(),
    )


def _n_orders(spark: SparkSession, sf_dir: str) -> int:
    """N, the number of orders with >= 1 item: the base of lift."""

    def build() -> int:
        return _order_items(spark, sf_dir).agg(
            F.countDistinct("o")
        ).first()[0]

    return _index(
        spark,
        sf_dir,
        "n_orders",
        lambda: json_artifact(
            sf_dir,
            "basket_n_orders",
            build,
            (os.path.abspath(__file__),),
            table="lineitem",
        ),
    )


def _pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p1 < p2, pair_orders) — co-occurrence counts AFTER the apriori
    item prune.

    Persisted per-corpus (operators.artifacts, VERDICT r13 item 6):
    the co-occurrence pair frame is a FITTED INDEX of lineitem — a
    deterministic pure function of the corpus that 9 queries consume —
    exactly the sanctioned LSH-pair shape: built once per corpus,
    maintained next to the data, read (not refit) by every session.
    The build itself already carries the measured 2.2x
    array-combinations win: baskets collect_set to a sorted array and
    nested transforms emit the i<j pairs row-locally — one groupBy
    shuffle instead of distinct+join (identical pair counts at sf0.1
    AND sf1; the sf1 check is mandatory for pair ops, see ROUND_NOTES
    band-shape lesson).  BASKET_CAP bounds the quadratic term for
    pathological carts: a basket contributes at most cap(cap-1)/2
    pairs.  The .cache() on the artifact read hands all consumers one
    in-memory entry per session (the _token_frame pattern)."""

    def build() -> DataFrame:
        kept = _order_items(spark, sf_dir).join(
            _item_orders(spark, sf_dir)
            .filter(F.col("n_ord") >= MIN_ITEM_ORDERS)
            .select("p"),
            "p",
        )
        baskets = kept.groupBy("o").agg(
            F.slice(F.sort_array(F.collect_set("p")), 1, BASKET_CAP).alias(
                "ps"
            )
        )
        pairs = baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS p1, y AS p2))))"
                )
            ).alias("pr")
        ).select("pr.p1", "pr.p2")
        return pairs.groupBy("p1", "p2").agg(
            F.count(F.lit(1)).cast("long").alias("pair_orders")
        )

    # artifact name pins the tuning knobs: a retuned prune/cap must
    # rebuild, never serve a stale frame
    return _index(
        spark,
        sf_dir,
        "pairs",
        lambda: corpus_artifact(
            spark,
            sf_dir,
            f"basket_pairs_mi{MIN_ITEM_ORDERS}c{BASKET_CAP}",
            build,
            table="lineitem",
        ).cache(),
    )


_ITEMS_SQL = (
    "SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem"
)
_PAIRS_SQL = f"""
items AS ({_ITEMS_SQL}),
item_n AS (SELECT p, COUNT(*) AS n_ord FROM items GROUP BY p),
kept AS (
  SELECT o, p FROM items JOIN item_n USING (p)
  WHERE n_ord >= {MIN_ITEM_ORDERS}
),
pc AS (
  SELECT a.p AS p1, b.p AS p2, COUNT(*)::BIGINT AS pair_orders
  FROM kept a JOIN kept b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
)"""


def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top association pairs by (support, lift): (p1, p2, pair_orders,
    p1_orders, p2_orders, lift_q, rank).  lift = pair_orders * N /
    (p1_orders * p2_orders), quantized to 6 dp for the cross-engine
    rank; N = total orders with >= 1 item.  Reads only the session's
    basket index (pairs, item supports, N): no scan of lineitem."""
    item_n = _item_orders(spark, sf_dir)
    pc = _pair_counts(spark, sf_dir).filter(
        F.col("pair_orders") >= MIN_PAIR_ORDERS
    )
    enriched = (
        pc.join(
            maybe_broadcast(item_n.withColumnRenamed("n_ord", "p1_orders")),
            pc.p1 == F.col("p"),
        )
        .drop("p")
        .join(
            maybe_broadcast(
                item_n.withColumnRenamed("n_ord", "p2_orders")
            ).withColumnRenamed("p", "pp"),
            F.col("p2") == F.col("pp"),
        )
        .drop("pp")
    )
    lift_q = F.round(
        F.col("pair_orders").cast("double")
        * F.lit(_n_orders(spark, sf_dir)).cast("double")
        / F.col("p1_orders").cast("double")
        / F.col("p2_orders").cast("double"),
        6,
    )
    keys = [
        F.col("pair_orders").desc(),
        F.col("lift_q").desc(),
        F.col("p1").asc(),
        F.col("p2").asc(),
    ]
    # orderBy+limit compiles to TakeOrdered (per-partition top-k, tiny
    # merge) so the huge pair frame never converges on one partition;
    # the single-partition row_number window then ranks only K rows.
    top = enriched.withColumn("lift_q", lift_q).orderBy(*keys).limit(
        BASKET_TOPK
    )
    return (
        top.withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
        .select(
            "p1", "p2", "pair_orders", "p1_orders", "p2_orders",
            "lift_q", "rank",
        )
    )


_BASKET_SQL = f"""
WITH {_PAIRS_SQL},
item_tot AS (SELECT p, COUNT(*)::BIGINT AS n_ord FROM
  ({_ITEMS_SQL}) GROUP BY p),
n AS (SELECT COUNT(DISTINCT o)::BIGINT AS n_orders FROM ({_ITEMS_SQL}))
SELECT p1, p2, pair_orders, p1_orders, p2_orders, lift_q, rank
FROM (
  SELECT p1, p2, pair_orders,
    i1.n_ord AS p1_orders, i2.n_ord AS p2_orders,
    ROUND(pair_orders::DOUBLE * n_orders::DOUBLE
          / i1.n_ord::DOUBLE / i2.n_ord::DOUBLE, 6) AS lift_q,
    ROW_NUMBER() OVER (
      ORDER BY pair_orders DESC,
        ROUND(pair_orders::DOUBLE * n_orders::DOUBLE
              / i1.n_ord::DOUBLE / i2.n_ord::DOUBLE, 6) DESC,
        p1 ASC, p2 ASC
    )::BIGINT AS rank
  FROM pc
  JOIN item_tot i1 ON pc.p1 = i1.p
  JOIN item_tot i2 ON pc.p2 = i2.p
  CROSS JOIN n
  WHERE pair_orders >= {MIN_PAIR_ORDERS}
) r
WHERE rank <= {BASKET_TOPK}
"""


def triangle_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-thresholded co-purchase edges, canonically oriented
    p1 < p2: the basket index's graph, which every graph query below
    reads.  The .cache() hands them one in-memory edge set per
    session, filled by the first action that reads it; building a
    query on it runs no Spark job."""
    return _index(
        spark,
        sf_dir,
        "edges",
        lambda: _pair_counts(spark, sf_dir)
        .filter(F.col("pair_orders") >= MIN_PAIR_ORDERS)
        .select("p1", "p2")
        .cache(),
    )


def _adjacency(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The edges in both directions, (a, n), and each node's degree,
    (a, deg)."""
    adj = e.union(e.select(F.col("p2"), F.col("p1"))).toDF("a", "n")
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return adj, deg


def _per_node_count(df: DataFrame, cols: list[str], alias: str) -> DataFrame:
    """(part_id, alias): in how many rows of df each part appears
    among cols — degrees from edges, participation from triangles."""
    return (
        df.select(F.explode(F.array(*cols)).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).cast("long").alias(alias))
    )


def _triangles(e: DataFrame) -> DataFrame:
    """(a, b, c), each triangle a<b<c exactly once: wedge join on the
    lowest vertex (e1=(a,b), e2=(a,c), b<c), closed by an equi-join
    against the edge set on (b,c)."""
    e1 = e.select(F.col("p1").alias("a"), F.col("p2").alias("b"))
    e2 = e.select(F.col("p1").alias("a2"), F.col("p2").alias("c"))
    wedges = e1.join(
        e2, (F.col("a") == F.col("a2")) & (F.col("b") < F.col("c"))
    )
    return wedges.join(
        e.select(F.col("p1").alias("b"), F.col("p2").alias("c")),
        ["b", "c"],
    ).select("a", "b", "c")


def _common_neighbors(adj: DataFrame) -> DataFrame:
    """(b < c, common): every pair with >= 1 common neighbor and how
    many, from the wedge join that pivots on the shared neighbor."""
    w1 = adj.select(F.col("n").alias("pivot"), F.col("a").alias("b"))
    w2 = adj.select(F.col("n").alias("pivot2"), F.col("a").alias("c"))
    return (
        w1.join(
            w2,
            (F.col("pivot") == F.col("pivot2")) & (F.col("b") < F.col("c")),
        )
        .groupBy("b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation over the co-purchase graph:
    (part_id, n_triangles, total_triangles, rank), top TRI_TOPK parts.
    The three-way self-join reads the session's one cached edge set."""
    tri = _triangles(triangle_edges(spark, sf_dir))
    per_node = _per_node_count(tri, ["a", "b", "c"], "n_triangles")
    total = tri.agg(
        F.count(F.lit(1)).cast("long").alias("total_triangles")
    )
    keys = [F.col("n_triangles").desc(), F.col("part_id").asc()]
    top = per_node.join(F.broadcast(total)).orderBy(*keys).limit(TRI_TOPK)
    return (
        top.withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
        .select("part_id", "n_triangles", "total_triangles", "rank")
    )


_TRI_SQL = f"""
WITH {_PAIRS_SQL},
e AS (SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}),
tri AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM e e1
  JOIN e e2 ON e1.p1 = e2.p1 AND e1.p2 < e2.p2
  JOIN e e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2
),
per_node AS (
  SELECT part_id, COUNT(*)::BIGINT AS n_triangles FROM (
    SELECT unnest([a, b, c]) AS part_id FROM tri
  ) GROUP BY part_id
),
total AS (SELECT COUNT(*)::BIGINT AS total_triangles FROM tri)
SELECT part_id, n_triangles, total_triangles, rank FROM (
  SELECT part_id, n_triangles, total_triangles,
    ROW_NUMBER() OVER (
      ORDER BY n_triangles DESC, part_id ASC
    )::BIGINT AS rank
  FROM per_node CROSS JOIN total
) r
WHERE rank <= {TRI_TOPK}
"""


def degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph: (degree, n_nodes) —
    the power-law shape check run before sizing any pairwise stage
    (skew in this histogram is what the salt guards defend against).
    Reads the cached edge set; degrees come from one explode of each
    edge into both endpoints + two tiny aggregates."""
    e = triangle_edges(spark, sf_dir)
    deg = _per_node_count(e, ["p1", "p2"], "degree")
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


_DEGREE_SQL = f"""
WITH {_PAIRS_SQL},
e AS (SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}),
deg AS (
  SELECT node, COUNT(*)::BIGINT AS degree FROM (
    SELECT unnest([p1, p2]) AS node FROM e
  ) GROUP BY node
)
SELECT degree, COUNT(*)::BIGINT AS n_nodes FROM deg GROUP BY degree
"""


# ---------------------------------------------------------------------------
# neighbor-set Jaccard similarity — link prediction on the co-graph
# ---------------------------------------------------------------------------
#
# Jaccard(u, v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)| over the thresholded
# co-purchase graph: the classic link-prediction / item-similarity
# score.  Common-neighbor counts come from the same wedge equi-join the
# triangle census uses (pivot on the shared neighbor, b < c dedupes),
# NOT from materializing neighbor sets — so the quadratic term is
# bounded by Σ degree² like any wedge walk, and at 100 TB the
# low-degree->high-degree orientation bounds it by graph degeneracy.
# Union size needs no set algebra: |N(u) ∪ N(v)| = deg(u) + deg(v) -
# common, all integers.  Only pairs with >= 1 common neighbor can score
# > 0, so the wedge frame IS the candidate set.

JACCARD_TOPK = 50


def jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs by neighbor-set Jaccard: (p1, p2, common,
    degree1, degree2, jaccard_q, rank)."""
    adj, deg = _adjacency(triangle_edges(spark, sf_dir))
    common = _common_neighbors(adj)
    scored = (
        common.join(
            maybe_broadcast(deg.withColumnRenamed("deg", "degree1")),
            common.b == deg.a,
        )
        .drop("a")
        .join(
            maybe_broadcast(
                deg.withColumnRenamed("deg", "degree2")
            ).withColumnRenamed("a", "a2"),
            F.col("c") == F.col("a2"),
        )
        .drop("a2")
        .withColumn(
            "jaccard_q",
            F.round(
                F.col("common").cast("double")
                / (F.col("degree1") + F.col("degree2") - F.col("common"))
                .cast("double"),
                6,
            ),
        )
    )
    keys = [
        F.col("jaccard_q").desc(),
        F.col("common").desc(),
        F.col("b").asc(),
        F.col("c").asc(),
    ]
    top = scored.orderBy(*keys).limit(JACCARD_TOPK)
    return (
        top.withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
        .select(
            F.col("b").alias("p1"),
            F.col("c").alias("p2"),
            "common",
            "degree1",
            "degree2",
            "jaccard_q",
            "rank",
        )
    )


_JACCARD_SQL = f"""
WITH {_PAIRS_SQL},
e AS (SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}),
adj AS (
  SELECT p1 AS a, p2 AS n FROM e UNION ALL SELECT p2, p1 FROM e
),
deg AS (SELECT a, COUNT(*)::BIGINT AS deg FROM adj GROUP BY a),
common AS (
  SELECT w1.a AS b, w2.a AS c, COUNT(*)::BIGINT AS common
  FROM adj w1 JOIN adj w2 ON w1.n = w2.n AND w1.a < w2.a
  GROUP BY 1, 2
)
SELECT b AS p1, c AS p2, common, degree1, degree2, jaccard_q, rank
FROM (
  SELECT b, c, common, d1.deg AS degree1, d2.deg AS degree2,
    ROUND(common::DOUBLE
          / (d1.deg + d2.deg - common)::DOUBLE, 6) AS jaccard_q,
    ROW_NUMBER() OVER (
      ORDER BY ROUND(common::DOUBLE
                     / (d1.deg + d2.deg - common)::DOUBLE, 6) DESC,
        common DESC, b ASC, c ASC
    )::BIGINT AS rank
  FROM common
  JOIN deg d1 ON common.b = d1.a
  JOIN deg d2 ON common.c = d2.a
) r
WHERE rank <= {JACCARD_TOPK}
"""


# ---------------------------------------------------------------------------
# resource-allocation index — degree-weighted link prediction
# ---------------------------------------------------------------------------
#
# RA(u, v) = Σ_{z ∈ N(u) ∩ N(v)} 1/deg(z) (Zhou, Lü & Zhang 2009): the
# common-neighbor score that discounts hub pivots — a shared rare
# neighbor is stronger evidence than a shared hub.  Complements
# graph_jaccard_neighbors (which normalizes by the ENDPOINT degrees,
# not the pivot's).  Cross-engine determinism is free: the per-pivot
# weight is the exact integer RA_SCALE DIV deg(z), so pair scores are
# BIGINT sums — no float division anywhere until nothing is left to
# compare.  Scale shape: same wedge equi-join as the triangle census
# (bounded by Σ degree², low→high orientation bounds it by degeneracy
# at 100 TB); the degree frame is a maybe_broadcast dimension.

RA_SCALE = 1_000_000_000  # 1/deg as an exact integer: SCALE DIV deg
RA_TOPK = 50


def resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs by resource-allocation index over the thresholded
    co-purchase graph: (p1, p2, common, ra_scaled, rank) with
    ra_scaled = Σ RA_SCALE DIV deg(pivot) — exact BIGINT."""
    adj, deg = _adjacency(triangle_edges(spark, sf_dir))
    # stamp each wedge pivot with its exact integer weight up front so
    # the wedge join carries one extra BIGINT, not a second join later
    wadj = adj.join(
        maybe_broadcast(
            deg.select(F.col("a").alias("n"), F.col("deg"))
        ),
        "n",
    ).select(
        F.col("n").alias("pivot"),
        F.col("a").alias("b"),
        F.expr(f"{RA_SCALE}L DIV deg").alias("wt"),
    )
    w2 = wadj.select(F.col("pivot").alias("pivot2"), F.col("b").alias("c"))
    scored = (
        wadj.join(
            w2,
            (F.col("pivot") == F.col("pivot2")) & (F.col("b") < F.col("c")),
        )
        .groupBy("b", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum("wt").cast("long").alias("ra_scaled"),
        )
    )
    keys = [
        F.col("ra_scaled").desc(),
        F.col("common").desc(),
        F.col("b").asc(),
        F.col("c").asc(),
    ]
    top = scored.orderBy(*keys).limit(RA_TOPK)
    return (
        top.withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
        .select(
            F.col("b").alias("p1"),
            F.col("c").alias("p2"),
            "common",
            "ra_scaled",
            "rank",
        )
    )


_RA_SQL = f"""
WITH {_PAIRS_SQL},
e AS (SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}),
adj AS (
  SELECT p1 AS a, p2 AS n FROM e UNION ALL SELECT p2, p1 FROM e
),
deg AS (SELECT a, COUNT(*)::BIGINT AS deg FROM adj GROUP BY a),
wadj AS (
  SELECT adj.n AS pivot, adj.a AS b,
    CAST({RA_SCALE} // deg.deg AS BIGINT) AS wt
  FROM adj JOIN deg ON adj.n = deg.a
),
scored AS (
  SELECT w1.b AS b, w2.b AS c, COUNT(*)::BIGINT AS common,
    CAST(SUM(w1.wt) AS BIGINT) AS ra_scaled
  FROM wadj w1 JOIN wadj w2 ON w1.pivot = w2.pivot AND w1.b < w2.b
  GROUP BY 1, 2
)
SELECT b AS p1, c AS p2, common, ra_scaled, rank
FROM (
  SELECT b, c, common, ra_scaled,
    ROW_NUMBER() OVER (
      ORDER BY ra_scaled DESC, common DESC, b ASC, c ASC
    )::BIGINT AS rank
  FROM scored
) r
WHERE rank <= {RA_TOPK}
"""


# ---------------------------------------------------------------------------
# local clustering coefficient — per-node transitivity
# ---------------------------------------------------------------------------
#
# cc(v) = 2 * tri(v) / (deg(v) * (deg(v) - 1)) over the thresholded
# co-purchase graph: the standard "how clique-like is this node's
# neighborhood" score (community cores vs bridge hubs).  Triangle
# counts reuse the census wedge walk (cost bounded by Σ deg², same as
# graph_triangles), degrees reuse the edge explode; the division is
# the only new arithmetic, quantized to 6 dp for the cross-engine
# gate.  Nodes with deg < 2 have no defined coefficient and are
# excluded (0/0).


def clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_id, degree, n_triangles, cc_q) for every node with
    degree >= 2, ordered by part_id."""
    e = triangle_edges(spark, sf_dir)
    per_node = _per_node_count(_triangles(e), ["a", "b", "c"], "n_triangles")
    deg = _per_node_count(e, ["p1", "p2"], "degree")
    return (
        deg.filter(F.col("degree") >= 2)
        .join(per_node, "part_id", "left")
        .select(
            "part_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree") - 1).cast("double")
                ),
                6,
            ).alias("cc_q"),
        )
        .orderBy("part_id")
    )


_CLUSTERING_SQL = f"""
WITH {_PAIRS_SQL},
e AS (SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}),
tri AS (
  SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
  FROM e e1
  JOIN e e2 ON e1.p1 = e2.p1 AND e1.p2 < e2.p2
  JOIN e e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2
),
per_node AS (
  SELECT part_id, COUNT(*)::BIGINT AS n_triangles FROM (
    SELECT unnest([a, b, c]) AS part_id FROM tri
  ) GROUP BY part_id
),
deg AS (
  SELECT part_id, COUNT(*)::BIGINT AS degree FROM (
    SELECT unnest([p1, p2]) AS part_id FROM e
  ) GROUP BY part_id
)
SELECT deg.part_id, degree,
  COALESCE(n_triangles, 0)::BIGINT AS n_triangles,
  round(2.0 * COALESCE(n_triangles, 0)::DOUBLE
        / (degree::DOUBLE * (degree - 1)::DOUBLE), 6) AS cc_q
FROM deg LEFT JOIN per_node USING (part_id)
WHERE degree >= 2
ORDER BY deg.part_id
"""


# ---------------------------------------------------------------------------
# preferential attachment — the degree-product link-prediction baseline
# ---------------------------------------------------------------------------
#
# PA(u, v) = deg(u) * deg(v) (Barabási-Albert growth model): the
# hub-favoring baseline every link-prediction study reports next to
# common-neighbors, Jaccard (endpoint-normalized) and RA
# (pivot-normalized) — with this op the repo carries the full classic
# quartet on the same thresholded co-purchase graph.  Scored over the
# same candidate universe as the others (wedge pairs with >= 1 common
# neighbor) so the four scores are directly comparable per pair.
# Everything is exact BIGINT: counts, degree products, ranks.

PA_TOPK = 50


def pref_attachment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top part pairs by preferential-attachment score over the
    thresholded co-purchase graph: (p1, p2, common, pa_score, rank)."""
    adj, deg = _adjacency(triangle_edges(spark, sf_dir))
    cand = _common_neighbors(adj)
    d1 = deg.select(F.col("a").alias("b"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("a").alias("c"), F.col("deg").alias("deg2"))
    scored = (
        cand.join(maybe_broadcast(d1), "b")
        .join(maybe_broadcast(d2), "c")
        .select(
            "b",
            "c",
            "common",
            (F.col("deg1") * F.col("deg2")).cast("long").alias("pa_score"),
        )
    )
    keys = [
        F.col("pa_score").desc(),
        F.col("common").desc(),
        F.col("b").asc(),
        F.col("c").asc(),
    ]
    return (
        scored.orderBy(*keys)
        .limit(PA_TOPK)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
        .select(
            F.col("b").alias("p1"),
            F.col("c").alias("p2"),
            "common",
            "pa_score",
            "rank",
        )
    )


_PA_SQL = f"""
WITH {_PAIRS_SQL},
e AS (SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}),
adj AS (
  SELECT p1 AS a, p2 AS n FROM e UNION ALL SELECT p2, p1 FROM e
),
deg AS (SELECT a, COUNT(*)::BIGINT AS deg FROM adj GROUP BY a),
cand AS (
  SELECT a1.a AS b, a2.a AS c, COUNT(*)::BIGINT AS common
  FROM adj a1 JOIN adj a2 ON a1.n = a2.n AND a1.a < a2.a
  GROUP BY 1, 2
),
scored AS (
  SELECT b, c, common,
    CAST(d1.deg * d2.deg AS BIGINT) AS pa_score
  FROM cand JOIN deg d1 ON cand.b = d1.a JOIN deg d2 ON cand.c = d2.a
)
SELECT b AS p1, c AS p2, common, pa_score, rank
FROM (
  SELECT b, c, common, pa_score,
    ROW_NUMBER() OVER (
      ORDER BY pa_score DESC, common DESC, b ASC, c ASC
    )::BIGINT AS rank
  FROM scored
) r
WHERE rank <= {PA_TOPK}
"""


# ---------------------------------------------------------------------------
# degree assortativity — do hubs link to hubs?
# ---------------------------------------------------------------------------
#
# Newman's degree assortativity r (Pearson correlation of endpoint
# degrees over the directed edge list, each undirected edge counted in
# both directions — the standard convention).  r > 0: hubs attach to
# hubs (social shape); r < 0: hub-and-spoke (infrastructure shape) —
# the one-number summary that tells you whether degree-based
# partitioning will balance.  All five sufficient statistics are exact
# BIGINT sums over the edge list (deg ≤ n, Σ deg·deg' ≤ E·n² — BIGINT
# far past this corpus; the formula is the identical IEEE expression
# from exact ints in both engines).  Shape: degree frame joined twice
# (broadcast dims), one global aggregate row.


def assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_edges, assortativity) over the thresholded co-purchase
    graph; n_edges counts directed edges (2x undirected)."""
    adj, deg = _adjacency(triangle_edges(spark, sf_dir))
    da = deg.select(F.col("a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("a").alias("n"), F.col("deg").alias("dy"))
    g = (
        adj.join(maybe_broadcast(da), "a")
        .join(maybe_broadcast(db), "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("dx").cast("long").alias("sx"),
            F.sum("dy").cast("long").alias("sy"),
            F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
            F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
            F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
        )
    )
    md = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    r = (md * sxy - sx * sy) / (
        F.sqrt(md * sxx - sx * sx) * F.sqrt(md * syy - sy * sy)
    )
    return g.select(
        F.col("m").alias("n_edges"), F.round(r, 6).alias("assortativity")
    )


_ASSORT_SQL = f"""
WITH {_PAIRS_SQL},
e AS (SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}),
adj AS (
  SELECT p1 AS a, p2 AS b FROM e UNION ALL SELECT p2, p1 FROM e
),
deg AS (SELECT a, COUNT(*)::BIGINT AS deg FROM adj GROUP BY a),
g AS (
  SELECT COUNT(*)::BIGINT AS m,
    CAST(SUM(d1.deg) AS BIGINT) AS sx,
    CAST(SUM(d2.deg) AS BIGINT) AS sy,
    CAST(SUM(d1.deg * d2.deg) AS BIGINT) AS sxy,
    CAST(SUM(d1.deg * d1.deg) AS BIGINT) AS sxx,
    CAST(SUM(d2.deg * d2.deg) AS BIGINT) AS syy
  FROM adj JOIN deg d1 ON adj.a = d1.a JOIN deg d2 ON adj.b = d2.a
)
SELECT m AS n_edges,
  ROUND((m::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
    / (sqrt(m::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
       * sqrt(m::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
    AS assortativity
FROM g
"""


# ---------------------------------------------------------------------------
# rich-club coefficient — hub interconnection density
# ---------------------------------------------------------------------------
#
# φ(k) = 2·E_k / (N_k·(N_k−1)): among nodes of degree > k, what
# fraction of possible edges exist (Colizza et al. 2006)?  Rising φ(k)
# = a rich club (hubs wire to each other — one hot partition at shuffle
# time); flat/falling = hub independence.  Assortativity gives the
# correlation; this gives the density profile at chosen cutoffs.  One
# conditional-aggregate pass over the edge list evaluates EVERY cutoff
# at once (the pr_thresholds trick) — exact integer counts, one final
# division per row.

RICH_CLUB_KS = [2, 4, 8, 16]


def rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, n_nodes, n_edges, phi) per degree cutoff over the
    thresholded co-purchase graph."""
    e = triangle_edges(spark, sf_dir)
    _, deg = _adjacency(e)
    d1 = deg.select(F.col("a").alias("p1"), F.col("deg").alias("deg1"))
    d2 = deg.select(F.col("a").alias("p2"), F.col("deg").alias("deg2"))
    ej = e.join(maybe_broadcast(d1), "p1").join(maybe_broadcast(d2), "p2")
    edge_counts = ej.agg(
        *[
            F.sum(
                ((F.col("deg1") > k) & (F.col("deg2") > k)).cast("long")
            )
            .cast("long")
            .alias(f"e{k}")
            for k in RICH_CLUB_KS
        ]
    )
    node_counts = deg.agg(
        *[
            F.sum((F.col("deg") > k).cast("long")).cast("long").alias(f"n{k}")
            for k in RICH_CLUB_KS
        ]
    )
    j = edge_counts.crossJoin(F.broadcast(node_counts))
    rows = [
        F.struct(
            F.lit(k).cast("long").alias("k"),
            F.col(f"n{k}").alias("n_nodes"),
            F.col(f"e{k}").alias("n_edges"),
            F.when(
                F.col(f"n{k}") >= 2,
                F.round(
                    2.0
                    * F.col(f"e{k}").cast("double")
                    / (
                        F.col(f"n{k}").cast("double")
                        * (F.col(f"n{k}") - 1).cast("double")
                    ),
                    6,
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("phi"),
        )
        for k in RICH_CLUB_KS
    ]
    return (
        j.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy("k")
    )


def _rich_club_sql() -> str:
    ecols = ", ".join(
        f"CAST(SUM(CASE WHEN d1.deg > {k} AND d2.deg > {k} THEN 1 ELSE 0 "
        f"END) AS BIGINT) AS e{k}"
        for k in RICH_CLUB_KS
    )
    ncols = ", ".join(
        f"CAST(SUM(CASE WHEN deg > {k} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n{k}"
        for k in RICH_CLUB_KS
    )
    rows = " UNION ALL ".join(
        f"SELECT {k}::BIGINT AS k, n{k} AS n_nodes, e{k} AS n_edges, "
        f"CASE WHEN n{k} >= 2 THEN ROUND(2.0 * e{k}::DOUBLE "
        f"/ (n{k}::DOUBLE * (n{k} - 1)::DOUBLE), 6) END AS phi "
        f"FROM ec CROSS JOIN nc"
        for k in RICH_CLUB_KS
    )
    return f"""
WITH {_PAIRS_SQL},
e AS (SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}),
adj AS (
  SELECT p1 AS a, p2 AS n FROM e UNION ALL SELECT p2, p1 FROM e
),
deg AS (SELECT a, COUNT(*)::BIGINT AS deg FROM adj GROUP BY a),
ec AS (
  SELECT {ecols}
  FROM e JOIN deg d1 ON e.p1 = d1.a JOIN deg d2 ON e.p2 = d2.a
),
nc AS (SELECT {ncols} FROM deg)
SELECT * FROM ({rows}) ORDER BY k
"""


# --- materialized oracle twin for the sf1 sweep (VERDICT r8 item 2) ---------
#
# The rich-club CTE form re-derives the co-purchase pair frame (pc —
# quadratic in basket size) once per inlined reference: e feeds adj
# twice, ec once, and deg flows into ec twice and nc once.  The mat
# twin builds the thresholded edge list and degree table ONCE as temp
# tables; every aggregate after that is metadata-scale.  Same integer
# counts into the same float expression => cell-identical; pinned
# against the plain oracle at sf0.01.


def _rich_club_mat() -> list[str]:
    ecols = ", ".join(
        f"CAST(SUM(CASE WHEN d1.deg > {k} AND d2.deg > {k} THEN 1 ELSE 0 "
        f"END) AS BIGINT) AS e{k}"
        for k in RICH_CLUB_KS
    )
    ncols = ", ".join(
        f"CAST(SUM(CASE WHEN deg > {k} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n{k}"
        for k in RICH_CLUB_KS
    )
    rows = " UNION ALL ".join(
        f"SELECT {k}::BIGINT AS k, n{k} AS n_nodes, e{k} AS n_edges, "
        f"CASE WHEN n{k} >= 2 THEN ROUND(2.0 * e{k}::DOUBLE "
        f"/ (n{k}::DOUBLE * (n{k} - 1)::DOUBLE), 6) END AS phi "
        f"FROM mat_ec CROSS JOIN mat_nc"
        for k in RICH_CLUB_KS
    )
    return [
        f"CREATE OR REPLACE TEMP TABLE mat_e AS WITH {_PAIRS_SQL} "
        f"SELECT p1, p2 FROM pc WHERE pair_orders >= {MIN_PAIR_ORDERS}",
        "CREATE OR REPLACE TEMP TABLE mat_deg AS "
        "SELECT a, COUNT(*)::BIGINT AS deg FROM ("
        "SELECT p1 AS a FROM mat_e UNION ALL SELECT p2 FROM mat_e"
        ") adj GROUP BY a",
        f"CREATE OR REPLACE TEMP TABLE mat_ec AS SELECT {ecols} "
        f"FROM mat_e e JOIN mat_deg d1 ON e.p1 = d1.a "
        f"JOIN mat_deg d2 ON e.p2 = d2.a",
        f"CREATE OR REPLACE TEMP TABLE mat_nc AS SELECT {ncols} FROM mat_deg",
        f"SELECT * FROM ({rows}) ORDER BY k",
    ]


# family "basket": every query here rides this module's cached basket
# index
QUERIES = {
    "bi_basket_lift": Query(basket_pair_lift, _BASKET_SQL, family="basket"),
    "graph_triangles": Query(graph_triangles, _TRI_SQL, family="basket"),
    "graph_degree_stats": Query(degree_stats, _DEGREE_SQL, family="basket"),
    "graph_jaccard_neighbors": Query(
        jaccard_neighbors, _JACCARD_SQL, family="basket"
    ),
    "graph_resource_allocation": Query(
        resource_allocation, _RA_SQL, family="basket"
    ),
    "graph_clustering_coeff": Query(
        clustering_coeff, _CLUSTERING_SQL, family="basket"
    ),
    "graph_pref_attachment": Query(pref_attachment, _PA_SQL, family="basket"),
    "graph_assortativity": Query(assortativity, _ASSORT_SQL, family="basket"),
    "graph_rich_club": Query(
        rich_club, _rich_club_sql(), mat=_rich_club_mat(), family="basket"
    ),
}
