"""ML module — the reference's MLlib batch pipeline
(MlLibNyTaxiExamples.scala) on pyspark.ml + exact-statistics queries:

  A7  column statistics   Statistics.colStats (:79-87) -> exact
      sufficient-statistics query (count/mean/min/max/L1/L2/nnz/
      variance), oracle-verified; Summarizer offers the ml-API form
  A8  Pearson correlation Statistics.corr (:75-76) -> exact pairwise
      formula from quantized sums (oracle-verified); pyspark.ml
      Correlation.corr for the MLlib-parity API
  A9  KMeans              KMeans.train (:69-72) -> pyspark.ml KMeans
      (seeded) over the embeddings table
  A10 decision tree       DecisionTree.trainClassifier (:117-118) ->
      DecisionTreeClassifier (gini, depth 5, seeded 70/30 split,
      MlLibNyTaxiExamples.scala:103,108)

Exact statistics are computed from quantized integer sums (see
functions.scalars) so mean/variance/correlation are bit-identical to
the DuckDB oracle at any parallelism — MLlib's own accumulation order
would not be.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.scalars import quantize
from ..functions.vectors import sq_l2
from ..planmemo import session_memo
from ..plans.hints import maybe_broadcast
from ..registry import Query

FEATURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

# Product terms need per-pair quantization scales: extendedprice^2 is ~1e10
# per row (1e4 scale would overflow the BIGINT sum over enough rows), while
# discount^2 is ~1e-3 (scale 100 would quantize it to garbage).
def _pscale(a: str, b: str) -> float:
    return 100.0 if a == b == "l_extendedprice" else 10000.0


def _quantp(c, scale: float):
    # decimal(38,0) accumulator, NOT long: product terms (extendedprice^2
    # * scale ~1e12/row) overflow an int64 sum near 60M rows — ml_correlation
    # crashed the first full sf10 sweep exactly there.  DuckDB's SUM(BIGINT)
    # widens to HUGEINT (128-bit) automatically, so the decimal sum is the
    # faithful Spark mirror; the quantized value itself is an exact integer
    # either way and the final ::DOUBLE conversion agrees bit-for-bit.
    return F.floor(c * F.lit(scale) + F.lit(0.5)).cast("decimal(38,0)")


def _sums(df: DataFrame, cols: list[str]) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs += [
            F.sum(quantize(F.col(c)).cast("decimal(38,0)"))
            .cast("double").alias(f"s1_{c}"),
            F.sum(_quantp(F.col(c) * F.col(c), _pscale(c, c))).cast("double").alias(f"s2_{c}"),
            F.sum(quantize(F.abs(F.col(c))).cast("decimal(38,0)"))
            .cast("double").alias(f"l1_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.sum(F.when(F.col(c) != 0, 1).otherwise(0))
            .cast("long")
            .alias(f"nnz_{c}"),
        ]
    return df.agg(*aggs)


def col_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — one row per feature column with the colStats battery."""
    li = load_table(spark, sf_dir, "lineitem")
    s = _sums(li, FEATURES)
    rows = []
    for c in FEATURES:
        q = F.lit(10000.0)
        s1, s2 = F.col(f"s1_{c}") / q, F.col(f"s2_{c}") / F.lit(_pscale(c, c))
        n = F.col("n").cast("double")
        mean = s1 / n
        rows.append(
            F.struct(
                F.lit(c).alias("feature"),
                F.col("n").alias("count"),
                mean.alias("mean"),
                F.col(f"min_{c}").alias("min"),
                F.col(f"max_{c}").alias("max"),
                (F.col(f"l1_{c}") / q).alias("norm_l1"),
                F.sqrt(s2).alias("norm_l2"),
                F.col(f"nnz_{c}").alias("num_nonzeros"),
                ((s2 - s1 * s1 / n) / (n - 1)).alias("variance"),
            )
        )
    return s.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def _colstats_sql() -> str:
    parts = []
    for c in FEATURES:
        s1 = f"(SUM(CAST(FLOOR({c} * 10000.0 + 0.5) AS BIGINT))::DOUBLE / 10000.0)"
        s2 = f"(SUM(CAST(FLOOR(({c} * {c}) * {_pscale(c, c)} + 0.5) AS BIGINT))::DOUBLE / {_pscale(c, c)})"
        l1 = f"(SUM(CAST(FLOOR(abs({c}) * 10000.0 + 0.5) AS BIGINT))::DOUBLE / 10000.0)"
        parts.append(
            f"""SELECT '{c}' AS feature, COUNT(*) AS count,
  {s1} / COUNT(*)::DOUBLE AS mean,
  MIN({c}) AS min, MAX({c}) AS max,
  {l1} AS norm_l1, sqrt({s2}) AS norm_l2,
  CAST(SUM(CASE WHEN {c} <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS num_nonzeros,
  ({s2} - {s1} * {s1} / COUNT(*)::DOUBLE) / (COUNT(*)::DOUBLE - 1) AS variance
FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


def correlation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — Pearson correlation for every feature pair, from quantized
    sums (exact, order-free)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in FEATURES:
        aggs.append(
            F.sum(quantize(F.col(c)).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"s_{c}")
        )
        aggs.append(
            F.sum(_quantp(F.col(c) * F.col(c), _pscale(c, c)))
            .cast("double")
            .alias(f"ss_{c}")
        )
    for i, a in enumerate(FEATURES):
        for b in FEATURES[i + 1 :]:
            aggs.append(
                F.sum(_quantp(F.col(a) * F.col(b), _pscale(a, b)))
                .cast("double")
                .alias(f"sp_{a}__{b}")
            )
    s = li.agg(*aggs)
    n = F.col("n").cast("double")
    q = F.lit(10000.0)
    out = []
    for i, a in enumerate(FEATURES):
        for b in FEATURES[i + 1 :]:
            sa, sb = F.col(f"s_{a}") / q, F.col(f"s_{b}") / q
            ssa = F.col(f"ss_{a}") / F.lit(_pscale(a, a))
            ssb = F.col(f"ss_{b}") / F.lit(_pscale(b, b))
            sab = F.col(f"sp_{a}__{b}") / F.lit(_pscale(a, b))
            corr = (n * sab - sa * sb) / (
                F.sqrt(n * ssa - sa * sa) * F.sqrt(n * ssb - sb * sb)
            )
            out.append(
                F.struct(
                    F.lit(a).alias("feature_a"),
                    F.lit(b).alias("feature_b"),
                    corr.alias("pearson"),
                )
            )
    return s.select(F.explode(F.array(*out)).alias("r")).select("r.*")


def _corr_sql() -> str:
    def s(c):
        return f"(SUM(CAST(FLOOR({c} * 10000.0 + 0.5) AS BIGINT))::DOUBLE / 10000.0)"

    def sp(a, b):
        return (
            f"(SUM(CAST(FLOOR(({a} * {b}) * {_pscale(a, b)} + 0.5) AS BIGINT))"
            f"::DOUBLE / {_pscale(a, b)})"
        )

    parts = []
    for i, a in enumerate(FEATURES):
        for b in FEATURES[i + 1 :]:
            n = "COUNT(*)::DOUBLE"
            parts.append(
                f"""SELECT '{a}' AS feature_a, '{b}' AS feature_b,
  ({n} * {sp(a, b)} - {s(a)} * {s(b)}) /
  (sqrt({n} * {sp(a, a)} - {s(a)} * {s(a)}) *
   sqrt({n} * {sp(b, b)} - {s(b)} * {s(b)})) AS pearson
FROM lineitem"""
            )
    return "\nUNION ALL\n".join(parts)


# --- exact quantized Lloyd's k-means (oracle-verified) ---------------------
#
# The reference's KMeans.train (MlLibNyTaxiExamples.scala:69-72) is
# iterative and accumulation-order-dependent, so MLlib output can never
# hash-match a SQL oracle.  This twin runs the SAME algorithm shape —
# Lloyd's iterations, each one scan + a partial aggregate per cluster —
# over quantized-integer vectors, making every step exact integer (or
# single-rounding IEEE) arithmetic that DuckDB reproduces bit-for-bit:
#   * components quantized floor(x*1e4 + 0.5) -> BIGINT
#   * distances: integer sums of squared diffs (max ~7e9, no overflow)
#   * assignment tie-break: smallest cluster id
#   * centroid update: floor(sum/n + 0.5) — sum,n exact ints < 2^53, so
#     the one double division rounds identically in both engines
# Scale shape: each iteration is scan -> map-side partial agg -> k rows
# to the driver (metadata-scale collect), exactly how distributed
# k-means is built on 1000 executors; cluster count never touches the
# shuffle width.

K_CLUSTERS = 8
KMEANS_ITERS = 4
EMB_DIM = 64
_QS = 10000.0


def _qvec():
    return F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(_QS) + F.lit(0.5)).cast(
            "long"
        ),
    )


def _cdf_of(spark: SparkSession, c: list) -> DataFrame:
    """Centroids as ONE broadcastable row holding an array of
    (cid, vector), not as literals: the iteration plan keeps the same
    generated code every pass (codegen cache hit; literal-embedded
    centroids recompiled ~1.5 s/pass measured at sf0.1).  Every call
    builds a new row; the fitted rows that queries share are built once
    per session by the vector index (operators.similarity)."""
    return spark.createDataFrame(
        [([(i, cv) for i, cv in c],)],
        "cents array<struct<cid:int, cv:array<bigint>>>",
    )


def assign_nearest(q: DataFrame, cdf: DataFrame) -> DataFrame:
    """`q` (vec_id, qv) + broadcast centroid row -> adds `cid` of the
    nearest centroid (squared L2 over quantized ints, ties to the
    smallest cid).  A pure per-row fold — no shuffle.  Shared between
    kmeans passes and the IVF coarse quantizer in operators.similarity."""
    init = F.struct(
        F.lit(int(4e18)).cast("long").alias("d"),
        F.lit(-1).cast("int").alias("cid"),
    )
    best = F.aggregate(
        F.col("cents"),
        init,
        # least() on (d, cid) structs == ORDER BY dist, cid
        lambda acc, c: F.least(
            acc,
            F.struct(sq_l2("qv", c["cv"]).alias("d"), c["cid"].alias("cid")),
        ),
    )
    return q.join(F.broadcast(cdf)).withColumn("cid", best["cid"])


def _agg_pass(q: DataFrame, cdf: DataFrame) -> dict:
    """One Lloyd's aggregate: posexplode the vector and sum per
    (cid, pos) — a 2-column codegen aggregate over (k x dim) groups
    instead of a dim-wide one.  Same exact integer sums, but the narrow
    expression tree compiles ~2 s faster on first run, and EVERY pass
    (including the final one) reuses this single plan shape, so
    whole-stage codegen compiles once for the whole loop.  Returns
    {cid: {"n": size, "s": {pos: sum}}} for the non-empty clusters."""
    rows = (
        assign_nearest(q, cdf)
        .select("cid", F.posexplode("qv").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    )
    got: dict = {}
    for r in rows:
        e = got.setdefault(r["cid"], {"n": r["n"], "s": {}})
        e["s"][r["pos"]] = r["s"]
    return got


# Source files that shape a frame whose fit is persisted: this module
# (the Lloyd's fit), similarity.py (the vector index: the corpus
# frame, the _ivfbase subset, the _pq/_rpq subspace and residual
# slices) and dedup.py (SemDeDup's corpus-adaptive k).  An edit to any
# of them refits: PQ ADC lookups depend on centroid order (cid == list
# index), so a fit written by older code must never be served.
_CENTROID_SOURCES = tuple(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), f)
    for f in ("ml.py", "similarity.py", "dedup.py")
)


def fit_centroids(
    spark: SparkSession, q: DataFrame, k: int, iters: int
) -> list:
    """Deterministic Lloyd's fit over a (vec_id, qv) frame: init = first
    k vectors by vec_id, then iters-1 update passes.  Returns the final
    centroid list [(cid, [ints])] — metadata-scale.  `q` is cached for
    the passes and unpersisted after them, so nothing of a fit stays
    registered.  The fits queries share are persisted and memoized by
    the vector index (operators.similarity)."""
    import math

    q = q.cache()
    try:
        cents = [
            (i, [int(v) for v in r.qv])
            for i, r in enumerate(q.orderBy("vec_id").limit(k).collect())
        ]
        # an undersized table yields len(cents) < k: iterate over the
        # centroids that EXIST — range(k) would index past the init list
        for _ in range(iters - 1 if cents else 0):
            got = _agg_pass(q, _cdf_of(spark, cents))
            cents = [
                (
                    i,
                    [
                        int(math.floor(got[i]["s"][j] / got[i]["n"] + 0.5))
                        for j in range(len(cv))
                    ],
                )
                if i in got
                else (i, cv)  # empty cluster keeps its centroid
                for i, cv in cents
            ]
    finally:
        q.unpersist()
    return cents


def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — deterministic Lloyd's over the embeddings table; returns
    (cluster_id, cluster_size, centroid_l1) per non-empty cluster.  The
    fit is the vector index's coarse quantizer."""
    import math

    from .similarity import coarse_row

    emb = load_table(spark, sf_dir, "embeddings")
    # final pass reuses the same aggregate plan; the k-row summary
    # (sizes + centroid L1) is finalized on the driver — metadata-scale,
    # like the centroid updates themselves
    got = _agg_pass(
        emb.select("vec_id", _qvec().alias("qv")), coarse_row(spark, sf_dir)
    )
    out_rows = [
        (
            int(i),
            int(got[i]["n"]),
            int(
                sum(
                    abs(int(math.floor(got[i]["s"][j] / got[i]["n"] + 0.5)))
                    for j in range(EMB_DIM)
                )
            ),
        )
        for i in sorted(got)
    ]
    return spark.createDataFrame(
        out_rows, "cluster_id int, cluster_size long, centroid_l1 long"
    )


def centroid_ctes_sliced(
    prefix: str,
    lo: int,
    dim: int,
    k: int | str,
    iters: int,
    where: str = "",
    source_sql: str | None = None,
    materialize: tuple = (),
) -> list:
    """DuckDB CTE chain reproducing fit_centroids bit-for-bit over the
    embedding slice [lo, lo+dim) — names prefixed so several chains
    (one per PQ subspace) compose in one WITH.  No leading WITH; the
    caller joins and prepends.  `{prefix}q` = quantized slice,
    `{prefix}c{iters-1}` = final centroids, `{prefix}af` = final
    nearest-centroid assignment.  `where` filters the FIT population
    (e.g. the incremental-ANN base corpus); assignments in
    `{prefix}af` cover only that population — callers assigning a
    wider set join `{prefix}c{iters-1}` themselves.  `source_sql`
    replaces the default embeddings-table quantization as the `{p}q`
    body — it must yield (vec_id, q0..q{dim-1}) already in quantized
    BIGINT units (the residual-PQ chains fit on computed residual
    columns, not on a stored table).  `materialize` lists unprefixed
    CTE names ('af', 'c2', ...) to emit AS MATERIALIZED — a DuckDB
    execution hint only (results identical); deep consumers like the
    IVFADC serve re-reference the chain enough times that pure
    inlining explodes the plan (observed OOM).  `k` may be a SQL
    expression string (e.g. a COUNT(*)-derived scalar subquery) —
    DuckDB accepts expressions in LIMIT — for corpus-adaptive cluster
    counts (the SemDeDup oracle); int k embeds as a literal."""
    qs = ", ".join(
        f"CAST(FLOOR(embedding[{lo + j + 1}]::DOUBLE * 10000.0 + 0.5) "
        f"AS BIGINT) AS q{j}"
        for j in range(dim)
    )
    qnames = ", ".join(f"q{j}" for j in range(dim))
    ccols = ", ".join(f"q{j} AS c{j}" for j in range(dim))
    dist = " + ".join(
        f"(q.q{j} - c.c{j}) * (q.q{j} - c.c{j})" for j in range(dim)
    )
    upd = ", ".join(
        f"CAST(FLOOR(SUM(q{j})::DOUBLE / COUNT(*) + 0.5) AS BIGINT) AS c{j}"
        for j in range(dim)
    )
    coal = ", ".join(f"COALESCE(u.c{j}, p.c{j}) AS c{j}" for j in range(dim))
    p = prefix

    def _mat(name: str) -> str:
        return " MATERIALIZED" if name in materialize else ""

    def assign_cte(name: str, cent: str) -> str:
        return (
            f"{p}{name} AS{_mat(name)} (SELECT vec_id, {qnames}, cid FROM ("
            f"SELECT q.*, c.cid, ROW_NUMBER() OVER ("
            f"PARTITION BY q.vec_id ORDER BY {dist}, c.cid) AS rn "
            f"FROM {p}q q, {p}{cent} c) WHERE rn = 1)"
        )

    q_body = (
        source_sql
        if source_sql is not None
        else f"SELECT vec_id, {qs} FROM embeddings"
        f"{' WHERE ' + where if where else ''}"
    )
    ctes = [
        f"{p}q AS ({q_body})",
        f"{p}c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, "
        f"{ccols} FROM (SELECT * FROM {p}q ORDER BY vec_id LIMIT {k}))",
    ]
    for t in range(1, iters):
        ctes.append(assign_cte(f"a{t}", f"c{t - 1}"))
        ctes.append(
            f"{p}u{t} AS (SELECT cid, {upd} FROM {p}a{t} GROUP BY cid)"
        )
        ctes.append(
            f"{p}c{t} AS{_mat(f'c{t}')} (SELECT p.cid, {coal} "
            f"FROM {p}c{t - 1} p LEFT JOIN {p}u{t} u USING (cid))"
        )
    ctes.append(assign_cte("af", f"c{iters - 1}"))
    return ctes


def centroid_ctes(
    k: int | str = K_CLUSTERS, iters: int = KMEANS_ITERS
) -> list:
    """DuckDB CTE chain reproducing fit_centroids bit-for-bit: `q` =
    quantized vectors, `c{iters-1}` = final centroids, `af` = final
    nearest-centroid assignment of every vector.  Shared by the kmeans
    oracle and the IVF oracle in operators.similarity."""
    ctes = centroid_ctes_sliced("", 0, EMB_DIM, k, iters)
    return ["WITH " + ctes[0]] + ctes[1:]


def _kmeans_sql(k: int = K_CLUSTERS, iters: int = KMEANS_ITERS) -> str:
    ctes = centroid_ctes(k, iters)
    d = EMB_DIM
    l1 = " + ".join(
        f"abs(CAST(FLOOR(SUM(q{j})::DOUBLE / COUNT(*) + 0.5) AS BIGINT))"
        for j in range(d)
    )
    return (
        ",\n".join(ctes)
        + f"\nSELECT CAST(cid AS INTEGER) AS cluster_id, "
        f"COUNT(*) AS cluster_size, {l1} AS centroid_l1 FROM af GROUP BY cid"
    )


# --- exact CART splits (oracle-verified) -----------------------------------
#
# The reference's DecisionTree.trainClassifier
# (MlLibNyTaxiExamples.scala:117-118) has order-dependent impurity
# accumulation and RNG-dependent binning, so its fitted tree cannot
# hash-match a SQL oracle.  This twin runs the CART recurrence itself —
# greedy best-gini split per node, level by level — deterministically:
#   * features quantized floor(x*1e4+0.5) -> BIGINT (exact)
#   * candidate thresholds: a global 16-cell grid between each
#     feature's min/max (grid arithmetic = one double mult+div on
#     integer-valued doubles < 2^53: identical in both engines)
#   * split score = sum of per-child (pos^2 + neg^2)/n  (maximizing it
#     minimizes weighted gini); products are exact BIGINTs < 2^53, the
#     two divisions round identically in IEEE double
#   * ties: lowest feature index, then lowest threshold index
#   * a node splits only if impure (0 < pos < n) and both children
#     non-empty
# Scale shape (r14): every split predicate is "q_f < thr_{f,i}", which
# over the fixed global grid is exactly "cell_f < i" — so a row's node
# at EVERY level is a function of its (cell_0..cell_{nf-1}) tuple
# alone.  The whole fit therefore needs just TWO corpus passes total:
# the min/max aggregate that fixes the grid, then ONE contingency
# aggregate groupBy(cell_0..cell_{nf-1}) -> (count, sum(pos)) — at most
# TREE_CELLS**nf = 65,536 rows regardless of corpus size — and the
# level loop (histograms, candidate ranking, routing) replays
# driver-side on those metadata-scale exact integers.  The r13 shape
# paid depth x (one corpus histogram pass + a localCheckpoint
# materialization of the routed frame); same splits, same arithmetic.
# No per-row Python, no row blowup.

TREE_DEPTH = 3
TREE_CELLS = 16
_TQS = 10000.0


def _tree_thresholds(qmin: dict, qmax: dict) -> list[tuple[int, str, int, int]]:
    """(fidx, feature, i, thr) for i in 1..TREE_CELLS-1; thr exact."""
    import math

    out = []
    for fidx, f in enumerate(FEATURES):
        lo, hi = qmin[f], qmax[f]
        for i in range(1, TREE_CELLS):
            thr = lo + int(math.floor((hi - lo) * i / float(TREE_CELLS)))
            out.append((fidx, f, i, thr))
    return out


def decision_tree_exact(
    spark: SparkSession, sf_dir: str, depth: int = TREE_DEPTH
) -> DataFrame:
    """A10 — deterministic greedy CART splits predicting
    l_returnflag == 'R'; one row per internal node:
    (node, depth, feature, thr_q, n, pos, n_left, pos_left).

    Contingency-table strategy (r14; see the module comment): node
    membership at every level is a function of the per-feature grid
    cells alone, so the fit is min/max (fixes the grid) + ONE
    contingency aggregate over (cell_0..cell_{nf-1}) — bounded by
    TREE_CELLS**nf = 65,536 rows at ANY corpus size — and the level
    loop (histogram, 60-candidate argmax, routing) replays driver-side
    on those exact integer counts.  Arithmetic is unchanged from the
    per-level-pass r13 shape (integer sums are associative; the ranking
    loop is byte-identical), so the splits — and the SQL twin — match
    bit-for-bit.  The r13 shape (depth x one corpus pass + a
    localCheckpoint materialization of the routed frame per level) was
    measured 4.4-5.7 s at sf0.1; a naive
    120-aggregate-expressions-per-node formulation earlier cost ~8 s of
    codegen compile alone.
    """
    li = load_table(spark, sf_dir, "lineitem")
    nf = len(FEATURES)
    qcols = [
        F.floor(F.col(f) * F.lit(_TQS) + F.lit(0.5))
        .cast("long")
        .alias(f"q{j}")
        for j, f in enumerate(FEATURES)
    ]
    # no .cache(): the frame is scanned exactly twice (min/max, then
    # the contingency aggregate), both column-pruned parquet passes —
    # cheaper than a cache write + two cached reads, and the right
    # 100 TB shape
    data = li.select(
        *qcols,
        (F.col("l_returnflag") == "R").cast("long").alias("pos"),
    )

    mm = data.agg(
        *[F.min(f"q{j}").alias(f"mn{j}") for j in range(nf)],
        *[F.max(f"q{j}").alias(f"mx{j}") for j in range(nf)],
    ).collect()[0]
    cands = _tree_thresholds(
        {f: mm[f"mn{j}"] for j, f in enumerate(FEATURES)},
        {f: mm[f"mx{j}"] for j, f in enumerate(FEATURES)},
    )
    thr_of = {(fidx, i): thr for fidx, _f, i, thr in cands}

    # cell = #thresholds <= q; thresholds are non-decreasing in i, so
    # "q < thr_i" == "cell < i" (holds under duplicate thresholds too:
    # cell is the largest m with thr_m <= q, and q < thr_i iff i > m).
    #
    # Computed in CLOSED FORM, not as a 15-comparison chain: thr_i =
    # lo + floor(d*i/C) with d = hi-lo (exact — C is a power of two, so
    # the float division in _tree_thresholds never rounds), and
    #   thr_i <= q  <=>  floor(d*i/C) <= q-lo  <=>  d*i/C < q-lo+1
    #               <=>  i <= ceil(C*(q-lo+1)/d) - 1,
    # so cell = clamp((C*(q-lo+1) + d-1) DIV d - 1, 0, C-1); d = 0
    # degenerates to cell = C-1 (every thr_i = lo <= q).  Equivalence
    # brute-forced over 400k random + exhaustive small (lo, hi, q)
    # configs.  WHY: four 15-comparison chains as aggregate grouping
    # keys pushed the generated update method past the JIT's huge-
    # method limit and the whole stage ran INTERPRETED — the
    # contingency aggregate measured 6-8 s at sf1 vs 1.5 s for
    # arithmetic keys of the same cardinality (guide §1.2 step 2).
    # No intermediate exceeds C*(d+1)+d — far inside BIGINT.
    def cell(fidx: int):
        qmn = mm[f"mn{fidx}"]
        d = mm[f"mx{fidx}"] - qmn
        if d == 0:
            return F.lit(TREE_CELLS - 1)
        return F.greatest(
            F.lit(0),
            F.least(
                F.lit(TREE_CELLS - 1),
                F.expr(
                    f"({TREE_CELLS} * (q{fidx} - {qmn} + 1) + {d - 1}) "
                    f"DIV {d} - 1"
                ),
            ),
        ).cast("int")

    # the ONE corpus-scale histogram pass: exact (count, sum(pos)) per
    # cell tuple, fetched via Arrow (toPandas) — metadata-scale by the
    # TREE_CELLS**nf bound
    ct = (
        data.groupBy(*[cell(j).alias(f"c{j}") for j in range(nf)])
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("p"))
        .toPandas()
    )
    combos: list[tuple[tuple, int, int, int]] = [
        (tuple(int(r[j]) for j in range(nf)), int(r[nf]), int(r[nf + 1]), 1)
        for r in ct.itertuples(index=False)
    ]  # (cells, count, pos, current node)

    splits: dict[int, tuple] = {}  # node -> (fidx, i, n, pos, nl, pl)
    for lvl in range(depth):
        # per-(node, feature, cell) histogram from the contingency
        # table — the same exact integers the per-level corpus pass
        # produced (integer addition is associative)
        by_node: dict[int, dict] = {}
        for cells_k, n_k, p_k, node_k in combos:
            d = by_node.setdefault(node_k, {})
            for fidx in range(nf):
                key = (fidx, cells_k[fidx])
                cn, cp = d.get(key, (0, 0))
                d[key] = (cn + n_k, cp + p_k)
        new_splits: dict[int, tuple] = {}
        # exact driver-side candidate ranking over metadata-scale counts
        for node, cells in sorted(by_node.items()):
            n = sum(v[0] for (fi, _c), v in cells.items() if fi == 0)
            pos = sum(v[1] for (fi, _c), v in cells.items() if fi == 0)
            if not (0 < pos < n):
                continue  # pure node: no split
            best = None
            for fidx in range(nf):
                ordered = sorted(
                    (c, v) for (fi, c), v in cells.items() if fi == fidx
                )
                for i in range(1, TREE_CELLS):
                    # cumulative over cells < i
                    nl = pl = 0
                    for c, (cn, cp) in ordered:
                        if c < i:
                            nl, pl = nl + cn, pl + cp
                    nr, pr = n - nl, pos - pl
                    if nl == 0 or nr == 0:
                        continue
                    # identical expression tree to the SQL twin: two
                    # integer-exact divisions + one double add
                    score = (pl * pl + (nl - pl) * (nl - pl)) / nl + (
                        pr * pr + (nr - pr) * (nr - pr)
                    ) / nr
                    key = (-score, fidx, i)
                    if best is None or key < best[0]:
                        best = (key, (fidx, i, n, pos, nl, pl))
            if best is not None and node not in splits:
                new_splits[node] = best[1]
        splits.update(new_splits)

        if lvl < depth - 1 and new_splits:
            # route combos of this level's split nodes to their
            # children ("q < thr_i" == "cell < i"); combos in unsplit
            # (leaf) nodes keep their node id — byte-identical routing
            # to the r13 broadcast-join CASE, applied to cell tuples
            combos = [
                (
                    cells_k,
                    n_k,
                    p_k,
                    (
                        node_k * 2
                        + (0 if cells_k[new_splits[node_k][0]]
                           < new_splits[node_k][1] else 1)
                        if node_k in new_splits
                        else node_k
                    ),
                )
                for cells_k, n_k, p_k, node_k in combos
            ]

    rows = [
        (
            node,
            node.bit_length() - 1,  # node 1 -> depth 0, 2..3 -> 1, 4..7 -> 2
            FEATURES[fidx],
            thr_of[(fidx, i)],
            n,
            pos,
            nl,
            pl,
        )
        for node, (fidx, i, n, pos, nl, pl) in sorted(splits.items())
    ]
    return spark.createDataFrame(
        rows,
        "node int, depth int, feature string, thr_q bigint, n bigint, "
        "pos bigint, n_left bigint, pos_left bigint",
    )


def _tree_sql(depth: int = TREE_DEPTH) -> str:
    nf = len(FEATURES)
    qs = ", ".join(
        f"CAST(FLOOR({f} * 10000.0 + 0.5) AS BIGINT) AS q{j}"
        for j, f in enumerate(FEATURES)
    )
    qnames = ", ".join(f"q{j}" for j in range(nf))
    fvals = ", ".join(
        f"({j}, '{f}')" for j, f in enumerate(FEATURES)
    )
    ivals = ", ".join(f"({i})" for i in range(1, TREE_CELLS))
    thr_case = "CASE f.fidx " + " ".join(
        f"WHEN {j} THEN st.mn{j} + CAST(FLOOR((st.mx{j} - st.mn{j}) * i.i "
        f"/ {float(TREE_CELLS)}) AS BIGINT)"
        for j in range(nf)
    ) + " END"
    st_cols = ", ".join(
        f"MIN(q{j}) AS mn{j}, MAX(q{j}) AS mx{j}" for j in range(nf)
    )
    val = "CASE c.fidx " + " ".join(
        f"WHEN {j} THEN d.q{j}" for j in range(nf)
    ) + " END"
    sval = "CASE s.fidx " + " ".join(
        f"WHEN {j} THEN d.q{j}" for j in range(nf)
    ) + " END"

    def split_cte(name: str, dsrc: str) -> str:
        return f"""{name} AS (
  SELECT node, fidx, fname, thr, i, n, pos, nl, pl FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY node ORDER BY
      (pl*pl + (nl-pl)*(nl-pl))::DOUBLE / nl::DOUBLE +
      ((pos-pl)*(pos-pl) + ((n-nl)-(pos-pl))*((n-nl)-(pos-pl)))::DOUBLE
        / (n-nl)::DOUBLE DESC, fidx, i) AS rn
    FROM (
      SELECT d.node, c.fidx, c.fname, c.thr, c.i,
        COUNT(*) AS n, CAST(SUM(d.pos) AS BIGINT) AS pos,
        CAST(SUM(CASE WHEN {val} < c.thr THEN 1 ELSE 0 END) AS BIGINT) AS nl,
        CAST(SUM(CASE WHEN {val} < c.thr THEN d.pos ELSE 0 END) AS BIGINT) AS pl
      FROM {dsrc} d CROSS JOIN cand c
      GROUP BY 1, 2, 3, 4, 5)
    WHERE nl > 0 AND n - nl > 0 AND pos > 0 AND pos < n)
  WHERE rn = 1)"""

    ctes = [
        f"WITH d0 AS (SELECT {qs}, CASE WHEN l_returnflag = 'R' THEN 1 "
        "ELSE 0 END AS pos, 1 AS node FROM lineitem)",
        f"st AS (SELECT {st_cols} FROM d0)",
        f"cand AS (SELECT f.fidx, f.fname, i.i, {thr_case} AS thr "
        f"FROM (VALUES {fvals}) f(fidx, fname) "
        f"CROSS JOIN (VALUES {ivals}) i(i) CROSS JOIN st)",
    ]
    for lvl in range(depth):
        ctes.append(split_cte(f"s{lvl}", f"d{lvl}"))
        if lvl < depth - 1:
            ctes.append(
                f"d{lvl + 1} AS (SELECT {qnames}, d.pos, d.node * 2 + "
                f"CASE WHEN {sval} < s.thr THEN 0 ELSE 1 END AS node "
                f"FROM d{lvl} d JOIN s{lvl} s ON s.node = d.node)"
            )
    sel = " UNION ALL ".join(
        f"SELECT CAST(node AS INTEGER) AS node, {lvl} AS depth, "
        f"fname AS feature, thr AS thr_q, n, pos, nl AS n_left, "
        f"pl AS pos_left FROM s{lvl}"
        for lvl in range(depth)
    )
    return ",\n".join(ctes) + "\n" + sel


# --- pyspark.ml pipelines (seeded; validated by tests, rows-only gate) -----

SEED = 42


def kmeans_clusters(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """A9 — KMeans over the embedding column; returns cluster sizes."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # no fan_out: the corpus is small enough that 20 Lloyd iterations x
    # 32 tasks of scheduling overhead cost more than single-partition
    # compute (measured 2.2s vs 3.7s at sf0.1); at real scale the scan
    # arrives pre-partitioned
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(k=k, seed=SEED, maxIter=20).fit(emb)
    return (
        model.transform(emb)
        .groupBy("prediction")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )


def decision_tree_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — DecisionTreeClassifier (gini, depth 5) predicting
    l_returnflag == 'R' from the pricing features; returns the
    label x prediction confusion counts on a seeded 30% test split."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import VectorAssembler

    # fan_out: lineitem scans as ~3 partitions at bench SF; each tree
    # level is a full pass, so train on cluster-wide parallelism
    li = fan_out(load_table(spark, sf_dir, "lineitem")).withColumn(
        "label", (F.col("l_returnflag") == "R").cast("double")
    )
    va = VectorAssembler(inputCols=FEATURES, outputCol="features")
    data = va.transform(li).select("label", "features")
    train, test = data.randomSplit([0.7, 0.3], seed=SEED)
    # tree training is iterative (one pass per depth level); caching the
    # training split avoids re-reading + re-assembling parquet each pass
    train = train.cache()
    dt = DecisionTreeClassifier(
        impurity="gini", maxDepth=5, maxBins=32, seed=SEED
    )
    model = dt.fit(train)
    train.unpersist()
    return (
        model.transform(test)
        .groupBy("label", "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- per-key OLS trend (exact sufficient statistics) -----------------------
#
# Per-entity linear trend features (value vs hours since corpus start):
# the same closed-form-from-integer-sums recipe as correlation_pairs —
# x is a small exact int (hour offset <= ~720), y quantizes to 1e-4,
# every sufficient statistic is an exact BIGINT sum, and the two final
# divisions convert exact ints (< 2^53) to double identically in both
# engines.  Scale shape: one map-side-combined aggregate per key; the
# global min-hour rides in as a broadcast 1-row frame.


def group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) DIV 3600000000").alias("h"),
        quantize(F.col("value")).alias("qy"),
    )
    h0 = ev.agg(F.min("h").alias("h0"))
    d = ev.join(F.broadcast(h0)).select(
        "user_id", (F.col("h") - F.col("h0")).alias("x"), "qy"
    )
    g = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("qy")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_q = num.cast("double") / den.cast("double")
    slope = slope_q / F.lit(10000.0)
    intercept = (
        (F.col("sy").cast("double") - slope_q * F.col("sx").cast("double"))
        / F.col("n").cast("double")
        / F.lit(10000.0)
    )
    flat_mean = (
        F.col("sy").cast("double")
        / F.col("n").cast("double")
        / F.lit(10000.0)
    )
    return g.select(
        "user_id",
        "n",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(slope)
        .alias("slope_per_hour"),
        F.when(den == 0, flat_mean).otherwise(intercept).alias("intercept"),
    )


_OLS_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qy
  FROM events
),
b AS (SELECT MIN(h) AS h0 FROM e),
d AS (SELECT user_id, h - h0 AS x, qy FROM e, b),
g AS (
  SELECT user_id,
    COUNT(*)::BIGINT AS n,
    CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(qy) AS BIGINT) AS sy,
    CAST(SUM(x * x) AS BIGINT) AS sxx,
    CAST(SUM(x * qy) AS BIGINT) AS sxy
  FROM d GROUP BY user_id
)
SELECT user_id, n,
  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
       ELSE (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
            / 10000.0
  END AS slope_per_hour,
  CASE WHEN n * sxx - sx * sx = 0
       THEN sy::DOUBLE / n::DOUBLE / 10000.0
       ELSE (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
              / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
            / n::DOUBLE / 10000.0
  END AS intercept
FROM g
"""


Z_THRESH = 2.5  # |z| gate for the outlier report


def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outlier detection over event values — the
    keyed anomaly gate a feature pipeline runs before training on
    telemetry.  Mean and variance come from exact integer sufficient
    statistics (n, sum q, sum q^2 with q = value quantized to 1e-4);
    the variance subtraction, sqrt, and division are IEEE double ops
    evaluated in one fixed expression order, so DuckDB lands on the
    identical z bit for bit, and z is rounded to 6 dp for the gate and
    the report (the cross-engine float pattern).  One map-side-combined
    aggregate + one broadcastable stats join; nothing iterates."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", quantize(F.col("value")).alias("q")
    )
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    mean = F.col("sq").cast("double") / 10000.0 / F.col("n").cast("double")
    msq = (
        F.col("sqq").cast("double") / 100_000_000.0 / F.col("n").cast("double")
    )
    var = msq - mean * mean
    z = F.round(
        (F.col("value") - mean) / F.sqrt(var), 6
    )
    return (
        ev.join(stats, "user_id")
        .filter((F.col("n") >= 3) & (var > 0))
        .select(
            "user_id",
            "event_id",
            "value",
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > Z_THRESH)
    )


_ZSCORE_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, value,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS q
  FROM events
),
stats AS (
  SELECT user_id, COUNT(*) AS n, SUM(q) AS sq, SUM(q * q) AS sqq
  FROM ev GROUP BY user_id
),
j AS (
  SELECT user_id, event_id, value,
    sq::DOUBLE / 10000.0 / n::DOUBLE AS mean,
    sqq::DOUBLE / 100000000.0 / n::DOUBLE
      - (sq::DOUBLE / 10000.0 / n::DOUBLE)
        * (sq::DOUBLE / 10000.0 / n::DOUBLE) AS var,
    n
  FROM ev JOIN stats USING (user_id)
)
SELECT user_id, event_id, value,
  round((value - mean) / sqrt(var), 6) AS z
FROM j
WHERE n >= 3 AND var > 0 AND abs(round((value - mean) / sqrt(var), 6)) > {Z_THRESH}
"""


def class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights over the embedding labels —
    the reweighting a trainer applies to a skewed label distribution:
    w(label) = n_total / (n_classes * n_label), rounded to 6 dp.  One
    map-side-combined count plus a single-row broadcast of the
    totals."""
    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("k")
    )
    return counts.join(F.broadcast(totals)).select(
        "label",
        "n",
        F.round(
            F.col("n_total").cast("double")
            / (F.col("k").cast("double") * F.col("n").cast("double")),
            6,
        ).alias("weight"),
    )


_CLASSW_SQL = """
WITH c AS (SELECT label, COUNT(*)::BIGINT AS n FROM embeddings GROUP BY label),
t AS (SELECT SUM(n) AS n_total, COUNT(*) AS k FROM c)
SELECT label, n,
  round(n_total::DOUBLE / (k::DOUBLE * n::DOUBLE), 6) AS weight
FROM c, t
"""


HIST_BINS = 20


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event_type: bounds
    from ONE metadata-scale aggregate broadcast onto the scan, bin
    assignment a pure per-row expression (floor((v-lo)/width), top
    edge clamped), counts map-side combined.  The feature-distribution
    profile a pipeline renders before choosing normalizations."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / float(HIST_BINS)
    bin_ = F.least(
        F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
        F.lit(HIST_BINS - 1),
    )
    return (
        ev.join(F.broadcast(bounds))
        .select(
            "event_type",
            bin_.cast("long").alias("bin"),
            (F.col("lo") + bin_ * width).alias("bin_lo"),
        )
        .groupBy("event_type", "bin", "bin_lo")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "event_type", "bin", F.round("bin_lo", 6).alias("bin_lo"), "n"
        )
    )


_HIST_SQL = f"""
WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
a AS (
  SELECT event_type,
    LEAST(FLOOR((value - lo) / ((hi - lo) / {float(HIST_BINS)}))::INT,
          {HIST_BINS - 1}) AS bin,
    lo, (hi - lo) / {float(HIST_BINS)} AS width
  FROM events, b
)
SELECT event_type, bin::BIGINT AS bin,
  round(lo + bin * width, 6) AS bin_lo, COUNT(*)::BIGINT AS n
FROM a GROUP BY event_type, bin, lo + bin * width
"""


# ---------------------------------------------------------------------------
# AUC-ROC via exact rank statistics
# ---------------------------------------------------------------------------
#
# The Mann-Whitney identity makes AUC a pure counting problem:
# AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with R_pos the sum
# of average ranks of the positives.  Everything up to the final single
# division is EXACT integers: grouping by distinct score gives
# (n_g, pos_g) per score; the average rank of a tie group is
# before + (n_g+1)/2, so 2*R_pos = sum(pos_g * (2*before + n_g + 1))
# stays integral (the factor-2 trick) and order-independent.
#
# Scale shape: the prefix count `before` is a TWO-LEVEL prefix sum, not
# a global-order window (which would serialize the corpus through one
# partition): scores group into coarse buckets (floor(s)); per-bucket
# totals make a metadata-scale frame whose cumulative offsets broadcast
# back, and the fine window runs PARTITIONED by bucket.  This is the
# textbook distributed ranking construction — model scores at 100 TB
# bucket on score decile the same way.

AUC_POS_TYPE = "purchase"


def auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row exact AUC of `value` as a score for event_type ==
    'purchase': (n_pos, n_neg, n_scores, auc); ties handled by the
    average-rank (trapezoidal) convention."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.groupBy(F.col("value").alias("s"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(
                (F.col("event_type") == AUC_POS_TYPE).cast("long")
            ).cast("long").alias("pos_g"),
        )
        .withColumn("b", F.floor("s").cast("long"))
    )
    bt = g.groupBy("b").agg(F.sum("n_g").alias("t"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    off = bt.withColumn(
        "o", F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("long")
    ).select("b", "o")
    wl = (
        Window.partitionBy("b")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = g.join(F.broadcast(off), "b").withColumn(
        "before",
        F.col("o") + F.coalesce(F.sum("n_g").over(wl), F.lit(0)),
    )
    agg = ranked.agg(
        F.sum("pos_g").cast("long").alias("n_pos"),
        F.sum(F.col("n_g") - F.col("pos_g")).cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.sum(
            F.col("pos_g") * (2 * F.col("before") + F.col("n_g") + 1)
        ).cast("long").alias("two_r_pos"),
    )
    auc = (
        F.col("two_r_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    ).cast("double") / (
        2 * F.col("n_pos") * F.col("n_neg")
    ).cast("double")
    return agg.select("n_pos", "n_neg", "n_scores", auc.alias("auc"))


_AUC_SQL = f"""
WITH g AS (
  SELECT value AS s, COUNT(*)::BIGINT AS n_g,
    CAST(SUM(CASE WHEN event_type = '{AUC_POS_TYPE}' THEN 1 ELSE 0 END)
         AS BIGINT) AS pos_g,
    FLOOR(value)::BIGINT AS b
  FROM events GROUP BY value
),
off AS (
  SELECT b, COALESCE(SUM(t) OVER (
    ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ), 0)::BIGINT AS o
  FROM (SELECT b, SUM(n_g) AS t FROM g GROUP BY b)
),
ranked AS (
  SELECT g.*, o + COALESCE(SUM(n_g) OVER (
    PARTITION BY g.b ORDER BY s
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ), 0) AS before
  FROM g JOIN off ON g.b = off.b
),
a AS (
  SELECT CAST(SUM(pos_g) AS BIGINT) AS n_pos,
    CAST(SUM(n_g - pos_g) AS BIGINT) AS n_neg,
    COUNT(*)::BIGINT AS n_scores,
    CAST(SUM(pos_g * (2 * before + n_g + 1)) AS BIGINT) AS two_r_pos
  FROM ranked
)
SELECT n_pos, n_neg, n_scores,
  (two_r_pos - n_pos * (n_pos + 1))::DOUBLE
    / (2 * n_pos * n_neg)::DOUBLE AS auc
FROM a
"""


# ---------------------------------------------------------------------------
# covariance matrix of the embedding column (PCA / whitening prep)
# ---------------------------------------------------------------------------
#
# The d x d second-moment statistics PCA, whitening, and Mahalanobis
# gates start from.  The distributed part is ONE narrow pass: each
# vector explodes into its upper-triangle component pairs (d(d+1)/2
# terms, no join, no shuffle until the (i,j)-keyed aggregate, which
# map-side combines to d(d+1)/2 cells regardless of corpus size).
# Per-term products quantize to 1e-9 BIGINTs so the parallel sums are
# order-free; cov = E[xy] - E[x]E[y] is then fixed-order double
# arithmetic on exact inputs.  The eigen-step on the resulting 64x64
# matrix is driver/metadata-scale by construction.

COV_SCALE = 1e9


def covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance cells of the embedding components:
    (i, j, n_vecs, cov)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode("embedding").alias("i", "xi"),
        F.col("embedding").alias("e2"),
    )
    pairs = ex.select(
        "i", "xi", F.posexplode("e2").alias("j", "xj")
    ).filter(F.col("i") <= F.col("j"))
    q = F.floor(
        F.col("xi").cast("double") * F.col("xj").cast("double")
        * F.lit(COV_SCALE) + F.lit(0.5)
    ).cast("long")
    sxy = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(q).cast("long").alias("sxy_q"),
    )
    means = (
        emb.select(F.posexplode("embedding").alias("i", "xi"))
        .groupBy("i")
        .agg(
            F.sum(
                F.floor(
                    F.col("xi").cast("double") * F.lit(COV_SCALE)
                    + F.lit(0.5)
                ).cast("long")
            ).cast("long").alias("sx_q")
        )
    )
    mj = means.select(
        F.col("i").alias("j"), F.col("sx_q").alias("sy_q")
    )
    ex_mean = lambda c: (  # noqa: E731 — shared fixed-order expression
        F.col(c).cast("double") / F.lit(COV_SCALE)
        / F.col("n_vecs").cast("double")
    )
    return (
        sxy.join(F.broadcast(means), "i")
        .join(F.broadcast(mj), "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "n_vecs",
            (ex_mean("sxy_q") - ex_mean("sx_q") * ex_mean("sy_q"))
            .alias("cov"),
        )
    )


_COV_SQL = f"""
WITH g AS (SELECT embedding AS e FROM embeddings),
pairs AS (
  SELECT i, j,
    CAST(FLOOR(e[i + 1]::DOUBLE * e[j + 1]::DOUBLE * {COV_SCALE!r} + 0.5)
         AS BIGINT) AS q
  FROM g, unnest(range(0, len(e))) u(i), unnest(range(0, len(e))) v(j)
  WHERE i <= j
),
sxy AS (
  SELECT i, j, COUNT(*)::BIGINT AS n_vecs,
    CAST(SUM(q) AS BIGINT) AS sxy_q
  FROM pairs GROUP BY i, j
),
m AS (
  SELECT i,
    CAST(SUM(CAST(FLOOR(e[i + 1]::DOUBLE * {COV_SCALE!r} + 0.5) AS BIGINT))
         AS BIGINT) AS sx_q
  FROM g, unnest(range(0, len(e))) u(i) GROUP BY i
)
SELECT sxy.i::BIGINT AS i, sxy.j::BIGINT AS j, n_vecs,
  (sxy_q::DOUBLE / {COV_SCALE!r} / n_vecs::DOUBLE)
  - (mi.sx_q::DOUBLE / {COV_SCALE!r} / n_vecs::DOUBLE)
    * (mj.sx_q::DOUBLE / {COV_SCALE!r} / n_vecs::DOUBLE) AS cov
FROM sxy
JOIN m mi ON sxy.i = mi.i
JOIN m mj ON sxy.j = mj.i
"""


# ---------------------------------------------------------------------------
# Naive Bayes — exact count-based classifier with Laplace smoothing
# ---------------------------------------------------------------------------
#
# Train a categorical NB model on the event log (class = event_type;
# features = hour-of-day quadrant, day-of-week, value bucket), score
# every event in-sample, and report the confusion matrix — the
# classifier whose "training" is literally a group-by, which is why it
# belongs in a SQL engine.  Exactness follows the bigram-surprisal
# discipline: every probability is a single division of exact integer
# counts (identical bits cross-engine), ln matches libm bitwise on
# identical inputs, and each log-term is quantized to a 1e-9 BIGINT
# before the per-(event, class) sum, so the score is an integer and
# argmax ties are decidable (tie-break on class name).
#
# Scale shape: the model IS three tiny group-by frames (classes x
# feature values) + the priors — kilobytes, broadcast everywhere.
# Scoring expands each event by |classes| (a bounded constant) and
# resolves each feature with a broadcast left join; the argmax is one
# per-event window over |classes| rows; the confusion matrix is a
# final |classes|^2 aggregate.  One scan, no big shuffle beyond the
# event-keyed argmax (which co-partitions with the expansion).

NB_VAL_BUCKET = 50.0
NB_VAL_MAX_BIN = 9


def _nb_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_type").alias("actual"),
        F.expr("hour(ts) div 6").cast("long").alias("f_hour"),
        F.dayofweek("ts").cast("long").alias("f_dow"),
        F.least(
            F.floor(F.col("value") / F.lit(NB_VAL_BUCKET)),
            F.lit(NB_VAL_MAX_BIN).cast("long"),
        ).alias("f_val"),
    )


def naive_bayes_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(actual, predicted, n_events) — in-sample confusion matrix of a
    Laplace-smoothed categorical NB predicting event_type."""
    feats = _nb_features(spark, sf_dir).cache()
    classes = feats.groupBy(F.col("actual").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    totals = feats.agg(F.count(F.lit(1)).cast("long").alias("n_total"))

    def _lnq(num, den):
        return F.floor(
            F.log(num.cast("double") / den.cast("double")) * F.lit(1e9)
            + F.lit(0.5)
        ).cast("long")

    scored = feats.join(F.broadcast(classes)).join(F.broadcast(totals))
    score = _lnq(F.col("n_c"), F.col("n_total"))
    for f in ("f_hour", "f_dow", "f_val"):
        cnts = feats.groupBy(
            F.col("actual").alias("cls"), F.col(f).alias(f"{f}_v")
        ).agg(F.count(F.lit(1)).cast("long").alias(f"{f}_cnt"))
        card = feats.agg(
            F.countDistinct(f).cast("long").alias(f"{f}_card")
        )
        scored = (
            scored.join(
                F.broadcast(cnts),
                (scored.cls == cnts.cls) & (F.col(f) == F.col(f"{f}_v")),
                "left",
            )
            .drop(cnts.cls)
            .drop(f"{f}_v")
            .join(F.broadcast(card))
        )
        score = score + _lnq(
            F.coalesce(F.col(f"{f}_cnt"), F.lit(0)) + F.lit(1),
            F.col("n_c") + F.col(f"{f}_card"),
        )
    # per-event argmax as min(struct(-score, cls)): identical winner to
    # row_number(1) over (score DESC, cls ASC) but partial-aggregable —
    # no per-event sort of the |rows| x |classes| frame (r13; the same
    # transformation as bi_cheapest_supplier / text_rake_keywords)
    best = (
        scored.withColumn("score_q", score)
        .groupBy("event_id", "actual")
        .agg(
            F.min(
                F.struct(
                    (-F.col("score_q")).cast("long").alias("negs"),
                    F.col("cls").alias("cls"),
                )
            ).alias("m")
        )
    )
    return (
        best.groupBy("actual", F.col("m.cls").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


_NB_SQL = f"""
WITH feats AS (
  SELECT event_id, event_type AS actual,
    (hour(ts) // 6)::BIGINT AS f_hour,
    (dayofweek(ts) + 1)::BIGINT AS f_dow,
    CAST(LEAST(FLOOR(value / {NB_VAL_BUCKET!r}), {NB_VAL_MAX_BIN})
         AS BIGINT) AS f_val
  FROM events
),
classes AS (
  SELECT actual AS cls, COUNT(*)::BIGINT AS n_c FROM feats GROUP BY 1
),
totals AS (SELECT COUNT(*)::BIGINT AS n_total FROM feats),
hc AS (SELECT actual AS cls, f_hour AS v, COUNT(*)::BIGINT AS cnt
       FROM feats GROUP BY 1, 2),
dc AS (SELECT actual AS cls, f_dow AS v, COUNT(*)::BIGINT AS cnt
       FROM feats GROUP BY 1, 2),
vc AS (SELECT actual AS cls, f_val AS v, COUNT(*)::BIGINT AS cnt
       FROM feats GROUP BY 1, 2),
cards AS (
  SELECT COUNT(DISTINCT f_hour)::BIGINT AS h_card,
    COUNT(DISTINCT f_dow)::BIGINT AS d_card,
    COUNT(DISTINCT f_val)::BIGINT AS v_card
  FROM feats
),
scored AS (
  SELECT f.event_id, f.actual, c.cls,
    CAST(FLOOR(ln(n_c::DOUBLE / n_total::DOUBLE) * 1e9 + 0.5) AS BIGINT)
    + CAST(FLOOR(ln((COALESCE(hc.cnt, 0) + 1)::DOUBLE
                    / (n_c + h_card)::DOUBLE) * 1e9 + 0.5) AS BIGINT)
    + CAST(FLOOR(ln((COALESCE(dc.cnt, 0) + 1)::DOUBLE
                    / (n_c + d_card)::DOUBLE) * 1e9 + 0.5) AS BIGINT)
    + CAST(FLOOR(ln((COALESCE(vc.cnt, 0) + 1)::DOUBLE
                    / (n_c + v_card)::DOUBLE) * 1e9 + 0.5) AS BIGINT)
      AS score_q
  FROM feats f
  CROSS JOIN classes c
  CROSS JOIN totals
  CROSS JOIN cards
  LEFT JOIN hc ON hc.cls = c.cls AND hc.v = f.f_hour
  LEFT JOIN dc ON dc.cls = c.cls AND dc.v = f.f_dow
  LEFT JOIN vc ON vc.cls = c.cls AND vc.v = f.f_val
),
pred AS (
  SELECT actual, cls AS predicted FROM (
    SELECT actual, cls,
      ROW_NUMBER() OVER (PARTITION BY event_id
                         ORDER BY score_q DESC, cls ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT actual, predicted, COUNT(*)::BIGINT AS n_events
FROM pred GROUP BY actual, predicted
"""


# ---------------------------------------------------------------------------
# multivariate closed-form OLS (normal equations from exact sufficient
# statistics)
# ---------------------------------------------------------------------------
#
# Per l_returnflag, fit l_extendedprice ~ l_quantity + l_discount by
# solving the 3x3 normal equations with Cramer's rule.  The
# distributed-OLS template: ONE aggregate computes the nine exact
# integer sufficient statistics (inputs quantized at scales the data
# is exact at: quantity x1, discount and price x100 — verified 0 rows
# off), so the shuffle is 9 longs per group regardless of corpus size;
# the 3x3 solve is a per-group scalar expression.  Determinants are
# evaluated in DOUBLE (the integer forms can overflow BIGINT at sf1)
# with the SAME expression tree in both engines: doubles built from
# exact ints < 2^53 are exact, and identical IEEE operation order
# makes every product/difference bit-identical cross-engine.


def group_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("x2"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("y"),
    )
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    d = {
        c: F.col(c).cast("double")
        for c in ("n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y")
    }
    det = (
        d["n"] * (d["s11"] * d["s22"] - d["s12"] * d["s12"])
        - d["s1"] * (d["s1"] * d["s22"] - d["s12"] * d["s2"])
        + d["s2"] * (d["s1"] * d["s12"] - d["s11"] * d["s2"])
    )
    nb0 = (
        d["sy"] * (d["s11"] * d["s22"] - d["s12"] * d["s12"])
        - d["s1"] * (d["s1y"] * d["s22"] - d["s12"] * d["s2y"])
        + d["s2"] * (d["s1y"] * d["s12"] - d["s11"] * d["s2y"])
    )
    nb1 = (
        d["n"] * (d["s1y"] * d["s22"] - d["s12"] * d["s2y"])
        - d["sy"] * (d["s1"] * d["s22"] - d["s12"] * d["s2"])
        + d["s2"] * (d["s1"] * d["s2y"] - d["s1y"] * d["s2"])
    )
    nb2 = (
        d["n"] * (d["s11"] * d["s2y"] - d["s1y"] * d["s12"])
        - d["s1"] * (d["s1"] * d["s2y"] - d["s1y"] * d["s2"])
        + d["sy"] * (d["s1"] * d["s12"] - d["s11"] * d["s2"])
    )
    # unscale: y is x100, x2 is x100, x1 is x1 ->
    # intercept = b0q/100, coef per quantity unit = b1q/100,
    # coef per discount fraction = b2q
    return g.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.when(det == 0.0, F.lit(None).cast("double"))
        .otherwise(nb1 / det / F.lit(100.0))
        .alias("coef_qty"),
        F.when(det == 0.0, F.lit(None).cast("double"))
        .otherwise(nb2 / det)
        .alias("coef_disc"),
        F.when(det == 0.0, F.lit(None).cast("double"))
        .otherwise(nb0 / det / F.lit(100.0))
        .alias("intercept"),
    ).orderBy("l_returnflag")


_OLS_MULTI_SQL = """
WITH q AS (
  SELECT l_returnflag,
    CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x1,
    CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS x2,
    CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
  FROM lineitem
),
g AS (
  SELECT l_returnflag,
    COUNT(*)::BIGINT AS n,
    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
    CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
    CAST(SUM(x1 * y) AS BIGINT) AS s1y,
    CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM q GROUP BY l_returnflag
),
dd AS (
  SELECT l_returnflag, n::BIGINT AS n_out,
    n::DOUBLE AS dn, s1::DOUBLE AS d1, s2::DOUBLE AS d2,
    sy::DOUBLE AS dy, s11::DOUBLE AS d11, s22::DOUBLE AS d22,
    s12::DOUBLE AS d12, s1y::DOUBLE AS d1y, s2y::DOUBLE AS d2y
  FROM g
)
SELECT l_returnflag, n_out AS n,
  CASE WHEN det = 0.0 THEN NULL ELSE nb1 / det / 100.0 END AS coef_qty,
  CASE WHEN det = 0.0 THEN NULL ELSE nb2 / det END AS coef_disc,
  CASE WHEN det = 0.0 THEN NULL ELSE nb0 / det / 100.0 END AS intercept
FROM (
  SELECT l_returnflag, n_out,
    dn * (d11 * d22 - d12 * d12)
      - d1 * (d1 * d22 - d12 * d2)
      + d2 * (d1 * d12 - d11 * d2) AS det,
    dy * (d11 * d22 - d12 * d12)
      - d1 * (d1y * d22 - d12 * d2y)
      + d2 * (d1y * d12 - d11 * d2y) AS nb0,
    dn * (d1y * d22 - d12 * d2y)
      - dy * (d1 * d22 - d12 * d2)
      + d2 * (d1 * d2y - d1y * d2) AS nb1,
    dn * (d11 * d2y - d1y * d12)
      - d1 * (d1 * d2y - d1y * d2)
      + dy * (d1 * d12 - d11 * d2) AS nb2
  FROM dd
)
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# precision/recall at fixed thresholds (the operating-point companion
# to ml_auc's ranking view)
# ---------------------------------------------------------------------------
#
# One conditional-aggregate pass evaluates EVERY threshold at once —
# no per-threshold scan, no join: each of the |thresholds| x 4
# confusion cells is a SUM(CASE...) over the same grouped row stream,
# then ratios are computed per threshold from exact integer counts.
# At 100 TB this is one map-side-combined aggregate to a single row,
# exploded driver-side-free into |thresholds| output rows via a
# literal array.

PR_THRESHOLDS = [10.0, 25.0, 50.0, 75.0, 100.0]


def pr_at_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_type") == AUC_POS_TYPE).cast("long").alias("y"),
        F.col("value").alias("s"),
    )
    aggs = []
    for i, t in enumerate(PR_THRESHOLDS):
        pred = (F.col("s") >= F.lit(t)).cast("long")
        aggs += [
            F.sum(pred * F.col("y")).cast("long").alias(f"tp{i}"),
            F.sum(pred * (1 - F.col("y"))).cast("long").alias(f"fp{i}"),
            F.sum((1 - pred) * F.col("y")).cast("long").alias(f"fn{i}"),
        ]
    one = ev.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"tp{i}").alias("tp"),
                F.col(f"fp{i}").alias("fp"),
                F.col(f"fn{i}").alias("fn"),
            )
            for i, t in enumerate(PR_THRESHOLDS)
        ]
    )
    flat = one.select(F.explode(rows).alias("r")).select("r.*")
    prec = F.when(
        F.col("tp") + F.col("fp") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")
    )
    rec = F.when(
        F.col("tp") + F.col("fn") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double")
    )
    return flat.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
    ).orderBy("threshold")


def _pr_sql() -> str:
    rows = " UNION ALL ".join(
        f"""SELECT {t}::DOUBLE AS threshold,
  CAST(SUM(CASE WHEN s >= {t} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
  CAST(SUM(CASE WHEN s >= {t} AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
  CAST(SUM(CASE WHEN s < {t} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
FROM scored"""
        for t in PR_THRESHOLDS
    )
    return f"""
WITH scored AS (
  SELECT CASE WHEN event_type = '{AUC_POS_TYPE}' THEN 1 ELSE 0 END AS y,
         value AS s
  FROM events
),
cells AS ({rows})
SELECT threshold, tp, fp, fn,
  CASE WHEN tp + fp = 0 THEN NULL
       ELSE ROUND(tp::DOUBLE / (tp + fp)::DOUBLE, 6) END AS precision,
  CASE WHEN tp + fn = 0 THEN NULL
       ELSE ROUND(tp::DOUBLE / (tp + fn)::DOUBLE, 6) END AS recall
FROM cells
ORDER BY threshold
"""


# ---------------------------------------------------------------------------
# decile lift / calibration (score deciles vs positive rate)
# ---------------------------------------------------------------------------
#
# The model-calibration companion to PR-at-thresholds: bin the score
# into deciles (boundaries from ONE percentile aggregate broadcast
# back — the quantile_bins shape, never a global NTILE) and report
# each decile's positive rate and lift over the base rate.  Lift is a
# ratio of two exact integer-count ratios, rounded at 6 dp (the
# cross-engine float pattern).

LIFT_BINS = 10


def decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_type") == AUC_POS_TYPE).cast("long").alias("y"),
        F.col("value").alias("s"),
    )
    qs = [i / LIFT_BINS for i in range(1, LIFT_BINS)]
    bounds = ev.agg(
        F.expr(
            f"percentile(s, array({', '.join(map(str, qs))}))"
        ).alias("bs")
    )
    binned = ev.join(F.broadcast(bounds)).select(
        "y",
        (
            F.lit(1)
            + F.aggregate(
                F.col("bs"),
                F.lit(0),
                lambda acc, b: acc + (F.col("s") >= b).cast("int"),
            )
        ).cast("long").alias("decile"),
    )
    per_bin = binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    base = per_bin.agg(
        F.sum("n").alias("tot"), F.sum("n_pos").alias("tot_pos")
    )
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    base_rate = F.col("tot_pos").cast("double") / F.col("tot").cast("double")
    return (
        per_bin.join(F.broadcast(base))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(rate, 6).alias("pos_rate"),
            F.round(rate / base_rate, 6).alias("lift"),
        )
        .orderBy("decile")
    )


def _lift_sql() -> str:
    qs = ", ".join(str(i / LIFT_BINS) for i in range(1, LIFT_BINS))
    return f"""
WITH scored AS (
  SELECT CASE WHEN event_type = '{AUC_POS_TYPE}' THEN 1 ELSE 0 END AS y,
         value AS s
  FROM events
),
bounds AS (SELECT quantile_cont(s, [{qs}]) AS bs FROM scored),
binned AS (
  SELECT y,
    (1 + len(list_filter(bs, b -> s >= b)))::BIGINT AS decile
  FROM scored CROSS JOIN bounds
),
per_bin AS (
  SELECT decile, COUNT(*)::BIGINT AS n,
    CAST(SUM(y) AS BIGINT) AS n_pos
  FROM binned GROUP BY decile
),
base AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tot,
         CAST(SUM(n_pos) AS BIGINT) AS tot_pos
  FROM per_bin
)
SELECT decile, n, n_pos,
  ROUND(n_pos::DOUBLE / n::DOUBLE, 6) AS pos_rate,
  ROUND((n_pos::DOUBLE / n::DOUBLE) / (tot_pos::DOUBLE / tot::DOUBLE), 6)
    AS lift
FROM per_bin CROSS JOIN base
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# chi-square test of independence (event_type x day-of-week)
# ---------------------------------------------------------------------------
#
# "Does activity mix depend on weekday?" — the categorical-association
# screen.  One contingency aggregate (|types| x 7 cells), marginals
# from two tiny re-aggregations of the cell frame, and the statistic
# is a fixed-order IEEE expression over exact integer counts — both
# engines build (obs - exp)^2 / exp from identical BIGINTs, so the sum
# over the bounded cell set is reproducible without quantization
# (summed via one aggregate over <= |types| x 7 rows; DuckDB sums the
# same doubles in a deterministic single-threaded order and Spark's
# final single-partition aggregate of the tiny frame matches —
# verified by the oracle at both SFs).


def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    )
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    row_tot = cells.groupBy("event_type").agg(
        F.sum("obs").cast("long").alias("rt")
    )
    col_tot = cells.groupBy("dow").agg(
        F.sum("obs").cast("long").alias("ct")
    )
    n = cells.agg(F.sum("obs").cast("long").alias("n"))
    joined = (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .join(F.broadcast(n))
    )
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    # quantize each cell's term to 1e-9 before the sum: the bounded
    # cell count keeps this exact and order-free (the column_profile
    # entropy recipe)
    term_q = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
    return (
        joined.agg(
            (F.sum(term_q).cast("double") / F.lit(1e9)).alias("chi2"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            F.countDistinct("dow").cast("long").alias("n_dows"),
        )
        .select(
            "chi2",
            "n_types",
            "n_dows",
            ((F.col("n_types") - 1) * (F.col("n_dows") - 1))
            .cast("long")
            .alias("dof"),
        )
    )


_CHI2_SQL = """
WITH e AS (
  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow FROM events
),
cells AS (
  SELECT event_type, dow, COUNT(*)::BIGINT AS obs
  FROM e GROUP BY event_type, dow
),
rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY event_type),
ct AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY dow),
n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT
    CAST(FLOOR(
      ((obs::DOUBLE - rt::DOUBLE * ct::DOUBLE / n::DOUBLE)
       * (obs::DOUBLE - rt::DOUBLE * ct::DOUBLE / n::DOUBLE)
       / (rt::DOUBLE * ct::DOUBLE / n::DOUBLE)) * 1000000000.0 + 0.5
    ) AS BIGINT) AS tq,
    cells.event_type, cells.dow
  FROM cells
  JOIN rt USING (event_type)
  JOIN ct USING (dow)
  CROSS JOIN n
)
SELECT
  CAST(SUM(tq) AS DOUBLE) / 1000000000.0 AS chi2,
  COUNT(DISTINCT event_type)::BIGINT AS n_types,
  COUNT(DISTINCT dow)::BIGINT AS n_dows,
  CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1)
    AS BIGINT) AS dof
FROM terms
"""


# ---------------------------------------------------------------------------
# Welch two-sample t-statistic (A/B comparison of event values)
# ---------------------------------------------------------------------------
#
# The numeric companion to chi-square: compare every event type's mean
# value against the 'view' control group with Welch's unequal-variance
# t.  ONE aggregate computes each group's exact integer sufficient
# statistics (n, sum of 1e-4-quantized values, sum of their squares);
# means/variances/t are then fixed-order IEEE on identical ints — the
# ml_ols_multi recipe.  Sample variance uses the n-1 denominator;
# squares of quantized values stay < 2^63 at any realistic SF
# (qv <= ~1e7 -> qv^2 <= 1e14; 1e11 rows before overflow).

TT_CONTROL = "view"


def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", quantize(F.col("value")).alias("qv")
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("s"),
        F.sum(F.col("qv") * F.col("qv")).alias("ss"),
    )
    ctrl = g.filter(F.col("event_type") == TT_CONTROL).select(
        F.col("n").alias("cn"), F.col("s").alias("cs"),
        F.col("ss").alias("css"),
    )

    def stats(n, s, ss):
        mean = s.cast("double") / n.cast("double") / 10000.0
        # sample variance via the exact integer moment identity
        var = (
            (
                ss.cast("double")
                - s.cast("double") * s.cast("double") / n.cast("double")
            )
            / (n.cast("double") - 1.0)
            / 1e8
        )
        return mean, var

    joined = g.filter(F.col("event_type") != TT_CONTROL).join(
        F.broadcast(ctrl)
    )
    m1, v1 = stats(F.col("n"), F.col("s"), F.col("ss"))
    m0, v0 = stats(F.col("cn"), F.col("cs"), F.col("css"))
    se = F.sqrt(
        v1 / F.col("n").cast("double") + v0 / F.col("cn").cast("double")
    )
    return joined.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        m1.alias("mean_value"),
        (m1 - m0).alias("mean_diff_vs_control"),
        F.round((m1 - m0) / se, 6).alias("t_stat"),
    ).orderBy("event_type")


_TTEST_SQL = f"""
WITH q AS (
  SELECT event_type,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qv
  FROM events
),
g AS (
  SELECT event_type, COUNT(*)::BIGINT AS n,
    CAST(SUM(qv) AS BIGINT) AS s,
    CAST(SUM(qv * qv) AS BIGINT) AS ss
  FROM q GROUP BY event_type
),
ctrl AS (
  SELECT n AS cn, s AS cs, ss AS css FROM g
  WHERE event_type = '{TT_CONTROL}'
)
SELECT event_type, n,
  s::DOUBLE / n::DOUBLE / 10000.0 AS mean_value,
  (s::DOUBLE / n::DOUBLE / 10000.0)
    - (cs::DOUBLE / cn::DOUBLE / 10000.0) AS mean_diff_vs_control,
  ROUND(
    ((s::DOUBLE / n::DOUBLE / 10000.0)
     - (cs::DOUBLE / cn::DOUBLE / 10000.0))
    / sqrt(
        ((ss::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
         / (n::DOUBLE - 1.0) / 100000000.0) / n::DOUBLE
      + ((css::DOUBLE - cs::DOUBLE * cs::DOUBLE / cn::DOUBLE)
         / (cn::DOUBLE - 1.0) / 100000000.0) / cn::DOUBLE
    ), 6) AS t_stat
FROM g CROSS JOIN ctrl
WHERE event_type <> '{TT_CONTROL}'
ORDER BY event_type
"""



# ---------------------------------------------------------------------------
# PCA top component via power iteration (fifth iterative family)
# ---------------------------------------------------------------------------
#
# The leading principal component of the embedding cloud — the
# direction a PCA whitener or an anisotropy diagnostic needs first.
# Distribution shape: the ONLY corpus-scale work is the covariance
# aggregate (the already-oracled covariance_matrix plan); the d x d
# cell frame (d=64 -> 4,160 cells) is METADATA-scale regardless of
# corpus size, so the K-step power iteration runs driver-side on
# exact integers — the kmeans-centroid / decision-tree-split pattern.
# K = 500: the embedding cloud is near-isotropic (top eigengap
# ~1.3%), so convergence needs ~0.987^k; 500 steps of a 64x64 exact
# matvec are driver-trivial and land within ~5e-3 of numpy's
# eigenvector (asserted in tests).
# Cross-engine exactness: cells quantize to BIGINT at 1e6; each
# iterate is integer matvec (exact) -> norm^2 as an exact big integer
# (HUGEINT in DuckDB, unbounded int in Python) -> one IEEE
# double/sqrt/floor renormalization with identical operation order.
# The DuckDB twin re-runs the SAME iteration inside a recursive CTE —
# the iterative op is value-verified end to end, like PageRank.

PCA_ITERS = 500
_PCA_CELL_SCALE = 1_000_000  # cov -> BIGINT
_PCA_VEC_SCALE = 1_000_000  # unit vector -> BIGINT


def pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(component, loading, eigenvalue) — top eigenvector of the
    embedding covariance matrix after PCA_ITERS fixed power steps."""
    import math

    cells = covariance_matrix(spark, sf_dir).select(
        "i",
        "j",
        F.floor(F.col("cov") * _PCA_CELL_SCALE + 0.5)
        .cast("long")
        .alias("q"),
    ).collect()  # d*(d+1)/2 rows — metadata-scale by construction
    q = {}
    d = 0
    for r in cells:
        q[(r.i, r.j)] = r.q
        q[(r.j, r.i)] = r.q
        d = max(d, r.i + 1, r.j + 1)
    v0 = int(math.floor(1.0 / math.sqrt(float(d)) * _PCA_VEC_SCALE + 0.5))
    maxq = max((abs(x) for x in q.values()), default=0)
    # int64 matvec is EXACT iff |w_i| <= d * max|q| * max|v| stays under
    # 2^63; |v| entries are bounded by _PCA_VEC_SCALE + 1 (unit-norm
    # rescale + rounding).  When the bound holds (embedding covariances
    # here: ~6e13 << 2^62), run the 500 power steps as numpy int64
    # matvecs — bit-identical integers, measured 26x faster (0.34 s ->
    # 0.013 s of driver time; the elementwise renormalization performs
    # the IDENTICAL IEEE op sequence float(w)/nf*SCALE+0.5 -> floor).
    # norm2 still sums exactly in unbounded Python ints (w^2 can exceed
    # int64), matching the DuckDB twin's HUGEINT.  Oversized cells fall
    # back to the exact pure-Python loop.
    fast = d > 0 and d * maxq * (_PCA_VEC_SCALE + 1) < 2**62
    norm2 = 0
    if fast:
        import numpy as np

        qm = np.zeros((d, d), dtype=np.int64)
        for (i, j), val in q.items():
            qm[i, j] = val
        vv = np.full(d, v0, dtype=np.int64)
        for _ in range(PCA_ITERS):
            w = qm @ vv  # exact int64 (bound checked above)
            norm2 = sum(int(x) * int(x) for x in w.tolist())  # exact
            nf = math.sqrt(float(norm2))
            vv = np.floor(
                w.astype(np.float64) / nf * _PCA_VEC_SCALE + 0.5
            ).astype(np.int64)
        v = [int(x) for x in vv.tolist()]
    else:
        v = [v0] * d
        for _ in range(PCA_ITERS):
            w = [
                sum(q[(i, j)] * v[j] for j in range(d)) for i in range(d)
            ]  # exact integers
            norm2 = sum(x * x for x in w)  # exact (unbounded int)
            nf = math.sqrt(float(norm2))
            v = [
                int(math.floor(float(x) / nf * _PCA_VEC_SCALE + 0.5))
                for x in w
            ]
    lam = round(
        math.sqrt(float(norm2)) / (_PCA_CELL_SCALE * _PCA_VEC_SCALE), 6
    )
    rows = [
        (i, v[i] / float(_PCA_VEC_SCALE), lam) for i in range(d)
    ]
    return spark.createDataFrame(
        rows, "component long, loading double, eigenvalue double"
    ).orderBy("component")


def _pca_sql() -> str:
    return f"""
WITH RECURSIVE upper_cells AS MATERIALIZED ({_COV_SQL}),
qcells AS MATERIALIZED (
  SELECT i, j, CAST(FLOOR(cov * {_PCA_CELL_SCALE} + 0.5) AS BIGINT) AS q
  FROM upper_cells
),
cells AS MATERIALIZED (
  SELECT i, j, q FROM qcells
  UNION ALL
  SELECT j AS i, i AS j, q FROM qcells WHERE i <> j
),
dims AS (SELECT DISTINCT i FROM cells),
d AS (SELECT COUNT(*)::BIGINT AS d FROM dims),
it(k, i, v, lam) AS (
  SELECT 0, dims.i,
    CAST(FLOOR(1.0 / sqrt(d.d::DOUBLE) * {_PCA_VEC_SCALE} + 0.5)
         AS BIGINT),
    0.0::DOUBLE
  FROM dims, d
  UNION ALL
  SELECT k + 1, i,
    CAST(FLOOR(w::DOUBLE / sqrt(norm2::DOUBLE) * {_PCA_VEC_SCALE} + 0.5)
         AS BIGINT),
    sqrt(norm2::DOUBLE)
      / ({_PCA_CELL_SCALE}::DOUBLE * {_PCA_VEC_SCALE}::DOUBLE)
  FROM (
    SELECT mv.k, mv.i, mv.w,
      SUM(CAST(mv.w AS HUGEINT) * CAST(mv.w AS HUGEINT)) OVER (
        PARTITION BY mv.k
      ) AS norm2
    FROM (
      SELECT it.k AS k, c.i AS i, CAST(SUM(c.q * it.v) AS BIGINT) AS w
      FROM it JOIN cells c ON c.j = it.i
      WHERE it.k < {PCA_ITERS}
      GROUP BY it.k, c.i
    ) mv
  )
)
SELECT i::BIGINT AS component,
  v::DOUBLE / {_PCA_VEC_SCALE}::DOUBLE AS loading,
  ROUND(lam, 6) AS eigenvalue
FROM it
WHERE k = {PCA_ITERS}
ORDER BY component
"""



# ---------------------------------------------------------------------------
# per-key regression fit metrics (R^2 / RMSE from sufficient statistics)
# ---------------------------------------------------------------------------
#
# Closes the train->evaluate loop for the per-key OLS family: the fit
# quality (R^2, RMSE) comes from the SAME one-pass exact moments the
# fit itself uses — SSE = Syy_c - Sxy_c^2/Sxx_c, so there is NO second
# data pass, no prediction join: one map-side-combinable aggregate per
# key, six BIGINT moments, then fixed-order double arithmetic shared
# verbatim with the DuckDB twin (the welch_ttest discipline — raw
# moments stay exact integers, centering happens in double because
# n*Syy would overflow BIGINT at 10x scale).


def regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n, slope_per_hour, r2, rmse) of each user's hourly
    value trend."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) DIV 3600000000").alias("h"),
        quantize(F.col("value")).alias("qy"),
    )
    h0 = ev.agg(F.min("h").alias("h0"))
    d = ev.join(F.broadcast(h0)).select(
        "user_id", (F.col("h") - F.col("h0")).alias("x"), "qy"
    )
    g = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("qy")).alias("sxy"),
        F.sum(F.col("qy") * F.col("qy")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    a = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    b = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    c = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    sse_n = F.when(a > 0, c - b * b / a).otherwise(c)  # = SSE * n
    r2 = F.when((a > 0) & (c > 0), b * b / (a * c)).otherwise(
        F.lit(0.0)
    )
    rmse = F.sqrt(F.greatest(sse_n, F.lit(0.0)) / (nd * nd)) / 10000.0
    slope = F.when(a > 0, b / a / 10000.0).otherwise(F.lit(0.0))
    return g.select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope_per_hour"),
        F.round(r2, 6).alias("r2"),
        F.round(rmse, 6).alias("rmse"),
    ).orderBy("user_id")


_REG_METRICS_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qy
  FROM events
),
h0 AS (SELECT MIN(h) AS h0 FROM e),
d AS (SELECT user_id, h - h0 AS x, qy FROM e, h0),
g AS (
  SELECT user_id, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
    SUM(qy)::BIGINT AS sy, SUM(x * x)::BIGINT AS sxx,
    SUM(x * qy)::BIGINT AS sxy, SUM(qy * qy)::BIGINT AS syy
  FROM d GROUP BY user_id
),
m AS (
  SELECT user_id, n,
    n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS a,
    n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS b,
    n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS c
  FROM g
)
SELECT user_id, n,
  ROUND(CASE WHEN a > 0 THEN b / a / 10000.0 ELSE 0.0 END, 6)
    AS slope_per_hour,
  ROUND(CASE WHEN a > 0 AND c > 0 THEN b * b / (a * c)
             ELSE 0.0 END, 6) AS r2,
  ROUND(sqrt(GREATEST(CASE WHEN a > 0 THEN c - b * b / a ELSE c END,
                      0.0) / (n::DOUBLE * n::DOUBLE)) / 10000.0, 6)
    AS rmse
FROM m
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# logistic-regression quality/langid scorer (fixed-round IRLS)
# ---------------------------------------------------------------------------
#
# LLM pipelines gate documents on a learned quality score (fastText
# style); the engine had naive Bayes but no logistic scorer.  This fits
# y = (lang = 'en') on two langid-style features — mean token length
# and English-stopword share — by K rounds of IRLS (Newton-Raphson on
# the log-likelihood): beta += (X'WX)^-1 X'(y - p), W = diag(p(1-p)).
#
# Cross-engine exactness: Java's Math.exp and libm disagree by 1 ulp on
# ~10% of inputs (measured), so the sigmoid is quantized to 6 dp the
# moment it is computed — every downstream quantity flows from that
# shared grid.  The per-round sufficient statistics (6 unique X'WX
# cells + 3 gradient cells, features exact BIGINT ratios) are quantized
# per-term at 1e-6 and summed as BIGINT — order-independent, so shuffle
# nondeterminism cannot move the fit.  The 3x3 Newton solve is Cramer
# with the IDENTICAL expression tree in Python (driver, Spark side) and
# SQL (DuckDB side) — the ml_ols_multi template, iterated.
#
# Scale shape: each round is ONE map-side-combined aggregate to a
# single 9-cell row (collect = metadata, the kmeans convergence-scalar
# pattern); the feature frame is computed once and cached.  At 100 TB:
# K scans of a 3-column double frame, zero window functions, zero
# joins.  Composes with curation_gate_funnel as `p >= threshold`.

LOGISTIC_ROUNDS = 4
_LOGI_STOP = (
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
)
_LOGI_Q = 1_000_000  # 1e-6 per-term quantum for the BIGINT stat sums


def _logi_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.lower(F.col("text")))
    d = docs.filter(F.trim(F.col("text")) != "").select(
        "source",
        (F.col("lang") == F.lit("en")).cast("long").alias("y"),
        toks.alias("toks"),
    )
    nd = F.size("toks").cast("double")
    return d.select(
        "source",
        "y",
        (F.length(F.concat_ws("", "toks")).cast("double") / nd).alias(
            "x1"
        ),
        (
            F.size(
                F.filter("toks", lambda t: t.isin(*_LOGI_STOP))
            ).cast("double")
            / nd
        ).alias("x2"),
    ).cache()


def _q6(c):
    """Quantized-term BIGINT sum -> double (order-independent)."""
    return (
        F.sum(F.floor(c * _LOGI_Q + F.lit(0.5)).cast("long")).cast(
            "double"
        )
        / F.lit(float(_LOGI_Q))
    )


def _cramer3(a11, a12, a13, a22, a23, a33, r1, r2, r3):
    """Solve the symmetric 3x3 system; SAME expression tree as the SQL
    twin (IEEE doubles, identical op order -> bit-identical)."""
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    n1 = (
        r1 * (a22 * a33 - a23 * a23)
        - a12 * (r2 * a33 - a23 * r3)
        + a13 * (r2 * a23 - a22 * r3)
    )
    n2 = (
        a11 * (r2 * a33 - a23 * r3)
        - r1 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * r3 - r2 * a13)
    )
    n3 = (
        a11 * (a22 * r3 - r2 * a23)
        - a12 * (a12 * r3 - r2 * a13)
        + r1 * (a12 * a23 - a22 * a13)
    )
    if det == 0.0:
        return 0.0, 0.0, 0.0
    return n1 / det, n2 / det, n3 / det


def _logi_p(beta: tuple) -> "F.Column":
    """Quantized sigmoid score column over (x1, x2) for a fitted beta."""
    b0, b1, b2 = (F.lit(v) for v in beta)
    z = b0 + b1 * F.col("x1") + b2 * F.col("x2")
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def _fit_logistic(feats: DataFrame) -> tuple:
    """LOGISTIC_ROUNDS of IRLS over the cached feature frame; returns
    the final beta triple (shared by the scorer, the calibration
    bins, and the curation quality gate)."""
    beta = (0.0, 0.0, 0.0)
    for _ in range(LOGISTIC_ROUNDS):
        b0, b1, b2 = (F.lit(v) for v in beta)
        z = b0 + b1 * F.col("x1") + b2 * F.col("x2")
        p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
        w = p * (F.lit(1.0) - p)
        r = F.col("y").cast("double") - p
        x1, x2 = F.col("x1"), F.col("x2")
        s = feats.agg(
            _q6(w).alias("a11"),
            _q6(w * x1).alias("a12"),
            _q6(w * x2).alias("a13"),
            _q6(w * x1 * x1).alias("a22"),
            _q6(w * x1 * x2).alias("a23"),
            _q6(w * x2 * x2).alias("a33"),
            _q6(r).alias("r1"),
            _q6(r * x1).alias("r2"),
            _q6(r * x2).alias("r3"),
        ).collect()[0]
        d1, d2, d3 = _cramer3(
            s.a11, s.a12, s.a13, s.a22, s.a23, s.a33, s.r1, s.r2, s.r3
        )
        beta = (beta[0] + d1, beta[1] + d2, beta[2] + d3)
    return beta


def _fitted_logistic(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, tuple]:
    """Features plus the fitted beta, memoized per session:
    logistic_score / calibration_bins / curation_quality_gate share one
    IRLS fit instead of paying the LOGISTIC_ROUNDS x 4-aggregate driver
    loop three times."""
    feats = _logi_feats(spark, sf_dir)
    memo = session_memo(spark, "logistic_beta")
    key = os.path.abspath(sf_dir)
    if key not in memo:
        memo[key] = _fit_logistic(feats)
    return feats, memo[key]


def logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_docs, n_pos, b0, b1, b2, tp, fp, fn, tn, accuracy)
    after LOGISTIC_ROUNDS IRLS rounds of lang='en' ~ mean token length
    + stopword share."""
    feats, beta = _fitted_logistic(spark, sf_dir)
    p = _logi_p(beta)
    pred = (p >= F.lit(0.5)).cast("long")
    y = F.col("y")
    return feats.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(((pred == 1) & (y == 1)).cast("long"))
        .cast("long")
        .alias("tp"),
        F.sum(((pred == 1) & (y == 0)).cast("long"))
        .cast("long")
        .alias("fp"),
        F.sum(((pred == 0) & (y == 1)).cast("long"))
        .cast("long")
        .alias("fn"),
        F.sum(((pred == 0) & (y == 0)).cast("long"))
        .cast("long")
        .alias("tn"),
    ).select(
        "n_docs",
        "n_pos",
        F.round(F.lit(beta[0]), 6).alias("b0"),
        F.round(F.lit(beta[1]), 6).alias("b1"),
        F.round(F.lit(beta[2]), 6).alias("b2"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            (F.col("tp") + F.col("tn")).cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("accuracy"),
    )


def _logistic_ctes() -> str:
    """feats/be0/s1..beK CTE chain — shared by the scorer oracle, the
    calibration-bins oracle, and the curation quality-gate oracle."""
    stop_list = ", ".join(f"'{s}'" for s in _LOGI_STOP)
    q = float(_LOGI_Q)

    def q6(expr: str) -> str:
        return (
            f"CAST(SUM(CAST(FLOOR(({expr}) * {q} + 0.5) AS BIGINT)) "
            f"AS DOUBLE) / {q}"
        )

    ctes = [
        f"""feats AS MATERIALIZED (
  SELECT source,
    CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y,
    length(array_to_string(toks, ''))::DOUBLE / len(toks)::DOUBLE AS x1,
    len(list_filter(toks, t -> t IN ({stop_list})))::DOUBLE
      / len(toks)::DOUBLE AS x2
  FROM (
    SELECT source, lang,
      regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
    FROM documents WHERE trim(text) <> ''
  )
),
be0 AS (SELECT 0.0::DOUBLE AS b0, 0.0::DOUBLE AS b1, 0.0::DOUBLE AS b2)"""
    ]
    for k in range(1, LOGISTIC_ROUNDS + 1):
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT
    {q6('w')} AS a11, {q6('w * x1')} AS a12, {q6('w * x2')} AS a13,
    {q6('w * x1 * x1')} AS a22, {q6('w * x1 * x2')} AS a23,
    {q6('w * x2 * x2')} AS a33,
    {q6('y - p')} AS r1, {q6('(y - p) * x1')} AS r2,
    {q6('(y - p) * x2')} AS r3
  FROM (
    SELECT y::DOUBLE AS y, x1, x2, p, p * (1.0 - p) AS w
    FROM (
      SELECT y, x1, x2,
        ROUND(1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2))), 6)
          AS p
      FROM feats, be{k - 1} b
    )
  )
),
be{k} AS MATERIALIZED (
  SELECT
    CASE WHEN det = 0.0 THEN b0 ELSE b0 + n1 / det END AS b0,
    CASE WHEN det = 0.0 THEN b1 ELSE b1 + n2 / det END AS b1,
    CASE WHEN det = 0.0 THEN b2 ELSE b2 + n3 / det END AS b2
  FROM (
    SELECT b.b0, b.b1, b.b2,
      a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13) AS det,
      r1 * (a22 * a33 - a23 * a23)
        - a12 * (r2 * a33 - a23 * r3)
        + a13 * (r2 * a23 - a22 * r3) AS n1,
      a11 * (r2 * a33 - a23 * r3)
        - r1 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * r3 - r2 * a13) AS n2,
      a11 * (a22 * r3 - r2 * a23)
        - a12 * (a12 * r3 - r2 * a13)
        + r1 * (a12 * a23 - a22 * a13) AS n3
    FROM s{k}, be{k - 1} b
  )
)"""
        )
    return ",\n".join(ctes)


# the scored frame every logistic consumer selects from
_LOGI_SCORED = f"""SELECT source, y,
    ROUND(1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2))), 6) AS p,
    b.b0, b.b1, b.b2
  FROM feats, be{LOGISTIC_ROUNDS} b"""


def _logistic_sql() -> str:
    return f"""WITH {_logistic_ctes()}
SELECT COUNT(*)::BIGINT AS n_docs,
  CAST(SUM(y) AS BIGINT) AS n_pos,
  ROUND(ANY_VALUE(b0), 6) AS b0,
  ROUND(ANY_VALUE(b1), 6) AS b1,
  ROUND(ANY_VALUE(b2), 6) AS b2,
  SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
  SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
  SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
  SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
  ROUND(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END)::DOUBLE
        / COUNT(*)::DOUBLE, 6) AS accuracy
FROM (
  SELECT y, b0, b1, b2,
    CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred
  FROM ({_LOGI_SCORED})
)"""


# ---------------------------------------------------------------------------
# calibration bins (reliability diagram over the logistic scores)
# ---------------------------------------------------------------------------

CAL_BINS = 10


def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, n, mean_predicted, observed_rate) per predicted-probability
    decile — the reliability diagram of the logistic scorer.  One extra
    scan over the cached feature frame; the binning is integer floor on
    the 6-dp-quantized score, so bin membership is engine-exact."""
    feats, beta = _fitted_logistic(spark, sf_dir)
    sel = feats.select(_logi_p(beta).alias("p"), "y")
    b = F.least(
        F.floor(F.col("p") * CAL_BINS).cast("long"),
        F.lit(CAL_BINS - 1),
    )
    return (
        sel.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum(
                    F.floor(F.col("p") * _LOGI_Q + F.lit(0.5)).cast(
                        "long"
                    )
                ).cast("double")
                / F.lit(float(_LOGI_Q))
                / F.count(F.lit(1)).cast("double")
            ).alias("mp"),
            (
                F.sum("y").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("obs"),
        )
        .select(
            "bin",
            "n",
            F.round("mp", 6).alias("mean_predicted"),
            F.round("obs", 6).alias("observed_rate"),
        )
        .orderBy("bin")
    )


def _cal_bins_sql() -> str:
    q = float(_LOGI_Q)
    return f"""WITH {_logistic_ctes()}
SELECT bin, COUNT(*)::BIGINT AS n,
  ROUND(CAST(SUM(CAST(FLOOR(p * {q} + 0.5) AS BIGINT)) AS DOUBLE)
        / {q} / COUNT(*)::DOUBLE, 6) AS mean_predicted,
  ROUND(CAST(SUM(y) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE, 6)
    AS observed_rate
FROM (
  SELECT y, p,
    LEAST(CAST(FLOOR(p * {CAL_BINS}) AS BIGINT), {CAL_BINS - 1}) AS bin
  FROM ({_LOGI_SCORED})
)
GROUP BY bin
ORDER BY bin"""


# ---------------------------------------------------------------------------
# proper-scoring-rule eval: log loss + Brier of the calibrated scorer
# ---------------------------------------------------------------------------
#
# The eval a gate owner actually tracks: accuracy (logistic_score) and
# reliability (calibration_bins) say WHERE the scorer is wrong; log
# loss and Brier say HOW COSTLY its confidence is, per source.  Both
# are parallel double sums and would be accumulation-order-dependent —
# each per-row term is computed in one fixed expression order over the
# 6-dp-quantized score and quantized to 1e-6 before the BIGINT sum
# (the module's q6/dsum discipline).  Scores are clamped to
# [1e-6, 1 - 1e-6] before the logs (a 6-dp score can be exactly 0/1).


def log_loss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, avg_log_loss, brier) of the fitted logistic
    scorer per document source."""
    feats, beta = _fitted_logistic(spark, sf_dir)
    p = _logi_p(beta)
    pc = F.least(F.greatest(p, F.lit(0.000001)), F.lit(0.999999))
    y = F.col("y").cast("double")
    ll = -(
        y * F.log(pc) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - pc)
    )
    br = (p - y) * (p - y)
    return (
        feats.select("source", ll.alias("ll"), br.alias("br"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            _q6(F.col("ll")).alias("sll"),
            _q6(F.col("br")).alias("sbr"),
        )
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("sll") / F.col("n_docs").cast("double"), 6
            ).alias("avg_log_loss"),
            F.round(
                F.col("sbr") / F.col("n_docs").cast("double"), 6
            ).alias("brier"),
        )
        .orderBy("source")
    )


def _log_loss_sql() -> str:
    q = float(_LOGI_Q)

    def q6(expr: str) -> str:
        return (
            f"CAST(SUM(CAST(FLOOR(({expr}) * {q} + 0.5) AS BIGINT)) "
            f"AS DOUBLE) / {q}"
        )

    ll = "-(y * ln(pc) + (1.0 - y) * ln(1.0 - pc))"
    br = "(p - y) * (p - y)"
    return f"""WITH {_logistic_ctes()}
SELECT source, COUNT(*)::BIGINT AS n_docs,
  ROUND(({q6(ll)}) / COUNT(*)::DOUBLE, 6) AS avg_log_loss,
  ROUND(({q6(br)}) / COUNT(*)::DOUBLE, 6) AS brier
FROM (
  SELECT source, y::DOUBLE AS y, p,
    LEAST(GREATEST(p, 0.000001), 0.999999) AS pc
  FROM ({_LOGI_SCORED})
)
GROUP BY source
ORDER BY source"""


# ---------------------------------------------------------------------------
# curation quality gate (the learned-score gate composed per source)
# ---------------------------------------------------------------------------


def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_pass, accept_share) — the learned quality
    gate (logistic p >= 0.5) evaluated per source, the decision table
    a mixture-weight planner reads.  Same cached feature frame and
    fit; one conditional aggregate."""
    feats, beta = _fitted_logistic(spark, sf_dir)
    gate = (_logi_p(beta) >= F.lit(0.5)).cast("long")
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(gate).cast("long").alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            "n_pass",
            F.round(
                F.col("n_pass").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("accept_share"),
        )
        .orderBy("source")
    )


def _quality_gate_sql() -> str:
    return f"""WITH {_logistic_ctes()}
SELECT source, COUNT(*)::BIGINT AS n_docs,
  SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
  ROUND(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END)::DOUBLE
        / COUNT(*)::DOUBLE, 6) AS accept_share
FROM ({_LOGI_SCORED})
GROUP BY source
ORDER BY source"""


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (churn / retention analysis)
# ---------------------------------------------------------------------------
#
# User "lifetime" = days between first and last event; users still
# active in the final KM_CENSOR_DAYS of the dataset are CENSORED (their
# true lifetime is unknown, they only guarantee "at least this long").
# Standard product-analytics estimator: S(t) = prod_{t_i <= t}
# (1 - d_i / n_i) over distinct event times.
#
# Exactness: d_i, n_i are integers; each factor's ln((n-d)/n) is
# evaluated on identical doubles in both engines (ln matches libm —
# the HLL precedent), quantized to 1e-9 BIGINTs, and cumulated with an
# integer window sum — order-independent.  survival = exp(cum) is the
# one post-hoc float; rounded to 6 dp it is knife-edge-safe to ~1e-11
# per row over a metadata-scale (distinct lifetimes) output.  A time
# where d_i = n_i drives S to exactly 0.0 (ln(0) is gated, not
# evaluated).  Scale shape: one user-grain aggregate, then everything
# runs at DISTINCT-LIFETIME grain (~tens of rows).

KM_CENSOR_DAYS = 7
_DAY_US = 86_400_000_000


def km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_days, n_at_risk, n_events, n_censored, survival) — the KM
    curve of user activity lifetimes."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tus")
    )
    mx = ev.agg(F.max("tus").alias("mx"))
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min("tus").alias("t0"),
            F.max("tus").alias("t1"),
        )
        .join(F.broadcast(mx))
        .select(
            F.expr(f"(t1 - t0) DIV {_DAY_US}").alias("t"),
            (
                F.col("t1") < F.col("mx") - KM_CENSOR_DAYS * _DAY_US
            ).cast("long").alias("ev"),
        )
    )
    grid = users.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
    )
    wcur = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = (
        F.sum(F.col("d") + F.col("c")).over(
            Window.orderBy("t").rowsBetween(
                Window.currentRow, Window.unboundedFollowing
            )
        )
    ).alias("n")
    g = grid.select("t", "d", "c", at_risk)
    term = F.when(
        F.col("d") < F.col("n"),
        F.floor(
            F.log(
                (F.col("n") - F.col("d")).cast("double")
                / F.col("n").cast("double")
            )
            * 1e9
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    dead = F.max((F.col("d") == F.col("n")).cast("long")).over(wcur)
    out = g.select(
        "t",
        "d",
        "c",
        "n",
        F.sum(term).over(wcur).alias("cum_q"),
        dead.alias("dead"),
    )
    return out.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.col("cum_q").cast("double") / 1e9), 6)
        )
        .alias("survival"),
    ).orderBy("t_days")


_KM_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS tus FROM events
),
mx AS (SELECT MAX(tus) AS mx FROM e),
users AS (
  SELECT (MAX(tus) - MIN(tus)) // {_DAY_US} AS t,
    CASE WHEN MAX(tus) < mx - {KM_CENSOR_DAYS * _DAY_US}
         THEN 1 ELSE 0 END::BIGINT AS ev
  FROM e, mx GROUP BY user_id, mx
),
grid AS (
  SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
    CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM users GROUP BY t
),
g AS (
  SELECT t, d, c,
    CAST(SUM(d + c) OVER (ORDER BY t
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
  FROM grid
),
s AS (
  SELECT t, d, c, n,
    CAST(SUM(CASE WHEN d < n THEN
      CAST(FLOOR(ln((n - d)::DOUBLE / n::DOUBLE) * 1e9 + 0.5) AS BIGINT)
      ELSE 0 END) OVER (ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_q,
    MAX(CASE WHEN d = n THEN 1 ELSE 0 END) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
  FROM g
)
SELECT t::BIGINT AS t_days, n AS n_at_risk, d AS n_events,
  c AS n_censored,
  CASE WHEN dead = 1 THEN 0.0
       ELSE ROUND(exp(cum_q::DOUBLE / 1e9), 6) END AS survival
FROM s
ORDER BY t_days
"""


# ---------------------------------------------------------------------------
# smoothed target encoding (the feature-engineering staple)
# ---------------------------------------------------------------------------
#
# m-estimate encoding of a categorical cell against a binary target:
# enc = (n_pos + m * global_rate) / (n + m).  The training-data op that
# turns high-cardinality categoricals into a single dense feature
# without leaking low-support cells (m pulls sparse cells to the
# global rate).  Cell = (c_mktsegment, c_nationkey), target = the
# order is urgent (o_orderpriority '1-URGENT').
#
# Exact cross-engine: with g = (g_pos, g_n) the global sums, the
# encoding is the single division
#   (g_n * n_pos + m * g_pos) / (g_n * (n + m))
# over BIGINT products — no intermediate float, one fixed-order IEEE
# division in both engines.
#
# 100 TB shape: one broadcast dim join (customer is the dim side of
# orders here; at real scale the small side is whichever carries the
# category), one map-side-combinable aggregate over the cells, and the
# global row rides in as a broadcast single-row cross join.

TARGET_ENC_M = 20  # smoothing pseudo-count


def target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    labeled = orders.join(
        maybe_broadcast(cust),
        orders.o_custkey == cust.c_custkey,
    )
    cells = labeled.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    g = labeled.agg(
        F.count(F.lit(1)).alias("g_n"), F.sum("y").alias("g_pos")
    )
    m = TARGET_ENC_M
    enc = (
        (F.col("g_n") * F.col("n_pos") + F.lit(m) * F.col("g_pos"))
        .cast("double")
        / (F.col("g_n") * (F.col("n") + F.lit(m))).cast("double")
    )
    return (
        cells.join(F.broadcast(g))
        .select(
            "c_mktsegment",
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            "n",
            "n_pos",
            F.round(enc, 9).alias("enc"),
        )
        .orderBy("c_mktsegment", "c_nationkey")
    )


_TARGET_ENC_SQL = f"""
WITH labeled AS (
  SELECT c_mktsegment, c_nationkey,
    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END::BIGINT AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
),
cells AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
    SUM(y)::BIGINT AS n_pos
  FROM labeled GROUP BY c_mktsegment, c_nationkey
),
g AS (
  SELECT COUNT(*) AS g_n, SUM(y)::BIGINT AS g_pos FROM labeled
)
SELECT c_mktsegment, c_nationkey::BIGINT AS c_nationkey, n, n_pos,
  ROUND((g_n * n_pos + {TARGET_ENC_M} * g_pos)::DOUBLE /
        (g_n * (n + {TARGET_ENC_M}))::DOUBLE, 9) AS enc
FROM cells, g
ORDER BY c_mktsegment, c_nationkey
"""


# ---------------------------------------------------------------------------
# McNemar's paired test — is the learned gate actually better than the
# heuristic it replaced?
# ---------------------------------------------------------------------------
#
# The question every gate migration asks: on the SAME documents, does
# the IRLS logistic gate beat the one-line stopword-share rule?
# Accuracy deltas on overlapping predictions mislead; McNemar scores
# only the DISAGREEMENT cells: b = only-logistic-right, c =
# only-rule-right, chi² = (|b-c|-1)²/(b+c) with continuity correction,
# df = 1.  All four cells are exact integer counts from one pass over
# the cached feature frame; the statistic is one float expression.

MCNEMAR_RULE_THRESH = 0.3  # stopword-share cutoff of the heuristic


def mcnemar_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n, both_right, both_wrong, only_logistic, only_rule,
    mcnemar_chi2) comparing the logistic gate vs the stopword-share
    rule on lang='en' ground truth."""
    feats, beta = _fitted_logistic(spark, sf_dir)
    pa = (_logi_p(beta) >= F.lit(0.5)).cast("long")
    pb = (F.col("x2") >= F.lit(MCNEMAR_RULE_THRESH)).cast("long")
    y = F.col("y")
    a_right = (pa == y).cast("long")
    b_right = (pb == y).cast("long")
    g = feats.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(a_right * b_right).cast("long").alias("both_right"),
        F.sum((1 - a_right) * (1 - b_right)).cast("long").alias("both_wrong"),
        F.sum(a_right * (1 - b_right)).cast("long").alias("only_logistic"),
        F.sum((1 - a_right) * b_right).cast("long").alias("only_rule"),
    )
    b, c = F.col("only_logistic").cast("double"), F.col("only_rule").cast("double")
    stat = F.when(
        F.col("only_logistic") + F.col("only_rule") == 0, F.lit(0.0)
    ).otherwise(
        (F.abs(b - c) - 1.0) * (F.abs(b - c) - 1.0) / (b + c)
    )
    return g.select(
        "n",
        "both_right",
        "both_wrong",
        "only_logistic",
        "only_rule",
        F.round(stat, 6).alias("mcnemar_chi2"),
    )


def _mcnemar_sql() -> str:
    return f"""WITH {_logistic_ctes()},
cells AS (
  SELECT COUNT(*)::BIGINT AS n,
    CAST(SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END) AS BIGINT)
      AS both_right,
    CAST(SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT)
      AS both_wrong,
    CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT)
      AS only_logistic,
    CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT)
      AS only_rule
  FROM (
    SELECT y,
      CASE WHEN ROUND(1.0 / (1.0 + exp(-(b.b0 + b.b1 * x1 + b.b2 * x2))),
                      6) >= 0.5 THEN 1 ELSE 0 END AS pa,
      CASE WHEN x2 >= {MCNEMAR_RULE_THRESH} THEN 1 ELSE 0 END AS pb
    FROM feats, be{LOGISTIC_ROUNDS} b
  )
)
SELECT n, both_right, both_wrong, only_logistic, only_rule,
  ROUND(CASE WHEN only_logistic + only_rule = 0 THEN 0.0
    ELSE (ABS(only_logistic::DOUBLE - only_rule::DOUBLE) - 1.0)
       * (ABS(only_logistic::DOUBLE - only_rule::DOUBLE) - 1.0)
       / (only_logistic + only_rule)::DOUBLE END, 6) AS mcnemar_chi2
FROM cells
"""


# ---------------------------------------------------------------------------
# Cramér's V — effect size for the chi² association
# ---------------------------------------------------------------------------
#
# ml_chi2_independence answers "is there ANY association" — at 100 TB
# the answer is always yes (n inflates chi² without bound).  Cramér's
# V = sqrt(chi² / (n·min(r-1, c-1))) is the size-invariant effect
# measure that stays comparable across corpus scales — the number a
# feature-selection pass actually thresholds.  Same one-pass
# contingency shape as chi² (cell terms 1e-9-quantized to BIGINT),
# plus n and the min-dimension correction.


def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n, chi2, n_types, n_dows, cramers_v) for the
    event_type x day-of-week contingency."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    )
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    row_tot = cells.groupBy("event_type").agg(
        F.sum("obs").cast("long").alias("rt")
    )
    col_tot = cells.groupBy("dow").agg(
        F.sum("obs").cast("long").alias("ct")
    )
    n = cells.agg(F.sum("obs").cast("long").alias("n"))
    joined = (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .join(F.broadcast(n))
    )
    exp = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    term_q = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("long")
    g = joined.agg(
        F.max("n").alias("n"),
        F.sum(term_q).cast("long").alias("schi"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.countDistinct("dow").cast("long").alias("n_dows"),
    )
    chi2 = F.col("schi").cast("double") / 1e9
    mind = F.least(F.col("n_types") - 1, F.col("n_dows") - 1).cast("double")
    v = F.sqrt(chi2 / (F.col("n").cast("double") * mind))
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.round(chi2, 6).alias("chi2"),
        "n_types",
        "n_dows",
        F.round(v, 6).alias("cramers_v"),
    )


_CRAMERS_SQL = """
WITH e AS (
  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow FROM events
),
cells AS (
  SELECT event_type, dow, COUNT(*)::BIGINT AS obs FROM e GROUP BY 1, 2
),
rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rt
       FROM cells GROUP BY 1),
ct AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
terms AS (
  SELECT n,
    CAST(FLOOR(
      (obs::DOUBLE - rt.rt::DOUBLE * ct.ct::DOUBLE / n::DOUBLE)
      * (obs::DOUBLE - rt.rt::DOUBLE * ct.ct::DOUBLE / n::DOUBLE)
      / (rt.rt::DOUBLE * ct.ct::DOUBLE / n::DOUBLE) * 1e9 + 0.5)
      AS BIGINT) AS tq,
    cells.event_type, cells.dow
  FROM cells JOIN rt ON cells.event_type = rt.event_type
  JOIN ct ON cells.dow = ct.dow
  CROSS JOIN nn
)
SELECT MAX(n)::BIGINT AS n,
  ROUND(CAST(SUM(tq) AS BIGINT)::DOUBLE / 1e9, 6) AS chi2,
  COUNT(DISTINCT event_type)::BIGINT AS n_types,
  COUNT(DISTINCT dow)::BIGINT AS n_dows,
  ROUND(sqrt(CAST(SUM(tq) AS BIGINT)::DOUBLE / 1e9
    / (MAX(n)::DOUBLE
       * LEAST(COUNT(DISTINCT event_type) - 1,
               COUNT(DISTINCT dow) - 1)::DOUBLE)), 6) AS cramers_v
FROM terms
"""


# ---------------------------------------------------------------------------
# Murphy decomposition of the Brier score — why is the scorer good/bad?
# ---------------------------------------------------------------------------
#
# Brier = RELIABILITY - RESOLUTION + UNCERTAINTY (Murphy 1973) over the
# calibration bins: reliability (how far bin-mean predictions sit from
# bin-observed rates — lower is better), resolution (how much the bins
# separate the base rate — higher is better), uncertainty (the base
# rate's own variance — a property of the data, not the model).
# calibration_bins shows the diagram; this op reduces it to the three
# numbers a gate owner trends.  All bin statistics are exact BIGINTs
# (n_b, Σ quantized p, Σ y); each bin's REL/RES term is quantized to a
# 1e-6 BIGINT before the sum (no float aggregation; sums stay exact to
# ~10^12 rows), and the identity brier = rel - res + unc holds in the
# binned scores by construction.

BRIER_Q = 1_000_000


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n, reliability, resolution, uncertainty, brier) —
    Murphy decomposition of the logistic scorer over CAL_BINS
    probability deciles."""
    feats, beta = _fitted_logistic(spark, sf_dir)
    sel = feats.select(_logi_p(beta).alias("p"), "y")
    b = F.least(
        F.floor(F.col("p") * CAL_BINS).cast("long"), F.lit(CAL_BINS - 1)
    )
    bins = sel.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum(
            F.floor(F.col("p") * _LOGI_Q + F.lit(0.5)).cast("long")
        ).cast("long").alias("spq"),
        F.sum("y").cast("long").alias("sy"),
    )
    tot = bins.agg(
        F.sum("nb").cast("long").alias("n"),
        F.sum("sy").cast("long").alias("syt"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    nbd = F.col("nb").cast("double")
    pbar = F.col("spq").cast("double") / F.lit(float(_LOGI_Q)) / nbd
    obar_b = F.col("sy").cast("double") / nbd
    obar = F.col("syt").cast("double") / F.col("n").cast("double")
    qrel = F.floor(
        nbd * (pbar - obar_b) * (pbar - obar_b) * BRIER_Q + 0.5
    ).cast("long")
    qres = F.floor(
        nbd * (obar_b - obar) * (obar_b - obar) * BRIER_Q + 0.5
    ).cast("long")
    g = j.groupBy().agg(
        F.max("n").alias("n"),
        F.max("syt").alias("syt"),
        F.sum(qrel).cast("long").alias("srel"),
        F.sum(qres).cast("long").alias("sres"),
    )
    nd = F.col("n").cast("double")
    ob = F.col("syt").cast("double") / nd
    rel = F.col("srel").cast("double") / BRIER_Q / nd
    res = F.col("sres").cast("double") / BRIER_Q / nd
    unc = ob * (F.lit(1.0) - ob)
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(rel - res + unc, 6).alias("brier"),
    )


def _brier_decomp_sql() -> str:
    q = float(_LOGI_Q)
    return f"""WITH {_logistic_ctes()},
bins AS (
  SELECT LEAST(CAST(FLOOR(p * {CAL_BINS}) AS BIGINT), {CAL_BINS - 1})
      AS bin,
    COUNT(*)::BIGINT AS nb,
    CAST(SUM(CAST(FLOOR(p * {q} + 0.5) AS BIGINT)) AS BIGINT) AS spq,
    CAST(SUM(y) AS BIGINT) AS sy
  FROM ({_LOGI_SCORED})
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(nb) AS BIGINT) AS n, CAST(SUM(sy) AS BIGINT) AS syt
  FROM bins
),
terms AS (
  SELECT n, syt,
    CAST(FLOOR(nb::DOUBLE
      * (spq::DOUBLE / {q} / nb::DOUBLE - sy::DOUBLE / nb::DOUBLE)
      * (spq::DOUBLE / {q} / nb::DOUBLE - sy::DOUBLE / nb::DOUBLE)
      * {BRIER_Q} + 0.5) AS BIGINT) AS qrel,
    CAST(FLOOR(nb::DOUBLE
      * (sy::DOUBLE / nb::DOUBLE - syt::DOUBLE / n::DOUBLE)
      * (sy::DOUBLE / nb::DOUBLE - syt::DOUBLE / n::DOUBLE)
      * {BRIER_Q} + 0.5) AS BIGINT) AS qres
  FROM bins CROSS JOIN tot
)
SELECT MAX(n)::BIGINT AS n,
  ROUND(CAST(SUM(qrel) AS BIGINT)::DOUBLE / {BRIER_Q} / MAX(n)::DOUBLE,
        6) AS reliability,
  ROUND(CAST(SUM(qres) AS BIGINT)::DOUBLE / {BRIER_Q} / MAX(n)::DOUBLE,
        6) AS resolution,
  ROUND(MAX(syt)::DOUBLE / MAX(n)::DOUBLE
        * (1.0 - MAX(syt)::DOUBLE / MAX(n)::DOUBLE), 6) AS uncertainty,
  ROUND(CAST(SUM(qrel) AS BIGINT)::DOUBLE / {BRIER_Q} / MAX(n)::DOUBLE
        - CAST(SUM(qres) AS BIGINT)::DOUBLE / {BRIER_Q} / MAX(n)::DOUBLE
        + MAX(syt)::DOUBLE / MAX(n)::DOUBLE
          * (1.0 - MAX(syt)::DOUBLE / MAX(n)::DOUBLE), 6) AS brier
FROM terms
"""


# ---------------------------------------------------------------------------
# ridge regression — L2-regularized closed form (normal equations + λI)
# ---------------------------------------------------------------------------
#
# Same distributed template as ml_ols_multi (one aggregate -> nine
# exact BIGINT sufficient statistics -> per-group 3x3 Cramer solve),
# with RIDGE_LAMBDA added to the x1/x2 diagonal of the normal matrix
# (the intercept is not penalized — standard practice).  λ applies in
# the QUANTIZED feature space (x1 = round(qty), x2 = round(disc*100)),
# documented because shrinkage magnitude depends on feature scale.
# The shuffle stays 9 longs per group at any corpus size; determinism
# is the OLS argument verbatim: doubles built from exact ints < 2^53
# combined in an identical IEEE expression tree.

RIDGE_LAMBDA = 1_000_000  # in quantized-feature units


def ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per l_returnflag ridge fit of l_extendedprice ~ l_quantity +
    l_discount: (l_returnflag, n, coef_qty, coef_disc, intercept)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("long").alias("x2"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("y"),
    )
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        (F.sum(F.col("x1") * F.col("x1")) + F.lit(RIDGE_LAMBDA)).alias("s11"),
        (F.sum(F.col("x2") * F.col("x2")) + F.lit(RIDGE_LAMBDA)).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    d = {
        c: F.col(c).cast("double")
        for c in ("n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y")
    }
    det = (
        d["n"] * (d["s11"] * d["s22"] - d["s12"] * d["s12"])
        - d["s1"] * (d["s1"] * d["s22"] - d["s12"] * d["s2"])
        + d["s2"] * (d["s1"] * d["s12"] - d["s11"] * d["s2"])
    )
    nb0 = (
        d["sy"] * (d["s11"] * d["s22"] - d["s12"] * d["s12"])
        - d["s1"] * (d["s1y"] * d["s22"] - d["s12"] * d["s2y"])
        + d["s2"] * (d["s1y"] * d["s12"] - d["s11"] * d["s2y"])
    )
    nb1 = (
        d["n"] * (d["s1y"] * d["s22"] - d["s12"] * d["s2y"])
        - d["sy"] * (d["s1"] * d["s22"] - d["s12"] * d["s2"])
        + d["s2"] * (d["s1"] * d["s2y"] - d["s1y"] * d["s2"])
    )
    nb2 = (
        d["n"] * (d["s11"] * d["s2y"] - d["s1y"] * d["s12"])
        - d["s1"] * (d["s1"] * d["s2y"] - d["s1y"] * d["s2"])
        + d["sy"] * (d["s1"] * d["s12"] - d["s11"] * d["s2"])
    )
    return g.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.when(det == 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(nb1 / det / F.lit(100.0), 6))
        .alias("coef_qty"),
        F.when(det == 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(nb2 / det, 6))
        .alias("coef_disc"),
        F.when(det == 0.0, F.lit(None).cast("double"))
        .otherwise(F.round(nb0 / det / F.lit(100.0), 6))
        .alias("intercept"),
    ).orderBy("l_returnflag")


_RIDGE_SQL = f"""
WITH q AS (
  SELECT l_returnflag,
    CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x1,
    CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS x2,
    CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
  FROM lineitem
),
g AS (
  SELECT l_returnflag,
    COUNT(*)::BIGINT AS n,
    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
    CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x1 * x1) + {RIDGE_LAMBDA} AS BIGINT) AS s11,
    CAST(SUM(x2 * x2) + {RIDGE_LAMBDA} AS BIGINT) AS s22,
    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
    CAST(SUM(x1 * y) AS BIGINT) AS s1y,
    CAST(SUM(x2 * y) AS BIGINT) AS s2y
  FROM q GROUP BY l_returnflag
),
dd AS (
  SELECT l_returnflag, n::BIGINT AS n_out,
    n::DOUBLE AS dn, s1::DOUBLE AS d1, s2::DOUBLE AS d2,
    sy::DOUBLE AS dy, s11::DOUBLE AS d11, s22::DOUBLE AS d22,
    s12::DOUBLE AS d12, s1y::DOUBLE AS d1y, s2y::DOUBLE AS d2y
  FROM g
)
SELECT l_returnflag, n_out AS n,
  CASE WHEN det = 0.0 THEN NULL
       ELSE ROUND(nb1 / det / 100.0, 6) END AS coef_qty,
  CASE WHEN det = 0.0 THEN NULL ELSE ROUND(nb2 / det, 6) END AS coef_disc,
  CASE WHEN det = 0.0 THEN NULL
       ELSE ROUND(nb0 / det / 100.0, 6) END AS intercept
FROM (
  SELECT l_returnflag, n_out,
    dn * (d11 * d22 - d12 * d12)
      - d1 * (d1 * d22 - d12 * d2)
      + d2 * (d1 * d12 - d11 * d2) AS det,
    dy * (d11 * d22 - d12 * d12)
      - d1 * (d1y * d22 - d12 * d2y)
      + d2 * (d1y * d12 - d11 * d2y) AS nb0,
    dn * (d1y * d22 - d12 * d2y)
      - dy * (d1 * d22 - d12 * d2)
      + d2 * (d1 * d2y - d1y * d2) AS nb1,
    dn * (d11 * d2y - d1y * d12)
      - d1 * (d1 * d2y - d1y * d2)
      + dy * (d1 * d12 - d11 * d2) AS nb2
  FROM dd
)
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Spearman rank correlation — monotone-association companion to A8
# ---------------------------------------------------------------------------
#
# Pearson (ml_correlation) misses monotone-but-nonlinear association;
# Spearman is Pearson on AVERAGE ranks.  The tie-correct average rank
# is carried as the exact integer r2 = 2*avg_rank = 2*RANK() + ties - 1
# (RANK = min rank of the tie group, ties = group size), so every
# sufficient statistic is an exact integer; products/sums run in
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so the n*Σxy-grade terms
# stay exact far past BIGINT (4n^4 < 10^38 to n ≈ 7e8 rows PER GROUP).
# Scale shape (r8 rewrite — VERDICT r7 finding #1): there are only 3
# l_returnflag values, so a window partitioned by flag would sort a
# third of the fact table in ONE task.  Instead each axis builds a
# DISTINCT-VALUE rank map on the ml_auc two-level prefix-sum template
# (rank_value_map below): groupBy(flag, value) collapses the corpus to
# value grain, coarse value-buckets carry broadcast cumulative offsets,
# and the fine prefix window is partitioned by (flag, bucket) — no
# task ever holds more than one bucket of DISTINCT values.  Rows then
# re-acquire their ranks by value equi-join: the quantity map is
# domain-bounded (~50 values/flag, broadcast); the price map joins on
# the high-cardinality (flag, cents) key.


def _bucket_offsets(
    df: DataFrame, gcol: str, vcol: str, bucket_w: int, bcol: str, ocol: str
) -> DataFrame:
    """(gcol, bcol, ocol): per coarse value-bucket, the count of rows in
    all PRECEDING buckets of the group — the broadcast half of the
    two-level ranking.  Bucket grain (#groups x #buckets rows) is
    metadata-scale, so the prefix window over it is trivially cheap."""
    bt = df.groupBy(
        gcol,
        F.floor(F.col(vcol) / F.lit(bucket_w)).cast("long").alias(bcol),
    ).agg(F.count(F.lit(1)).alias("t"))
    wb = (
        Window.partitionBy(gcol)
        .orderBy(bcol)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return bt.withColumn(
        ocol, F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("long")
    ).select(gcol, bcol, ocol)


def _row_rank_col(
    df: DataFrame,
    gcol: str,
    vcol: str,
    bucket_w: int,
    off: DataFrame,
    bcol: str,
    ocol: str,
    out: str,
) -> DataFrame:
    """Attach per-row r2 = 2*avg_rank = 2*(before) + ties + 1 over
    `vcol` ascending within `gcol`, where `before` = broadcast bucket
    offset + (rank within the (group, bucket) fine window - 1) and
    `ties` = rows sharing this exact value (RANGE CURRENT ROW frame on
    the SAME window sort — no second exchange).  Row grain in, row
    grain out: r12's distinct-value rank map + equi-join-back
    re-derived the corpus at value grain (2 scans + a value-grain
    shuffle + a row-grain sort-merge join PER AXIS); ranking the rows
    in place costs exactly one exchange per axis (guide §2.4) and
    produces bit-identical r2 (same integers, same decimal cast)."""
    fine = Window.partitionBy(gcol, bcol).orderBy(vcol)
    ties = fine.rangeBetween(Window.currentRow, Window.currentRow)
    before = F.col(ocol) + F.rank().over(fine).cast("long") - 1
    n_g = F.count(F.lit(1)).over(ties)
    return (
        df.withColumn(
            bcol,
            F.floor(F.col(vcol) / F.lit(bucket_w)).cast("long"),
        )
        .join(F.broadcast(off), [gcol, bcol])
        .withColumn(
            out, (2 * before + n_g + 1).cast("decimal(19,0)")
        )
        .drop(bcol, ocol)
    )


SPEARMAN_XBUCKET = 8  # quantity 1..50 -> ~7 coarse buckets
SPEARMAN_YBUCKET = 1 << 14  # price cents -> ~hundreds of buckets


def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per l_returnflag Spearman rank correlation between l_quantity
    and l_extendedprice: (l_returnflag, n, spearman)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("long")
        .alias("y"),
    )
    off_y = _bucket_offsets(
        li, "l_returnflag", "y", SPEARMAN_YBUCKET, "_by", "_oy"
    )
    # x axis (r13, guide §2.4): quantity's domain is bounded (~50
    # values/flag — module comment above), so its ENTIRE rank map is a
    # broadcastable value-grain frame and the in-place rank's row-grain
    # exchange + sort (the r12 shape, still right for the unbounded
    # price axis) is pure waste here.  rx = 2*RANK + ties - 1 where
    # RANK = rows-before + 1, so from value-grain counts:
    # rx = 2*before + c + 1 — the identical integer the fine window
    # produced, now attached by a broadcast hash join with no exchange.
    wx = (
        Window.partitionBy("l_returnflag")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    xmap = (
        li.groupBy("l_returnflag", "x")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "rx",
            (
                2 * F.coalesce(F.sum("_c").over(wx), F.lit(0))
                + F.col("_c")
                + 1
            ).cast("decimal(19,0)"),
        )
        .select("l_returnflag", "x", "rx")
    )
    ranked = (
        _row_rank_col(
            li, "l_returnflag", "y", SPEARMAN_YBUCKET, off_y, "_by", "_oy", "ry"
        )
        .join(F.broadcast(xmap), ["l_returnflag", "x"])
        .select("l_returnflag", "rx", "ry")
    )
    g = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").cast("decimal(38,0)").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("decimal(38,0)").alias("sxy"),
    )
    dn = F.col("n").cast("double")
    dx, dy = F.col("sx").cast("double"), F.col("sy").cast("double")
    dxx, dyy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    dxy = F.col("sxy").cast("double")
    rho = (dn * dxy - dx * dy) / (
        F.sqrt(dn * dxx - dx * dx) * F.sqrt(dn * dyy - dy * dy)
    )
    return g.select(
        "l_returnflag", "n", F.round(rho, 6).alias("spearman")
    ).orderBy("l_returnflag")


_SPEARMAN_SQL = """
WITH q AS (
  SELECT l_returnflag,
    CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
    CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
  FROM lineitem
),
ranked AS (
  SELECT l_returnflag,
    (2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY x)
     + COUNT(*) OVER (PARTITION BY l_returnflag, x) - 1)::HUGEINT AS rx,
    (2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY y)
     + COUNT(*) OVER (PARTITION BY l_returnflag, y) - 1)::HUGEINT AS ry
  FROM q
),
g AS (
  SELECT l_returnflag, COUNT(*)::BIGINT AS n,
    SUM(rx) AS sx, SUM(ry) AS sy,
    SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
  FROM ranked GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  ROUND(
    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
    (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
     sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
  6) AS spearman
FROM g ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# mutual information — feature-relevance between a category and a
# bucketed measure
# ---------------------------------------------------------------------------
#
# MI(event_type; value bucket) in nats, the feature-selection screen a
# training pipeline runs before one-hot-ing a categorical.  Cell grain:
# |types| x MI_BINS contingency counts from ONE groupBy (map-side
# combinable); marginals by two broadcast-size re-aggregations.  The
# per-cell term c*ln(c*N/(r*k)) is quantized to a 1e-4 BIGINT (entropy
# convention: ln rounded to 9 dp first, so engine ulp differences
# vanish) and SUMMED AS BIGINT — no float aggregation; the final
# division by N happens once per output row.

MI_BIN_WIDTH_Q = 2000  # value quantized x100, bucket width = 20.0
MI_BINS = 10


def mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type MI contribution (nats) of the type x value-bucket
    cells: (event_type, n_events, mi_part); total MI = SUM(mi_part)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.least(
            F.floor(
                F.floor(F.col("value") * 100.0 + 0.5) / MI_BIN_WIDTH_Q
            ),
            F.lit(MI_BINS - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    cells = ev.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rows = cells.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("r")
    )
    cols = cells.groupBy("bin").agg(F.sum("c").cast("long").alias("k"))
    tot = cells.agg(F.sum("c").cast("long").alias("nn"))
    j = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "bin")
        .crossJoin(F.broadcast(tot))
    )
    ratio = (
        F.col("c").cast("double") * F.col("nn").cast("double")
    ) / (F.col("r").cast("double") * F.col("k").cast("double"))
    qterm = F.floor(
        F.col("c").cast("double") * F.round(F.log(ratio), 9) * 1e4 + 0.5
    ).cast("long")
    per = j.groupBy("event_type").agg(
        F.max("r").alias("n_events"),
        F.max("nn").alias("nn"),
        F.sum(qterm).cast("long").alias("s"),
    )
    return per.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(
            (F.col("s").cast("double") / 1e4)
            / F.col("nn").cast("double"),
            6,
        ).alias("mi_part"),
    ).orderBy("event_type")


_MI_SQL = f"""
WITH ev AS (
  SELECT event_type,
    LEAST(CAST(FLOOR(FLOOR(value * 100.0 + 0.5) / {MI_BIN_WIDTH_Q})
          AS BIGINT), {MI_BINS - 1}) AS bin
  FROM events
),
cells AS (
  SELECT event_type, bin, COUNT(*)::BIGINT AS c
  FROM ev GROUP BY 1, 2
),
rows_m AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS r
           FROM cells GROUP BY 1),
cols_m AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS k FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cells),
terms AS (
  SELECT cells.event_type, r, nn,
    CAST(FLOOR(c::DOUBLE * ROUND(ln(
      (c::DOUBLE * nn::DOUBLE) / (r::DOUBLE * k::DOUBLE)
    ), 9) * 1e4 + 0.5) AS BIGINT) AS qterm
  FROM cells
  JOIN rows_m ON cells.event_type = rows_m.event_type
  JOIN cols_m ON cells.bin = cols_m.bin
  CROSS JOIN tot
)
SELECT event_type, MAX(r)::BIGINT AS n_events,
  ROUND((CAST(SUM(qterm) AS BIGINT)::DOUBLE / 1e4)
        / MAX(nn)::DOUBLE, 6) AS mi_part
FROM terms GROUP BY event_type
ORDER BY event_type
"""


QUERIES = {
    "ml_target_encoding": Query(target_encoding, _TARGET_ENC_SQL),
    "ml_logistic_score": Query(logistic_score, _logistic_sql()),
    "ml_km_survival": Query(km_survival, _KM_SQL),
    "ml_calibration_bins": Query(calibration_bins, _cal_bins_sql()),
    "ml_log_loss": Query(log_loss_eval, _log_loss_sql()),
    # the learned quality gate rides this module's cached logistic
    # features
    "curation_quality_gate": Query(
        quality_gate, _quality_gate_sql(), family="ml"
    ),
    "ml_welch_ttest": Query(welch_ttest, _TTEST_SQL),
    "ml_chi2_independence": Query(chi2_independence, _CHI2_SQL),
    "ml_decile_lift": Query(decile_lift, _lift_sql()),
    "ml_pr_thresholds": Query(pr_at_thresholds, _pr_sql()),
    "ml_ols_multi": Query(group_ols_multi, _OLS_MULTI_SQL),
    "ml_col_stats": Query(col_stats, _colstats_sql()),
    "ml_correlation": Query(correlation_pairs, _corr_sql()),
    # exact Lloyd's, oracle-verified; an embeddings-table query, so it
    # shares the sim family's quantized-vector frames
    "ml_kmeans": Query(kmeans_lloyd, _kmeans_sql(), impure=True, family="sim"),
    # exact CART, oracle-verified
    "ml_decision_tree": Query(decision_tree_exact, _tree_sql(), impure=True),
    "ml_group_ols": Query(group_ols_trend, _OLS_SQL),
    "ml_regression_metrics": Query(regression_metrics, _REG_METRICS_SQL),
    "ml_zscore_outliers": Query(zscore_outliers, _ZSCORE_SQL),
    "ml_class_weights": Query(class_weights, _CLASSW_SQL),
    "ml_value_histogram": Query(value_histogram, _HIST_SQL),
    "ml_auc": Query(auc_rank, _AUC_SQL),
    "ml_covariance_matrix": Query(covariance_matrix, _COV_SQL),
    "ml_pca_power": Query(pca_power, _pca_sql(), impure=True),
    "ml_naive_bayes": Query(naive_bayes_confusion, _NB_SQL),
    "ml_ridge_regression": Query(ridge_regression, _RIDGE_SQL),
    "ml_spearman_corr": Query(spearman_corr, _SPEARMAN_SQL),
    "ml_mutual_information": Query(mutual_information, _MI_SQL),
    "ml_brier_decomposition": Query(brier_decomposition, _brier_decomp_sql()),
    "ml_cramers_v": Query(cramers_v, _CRAMERS_SQL),
    "ml_mcnemar_gates": Query(mcnemar_gates, _mcnemar_sql()),
}
