"""Deduplication operators for large-scale training-data pipelines:
exact (fingerprint), token-set Jaccard with lossless length blocking,
MinHash+LSH (banded bucket-join — the 100 TB path), SimHash (bit-vote),
and embedding-cosine near-dup.

Every operator is a declarative DataFrame plan (array lambdas run inside
codegen; no Python UDFs), and every threshold/hash constant is shared
with a DuckDB oracle twin built from the same primitives
(functions.scalars.stable_hash64 — md5-based, identical in both
engines), so results hash-match exactly.

Scale design:
  * exact dedup: one groupBy on a 60-bit fingerprint — shuffles |docs|
    small rows.
  * jaccard: length-ratio blocking (|A|/|B| >= t is implied by
    J(A,B) >= t, so the filter is lossless) before the pair join.
  * minhash-lsh: pairs are generated by an equi-join on (band, key) —
    cost ~ sum of bucket sizes squared, not |docs|^2; this is the
    operator you run at 100 TB.
  * simhash: 32-bit signature, pairs from identical-signature buckets
    (hamming-0 fast path) plus optional <=d refinement on candidates.
  * embedding near-dup: hyperplane-bucket candidates (hamming<=1 via
    masked-bucket probe keys; signature width scales with corpus size
    so bucket occupancy stays ~constant) + exact cosine verify — full
    corpus, no pairwise join anywhere.
  * every pair-generating self-join goes through one salted helper
    that splits degenerate (mega) buckets across the shuffle instead
    of letting one task go quadratic.

The queries read one near-duplicate index, built once per session
(planmemo.session_memo "dedup_index", keyed by the corpus dir and the
part).  Its parts:
  * corpus_tokens and corpus_shingles — the corpus token frame and
    word-3-gram shingle frame, each cached once (textops'
    text_ngram_novelty reads the shingles too);
  * jaccard_pairs and jaccard_pairs_full — the sampled and the
    full-corpus PPJoin pair frames, cached; the full one is persisted
    as the corpus_artifact ppjoin_pairs_t95_100;
  * lsh_pair_frame — the verified MinHash+LSH pair frame, persisted
    and cached;
  * the embeddings count (_corpus_n), the incremental demo's band
    index (incr_band_index_*, persisted), the near-dup vector frame
    (keyed by signature bits) and the SemDeDup assignment (keyed by k),
    the last two cached;
  * the connected-component labels over the sampled, exact and LSH
    pair frames (_cluster_labels).
A part that caches caches once, in its build, so with the index warm
no query runs a Spark job while it is built.  _token_frame and
_shingle_frame stay plain functions: tests and lsh_signature_index
apply them to batch frames.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.scalars import SQL_STABLE_HASH64, stable_hash64
from ..functions.text import fingerprint
from ..functions.vectors import dot, norm2
from ..planmemo import session_memo
from ..registry import Query

# ---------------------------------------------------------------------------
# shared primitives (Spark expression + SQL twin)
# ---------------------------------------------------------------------------

_SQL_TOKS = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE list_distinct(regexp_split_to_array(trim(text), '\\s+')) END"
)


def _token_set(col):
    # single tokenizer source of truth: functions.text.tokens
    from ..functions.text import tokens

    return F.array_distinct(tokens(col))


def _token_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, n) with empty docs dropped — the tokenization
    every dedup operator builds on (corpus_tokens is the cached corpus
    copy).

    The empty filter is expressed on raw text (tokens(text) = [] iff
    trim(text) = '') so it pushes into the parquet scan instead of
    forcing a tokenization pass just to test n > 0."""
    return (
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", _token_set(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
    )


def corpus_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus token frame, cached once per session (index part)."""
    return session_memo(
        spark,
        "dedup_index",
        sf_dir,
        "tokens",
        lambda: _token_frame(
            fan_out(load_table(spark, sf_dir, "documents"))
        ).cache(),
    )


# MinHash parameters — shared constants, inlined into both engines.
# Band shape chosen by measuring at TWO scales against the exact
# jaccard_pairs_full gold standard: 3x6 (18 perms) ties 3x8 on recall
# (0.9715 vs 0.9713) and wins 25% at sf0.1 on signature cost — but at
# sf1 (10x corpus) the less-selective 6-row buckets blow up the
# candidate set and 3x8 wins 2x (17.4 s vs 34.0 s, same pairs found).
# Candidate-verify cost scales with corpus size; signature cost only
# linearly — so the selective shape is the 100 TB choice.
_P = 1_000_000_007
_K = 24  # permutations
_B, _R = 3, 8  # bands x rows
_A = [2 * j + 17 for j in range(_K)]
_C = [7919 * j + 13 for j in range(_K)]

# A candidate bucket larger than this gets salt-split before the
# pair-generating self-join.  1000 docs -> ~500k in-bucket pairs is the
# most one task should absorb; real boilerplate-heavy corpora produce
# 10^4+-doc band buckets (10^8 pairs) that would otherwise pin a single
# straggler task.
HOT_BUCKET_CAP = 1000


def _salted_self_join_pairs(keyed, key_cols, id_col="doc_id", cap=None, extra=None):
    """All (id_a < id_b) pairs sharing `key_cols`, as an equi-join whose
    shuffle key gains a salt for buckets larger than `cap` — the
    mega-bucket guard for every pair-generating self-join here.

    Lossless: rows of a bucket of size m get a stable salt
    g = xxhash64(id) mod ceil(m/cap); the left side replicates each row
    once per salt value, the right side keeps its own salt, and the
    join key becomes (key_cols..., salt) — pair (x, y) matches exactly
    once, where the left copy's salt equals g(y).  A degenerate bucket
    thus spreads its m^2 candidate work across ceil(m/cap) shuffle
    keys (~m*cap comparisons per task) instead of one quadratic task.
    Overhead when nothing is hot: one map-side-combined count aggregate
    over the keyed rows plus a broadcast of the (rare) hot keys;
    nsplit = 1, the salt is constant 0, and the join volume is
    unchanged.  `extra` adds non-equi predicates (length blocking).

    Deliberately id-only output: an r11 experiment carried payload
    arrays through the join (to verify on the join output and skip the
    corpus re-joins) and measured SLOWER at sf10 — 33-39 s vs 18-20 s
    for dedup_semantic's verify — because materializing 64-double
    arrays per pair inside the join inner loop costs more than two
    extra equi-join shuffles of 16-byte id pairs.  Keep pair frames
    narrow; re-join payloads by id."""
    if cap is None:
        cap = HOT_BUCKET_CAP
    keys = list(key_cols)
    # `keyed` feeds three plan arms (bucket counts, both join sides);
    # uncached, an expensive upstream (24-permutation minhash
    # signatures) would recompute per arm.
    keyed = keyed.cache()
    sizes = (
        keyed.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > cap)
    )
    b = keyed.join(F.broadcast(sizes), keys, "left").withColumn(
        "_nsplit",
        F.coalesce(
            F.ceil(F.col("_bn") / F.lit(cap)).cast("int"), F.lit(1)
        ),
    )
    x = b.withColumn(
        "_g", F.explode(F.sequence(F.lit(0), F.col("_nsplit") - 1))
    )
    y = b.withColumn(
        "_g", F.pmod(F.xxhash64(id_col), F.col("_nsplit")).cast("int")
    )
    cond = (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")) & (
        F.col("x._g") == F.col("y._g")
    )
    for k in keys:
        cond = cond & (F.col(f"x.{k}") == F.col(f"y.{k}"))
    if extra is not None:
        cond = cond & extra
    return (
        x.alias("x")
        .join(y.alias("y"), cond)
        .select(
            F.col(f"x.{id_col}").alias("doc_a"),
            F.col(f"y.{id_col}").alias("doc_b"),
        )
        .distinct()
    )

# ---------------------------------------------------------------------------
# exact dedup (fingerprint groups)
# ---------------------------------------------------------------------------


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup: one representative (min doc_id) per
    normalized-text fingerprint + the duplicate count."""
    # no fan_out here: one md5 per doc is cheap next to shuffling the
    # full text, and the groupBy's map-side partial agg already runs on
    # the scan partitioning
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("representative_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


_SQL_NORM_TEXT = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_SQL_FP = SQL_STABLE_HASH64.format(x=_SQL_NORM_TEXT)

_EXACT_SQL = f"""
SELECT
  {_SQL_FP} AS fp,
  MIN(doc_id) AS representative_doc_id,
  COUNT(*) AS dup_count
FROM documents
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# token-set Jaccard near-dup pairs (length-blocked exact)
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.95
# the threshold as an exact integer ratio: length blocking must compare
# in integers (n_a * NUM <= n_b * DEN) — double arithmetic drops
# exact-boundary pairs (20 * 0.95_double = 19.000000000000004 > 19) and
# diverges from DuckDB, whose 0.95 literal is DECIMAL
_T_NUM, _T_DEN = 95, 100
_SAMPLE_MOD = 5  # deterministic gate for the O(n^2) exact baselines


def _ppjoin_pairs_from(d: DataFrame) -> DataFrame:
    """Exact token-set Jaccard pairs at threshold t over a prepared
    (doc_id, toks, n) frame — word tokens (jaccard_*) or character
    shingles (ngram_jaccard) — candidate-generated by PPJoin-style
    prefix filtering (Xiao et al., WWW'08) instead of an O(n^2)
    theta-join.

    Prefix principle (lossless): under any one total order of the token
    universe, J(A,B) >= t forces the (|A| - ceil(t|A|) + 1)-prefix of A
    and the (|B| - ceil(t|B|) + 1)-prefix of B to share a token — so an
    equi-join on prefix tokens finds every qualifying pair, and exact
    verification keeps results identical to the brute-force oracle.
    The order used is xxhash64(token): consistent everywhere, cheap, and
    pseudo-random so frequent tokens don't pile into every prefix the
    way lexicographic order would ("a" sorts first in most documents).
    Joining on the hash value (not the token) is still lossless: a
    shared token implies a shared hash; collisions only add candidates,
    which verification removes.  Candidate cost follows prefix-bucket
    occupancy (~5% of token occurrences at t=0.95), not |docs|^2.
    Empty docs can't near-dup and would make the Jaccard denominator 0
    (ANSI divide-by-zero) when paired together: both frames drop them.
    """
    t = JACCARD_THRESHOLD
    # ceil(t*n) in exact integers (see _T_NUM/_T_DEN note above)
    ceil_tn = f"CAST((n * {_T_NUM} + {_T_DEN} - 1) DIV {_T_DEN} AS INT)"
    pref = d.withColumn(
        "prefix",
        F.expr(
            "slice(array_sort(transform(toks, x -> xxhash64(x))),"
            f" 1, n - {ceil_tn} + 1)"
        ),
    ).select("doc_id", "n", F.explode("prefix").alias("hk"))
    # prefix buckets are as mega-bucket-prone as LSH bands (one
    # corpus-wide boilerplate token in every prefix), so the same
    # salt-split guard applies; length blocking is lossless
    # (J >= t implies min(n)/max(n) >= t)
    cand = _salted_self_join_pairs(
        pref,
        ["hk"],
        extra=(F.col("x.n") * _T_NUM <= F.col("y.n") * _T_DEN)
        & (F.col("y.n") * _T_NUM <= F.col("x.n") * _T_DEN),
    )
    # verification: NO forced broadcast — at demo scale Catalyst
    # auto-broadcasts the small token frame anyway (under
    # autoBroadcastJoinThreshold), and at 100 TB a forced broadcast of
    # every document's token set would OOM the driver; the planner falls
    # back to a shuffle join on doc_id, which is the correct scale shape
    sets = d.select("doc_id", "toks", "n")
    inter = F.size(F.array_intersect(F.col("sa.toks"), F.col("sb.toks")))
    jac = inter.cast("double") / (
        F.col("sa.n") + F.col("sb.n") - inter
    ).cast("double")
    return (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
    )


def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled exact-Jaccard pairs — the historical baseline shape; the
    deterministic sample gate matches the brute-force oracle twin.
    Index part, cached: dedup_clusters takes its edges from it.

    The sample filter runs AFTER the corpus token frame (tokenization
    commutes with a per-row filter, so results are identical), so no
    sampled twin of the tokenization is built."""
    return session_memo(
        spark,
        "dedup_index",
        sf_dir,
        "ppjoin_sampled",
        lambda: _ppjoin_pairs_from(
            corpus_tokens(spark, sf_dir).filter(
                F.col("doc_id") % _SAMPLE_MOD == 0
            )
        ).cache(),
    )


def jaccard_pairs_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-corpus exact Jaccard near-dup pairs — prefix filtering makes
    exact pairwise dedup a production path, not just a sampled baseline
    (gold standard: zero LSH misses).  The oracle twin is brute force
    over the whole table, so this also proves PPJoin losslessness on
    every driver run.

    Index part, cached: the verified pair set is tiny (~190k rows at
    sf0.1) and pipeline_dedup_corpus, dedup_keep_longest and
    dedup_best_match all read it.  Persisted per-corpus
    (operators.artifacts): the exact pair set is the gold-standard
    dedup index — a pure function of the corpus — so a fresh session
    reads it instead of re-running the PPJoin (311 s charged to
    dedup_best_match in the r11 sf10 sweep; VERDICT r11 item 4)."""
    from ingestprocessstoreinnrt_spark.operators.artifacts import (
        corpus_artifact,
    )

    return session_memo(
        spark,
        "dedup_index",
        sf_dir,
        "ppjoin_full",
        lambda: corpus_artifact(
            spark,
            sf_dir,
            f"ppjoin_pairs_t{_T_NUM}_{_T_DEN}",
            lambda: _ppjoin_pairs_from(corpus_tokens(spark, sf_dir)),
        ).cache(),
    )


# n-gram (shingle) Jaccard — word 3-gram shingling (Broder's w-shingling):
# near-dup detection sensitive to word ORDER, which plain token-set
# Jaccard ignores (a shuffled document has token-Jaccard 1.0 but low
# shingle-Jaccard).  Same PPJoin prefix filtering and salt guard; only
# the set universe changes.
NGRAM_N = 3  # words per shingle


def _shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, n) where toks = distinct word-3-gram shingles of
    the lowercased text, hashed to 64-bit ints (Broder's shingle
    hashing: set cardinalities — hence Jaccard — are preserved, while
    the verify intersections and shuffles move longs instead of ~20-char
    strings; measured 1.8x on the full pass).  The DuckDB twin keeps
    raw string shingles: equal set sizes => bit-identical output, and
    the cross-engine match doubles as a standing collision check
    (corpus_shingles is the cached corpus copy)."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (NGRAM_N - 1)),
            lambda i: F.xxhash64(
                F.concat_ws(
                    " ",
                    *[F.element_at(words, i + j) for j in range(NGRAM_N)],
                )
            ),
        )
    )
    return (
        docs.filter(F.size(words) >= NGRAM_N)
        .select("doc_id", shingles.alias("toks"))
        .withColumn("n", F.size("toks"))
    )


def corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus shingle frame, cached once per session (index part)."""
    return session_memo(
        spark,
        "dedup_index",
        sf_dir,
        "shingles",
        lambda: _shingle_frame(
            fan_out(load_table(spark, sf_dir, "documents"))
        ).cache(),
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-corpus exact word-3-gram shingle Jaccard near-dup pairs —
    PPJoin prefix filtering and the salt guard work unchanged on the
    shingle universe; only the set definition differs from
    jaccard_pairs_full."""
    return _ppjoin_pairs_from(corpus_shingles(spark, sf_dir))


# ---------------------------------------------------------------------------
# near-dup clusters: connected components over the pair graph — the step
# an actual dedup pipeline runs AFTER pair generation (pick one
# representative per duplicate group, drop the rest).  Iterative
# min-label propagation on Spark; DuckDB's WITH RECURSIVE reproduces the
# same fixpoint exactly, so even this "inherently iterative" operator is
# fully oracled.
# ---------------------------------------------------------------------------


# Edge sets at or below this row count take the driver-side union-find
# path in connected_components.  Same decision rule as a broadcast hash
# join: near-dup PAIRS are a tiny pruned residue of the corpus (1,887
# pairs from 5,000 docs here; candidate generation already bounded them
# by bucket occupancy), so a graph that fits driver memory is solved in
# one pass instead of diameter-many distributed rounds.  The distributed
# label-propagation loop below remains the plan for anything larger and
# is regression-tested for equality against this path.
SMALL_GRAPH_MAX_EDGES = 2_000_000


def _unionfind_components(rows) -> list:
    """Driver-side union-find over (src, dst) rows -> sorted
    [(doc_id, min_id_in_component)].  Exact same fixpoint as the
    distributed min-label propagation."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(r[0]), find(r[1])
        if a != b:
            parent[max(a, b)] = min(a, b)
    nodes = set()
    for r in rows:
        nodes.add(r[0])
        nodes.add(r[1])
    return sorted((n, find(n)) for n in nodes)


def connected_components(
    pairs: DataFrame, small_graph_max: int = SMALL_GRAPH_MAX_EDGES
) -> DataFrame:
    """(doc_id, cluster_rep) for every id in a (doc_a, doc_b) pair
    frame; cluster_rep = smallest doc_id in the connected component.

    Scale shape: each pass is one equi-join (messages along edges) plus
    one min-aggregate — the standard distributed label propagation.
    Passes needed = component diameter; each pass localCheckpoints to
    keep the plan linear, and the driver-side loop tests convergence
    with a metadata-scale aggregate, like the kmeans centroid loop.
    Edge sets under `small_graph_max` short-circuit to a driver
    union-find (see SMALL_GRAPH_MAX_EDGES).  Compose with any pair
    generator: jaccard_pairs_full at production scale,
    minhash_lsh_pairs when approximate recall is acceptable."""
    spark = pairs.sparkSession
    # pair generation runs ONCE: checkpoint the undirected pair frame,
    # then derive the doubled directed edge frame from it if needed
    p = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
    if small_graph_max and 2 * p.count() <= small_graph_max:
        # union-find registers both endpoints of every row, so the
        # undirected pair list IS the input — collecting the doubled
        # edge frame moved 2x the rows for nothing.  Arrow transfer
        # both ways (toPandas / pandas createDataFrame): measured ~3 s
        # -> ~0.5 s driver round-trip at 190k pairs.
        import pandas as pd

        pdf = p.toPandas()
        comp = _unionfind_components(
            list(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))
        )
        out = pd.DataFrame(comp, columns=["doc_id", "cluster_rep"])
        return spark.createDataFrame(
            out, "doc_id bigint, cluster_rep bigint"
        )
    edges = p.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        p.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # labels only ever DECREASE under min-propagation, so the label sum
    # is a convergence certificate: unchanged sum == fixpoint.  One
    # metadata-scale aggregate per pass instead of a join + count.
    prev_sum = None
    while True:
        msgs = (
            edges.join(labels, edges.src == labels.doc_id)
            .select(F.col("dst").alias("doc_id"), "label")
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping (path compression): label <- label(label).
        # Components with chain diameter d converge in ~log2(d) passes
        # instead of d (measured: 11 -> 4 passes on the sf0.1 corpus);
        # one extra self-join on the (tiny) labels frame per pass.
        reps = labels.select(
            F.col("doc_id").alias("label"), F.col("label").alias("jump")
        )
        labels = (
            labels.join(reps, "label")
            .select("doc_id", F.col("jump").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("doc_id", F.col("label").alias("cluster_rep"))


def _cluster_labels(spark: SparkSession, sf_dir: str, pairs) -> DataFrame:
    """connected_components over the index pair frame `pairs(spark,
    sf_dir)` (jaccard_pairs, jaccard_pairs_full or lsh_pair_frame),
    labelled once per session (index part)."""
    return session_memo(
        spark,
        "dedup_index",
        sf_dir,
        ("components", pairs.__name__),
        lambda: connected_components(
            pairs(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: connected components over the sampled exact
    Jaccard pair universe (the full-corpus pair set is its own query,
    dedup_jaccard_full; production composes the two)."""
    return _cluster_labels(spark, sf_dir, jaccard_pairs)


# edges + recursive label walk over a CTE named `pairs` (doc_a, doc_b)
# — shared by the cluster and survivorship oracles.
_EDGES_WALK_SQL = """edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(v, l) AS (
  SELECT DISTINCT src AS v, src AS l FROM edges
  UNION
  SELECT e.dst AS v, w.l FROM walk w JOIN edges e ON w.v = e.src
)"""


def _clusters_cte(sample_gate: str) -> str:
    """Shared pairs/edges/walk recursive-CTE prefix for the cluster
    oracles.  ``sample_gate`` is an extra WHERE conjunct ('' for the
    full corpus) — parameterized here so _CLUSTERS_SQL and
    _KEEP_LONGEST_SQL share ONE template instead of string surgery
    (ADVICE r4: .replace/.removesuffix silently no-op on reformat)."""
    return f"""WITH RECURSIVE d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks, len({_SQL_TOKS}) AS n FROM documents
  WHERE {sample_gate}len({_SQL_TOKS}) > 0
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE /
      (a.n + b.n - len(list_filter(a.toks, x -> list_contains(b.toks, x))))::DOUBLE
        AS jaccard
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id
     AND a.n * {_T_NUM} <= b.n * {_T_DEN}
     AND b.n * {_T_NUM} <= a.n * {_T_DEN}
  ) p
  WHERE jaccard >= {JACCARD_THRESHOLD}
),
{_EDGES_WALK_SQL}"""


_CLUSTERS_SQL = f"""
{_clusters_cte(f'doc_id % {_SAMPLE_MOD} = 0 AND ')}
SELECT v AS doc_id, MIN(l) AS cluster_rep FROM walk GROUP BY v
"""


_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks, len({_SQL_TOKS}) AS n FROM documents
  WHERE doc_id % {_SAMPLE_MOD} = 0 AND len({_SQL_TOKS}) > 0
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE /
    (a.n + b.n - len(list_filter(a.toks, x -> list_contains(b.toks, x))))::DOUBLE
      AS jaccard
  FROM d a JOIN d b
    ON a.doc_id < b.doc_id
   AND a.n * {_T_NUM} <= b.n * {_T_DEN}
   AND b.n * {_T_NUM} <= a.n * {_T_DEN}
) p
WHERE jaccard >= {JACCARD_THRESHOLD}
"""

_JACCARD_FULL_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks, len({_SQL_TOKS}) AS n FROM documents
  WHERE len({_SQL_TOKS}) > 0
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE /
    (a.n + b.n - len(list_filter(a.toks, x -> list_contains(b.toks, x))))::DOUBLE
      AS jaccard
  FROM d a JOIN d b
    ON a.doc_id < b.doc_id
   AND a.n * {_T_NUM} <= b.n * {_T_DEN}
   AND b.n * {_T_NUM} <= a.n * {_T_DEN}
) p
WHERE jaccard >= {JACCARD_THRESHOLD}
"""

# DuckDB twin for n-gram Jaccard: brute-force over the same shingle
# sets (range(1, n-1) is exclusive of the end, i.e. i = 1..n-2, one
# start index per word 3-gram; list indexing is 1-based in both
# engines).
_SQL_WORDS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_SQL_SHINGLES = (
    f"list_distinct(list_transform("
    f"range(1, len({_SQL_WORDS}) - {NGRAM_N - 2}), "
    f"i -> {_SQL_WORDS}[i::INT] || ' ' || {_SQL_WORDS}[i::INT + 1]"
    f" || ' ' || {_SQL_WORDS}[i::INT + 2]))"
)

_NGRAM_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SQL_SHINGLES} AS toks, len({_SQL_SHINGLES}) AS n
  FROM documents
  WHERE len({_SQL_WORDS}) >= {NGRAM_N}
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE /
    (a.n + b.n - len(list_filter(a.toks, x -> list_contains(b.toks, x))))::DOUBLE
      AS jaccard
  FROM d a JOIN d b
    ON a.doc_id < b.doc_id
   AND a.n * {_T_NUM} <= b.n * {_T_DEN}
   AND b.n * {_T_NUM} <= a.n * {_T_DEN}
) p
WHERE jaccard >= {JACCARD_THRESHOLD}
"""

# ---------------------------------------------------------------------------
# MinHash + LSH (banded) — the scalable near-dup path
# ---------------------------------------------------------------------------


def _minhash_array():
    """All K minhash values in ONE aggregate pass over the `hashes`
    column: acc[j] = min(acc[j], (A[j]*h + C[j]) % P).

    Same integer math as K separate array_min(transform(...)) columns —
    bit-identical output — but the expression tree is ~K times smaller,
    which matters: the wide form cost ~2.4s of whole-stage-codegen
    compile on first execution at sf0.1 (9.9s cold vs 7.5s this shape).
    """
    A_arr = F.array(*[F.lit(a).cast("long") for a in _A])
    C_arr = F.array(*[F.lit(c).cast("long") for c in _C])
    init = F.array(*[F.lit(_P).cast("long") for _ in range(_K)])
    return F.aggregate(
        F.col("hashes"),
        init,
        lambda acc, h: F.zip_with(
            F.zip_with(A_arr, C_arr, lambda a, c: (a * h + c) % F.lit(_P)),
            acc,
            lambda cand, m: F.least(cand, m),
        ),
    )


def lsh_pair_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified MinHash+LSH near-dup pair frame (doc_a, doc_b,
    jaccard, n_matches), cached index part: minhash_lsh_pairs,
    dedup_keep_longest_lsh and dedup_lsh_calibration all read it, and
    it costs the whole tokenize->sign->band->salted-join->verify
    pipeline to build.  Persisted per-corpus (operators.artifacts): the
    pair frame is the fitted dedup index a production service maintains
    next to the data, so a fresh session pays one parquet read, not the
    rebuild (the r11 sf10 sweep charged that rebuild — hundreds of
    seconds — to whichever family query ran first; VERDICT r11 item 4).
    Plan parameters that change the CONTENTS are part of the artifact
    name: a retuned band/threshold config must rebuild, not read a
    stale index."""
    from ingestprocessstoreinnrt_spark.operators.artifacts import (
        corpus_artifact,
    )

    def build() -> DataFrame:
        scratch: list = []
        return corpus_artifact(
            spark,
            sf_dir,
            f"lsh_pairs_k{_K}b{_B}r{_R}t{_T_NUM}_{_T_DEN}",
            lambda: _build_lsh_pairs(spark, sf_dir, scratch),
            cleanup=lambda: [s.unpersist() for s in scratch],
        ).cache()

    return session_memo(spark, "dedup_index", sf_dir, "lsh_pairs", build)


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via banded MinHash: equi-join on (band, band-key)
    generates candidates; exact token-set Jaccard >= t verifies.  No
    O(n^2) stage anywhere — candidate cost follows bucket occupancy.
    Reads the index's pair frame (lsh_pair_frame); projects away the
    calibration-only n_matches column."""
    return lsh_pair_frame(spark, sf_dir).select("doc_a", "doc_b", "jaccard")


def _sig_frame(d: DataFrame) -> DataFrame:
    """(doc_id, toks, n, mh) — the token frame plus its K-permutation
    MinHash signature array.  One signature scan feeds BOTH the band
    explosion and (since r12) the verify joins, so the verified pair
    frame can carry the signature-agreement count `n_matches` for free
    instead of calibration paying a second 24-permutation scan plus two
    re-joins (VERDICT r11 item 1)."""
    return d.withColumn(
        "hashes",
        F.transform(F.col("toks"), lambda t: stable_hash64(t) % F.lit(_P)),
    ).withColumn("mh", _minhash_array()).select("doc_id", "toks", "n", "mh")


def _band_frame(d: DataFrame) -> DataFrame:
    """(doc_id, band, key) banded MinHash rows from a token frame — the
    LSH SIGNATURE INDEX schema.  Shared by the whole-corpus pair path
    and the incremental index (the persisted table an incoming batch
    joins against)."""
    return _bands_of(_sig_frame(d))


def _bands_of(sig: DataFrame, keep: tuple = ()) -> DataFrame:
    """Band explosion of a prepared (doc_id, .., mh) signature frame.
    `keep` names extra signature columns to carry onto every band row
    (e.g. the token count n, so candidate joins can length-block)."""
    return sig.select(
        "doc_id",
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.element_at("mh", i * _R + r + 1).cast(
                                    "string"
                                )
                                for r in range(_R)
                            ],
                        ).alias("key"),
                    )
                    for i in range(_B)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *keep, "bk.band", "bk.key")


def _verify_pairs(cand: DataFrame, sets: DataFrame) -> DataFrame:
    """Exact token-set Jaccard verification of a (doc_a, doc_b)
    candidate frame against a (doc_id, toks, n) token frame; keeps
    pairs at/above JACCARD_THRESHOLD."""
    # token-set side is |docs| rows (small next to |candidates|); no
    # forced broadcast — Catalyst auto-broadcasts under the threshold at
    # demo scale, and at 100 TB the planner must be free to shuffle-join
    # on doc_id instead of OOMing the driver with every token set
    inter = F.size(F.array_intersect(F.col("sa.toks"), F.col("sb.toks")))
    jac = inter.cast("double") / (
        F.col("sa.n") + F.col("sb.n") - inter
    ).cast("double")
    return (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(_len_prefilter())
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _len_prefilter():
    """Lossless length-blocking prefilter for Jaccard verification:
    J = |A∩B|/|A∪B| <= min(n_a,n_b)/max(n_a,n_b), so any pair whose
    size ratio is below the threshold fails J >= t without touching the
    token arrays.  The 1e-9 slack strictly dominates double rounding in
    the ratio, so no passing pair can ever be pruned — verified result
    identical, only the array_intersect work on hopeless candidates is
    skipped."""
    ratio = F.least(F.col("sa.n"), F.col("sb.n")).cast("double") / (
        F.greatest(F.col("sa.n"), F.col("sb.n")).cast("double")
    )
    return ratio >= F.lit(JACCARD_THRESHOLD - 1e-9)


def _build_lsh_pairs(
    spark: SparkSession, sf_dir: str, scratch: list
) -> DataFrame:
    # The signature frame is persisted HERE (build-scoped scratch,
    # unpersisted by the artifact layer once the pair frame publishes):
    # three plan arms consume it — the band explosion plus the sa/sb
    # verify joins — and without an explicit persist each arm re-runs
    # the K-permutation minhash aggregate unless Catalyst exchange
    # reuse happens to fire (ADVICE r12).  MEMORY_AND_DISK, not the
    # MEMORY_ONLY default: at sf10 the toks+mh arrays alongside the
    # already-cached token frame would otherwise churn the MemoryStore.
    sig = _sig_frame(corpus_tokens(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    scratch.append(sig)
    bands = _bands_of(sig)
    # salted equi-join: a degenerate (band, key) bucket (boilerplate
    # corpora: 10^4+ docs -> 10^8 candidates in one task) is split
    # across ceil(m/cap) shuffle keys instead
    cand = _salted_self_join_pairs(bands, ["band", "key"])
    # verify + signature agreement in the SAME pair joins: the verify
    # equi-joins already carry each side's (much larger) token array,
    # so riding the 24-long mh array adds one zip_with per verified
    # pair — and the pair frame gains `n_matches`, which turns
    # lsh_calibration from a second signature scan + two re-joins into
    # a projection of this frame (VERDICT r11 item 1).
    inter = F.size(F.array_intersect(F.col("sa.toks"), F.col("sb.toks")))
    jac = inter.cast("double") / (
        F.col("sa.n") + F.col("sb.n") - inter
    ).cast("double")
    nm = F.size(
        F.filter(
            F.zip_with(F.col("sa.mh"), F.col("sb.mh"), lambda x, y: x == y),
            lambda b: b,
        )
    ).cast("long")
    # cached by lsh_pair_frame, the index part every consumer reads
    return (
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(_len_prefilter())  # lossless: see _len_prefilter
        .select(
            "doc_a",
            "doc_b",
            jac.alias("jaccard"),
            nm.alias("n_matches"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _minhash_ctes() -> str:
    """d/mh/sig/cand/verified CTE chain — shared by the LSH pair oracle
    and the LSH-path survivorship oracle (one template, no surgery)."""
    hh = SQL_STABLE_HASH64.format(x="tkn")
    mh = ",\n    ".join(
        f"list_min(list_transform(toks, tkn -> ({_A[j]} * ({hh} % {_P}) + {_C[j]}) % {_P})) AS mh{j}"
        for j in range(_K)
    )
    band_keys = ", ".join(
        "concat_ws('_', "
        + ", ".join(f"mh{i * _R + r}" for r in range(_R))
        + f") AS band{i}"
        for i in range(_B)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM sig x JOIN sig y"
        f" ON x.band{i} = y.band{i} AND x.doc_id < y.doc_id"
        for i in range(_B)
    )
    return f"""d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks, len({_SQL_TOKS}) AS n
  FROM documents
  WHERE len({_SQL_TOKS}) > 0
),
mh AS (
  SELECT doc_id, toks, n,
    {mh}
  FROM d
),
sig AS (SELECT doc_id, {band_keys} FROM mh),
cand AS (SELECT DISTINCT doc_a, doc_b FROM ({band_union})),
verified AS (
  SELECT doc_a, doc_b,
    len(list_filter(sa.toks, x -> list_contains(sb.toks, x)))::DOUBLE /
    (sa.n + sb.n - len(list_filter(sa.toks, x -> list_contains(sb.toks, x))))::DOUBLE
      AS jaccard
  FROM cand JOIN mh sa ON cand.doc_a = sa.doc_id
            JOIN mh sb ON cand.doc_b = sb.doc_id
)"""


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT * FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash (32-bit bit-vote signature)
# ---------------------------------------------------------------------------

_BITS = 32


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash signature (join-key for hamming-0
    bucketing; near-dup refinement pairs signatures by XOR popcount).

    Shape: explode tokens -> hash once -> 32 conditional bit-sums in ONE
    groupBy (map-side partial aggregation; the array-lambda form would
    re-evaluate the md5 per bit).  Shuffles |docs| x 33 ints, not text.
    """
    tok = (
        corpus_tokens(spark, sf_dir)
        .select("doc_id", F.explode("toks").alias("t"))
        .withColumn("h", stable_hash64(F.col("t")))
    )
    votes = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(
                f"v{i}"
            )
            for i in range(_BITS)
        ],
    )
    sig = F.lit(0).cast("long")
    for i in range(_BITS):
        sig = sig + F.when(
            F.col(f"v{i}") * 2 > F.col("n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select("doc_id", sig.alias("simhash"))


def _simhash_sql() -> str:
    hh = SQL_STABLE_HASH64.format(x="tkn")
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(toks, tkn -> ({hh} >> {i}) & 1 = 1))"
        f" > len(toks) THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(_BITS)
    )
    return f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
  WHERE len({_SQL_TOKS}) > 0
)
SELECT doc_id, ({bit_terms})::BIGINT AS simhash FROM d
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------

COSINE_THRESHOLD = 0.45

# Adaptive signature width (VERDICT r10 item 1): a FIXED 8-bit bucket
# space means within-bucket pair volume grows ~n^2 with corpus size —
# the r10 full-surface sf10 sweep measured exponent 2.01 sf1->sf10
# (563.7 s at sf10).  The bit count now scales with the corpus:
# smallest b in [_N_PLANES, NEARDUP_MAX_BITS] with
# n <= NEARDUP_TARGET_BUCKET << b, i.e. bits ~ log2(n / target), so
# expected bucket occupancy stays ~target and the hamming<=1 candidate
# volume stays ~n * target * (bits + 1) — linear with a log factor.
# Driver scales (n <= 4096) keep the 8-bit floor, bit-identical to the
# pre-adaptive behavior; sf1 (20k vectors) gets 11 bits, sf10 (200k)
# 14.  The oracle twin derives the same width from COUNT(*) via the
# integer threshold chain in _adaptive_mask_sql (a wide signature
# masked to b bits == the b-plane signature, since plane j contributes
# only bit j), so the gate stays cell-exact at every scale.
NEARDUP_TARGET_BUCKET = 16
NEARDUP_MAX_BITS = 24


def adaptive_sig_bits(n: int) -> int:
    """Smallest bit count in [_N_PLANES, NEARDUP_MAX_BITS] with
    n <= NEARDUP_TARGET_BUCKET << bits.  Pure integer comparisons — no
    floating log2 — so Python and the SQL twin can never disagree at a
    power-of-two boundary."""
    from .similarity import _N_PLANES

    bits = _N_PLANES
    while bits < NEARDUP_MAX_BITS and n > NEARDUP_TARGET_BUCKET << bits:
        bits += 1
    return bits


def _adaptive_mask_sql(table: str = "embeddings") -> str:
    """Scalar SQL computing (1 << adaptive_sig_bits(COUNT(*))) - 1 as
    the matching integer threshold CASE chain."""
    from .similarity import _N_PLANES

    whens = " ".join(
        f"WHEN n <= {NEARDUP_TARGET_BUCKET << b} THEN {(1 << b) - 1}"
        for b in range(_N_PLANES, NEARDUP_MAX_BITS)
    )
    return (
        f"(SELECT CASE {whens} ELSE {(1 << NEARDUP_MAX_BITS) - 1} END "
        f"FROM (SELECT COUNT(*) AS n FROM {table}))"
    )


def _corpus_n(spark: SparkSession, sf_dir: str) -> int:
    """Embeddings row count (index part): the corpus-size plan
    parameters (adaptive signature width, SemDeDup cluster count) cost
    one parquet-metadata COUNT per session."""
    return session_memo(
        spark,
        "dedup_index",
        sf_dir,
        "n_embeddings",
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs over the FULL corpus (sample gate gone):
    candidates share the corpus-width hyperplane bucket exactly or at
    hamming distance 1 — adaptive_sig_bits(n) planes (8 at driver
    scales; see the constant block above) — generated by an EQUI-join
    on (probe_idx, masked_bucket), then verified by exact cosine.

    Probe-key construction: each vector emits its bucket under probe
    index `bits` plus, per bit j, the bucket with bit j cleared under
    probe index j.  Two keys at the same index are equal iff the
    buckets agree outside bit j, so the join matches exactly the
    hamming<=1 pairs — a shuffle equi-join (salt-guarded like the
    other candidate joins), never a BroadcastNestedLoopJoin.  At
    100 TB the bucket is a precomputed partition column and each probe
    touches bits+1 partitions.  Approximate by design (bucket recall);
    the oracle twin applies the identical adaptive hamming<=1 rule, so
    the gate stays exact."""
    from .similarity import _signature

    bits = adaptive_sig_bits(_corpus_n(spark, sf_dir))
    # norm precomputed per vector (bitwise-identical to per-pair norm2;
    # see operators/similarity.py note) — the verify join then does one
    # array pass per pair instead of three.  Cached index part: it feeds
    # both probe sides and both verify lookups.
    emb = session_memo(
        spark,
        "dedup_index",
        sf_dir,
        ("neardup_vectors", bits),
        lambda: fan_out(load_table(spark, sf_dir, "embeddings"))
        .withColumn("bucket", _signature(F.col("embedding"), bits))
        .withColumn("nrm", norm2(F.col("embedding")))
        .cache(),
    )
    mask = (1 << bits) - 1
    probes = F.array(
        F.struct(F.lit(bits).alias("i"), F.col("bucket").alias("key")),
        *[
            F.struct(
                F.lit(j).alias("i"),
                F.col("bucket")
                .bitwiseAND(F.lit(~(1 << j) & mask))
                .alias("key"),
            )
            for j in range(bits)
        ],
    )
    p = emb.select("vec_id", "bucket", F.explode(probes).alias("pk")).select(
        F.col("vec_id").alias("doc_id"),
        F.col("bucket"),
        F.col("pk.i").alias("i"),
        F.col("pk.key").alias("key"),
    )
    # multiplicity guard (candidate SET unchanged): a hamming-0 pair's
    # keys agree at ALL bits+1 probe indices — without this predicate it
    # reaches the distinct bits+1 times.  Keep equal-bucket pairs only
    # at the identity probe (i == bits); a hamming-1 pair still matches
    # exactly once, at the index of its differing bit.
    once = (F.col("x.i") == F.lit(bits)) | (
        F.col("x.bucket") != F.col("y.bucket")
    )
    cand = _salted_self_join_pairs(p, ["i", "key"], extra=once)
    cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        cand.join(emb.alias("a"), F.col("doc_a") == F.col("a.vec_id"))
        .join(emb.alias("b"), F.col("doc_b") == F.col("b.vec_id"))
        .select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_THRESHOLD)
    )


def _neardup_sql() -> str:
    from .similarity import sql_signature

    return f"""
WITH sigs AS (
  SELECT vec_id, embedding,
    ({sql_signature("embedding", NEARDUP_MAX_BITS)})::BIGINT
      & {_adaptive_mask_sql()} AS bucket
  FROM embeddings
)
SELECT vec_a, vec_b, cos_sim FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    round(
      list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
      6) AS cos_sim
  FROM sigs a JOIN sigs b
    ON a.vec_id < b.vec_id
   AND bit_count(xor(a.bucket::BIGINT, b.bucket::BIGINT)) <= 1
) p
WHERE cos_sim >= {COSINE_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# greedy corpus dedup: survivors after dropping the larger id of every
# near-dup pair
# ---------------------------------------------------------------------------
#
# The end-to-end "dedup the corpus" composition: the exact full-corpus
# near-dup pair frame (the index's PPJoin part, dedup_jaccard_full)
# feeds a PAIRWISE drop policy — drop every doc that near-duplicates
# any LOWER doc id.  One anti-join, then a per-source conditional
# aggregate.  Note the chain semantics: for
# A~B~C with A!~C this drops BOTH B and C (C pairs with the lower B),
# i.e. it is more aggressive than true sequential keep-first (which
# would keep C once B is gone) and coincides with per-cluster
# keep-minimum on such chains.  Pipelines ship this form because it is
# iteration-free and one-sided-deterministic; cluster-exact dedup is
# the other policy (dedup_clusters' connected components).
#
# 100 TB path: swap the exact pair source for the LSH one — the frames
# share the (doc_a, doc_b) columns, so the swap is the one line below
# (minhash_lsh_pairs.select("doc_a", "doc_b") in place of
# jaccard_pairs_full); everything downstream is unchanged.  The exact
# source is kept as the driver-gate query because it doubles as the
# recall proof for that swap.


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    dropped = (
        jaccard_pairs_full(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    flagged = docs.join(
        dropped.withColumn("is_dropped", F.lit(1)), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("is_dropped").cast("long").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("is_dropped"))
            .cast("long")
            .alias("n_survivors"),
        )
        .orderBy("source")
    )


_SURVIVORS_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks, len({_SQL_TOKS}) AS n FROM documents
  WHERE len({_SQL_TOKS}) > 0
),
pairs AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE /
      (a.n + b.n - len(list_filter(a.toks, x -> list_contains(b.toks, x))))::DOUBLE
        AS jaccard
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id
     AND a.n * {_T_NUM} <= b.n * {_T_DEN}
     AND b.n * {_T_NUM} <= a.n * {_T_DEN}
  ) p
  WHERE jaccard >= {JACCARD_THRESHOLD}
),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
SELECT source,
  COUNT(*)::BIGINT AS n_docs,
  COUNT(dropped.doc_id)::BIGINT AS n_dropped,
  (COUNT(*) - COUNT(dropped.doc_id))::BIGINT AS n_survivors
FROM documents LEFT JOIN dropped ON documents.doc_id = dropped.doc_id
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# paragraph-grain dedup (CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------
#
# Document-grain dedup misses the dominant duplication mode of web
# corpora: repeated PARAGRAPHS (navigation chrome, license footers,
# cookie banners) embedded in otherwise-unique pages.  CCNet
# (facebookresearch/cc_net, Wenzek et al. 2020) dedups at paragraph
# grain: hash each paragraph, keep one canonical copy corpus-wide.
#
# The synthetic documents table has no newline structure, so a
# "paragraph" is a fixed non-overlapping token window (PARA_TOKENS) —
# the same slicing as curation.chunk_frame with stride == size; on a
# real corpus the splitter swaps to split(text, '\n\n') and
# everything downstream is unchanged.
#
# Scale shape (the 100 TB path):
#   1. explode docs -> (doc_id, para_idx, para_hash, n_tok): narrow.
#   2. groupBy para_hash -> (canonical position, n_copies): map-side
#      combinable MIN/COUNT, so a boilerplate paragraph with 10^7
#      copies costs one partial row per task — no skewed window, no
#      straggler (same fix the r3 sweep applied to ngram novelty).
#   3. hash-keyed equi-join back (both sides bucket on para_hash; AQE
#      splits any residual hot hash) + per-doc aggregate.
# Nothing is quadratic and no state grows past vocabulary grain.

PARA_TOKENS = 32  # paragraph window (non-overlapping)


def _para_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, para_idx, para_hash, n_tok) — non-overlapping
    PARA_TOKENS-token windows, hashed with the shared md5 primitive."""
    from ..functions.text import tokens

    toks = tokens(F.col("text"))
    d = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    )
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(PARA_TOKENS))
    return d.select(
        "doc_id", "toks", F.explode(starts).alias("start")
    ).select(
        "doc_id",
        (F.col("start") / PARA_TOKENS).cast("long").alias("para_idx"),
        F.slice(
            F.col("toks"), F.col("start") + 1, F.lit(PARA_TOKENS)
        ).alias("para"),
    ).select(
        "doc_id",
        "para_idx",
        stable_hash64(F.concat_ws(" ", "para")).alias("para_hash"),
        F.size("para").cast("long").alias("n_tok"),
    )


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate profile after corpus-wide paragraph
    dedup: (doc_id, n_paras, n_dup_paras, kept_tokens, total_tokens,
    dup_ratio).  A paragraph occurrence is DUP when its hash occurs
    more than once corpus-wide and this occurrence is not the
    canonical (lowest doc_id, then para_idx) one — CCNet keeps exactly
    one copy of every repeated paragraph."""
    paras = _para_frame(fan_out(load_table(spark, sf_dir, "documents")))
    # canonical position packed into one BIGINT so MIN is a plain
    # map-side-combinable aggregate in both engines (para_idx < 2^20)
    pos = F.col("doc_id") * F.lit(1 << 20) + F.col("para_idx")
    stats = paras.groupBy("para_hash").agg(
        F.min(pos).alias("canon_pos"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    flagged = paras.join(stats, "para_hash").withColumn(
        "is_dup",
        (F.col("n_copies") > 1) & (pos != F.col("canon_pos")),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.col("is_dup").cast("long"))
            .cast("long")
            .alias("n_dup_paras"),
            F.sum(
                F.when(~F.col("is_dup"), F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("kept_tokens"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "dup_ratio",
            F.round(
                F.col("n_dup_paras").cast("double")
                / F.col("n_paras").cast("double"),
                6,
            ),
        )
        .orderBy("doc_id")
    )


_PARA_SQL = f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
  FROM documents WHERE trim(text) <> ''
),
p AS (
  SELECT doc_id,
    u.start // {PARA_TOKENS} AS para_idx,
    toks[u.start + 1 : u.start + {PARA_TOKENS}] AS para
  FROM d, UNNEST(range(0, len(toks), {PARA_TOKENS})) AS u(start)
),
h AS (
  SELECT doc_id, para_idx,
    {SQL_STABLE_HASH64.format(x="array_to_string(para, ' ')")} AS para_hash,
    len(para)::BIGINT AS n_tok,
    doc_id * {1 << 20} + para_idx AS pos
  FROM p
),
st AS (
  SELECT para_hash, MIN(pos) AS canon_pos, COUNT(*) AS n_copies
  FROM h GROUP BY para_hash
),
f AS (
  SELECT h.*, (st.n_copies > 1 AND h.pos <> st.canon_pos) AS is_dup
  FROM h JOIN st USING (para_hash)
)
SELECT doc_id,
  COUNT(*)::BIGINT AS n_paras,
  SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup_paras,
  SUM(CASE WHEN is_dup THEN 0 ELSE n_tok END)::BIGINT AS kept_tokens,
  SUM(n_tok)::BIGINT AS total_tokens,
  ROUND(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)::DOUBLE
        / COUNT(*)::DOUBLE, 6) AS dup_ratio
FROM f
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# quality-priority survivorship (keep the LONGEST copy per cluster)
# ---------------------------------------------------------------------------
#
# dedup_survivors keeps the first (lowest doc_id) copy; production
# pipelines usually keep the highest-QUALITY copy — here the longest
# (token count), the most common heuristic when near-dups are
# truncations of each other.  Shape: the index's cluster labels join
# its token frame (both doc-grain), and the per-cluster argmax packs
# (n_tokens, doc_id) into one BIGINT so the reduce is a plain
# map-side-combinable MAX — no window over members.

_KEEP_SHIFT = 1 << 40  # doc_id < 2^40, n_tokens < 2^23


def _keep_longest_over(
    spark: SparkSession, sf_dir: str, pairs
) -> DataFrame:
    """Keep-longest survivorship over the components of the index pair
    frame `pairs` (_cluster_labels): per-cluster packed-BIGINT argmax
    (longest member wins, doc_id breaking exact-length ties LOW).  The
    reduce is a plain map-side-combinable MAX — no window over cluster
    members, so a 10^7-doc boilerplate cluster costs one partial row
    per task."""
    labels = _cluster_labels(spark, sf_dir, pairs)
    sizes = corpus_tokens(spark, sf_dir).select("doc_id", "n")
    score = F.col("n") * F.lit(_KEEP_SHIFT) + (
        F.lit(_KEEP_SHIFT - 1) - F.col("doc_id")
    )
    return (
        labels.join(sizes, "doc_id")
        .groupBy("cluster_rep")
        .agg(
            F.max(score).alias("s"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .select(
            "cluster_rep",
            (
                F.lit(_KEEP_SHIFT - 1)
                - F.pmod(F.col("s"), F.lit(_KEEP_SHIFT))
            )
            .cast("long")
            .alias("survivor_doc_id"),
            # exact integer division (ADVICE r4: float / rounds away
            # low bits once s >= 2^53, i.e. docs with >= 2^13 tokens)
            F.expr(f"s DIV {_KEEP_SHIFT}")
            .cast("long")
            .alias("survivor_tokens"),
            "n_members",
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("cluster_rep")
    )


def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_rep, survivor_doc_id, survivor_tokens, n_members,
    n_dropped) per near-dup cluster in the FULL pair universe —
    survivor = longest member, doc_id breaking exact-length ties
    LOW.  Reads the index's full pair frame (jaccard_pairs_full).
    Exactness gold standard; the production-scale twin is
    dedup_keep_longest_lsh."""
    return _keep_longest_over(spark, sf_dir, jaccard_pairs_full)


def dedup_keep_longest_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION 100 TB survivorship path: the same keep-longest
    policy composed over the banded MinHash+LSH pair frame (salted
    hot-bucket self-join, no O(n^2) stage) instead of the exact PPJoin
    frame.  Own DuckDB twin; tests assert its dropped-doc recall vs
    the exact path stays at the measured LSH recall (~97%)."""
    return _keep_longest_over(spark, sf_dir, lsh_pair_frame)


# label/argmax tail shared by both survivorship oracles; expects a
# recursive CTE named `walk(v, l)` in scope.
_KEEP_TAIL_SQL = f"""lab AS (SELECT v AS doc_id, MIN(l) AS cluster_rep FROM walk GROUP BY v),
sized AS (
  SELECT lab.doc_id, lab.cluster_rep, len({_SQL_TOKS}) AS n
  FROM lab JOIN documents USING (doc_id)
),
agg AS (
  SELECT cluster_rep,
    MAX(n * {_KEEP_SHIFT} + ({_KEEP_SHIFT - 1} - doc_id)) AS s,
    COUNT(*)::BIGINT AS n_members
  FROM sized GROUP BY cluster_rep
)
SELECT cluster_rep,
  ({_KEEP_SHIFT - 1} - s % {_KEEP_SHIFT})::BIGINT AS survivor_doc_id,
  (s // {_KEEP_SHIFT})::BIGINT AS survivor_tokens,
  n_members,
  (n_members - 1)::BIGINT AS n_dropped
FROM agg
ORDER BY cluster_rep
"""

_KEEP_LONGEST_SQL = f"""
{_clusters_cte('')},
{_KEEP_TAIL_SQL}
"""

_KEEP_LONGEST_LSH_SQL = f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
),
{_EDGES_WALK_SQL},
{_KEEP_TAIL_SQL}
"""


# ---------------------------------------------------------------------------
# per-document best match ("show me my duplicate")
# ---------------------------------------------------------------------------


def best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, best_match, jaccard) — each flagged document's closest
    neighbor in the exact full-corpus pair universe (ties -> lowest
    partner id).  Reads the index's PPJoin pair frame; the
    symmetrized union and per-doc ranking run at PAIR grain (windows
    partitioned by doc_id), never on the corpus."""
    from pyspark.sql import Window

    pairs = jaccard_pairs_full(spark, sf_dir)
    sym = pairs.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("partner"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("partner"),
            "jaccard",
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("jaccard").desc(), F.col("partner").asc()
        )
    )
    return (
        sym.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("partner").alias("best_match"),
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy("doc_id")
    )


_BEST_MATCH_SQL = f"""
WITH pairs AS ({_JACCARD_FULL_SQL}),
sym AS (
  SELECT doc_a AS doc_id, doc_b AS partner, jaccard FROM pairs
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS partner, jaccard FROM pairs
),
r AS (
  SELECT doc_id, partner, jaccard,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY jaccard DESC, partner ASC) AS rn
  FROM sym
)
SELECT doc_id, partner AS best_match, ROUND(jaccard, 6) AS jaccard
FROM r WHERE rn = 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# fuzzy name matching (edit-distance entity resolution)
# ---------------------------------------------------------------------------
#
# The classic record-linkage shape: catalog names that differ by typos/
# variants.  Blocking is part of the SPEC (standard ER practice: block
# on the reliable attribute, fuzz the unreliable one): part names are
# "<modifier> <noun>"; candidates share the noun exactly and the
# modifiers are compared by Levenshtein <= FUZZY_D.  Scale shape:
# reduce to NAME grain first (map-side-combined groupBy — the fact
# table never self-joins), equi-join on the blocking key, verify with
# the O(len^2) DP only on in-block candidates.  Levenshtein is the
# classic unit-cost insert/delete/substitute distance in both engines
# (pinned by a pure-Python DP replay test).

FUZZY_D = 2


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(name_a, name_b, dist, n_parts_a, n_parts_b) — distinct part
    names sharing their noun whose modifiers are within FUZZY_D
    edits."""
    parts = load_table(spark, sf_dir, "part")
    names = (
        parts.groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
        .select(
            F.col("p_name").alias("name"),
            "n_parts",
            F.substring_index(F.col("p_name"), " ", 1).alias("modifier"),
            F.substring_index(F.col("p_name"), " ", -1).alias("noun"),
        )
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.modifier"), F.col("b.modifier"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("long").alias("dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .filter(F.col("dist") <= FUZZY_D)
        .orderBy("name_a", "name_b")
    )


_FUZZY_SQL = f"""
WITH names AS (
  SELECT p_name AS name, COUNT(*)::BIGINT AS n_parts,
    split_part(p_name, ' ', 1) AS modifier,
    split_part(p_name, ' ', -1) AS noun
  FROM part GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b,
  levenshtein(a.modifier, b.modifier)::BIGINT AS dist,
  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.noun = b.noun AND a.name < b.name
WHERE levenshtein(a.modifier, b.modifier) <= {FUZZY_D}
ORDER BY name_a, name_b
"""


# ---------------------------------------------------------------------------
# containment near-dup (subset/quote duplicates)
# ---------------------------------------------------------------------------
#
# Asymmetric containment C = |A n B| / |A| with A the SMALLER shingle
# set: catches a short document quoted inside a long one, which
# Jaccard structurally misses (a 20-token doc fully inside a 1000-token
# doc has J ~ 0.02).  The set universe is word-3-gram SHINGLES, not
# tokens: token-set containment is vacuous on any small shared
# vocabulary (measured: 54% of all doc pairs exceed 0.9 on this
# corpus), while shingles are order-sensitive, so only genuine quoted
# runs score.  Candidate rule (lossless, the asymmetric PPJoin
# variant): C(A,B) >= t forces the (|A| - ceil(t|A|) + 1)-prefix of A
# (under the global hash order) to share a shingle with B's FULL set —
# the container side cannot be prefix-pruned, so the join is
# prefix(small) x inverted-index(all shingles), the classic
# containment-join shape.  Hot shingles on the index side get the same
# salt-split as every other pair generator here (via
# _salted_ab_join_pairs below); verification is exact set
# intersection, threshold compared in integers.

CONTAIN_NUM, CONTAIN_DEN = 90, 100  # containment threshold 0.90


def _salted_ab_join_pairs(
    left,
    right,
    key_cols,
    id_a="doc_id",
    id_b="doc_b",
    cap=None,
    extra=None,
    dedup=True,
):
    """Two-sided variant of _salted_self_join_pairs: all (left, right)
    row pairs sharing `key_cols`, where the two sides are DIFFERENT
    frames (e.g. prefix tokens x inverted index).  Buckets are sized on
    the RIGHT side (the index side is where boilerplate tokens
    explode); rows of a hot key get a stable salt on the right and the
    left replicates per salt value — pair coverage is exact, per-task
    right-side input is bounded by `cap`."""
    if cap is None:
        cap = HOT_BUCKET_CAP
    keys = list(key_cols)
    left = left.cache()
    right = right.cache()
    sizes = (
        right.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > cap)
    )
    nsplit = F.coalesce(
        F.ceil(F.col("_bn") / F.lit(cap)).cast("int"), F.lit(1)
    )
    x = (
        left.join(F.broadcast(sizes), keys, "left")
        .withColumn("_nsplit", nsplit)
        .withColumn(
            "_g", F.explode(F.sequence(F.lit(0), F.col("_nsplit") - 1))
        )
    )
    y = (
        right.join(F.broadcast(sizes), keys, "left")
        .withColumn("_nsplit", nsplit)
        .withColumn(
            "_g", F.pmod(F.xxhash64(id_b), F.col("_nsplit")).cast("int")
        )
    )
    cond = F.col("x._g") == F.col("y._g")
    for k in keys:
        cond = cond & (F.col(f"x.{k}") == F.col(f"y.{k}"))
    if extra is not None:
        cond = cond & extra
    out = (
        x.alias("x")
        .join(y.alias("y"), cond)
        .select(
            F.col(f"x.{id_a}").alias("doc_a"),
            F.col(f"y.{id_b}").alias("doc_b"),
        )
    )
    # dedup=False lets a caller that post-processes pairs (normalize,
    # union) run ONE distinct at its own grain instead of two
    return out.distinct() if dedup else out


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_small, doc_big, n_small, n_big, containment) for every
    unordered pair whose smaller shingle set is >= 90% contained in
    the larger (ties in size broken by doc id so each pair appears
    once, roles deterministic)."""
    d = corpus_shingles(spark, sf_dir)
    # toks are already 64-bit shingle hashes — the global order is the
    # hash value itself
    pref_len = (
        f"n - CAST((n * {CONTAIN_NUM} + {CONTAIN_DEN} - 1) "
        f"DIV {CONTAIN_DEN} AS INT) + 1"
    )
    withh = d.withColumn("hks", F.expr("array_sort(toks)"))
    pref = withh.select(
        "doc_id",
        "n",
        F.posexplode(F.expr(f"slice(hks, 1, {pref_len})")).alias(
            "pa", "hk"
        ),
    )
    index = withh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n").alias("n_b"),
        F.posexplode(F.expr("hks")).alias("pb", "hk"),
    )
    # role gate INSIDE the join: the left (prefix) row is the smaller
    # set; equal sizes keep the lower id on the left
    smaller = (F.col("x.n") < F.col("y.n_b")) | (
        (F.col("x.n") == F.col("y.n_b"))
        & (F.col("x.doc_id") < F.col("y.doc_b"))
    )
    # PPJoin positional filter (lossless): both shingle lists are
    # sorted distinct hashes, so a match at 0-based positions (pa, pb)
    # bounds the achievable overlap by min(pa, pb) common hashes before
    # the match plus min(n - pa, n_b - pb) from the match onward.  A
    # valid upper bound for EVERY generating match row — a pair whose
    # true overlap meets the containment gate can never lose all its
    # match rows, so the verified result is unchanged; only hopeless
    # common-shingle candidates stop reaching the pair distinct.
    required = F.expr(
        f"(x.n * {CONTAIN_NUM} + {CONTAIN_DEN} - 1) DIV {CONTAIN_DEN}"
    )
    bound = F.least(F.col("x.pa"), F.col("y.pb")) + F.least(
        F.col("x.n") - F.col("x.pa"), F.col("y.n_b") - F.col("y.pb")
    )
    cand = _salted_ab_join_pairs(
        pref, index, ["hk"], extra=smaller & (bound >= required)
    )
    sets = d.select("doc_id", "toks", "n")
    inter = F.size(F.array_intersect(F.col("sa.toks"), F.col("sb.toks")))
    return (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(inter * CONTAIN_DEN >= F.col("sa.n") * CONTAIN_NUM)
        .select(
            F.col("doc_a").alias("doc_small"),
            F.col("doc_b").alias("doc_big"),
            F.col("sa.n").cast("long").alias("n_small"),
            F.col("sb.n").cast("long").alias("n_big"),
            F.round(
                inter.cast("double") / F.col("sa.n").cast("double"), 6
            ).alias("containment"),
        )
    )


def _containment_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, {_SQL_SHINGLES} AS toks, len({_SQL_SHINGLES}) AS n
  FROM documents WHERE len({_SQL_WORDS}) >= {NGRAM_N}
)
SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
  a.n::BIGINT AS n_small, b.n::BIGINT AS n_big,
  round(len(list_intersect(a.toks, b.toks))::DOUBLE / a.n::DOUBLE, 6)
    AS containment
FROM d a JOIN d b
  ON (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
WHERE len(list_intersect(a.toks, b.toks)) * {CONTAIN_DEN}
      >= a.n * {CONTAIN_NUM}
"""


# ---------------------------------------------------------------------------
# SemDeDup: embedding-cluster semantic dedup (Abbas et al. 2023,
# arXiv:2303.09540 — public paper)
# ---------------------------------------------------------------------------
#
# The semantic level the token-based ops (LSH/Jaccard/simhash) can't
# reach: paraphrases share no shingles but sit next to each other in
# embedding space.  SemDeDup's shape: coarse-cluster the corpus with
# k-means, then compare vectors ONLY within their cluster and drop
# every vector that exceeds the cosine threshold against a lower-id
# cluster-mate (the same one-sided iteration-free keep policy as
# pipeline_dedup_corpus).
#
# Composition, not new machinery: the coarse quantizer is the oracled
# deterministic Lloyd's fit from operators.ml (session-memoized +
# artifact-cached — ml_kmeans / ann_ivf_topk / this query all share one
# fit per sf_dir), assignment is the same per-row broadcast fold as the
# IVF index, and the in-cluster pair generation routes through
# _salted_self_join_pairs like every other pair generator here.
#
# 100 TB shape: `cid` is a precomputed partition column (written at
# ingest by the same assignment expression); the in-cluster self-join
# is then partition-local.  Per-cluster work is quadratic in cluster
# size BY DESIGN (that is SemDeDup) — so k MUST scale as
# n/target_cluster_size to keep total pair volume ~n*target.  Until
# r10 the oracled query pinned k = ml.K_CLUSTERS = 8 for oracle-chain
# reuse, and the first full sf10 sweep showed exactly the predicted
# failure: exponent 1.98 sf1->sf10, 934.7 s at sf10 (VERDICT r10
# item 1).  k is now corpus-adaptive on BOTH engines: the Spark side
# computes _sem_k(n) from the memoized corpus count; the DuckDB twin
# computes the identical integer formula from COUNT(*) inside the
# centroid chain's seed LIMIT (ml.centroid_ctes accepts a SQL
# expression for k).  Driver scales (n < 400 * 8) keep k = 8,
# bit-identical to the pre-adaptive fit; sf1 gets k = 50, sf10
# k = 500.  SEM_MAX_K caps the driver-side centroid list (4096 x dim
# ints is still metadata-scale); past that cap a deployment shards
# the fit, not this demo query.

SEM_COS_THRESHOLD = COSINE_THRESHOLD  # same gate as embedding_neardup
SEM_TARGET_CLUSTER = 400  # expected vectors per cluster at scale
SEM_MAX_K = 4096


def _sem_k(n: int) -> int:
    """Corpus-adaptive SemDeDup cluster count: n/target, floored at
    ml.K_CLUSTERS (oracle-chain floor) and capped at SEM_MAX_K.
    Integer arithmetic only — the SQL twin (_sem_k_sql) can never
    disagree."""
    from . import ml

    return max(ml.K_CLUSTERS, min(SEM_MAX_K, n // SEM_TARGET_CLUSTER))


def _sem_k_sql() -> str:
    from . import ml

    return (
        f"(SELECT GREATEST({ml.K_CLUSTERS}, LEAST({SEM_MAX_K}, "
        f"COUNT(*) // {SEM_TARGET_CLUSTER})) FROM embeddings)"
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDeDup verdict: (vec_id, cid, dropped) — dropped=1
    iff some SAME-CLUSTER vector with a lower vec_id has exact cosine
    >= SEM_COS_THRESHOLD (verified on the full vectors, threshold at
    round-6 like the other cosine gates).  Cluster count is
    corpus-adaptive (_sem_k; 8 at driver scales) so per-cluster pair
    volume stays ~n * SEM_TARGET_CLUSTER at any corpus size — see the
    block comment above."""
    from . import ml
    from .similarity import coarse_row

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    k = _sem_k(_corpus_n(spark, sf_dir))
    # Cache only the assignment RESULT (vec_id, cid — ~16 B/row; index
    # part keyed by k): the n x k nearest-centroid fold is what must
    # not recompute per consumer.  The embedding arrays are NOT cached
    # here — re-reading the 200k-row parquet scan per verify arm is
    # sub-second, while a cached array frame is ~0.4 GB at sf10 and
    # feeds the dedup family's cache-eviction storm (PERFORMANCE.md
    # r11: the in-sweep warm ran 2x its isolated floor purely from
    # storage pressure).
    assigned = session_memo(
        spark,
        "dedup_index",
        sf_dir,
        ("sem_assign", k),
        lambda: ml.assign_nearest(
            emb.withColumn("qv", ml._qvec()), coarse_row(spark, sf_dir, k)
        )
        .select("vec_id", "cid")
        .cache(),
    )
    ev = emb.withColumn("nrm", norm2(F.col("embedding"))).select(
        "vec_id", "embedding", "nrm"
    )
    # Verify shape measured at sf10 (PERFORMANCE.md r11): NARROW pair
    # generation (vec_id, cid only — 16 B/row through the merge join's
    # 40M-pair inner loop) + two id-keyed corpus re-joins beats
    # carrying the 64-double arrays through the self-join (18-20 s vs
    # 33-39 s isolated) — per-pair array materialization inside the
    # join inner loop costs more than two extra equi-join shuffles of
    # the compact id pairs.
    pairs = _salted_self_join_pairs(assigned, ["cid"], id_col="vec_id")
    cos = F.round(
        dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    dropped = (
        pairs.join(ev.alias("a"), F.col("doc_a") == F.col("a.vec_id"))
        .join(ev.alias("b"), F.col("doc_b") == F.col("b.vec_id"))
        .filter(cos >= SEM_COS_THRESHOLD)
        .select(F.col("doc_b").alias("vec_id"))
        .distinct()
        .withColumn("d", F.lit(1).cast("long"))
    )
    return (
        assigned.select("vec_id", F.col("cid").cast("long").alias("cid"))
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("dropped"),
        )
        .orderBy("vec_id")
    )


def _semantic_sql() -> str:
    from . import ml

    # same chain shape as the shared centroid oracle, with the seed
    # LIMIT made corpus-adaptive (k = _sem_k(COUNT(*)) on both engines)
    ctes = ml.centroid_ctes(k=_sem_k_sql())
    ctes.append(
        f"""dr AS (
  SELECT DISTINCT b.vec_id
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round(
      list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
      (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
       sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))),
      6) >= {SEM_COS_THRESHOLD})"""
    )
    return (
        ",\n".join(ctes)
        + """
SELECT af.vec_id, af.cid::BIGINT AS cid,
  (CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS dropped
FROM af LEFT JOIN dr USING (vec_id)
ORDER BY af.vec_id"""
    )


# ---------------------------------------------------------------------------
# Incremental (new-batch-vs-corpus) dedup  (VERDICT r6 item 3)
# ---------------------------------------------------------------------------
#
# Every other dedup verb here is whole-corpus; a real 100 TB pipeline
# dedups each INCOMING batch against an existing signature index
# without rescanning the corpus.  Composition of existing machinery:
#
#   * the index is the banded-signature frame (_band_frame: doc_id,
#     band, key) persisted as a table — in the streaming twin it lives
#     in an UpsertTable (the reference's entity-upsert pattern,
#     NyTaxiYellowTripStreaming.scala:214-266, applied to the dedup
#     index), alongside a (doc_id, toks, n) token table written at
#     index time so verification never re-reads raw corpus text;
#   * new-vs-corpus candidates: _salted_ab_join_pairs on (band, key) —
#     batch bands x index bands, hot boilerplate buckets salt-split on
#     the index side;
#   * new-vs-new candidates: the usual salted self-join over the
#     batch's own bands;
#   * verification: the same exact token-set Jaccard as the
#     whole-corpus path.
#
# Equivalence (tested): candidate generation is symmetric in the band
# key, so running batches b_1..b_k sequentially — each batch's verdicts
# against the index of b_1..b_{i-1} plus itself — yields EXACTLY the
# whole-corpus LSH pair set: a pair (x in b_i, y in b_j, i <= j) is
# found once, at batch j (via the index if i < j, via the self-join if
# i == j).  100 TB shape: per-batch cost is |batch| signatures + a
# candidate join bounded by band-bucket occupancy — the corpus is
# touched only through the (doc_id-keyed, bucket-pruned) index and
# token tables, never rescanned.

INCR_MOD, INCR_REM = 10, 7  # the oracled demo split: batch = 10% of docs


def lsh_signature_index(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) signature-index rows for a document frame —
    what an ingest job appends to the persisted index table."""
    return _band_frame(_token_frame(docs))


def incremental_lsh_verdicts(
    batch_toks: DataFrame, index_bands: DataFrame, all_toks: DataFrame
) -> DataFrame:
    """Near-dup verdicts for an incoming batch: (doc_a, doc_b, jaccard)
    pairs at/above JACCARD_THRESHOLD where at least one side is in the
    batch.  `batch_toks` is the batch's (doc_id, toks, n) frame,
    `index_bands` the persisted (doc_id, band, key) index of everything
    already ingested, `all_toks` a token frame covering every doc id
    either side can produce (batch + indexed corpus).  Safe under
    re-ingest: a batch doc already present in the index never pairs
    with itself."""
    # band rows carry the token count so the length-blocking predicate
    # (the same lossless min/max >= t rule _len_prefilter applies at
    # verify time) prunes hopeless candidates INSIDE the candidate
    # joins — before they are shuffled into the pair dedup exchanges.
    # The persisted index keeps its (doc_id, band, key) schema; n is
    # re-attached from the token frame at read time (|docs|-scale join).
    batch_bands = _bands_of(_sig_frame(batch_toks), keep=("n",))
    blocked = F.least(F.col("x.n"), F.col("y.n")).cast("double") >= F.lit(
        JACCARD_THRESHOLD - 1e-9
    ) * F.greatest(F.col("x.n"), F.col("y.n")).cast("double")
    # ONE fused candidate join (r13): batch bands against the union of
    # the index bands and the batch's own bands, instead of separate
    # new-vs-old (ab) and new-vs-new (self) joins.  The order gate
    # keeps batch-batch pairs once (doc_a < doc_b on the batch side;
    # index-side pairs pass unconditionally and are normalized below),
    # so the fused candidate SET equals ab(batch x index) ∪ self(batch)
    # exactly — while one join + one bucket-size aggregate + one
    # distinct replace two of each (the join-stage count was half the
    # warm wall at bench scale; at 100 TB it is one pass over the
    # per-batch band rows instead of two).  Safe under re-ingest: a
    # batch doc also present in the index yields its (x, x_index) row,
    # dropped by the doc_a != doc_b filter, and any batch-batch /
    # batch-index double sighting collapses in the single distinct.
    # Shrink the index side BEFORE it is shuffled (guide §2.2, VERDICT
    # r13 item 5): only index bands whose (band, key) occurs in the
    # batch can ever produce a candidate, and the batch's distinct band
    # keys are bounded by |batch| x bands — the operator's own per-batch
    # unit — so they ride in a broadcast semi-join that prunes the
    # (corpus-scale) index to the matching buckets before the bucket-
    # size aggregate, the |docs|-scale n join, and the salted candidate
    # join ever see it.  Lossless: leftsemi on exactly the equi-join
    # key can only drop rows that join with nothing.  At 100 TB a
    # mega-batch would swap the broadcast for a bloom filter over the
    # same keys (guide §3.2) — same pruning, no exactness requirement.
    # (projected off batch_bands, whose plan the salted join .cache()s,
    # so the signature fold is not recomputed for the key set)
    batch_keys = batch_bands.select("band", "key").distinct()
    idx_side = index_bands.join(
        F.broadcast(batch_keys), ["band", "key"], "leftsemi"
    ).join(
        all_toks.select("doc_id", "n"), "doc_id"
    ).select(
        F.col("doc_id").alias("doc_b"),
        "n",
        "band",
        "key",
        F.lit(False).alias("is_batch"),
    )
    batch_side = batch_bands.select(
        F.col("doc_id").alias("doc_b"),
        "n",
        "band",
        "key",
        F.lit(True).alias("is_batch"),
    )
    once = (~F.col("y.is_batch")) | (F.col("x.doc_id") < F.col("y.doc_b"))
    fused = _salted_ab_join_pairs(
        batch_bands,
        idx_side.unionByName(batch_side),
        ["band", "key"],
        extra=blocked & once,
        dedup=False,  # the single distinct below runs at pair grain
    )
    cand = (
        fused.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    return _verify_pairs(cand, all_toks.select("doc_id", "toks", "n"))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracled incremental-dedup demo: docs with
    doc_id % INCR_MOD == INCR_REM arrive as the incoming batch against
    a signature index built from the other 90% — verdicts = every LSH
    near-dup pair touching the batch.  Proven == the whole-corpus LSH
    pair set restricted to batch-touching pairs (the DuckDB twin), and
    proven batch-sequence == whole-corpus in tests."""
    from ingestprocessstoreinnrt_spark.operators.artifacts import (
        corpus_artifact,
    )

    d = corpus_tokens(spark, sf_dir)
    is_batch = F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == F.lit(INCR_REM)
    # the signature index is PERSISTED (operators.artifacts) — this is
    # not a bench shortcut but the operator's own semantics: the module
    # comment above describes exactly this banded-signature table as
    # what an ingest job maintains; rebuilding it from raw text per
    # session was the 225 s cold cell in the r11 sf10 sweep.  The
    # batch side is signed fresh every run, as an ingest job would.
    index_bands = session_memo(
        spark,
        "dedup_index",
        sf_dir,
        "incr_band_index",
        lambda: corpus_artifact(
            spark,
            sf_dir,
            f"incr_band_index_k{_K}b{_B}r{_R}m{INCR_MOD}_{INCR_REM}",
            lambda: _band_frame(d.filter(~is_batch)),
        ),
    )
    return incremental_lsh_verdicts(d.filter(is_batch), index_bands, d)


def _incremental_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT * FROM verified
WHERE jaccard >= {JACCARD_THRESHOLD}
  AND (doc_a % {INCR_MOD} = {INCR_REM} OR doc_b % {INCR_MOD} = {INCR_REM})
"""


# ---------------------------------------------------------------------------
# MinHash estimator calibration — is the signature telling the truth?
# ---------------------------------------------------------------------------
#
# The audit behind every LSH threshold choice: per verified near-dup
# pair, compare the SIGNATURE's Jaccard estimate (matching minhash
# positions / K) against the exact token-set Jaccard, grouped by match
# count.  A drifting estimator (bad hash family, token distribution
# pathology) shows up as bins whose mean true Jaccard pulls away from
# m/K — before it silently costs recall.  Reads the index's LSH pair
# frame, which carries n_matches since r12 (the exact Jaccards AND the
# signature agreement are already paid for at pair build).
# True-Jaccard means are 1e-6-quantized BIGINT sums (no float
# aggregation); m and the estimate m/K are exact.


def lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_matches, n_pairs, est_jaccard, avg_true_jaccard) per
    signature-agreement count over the verified near-dup pairs.

    Since r12 this is a pure projection + groupBy of the family pair
    frame: `n_matches` is computed once, inside _build_lsh_pairs'
    verify joins (and persisted with the pair artifact), so calibration
    no longer pays a second 24-permutation signature scan plus two
    mh-array re-joins — the r11 sweep's single most expensive cold cell
    (635.9 s at sf10) collapses to pair-grain work (VERDICT r11 item
    1's fix direction)."""
    pairs = lsh_pair_frame(spark, sf_dir)
    qj = F.floor(F.col("jaccard") * 1e6 + 0.5).cast("long")
    g = pairs.select(
        F.col("n_matches"), qj.alias("qj")
    ).groupBy("n_matches").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("qj").cast("long").alias("sj"),
    )
    return g.select(
        "n_matches",
        "n_pairs",
        F.round(
            F.col("n_matches").cast("double") / F.lit(float(_K)), 6
        ).alias("est_jaccard"),
        F.round(
            F.col("sj").cast("double")
            / 1e6
            / F.col("n_pairs").cast("double"),
            6,
        ).alias("avg_true_jaccard"),
    ).orderBy("n_matches")


def _lsh_calibration_sql() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(_K)
    )
    return f"""
WITH {_minhash_ctes()},
scored AS (
  SELECT CAST({agree} AS BIGINT) AS n_matches,
    CAST(FLOOR(v.jaccard * 1e6 + 0.5) AS BIGINT) AS qj
  FROM (SELECT * FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}) v
  JOIN mh sa ON v.doc_a = sa.doc_id
  JOIN mh sb ON v.doc_b = sb.doc_id
)
SELECT n_matches, COUNT(*)::BIGINT AS n_pairs,
  ROUND(n_matches::DOUBLE / {float(_K)}, 6) AS est_jaccard,
  ROUND(CAST(SUM(qj) AS BIGINT)::DOUBLE / 1e6 / COUNT(*)::DOUBLE, 6)
    AS avg_true_jaccard
FROM scored GROUP BY n_matches
ORDER BY n_matches
"""


# ---------------------------------------------------------------------------
# materialized oracle twins for the sf1 sweep (VERDICT r8 item 2)
# ---------------------------------------------------------------------------
#
# The single-statement CTE oracles are what the driver runs at sf0.01;
# at sf1 two of them blow multi-hour windows for ORACLE-side reasons:
# DuckDB inlines a CTE per reference, so the minhash/verified chain is
# re-derived up to 4x per query, and the per-pair
# list_filter/list_contains intersection is quadratic in token-list
# length.  These twins factor the shared frames into TEMP TABLES
# (built once) and compute set intersections relationally (unnest +
# equi-join + count, exact because toks are DISTINCT per doc — both
# _token_frame and _shingle_frame emit list_distinct sets).  Same
# integers into the same float expressions => cell-identical output;
# tests pin mat == plain oracle at sf0.01.  Consumed by
# tools/oracle_check.py --mat.


def _tok_mat_stmts(gate: str = "") -> list[str]:
    """mat_d (distinct word-token sets) + mat_tok (unnested, with set
    size) — the shared base of every mat twin below.  `gate` is an
    extra WHERE conjunct (the sampled cluster oracle's mod filter)."""
    return [
        f"CREATE OR REPLACE TEMP TABLE mat_d AS "
        f"SELECT doc_id, {_SQL_TOKS} AS toks, len({_SQL_TOKS}) AS n "
        f"FROM documents WHERE {gate}len({_SQL_TOKS}) > 0",
        "CREATE OR REPLACE TEMP TABLE mat_tok AS "
        "SELECT doc_id, n, unnest(toks) AS tok FROM mat_d",
    ]


def _minhash_mat_stmts() -> list[str]:
    """mat_mh/mat_sig/mat_cand/mat_verified — the minhash->band->
    verify chain, built ONCE (the single-statement form re-derives it
    per inlined CTE reference)."""
    hh = SQL_STABLE_HASH64.format(x="tkn")
    mh = ",\n    ".join(
        f"list_min(list_transform(toks, tkn -> ({_A[j]} * ({hh} % {_P}) + "
        f"{_C[j]}) % {_P})) AS mh{j}"
        for j in range(_K)
    )
    band_keys = ", ".join(
        "concat_ws('_', "
        + ", ".join(f"mh{i * _R + r}" for r in range(_R))
        + f") AS band{i}"
        for i in range(_B)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM mat_sig x "
        f"JOIN mat_sig y ON x.band{i} = y.band{i} AND x.doc_id < y.doc_id"
        for i in range(_B)
    )
    return [
        f"CREATE OR REPLACE TEMP TABLE mat_mh AS "
        f"SELECT doc_id, n,\n    {mh}\nFROM mat_d",
        f"CREATE OR REPLACE TEMP TABLE mat_sig AS "
        f"SELECT doc_id, {band_keys} FROM mat_mh",
        f"CREATE OR REPLACE TEMP TABLE mat_cand AS "
        f"SELECT DISTINCT doc_a, doc_b FROM ({band_union})",
        # relational |A intersect B| — candidates with an empty
        # intersection drop out, harmless under the >= threshold gate
        "CREATE OR REPLACE TEMP TABLE mat_verified AS "
        "SELECT i.doc_a, i.doc_b, "
        "i.i::DOUBLE / (sa.n + sb.n - i.i)::DOUBLE AS jaccard "
        "FROM (SELECT c.doc_a, c.doc_b, COUNT(*)::BIGINT AS i "
        "      FROM mat_cand c "
        "      JOIN mat_tok ta ON ta.doc_id = c.doc_a "
        "      JOIN mat_tok tb ON tb.doc_id = c.doc_b "
        "       AND tb.tok = ta.tok "
        "      GROUP BY c.doc_a, c.doc_b) i "
        "JOIN mat_mh sa ON i.doc_a = sa.doc_id "
        "JOIN mat_mh sb ON i.doc_b = sb.doc_id",
    ]


# Jaccard >= t prefix bound: with roles b >= a, overlap i >= 2t/(1+t)*a,
# so |A \ B| = a - i <= floor(a*(DEN-NUM)/(DEN+NUM)) — any qualifying
# pair shares at least one of the smaller set's first
# floor(a*(DEN-NUM)/(DEN+NUM)) + 1 sorted elements (same argument as
# the containment prefix; valid under any consistent total order).
# The original oracles' size-ratio band is IMPLIED by J >= t
# (i <= a  =>  a >= t*b), so candidates->verify reproduces the exact
# pair set without it.
_J_PREF = f"((n * {_T_DEN - _T_NUM}) // {_T_DEN + _T_NUM}) + 1"


def _jaccard_mat_stmts() -> list[str]:
    """mat_jpref/mat_jcand/mat_jinter/mat_jpairs — the EXACT full-
    corpus Jaccard pair frame via prefix-filtered candidates and
    relational intersections, replacing the all-pairs join with
    per-pair quadratic list ops that made keep_longest/jaccard_full/
    best_match/survivors the slow tail of the sf1 sweep."""
    return [
        f"CREATE OR REPLACE TEMP TABLE mat_jpref AS "
        f"SELECT doc_id, n, unnest(list_slice(list_sort(toks), 1, "
        f"{_J_PREF})) AS tok FROM mat_d",
        # prefix side = the SMALLER set (equal sizes: lower id);
        # normalize emitted pairs to (lower id, higher id) = the
        # original oracles' orientation
        f"CREATE OR REPLACE TEMP TABLE mat_jcand AS "
        f"SELECT DISTINCT least(p.doc_id, t.doc_id) AS doc_a, "
        f"greatest(p.doc_id, t.doc_id) AS doc_b "
        f"FROM mat_jpref p JOIN mat_tok t ON p.tok = t.tok "
        f"AND (p.n < t.n OR (p.n = t.n AND p.doc_id < t.doc_id)) "
        f"AND t.n * {_T_NUM} <= p.n * {_T_DEN}",
        "CREATE OR REPLACE TEMP TABLE mat_jinter AS "
        "SELECT c.doc_a, c.doc_b, COUNT(*)::BIGINT AS i "
        "FROM mat_jcand c "
        "JOIN mat_tok ta ON ta.doc_id = c.doc_a "
        "JOIN mat_tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok "
        "GROUP BY c.doc_a, c.doc_b",
        f"CREATE OR REPLACE TEMP TABLE mat_jpairs AS "
        f"SELECT doc_a, doc_b, jaccard FROM ("
        f"SELECT i.doc_a, i.doc_b, "
        f"i.i::DOUBLE / (a.n + b.n - i.i)::DOUBLE AS jaccard "
        f"FROM mat_jinter i "
        f"JOIN mat_d a ON a.doc_id = i.doc_a "
        f"JOIN mat_d b ON b.doc_id = i.doc_b) p "
        f"WHERE jaccard >= {JACCARD_THRESHOLD}",
    ]


def _lsh_calibration_mat() -> list[str]:
    agree = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(_K)
    )
    return _tok_mat_stmts() + _minhash_mat_stmts() + [
        f"""
SELECT n_matches, COUNT(*)::BIGINT AS n_pairs,
  ROUND(n_matches::DOUBLE / {float(_K)}, 6) AS est_jaccard,
  ROUND(CAST(SUM(qj) AS BIGINT)::DOUBLE / 1e6 / COUNT(*)::DOUBLE, 6)
    AS avg_true_jaccard
FROM (
  SELECT CAST({agree} AS BIGINT) AS n_matches,
    CAST(FLOOR(v.jaccard * 1e6 + 0.5) AS BIGINT) AS qj
  FROM (SELECT * FROM mat_verified WHERE jaccard >= {JACCARD_THRESHOLD}) v
  JOIN mat_mh sa ON v.doc_a = sa.doc_id
  JOIN mat_mh sb ON v.doc_b = sb.doc_id
) scored
GROUP BY n_matches
ORDER BY n_matches
""",
    ]


def _containment_mat() -> list[str]:
    # prefix length n - ceil(n*0.9) + 1: any pair with containment
    # >= 0.9 must share at least one of the smaller set's first
    # (|A \ B| + 1) sorted elements — valid under ANY consistent total
    # order, so sorting the raw string shingles (vs Spark's sorted
    # hashes) changes the CANDIDATE superset, never the verified output
    pref_len = f"n - ((n * {CONTAIN_NUM} + {CONTAIN_DEN} - 1) // {CONTAIN_DEN}) + 1"
    return [
        f"CREATE OR REPLACE TEMP TABLE mat_cd AS "
        f"SELECT doc_id, {_SQL_SHINGLES} AS toks, len({_SQL_SHINGLES}) AS n "
        f"FROM documents WHERE len({_SQL_WORDS}) >= {NGRAM_N}",
        "CREATE OR REPLACE TEMP TABLE mat_ctok AS "
        "SELECT doc_id, n, unnest(toks) AS tok FROM mat_cd",
        f"CREATE OR REPLACE TEMP TABLE mat_cpref AS "
        f"SELECT doc_id, n, unnest(list_slice(list_sort(toks), 1, "
        f"{pref_len})) AS tok FROM mat_cd",
        "CREATE OR REPLACE TEMP TABLE mat_ccand AS "
        "SELECT DISTINCT p.doc_id AS doc_a, t.doc_id AS doc_b "
        "FROM mat_cpref p JOIN mat_ctok t ON p.tok = t.tok "
        "AND (p.n < t.n OR (p.n = t.n AND p.doc_id < t.doc_id))",
        "CREATE OR REPLACE TEMP TABLE mat_cinter AS "
        "SELECT c.doc_a, c.doc_b, COUNT(*)::BIGINT AS i "
        "FROM mat_ccand c "
        "JOIN mat_ctok ta ON ta.doc_id = c.doc_a "
        "JOIN mat_ctok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok "
        "GROUP BY c.doc_a, c.doc_b",
        f"""
SELECT i.doc_a AS doc_small, i.doc_b AS doc_big,
  a.n::BIGINT AS n_small, b.n::BIGINT AS n_big,
  round(i.i::DOUBLE / a.n::DOUBLE, 6) AS containment
FROM mat_cinter i
JOIN mat_cd a ON a.doc_id = i.doc_a
JOIN mat_cd b ON b.doc_id = i.doc_b
WHERE i.i * {CONTAIN_DEN} >= a.n * {CONTAIN_NUM}
""",
    ]


def _ngram_jaccard_mat() -> list[str]:
    """Shingle-grain twin of the Jaccard pair machinery (reuses the
    containment mat's mat_cd/mat_ctok shingle tables)."""
    return _containment_mat()[:2] + [
        f"CREATE OR REPLACE TEMP TABLE mat_njpref AS "
        f"SELECT doc_id, n, unnest(list_slice(list_sort(toks), 1, "
        f"{_J_PREF})) AS tok FROM mat_cd",
        f"CREATE OR REPLACE TEMP TABLE mat_njcand AS "
        f"SELECT DISTINCT least(p.doc_id, t.doc_id) AS doc_a, "
        f"greatest(p.doc_id, t.doc_id) AS doc_b "
        f"FROM mat_njpref p JOIN mat_ctok t ON p.tok = t.tok "
        f"AND (p.n < t.n OR (p.n = t.n AND p.doc_id < t.doc_id)) "
        f"AND t.n * {_T_NUM} <= p.n * {_T_DEN}",
        "CREATE OR REPLACE TEMP TABLE mat_njinter AS "
        "SELECT c.doc_a, c.doc_b, COUNT(*)::BIGINT AS i "
        "FROM mat_njcand c "
        "JOIN mat_ctok ta ON ta.doc_id = c.doc_a "
        "JOIN mat_ctok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok "
        "GROUP BY c.doc_a, c.doc_b",
        f"""
SELECT doc_a, doc_b, jaccard FROM (
  SELECT i.doc_a, i.doc_b,
    i.i::DOUBLE / (a.n + b.n - i.i)::DOUBLE AS jaccard
  FROM mat_njinter i
  JOIN mat_cd a ON a.doc_id = i.doc_a
  JOIN mat_cd b ON b.doc_id = i.doc_b) p
WHERE jaccard >= {JACCARD_THRESHOLD}
""",
    ]


def _jaccard_full_mat() -> list[str]:
    return _tok_mat_stmts() + _jaccard_mat_stmts() + [
        "SELECT doc_a, doc_b, jaccard FROM mat_jpairs"
    ]


def _survivors_mat() -> list[str]:
    return _tok_mat_stmts() + _jaccard_mat_stmts() + [
        """
WITH dropped AS (SELECT DISTINCT doc_b AS doc_id FROM mat_jpairs)
SELECT source,
  COUNT(*)::BIGINT AS n_docs,
  COUNT(dropped.doc_id)::BIGINT AS n_dropped,
  (COUNT(*) - COUNT(dropped.doc_id))::BIGINT AS n_survivors
FROM documents LEFT JOIN dropped ON documents.doc_id = dropped.doc_id
GROUP BY source
ORDER BY source
"""
    ]


# Rounds for the unrolled hook+compress label propagation below: each
# round takes the min over (own label, label-of-label, neighbor
# labels), which at least halves label-tree heights — convergence in
# <= log2(max component size) rounds.  24 covers components up to 16M
# nodes; a non-convergence SENTINEL row (-1s) is unioned into the
# final output so an undersized unroll fails the comparison loudly
# instead of passing with wrong clusters.
_LP_ROUNDS = 24


def _components_mat_stmts(pairs_select: str) -> list[str]:
    """mat_edges/mat_lab(+mat_chk): connected components of a
    materialized pair frame as min-label per node, via statically
    unrolled hook+compress label propagation.  Replaces the recursive
    walk CTE (full transitive closure — the 1-2 h tail of every prior
    sf1 sweep) with _LP_ROUNDS linear passes over the edge list."""
    rnd = (
        "CREATE OR REPLACE TEMP TABLE mat_lab AS "
        "SELECT v, MIN(cand) AS l FROM ("
        "  SELECT v, l AS cand FROM mat_lab"
        "  UNION ALL"
        "  SELECT a.v, b.l FROM mat_lab a JOIN mat_lab b ON a.l = b.v"
        "  UNION ALL"
        "  SELECT e.src AS v, b.l FROM mat_edges e "
        "JOIN mat_lab b ON e.dst = b.v"
        ") GROUP BY v"
    )
    return [
        f"CREATE OR REPLACE TEMP TABLE mat_edges AS "
        f"WITH pairs AS ({pairs_select}) "
        f"SELECT doc_a AS src, doc_b AS dst FROM pairs "
        f"UNION ALL SELECT doc_b, doc_a FROM pairs",
        "CREATE OR REPLACE TEMP TABLE mat_lab AS "
        "SELECT src AS v, MIN(LEAST(src, dst)) AS l "
        "FROM mat_edges GROUP BY src",
        *([rnd] * _LP_ROUNDS),
        # convergence check: one more round must change nothing
        "CREATE OR REPLACE TEMP TABLE mat_chk AS "
        "SELECT COUNT(*) AS n FROM ("
        "  SELECT v, MIN(cand) AS l2 FROM ("
        "    SELECT v, l AS cand FROM mat_lab"
        "    UNION ALL"
        "    SELECT a.v, b.l FROM mat_lab a JOIN mat_lab b ON a.l = b.v"
        "    UNION ALL"
        "    SELECT e.src AS v, b.l FROM mat_edges e "
        "JOIN mat_lab b ON e.dst = b.v"
        "  ) GROUP BY v"
        ") r JOIN mat_lab c ON r.v = c.v AND r.l2 < c.l",
    ]


_KEEP_TAIL_MAT = f"""
WITH lab AS (SELECT v AS doc_id, l AS cluster_rep FROM mat_lab),
sized AS (
  SELECT lab.doc_id, lab.cluster_rep, len({_SQL_TOKS}) AS n
  FROM lab JOIN documents USING (doc_id)
),
agg AS (
  SELECT cluster_rep,
    MAX(n * {_KEEP_SHIFT} + ({_KEEP_SHIFT - 1} - doc_id)) AS s,
    COUNT(*)::BIGINT AS n_members
  FROM sized GROUP BY cluster_rep
)
SELECT cluster_rep,
  ({_KEEP_SHIFT - 1} - s % {_KEEP_SHIFT})::BIGINT AS survivor_doc_id,
  (s // {_KEEP_SHIFT})::BIGINT AS survivor_tokens,
  n_members,
  (n_members - 1)::BIGINT AS n_dropped
FROM agg
UNION ALL
SELECT -1::BIGINT, -1::BIGINT, -1::BIGINT, -1::BIGINT, -1::BIGINT
FROM mat_chk WHERE n > 0
ORDER BY cluster_rep
"""


def _keep_longest_mat() -> list[str]:
    return (
        _tok_mat_stmts()
        + _jaccard_mat_stmts()
        + _components_mat_stmts("SELECT doc_a, doc_b FROM mat_jpairs")
        + [_KEEP_TAIL_MAT]
    )


def _keep_longest_lsh_mat() -> list[str]:
    return (
        _tok_mat_stmts()
        + _minhash_mat_stmts()
        + _components_mat_stmts(
            f"SELECT doc_a, doc_b FROM mat_verified "
            f"WHERE jaccard >= {JACCARD_THRESHOLD}"
        )
        + [_KEEP_TAIL_MAT]
    )


def _minhash_lsh_mat() -> list[str]:
    return _tok_mat_stmts() + _minhash_mat_stmts() + [
        f"SELECT doc_a, doc_b, jaccard FROM mat_verified "
        f"WHERE jaccard >= {JACCARD_THRESHOLD}"
    ]


def _best_match_mat() -> list[str]:
    return _tok_mat_stmts() + _jaccard_mat_stmts() + [
        """
WITH sym AS (
  SELECT doc_a AS doc_id, doc_b AS partner, jaccard FROM mat_jpairs
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS partner, jaccard FROM mat_jpairs
),
r AS (
  SELECT doc_id, partner, jaccard,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY jaccard DESC, partner ASC) AS rn
  FROM sym
)
SELECT doc_id, partner AS best_match, ROUND(jaccard, 6) AS jaccard
FROM r WHERE rn = 1
ORDER BY doc_id
"""
    ]


def _clusters_mat() -> list[str]:
    """The sampled cluster oracle (mod-gated corpus) over the same
    label-propagation machinery — the last recursive-walk twin."""
    return (
        _tok_mat_stmts(gate=f"doc_id % {_SAMPLE_MOD} = 0 AND ")
        + _jaccard_mat_stmts()
        + _components_mat_stmts("SELECT doc_a, doc_b FROM mat_jpairs")
        + [
            """
SELECT v AS doc_id, l AS cluster_rep FROM mat_lab
UNION ALL
SELECT -1::BIGINT, -1::BIGINT FROM mat_chk WHERE n > 0
"""
        ]
    )


QUERIES = {
    "dedup_incremental": Query(dedup_incremental, _incremental_sql()),
    "dedup_lsh_calibration": Query(
        lsh_calibration, _lsh_calibration_sql(), mat=_lsh_calibration_mat()
    ),
    # reuses dedup_jaccard_full's verified pair frame (~5 s cold vs ~2 s
    # warm), so a sweep runs it right after that query, in its family
    "pipeline_dedup_corpus": Query(
        dedup_survivors,
        _SURVIVORS_SQL,
        mat=_survivors_mat(),
        family="dedup",
        after="dedup_jaccard_full",
    ),
    "dedup_exact": Query(exact_dedup, _EXACT_SQL),
    "dedup_paragraphs": Query(dedup_paragraphs, _PARA_SQL),
    "dedup_jaccard_pairs": Query(jaccard_pairs, _JACCARD_SQL),
    "dedup_jaccard_full": Query(
        jaccard_pairs_full,
        _JACCARD_FULL_SQL,
        mat=_jaccard_full_mat(),
    ),
    "dedup_ngram_jaccard": Query(
        ngram_jaccard_pairs, _NGRAM_JACCARD_SQL, mat=_ngram_jaccard_mat()
    ),
    "dedup_clusters": Query(dedup_clusters, _CLUSTERS_SQL, mat=_clusters_mat()),
    # the survivorship compositions read the index's pair frames, so
    # the order is free; it stays pinned for stable attribution
    "dedup_keep_longest": Query(
        dedup_keep_longest,
        _KEEP_LONGEST_SQL,
        mat=_keep_longest_mat(),
        after="dedup_jaccard_full",
    ),
    "dedup_keep_longest_lsh": Query(
        dedup_keep_longest_lsh,
        _KEEP_LONGEST_LSH_SQL,
        mat=_keep_longest_lsh_mat(),
        after="dedup_minhash_lsh",
    ),
    "dedup_minhash_lsh": Query(
        minhash_lsh_pairs, _minhash_sql(), mat=_minhash_lsh_mat()
    ),
    "dedup_simhash": Query(simhash_signatures, _simhash_sql()),
    "dedup_embedding_neardup": Query(embedding_neardup, _neardup_sql()),
    "dedup_fuzzy_names": Query(fuzzy_name_pairs, _FUZZY_SQL),
    "dedup_best_match": Query(
        best_match, _BEST_MATCH_SQL, mat=_best_match_mat()
    ),
    "dedup_semantic": Query(dedup_semantic, _semantic_sql()),
    "dedup_containment": Query(
        containment_pairs, _containment_sql(), mat=_containment_mat()
    ),
}
