"""Bloom-filter runtime join filtering — the "bloom join" pattern that
replaces a fact-to-fact semi-join with a broadcast bitset probe.

The reference's joins are either dim lookups or full equi-joins
(SURVEY 2.4); at 100 TB the standard trick for a selective semi-join
(e.g. "lineitems of URGENT orders") is to build a Bloom filter over the
selective side's keys and push it into the probe side's SCAN, touching
each probe row with k hash checks instead of shuffling either fact.
Spark's AQE injects such runtime filters opportunistically; this
operator makes the pattern explicit, deterministic, and measurable —
it reports the false-positive rate against the exact semi-join, which
is the number a pipeline uses to size m and k.

Construction (engine-exact): k=BLOOM_K row hashes of each build key
(the shared md5 primitive), each folded to [0, BLOOM_M).  The "bitset"
is materialized as the DISTINCT position set (<= BLOOM_M rows of one
int — semantically identical to a bitmask, and a broadcast either
way); a probe row passes iff ALL k of its positions are present, i.e.
its position-join hit count equals k.  Everything is equi-joins and
map-side-combinable aggregates; the only broadcast is <= BLOOM_M ints.

At 100 TB: the build side reduces to <= BLOOM_M positions no matter
how many keys feed it (distinct is map-side combined); the probe side
tests membership with k BROADCAST left-joins (one per hash column) so
it never leaves its scan stage — no explode, no probe-side shuffle.
False positives are inherent to the structure and the whole point of
reporting them — the oracle twin proves both engines see the exact
same ones.

Reference provenance: extends the semi-join shapes of
bi_priority_semijoin (TPC-H Q4 analog) with the scale-path physical
strategy.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.scalars import SQL_STABLE_HASH64, stable_hash64
from ..registry import Query

BLOOM_M = 16384  # positions (2^14)
BLOOM_K = 3  # hashes per key
BLOOM_PRIORITY = "1-URGENT"

# Cost note (profiled at sf0.1): the query is dominated by the
# ~|probe| x k md5 evaluations of the cross-engine stable_hash64 —
# the price of exact oracle-checkability.  A production deployment
# swaps _positions to F.xxhash64 (same plan, ~5-10x cheaper per row);
# nothing else changes.


def _positions(key: F.Column, d: int) -> F.Column:
    return F.pmod(
        stable_hash64(
            F.concat_ws("|", F.lit(str(d)), key.cast("string"))
        ),
        F.lit(BLOOM_M),
    ).cast("int")


def bloom_semijoin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per l_returnflag: probe rows passing the Bloom filter built over
    URGENT orderkeys, the exact semi-join truth, and the false
    positives the filter would let through."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    build = orders.filter(
        F.col("o_orderpriority") == BLOOM_PRIORITY
    ).select("o_orderkey")
    # the "bitset": distinct hash positions of the build keys.
    # localCheckpoint: the frame feeds BLOOM_K separate broadcast
    # builds — uncheckpointed, each broadcast re-runs the build scan +
    # distinct (measured ~3x the query's cost); checkpointed, they all
    # read the <= BLOOM_M materialized rows
    bloom = (
        build.select(
            F.explode(
                F.array(
                    *[
                        _positions(F.col("o_orderkey"), d)
                        for d in range(BLOOM_K)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # audit grain is (key, flag), but bloom membership is a property of
    # the KEY alone — so hash and probe at the distinct-KEY grain (r13:
    # ~2.2x fewer md5 evaluations and join probes at sf0.1, and at
    # 100 TB the k-hash cost scales with |keys|, not |key x flag|),
    # then fan the per-key verdict back out to the audited grain.
    # Dedupe FIRST either way — at the lineitem-row grain a key with n
    # rows would contribute 3n position hits and break an == k gate;
    # caught by test_bloom_semijoin_no_false_negatives' independent
    # replay.  Membership is k BROADCAST left-joins, one per hash
    # column — no explode, no extra shuffle: the probe stays in its
    # scan stage and a row passes iff every hash joined (the
    # runtime-filter shape Spark's own AQE bloom injects).
    key_flags = li.select("l_orderkey", "l_returnflag").distinct()
    keys = key_flags.select("l_orderkey").distinct()
    probe = keys.select(
        "l_orderkey",
        *[
            _positions(F.col("l_orderkey"), d).alias(f"pos{d}")
            for d in range(BLOOM_K)
        ],
    )
    hits = probe
    for d in range(BLOOM_K):
        b = bloom.select(
            F.col("pos").alias(f"pos{d}"), F.lit(1).alias(f"hit{d}")
        )
        hits = hits.join(F.broadcast(b), f"pos{d}", "left")
    all_hit = reduce(
        lambda a, b: a & b,
        [F.col(f"hit{d}").isNotNull() for d in range(BLOOM_K)],
    )
    # exact truth for the audit columns: the build keys also broadcast
    # here (they are the SELECTIVE side by construction — if they were
    # too big to broadcast, you'd only have the bloom columns and this
    # audit would run as a sampled job)
    pass_keys = hits.filter(all_hit).select("l_orderkey")
    audited_keys = pass_keys.join(
        F.broadcast(
            build.select(F.col("o_orderkey").alias("t_orderkey")).distinct()
        ),
        pass_keys.l_orderkey == F.col("t_orderkey"),
        "left",
    )
    # per-key verdicts back to the audited grain; no forced broadcast —
    # a saturated filter makes the pass set as big as the key domain,
    # so the planner must stay free to shuffle-join at scale
    audited = key_flags.join(audited_keys, "l_orderkey")
    return (
        audited.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bloom_pass"),
            F.count("t_orderkey").cast("long").alias("n_true"),
            (F.count(F.lit(1)) - F.count("t_orderkey"))
            .cast("long")
            .alias("n_false_pos"),
        )
        .orderBy("l_returnflag")
    )


def _bloom_sql() -> str:
    def pos(d: int, key: str) -> str:
        h = SQL_STABLE_HASH64.format(x=f"('{d}' || '|' || {key}::VARCHAR)")
        return f"CAST({h} % {BLOOM_M} AS INT)"

    build_rows = " UNION ALL ".join(
        f"SELECT {pos(d, 'o_orderkey')} AS pos FROM build"
        for d in range(BLOOM_K)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT l_orderkey, l_returnflag, {pos(d, 'l_orderkey')} AS pos"
        " FROM probe_base"
        for d in range(BLOOM_K)
    )
    return f"""
WITH build AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '{BLOOM_PRIORITY}'
),
bloom AS (SELECT DISTINCT pos FROM ({build_rows})),
probe_base AS (SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem),
probe AS ({probe_rows}),
hits AS (
  SELECT l_orderkey, l_returnflag
  FROM probe JOIN bloom USING (pos)
  GROUP BY l_orderkey, l_returnflag
  HAVING COUNT(*) = {BLOOM_K}
),
truth AS (SELECT DISTINCT o_orderkey AS t_orderkey FROM build)
SELECT l_returnflag,
  COUNT(*)::BIGINT AS n_bloom_pass,
  COUNT(t_orderkey)::BIGINT AS n_true,
  (COUNT(*) - COUNT(t_orderkey))::BIGINT AS n_false_pos
FROM hits LEFT JOIN truth ON l_orderkey = t_orderkey
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERIES = {
    "join_bloom_semijoin": Query(
        bloom_semijoin_audit, _bloom_sql(), impure=True
    ),
}
