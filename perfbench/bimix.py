"""Workload `bi_mix`: the read path, closed loop, one client.

One cold pass, WARMUP_PASSES untimed passes, then timed warm passes
until the run's seconds have passed and at least MIN_PASSES are done,
over a fixed list of `__spark_entry__.queries()`: the six reference
Impala shapes plus analytics queries mixing plan-memoised builders,
PLAN_IMPURE builders and persisted-artifact consumers.  Each query is
timed from the `queries()[name](spark, sf_dir)` call through
`collect()`.  The seed orders the queries within each pass.

Warm passes keep getting faster while the JIT compiles the driver's
hot paths: the pass time halves over the first ~8 passes, then falls
slowly (by another fifth over the next ~60), so the warm-up passes are
not measured.  MIN_PASSES keeps the pass-time median on the same number
of passes on a slow box as on a fast one.

The mix leaves out the similarity family (`sim_ivfpq_search`): its
first call in a session costs ~10 s, a third of the cold pass, while
its warm calls take ~0.1 s, so it lengthened every run without moving
a warm-pass metric.

The tables are generated once per checkout from a fixed dataset seed,
so the persisted artifacts (`operators/artifacts.py`, ml centroids)
built from them stay valid across runs: the first run builds them in an
untimed child process, and a miss inside a timed pass invalidates the
run.  After the timed passes every result is compared, untimed, with
`__spark_entry__.oracle_sql()` on DuckDB using tools/oracle_check.py's
normalisation; the oracle's answer is kept per (SQL text, data) so later
runs skip DuckDB.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import datagen
import spans as tr
import stats
import common
from common import ROOT, work_path

SF = 0.01
DATA_SEED = 0
WARMUP_PASSES = 10
MIN_PASSES = 6
QUERIES = (
    # reference Impala shapes
    "bi_pricing_rollup", "bi_topk_customers", "bi_time_of_day",
    "bi_point_lookup", "bi_enrich_join", "bi_dict_enrich",
    # analytics: artifact consumers, PLAN_IMPURE and memoised builders
    "bi_basket_lift", "dedup_jaccard_full", "win_gap_distribution",
    "sketch_hll_distinct",
)


def data_dir() -> str:
    d = os.path.join(work_path("bi-data"), f"sf{SF}-seed{DATA_SEED}")
    return datagen.write_bi_tables(d, DATA_SEED, SF)


def _cache_key(sf_dir: str) -> str:
    """Program sources + data identity: the persisted caches are valid
    for exactly this pair."""
    h = hashlib.sha1(f"{sf_dir}|{','.join(QUERIES)}".encode())
    pkg = os.path.join(ROOT, "ingestprocessstoreinnrt_spark")
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for root, _d, files in os.walk(pkg):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    for name in sorted(os.listdir(sf_dir)):
        h.update(f"{name}:{os.stat(os.path.join(sf_dir, name)).st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def ensure_caches(sf_dir: str) -> bool:
    """Populate the on-disk caches in an untimed child process unless
    this (program, data) pair already did.  True if it had to build."""
    marker = os.path.join(work_path("bi-data"), f"caches-{_cache_key(sf_dir)}.ok")
    if os.path.exists(marker):
        return False
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--warm", sf_dir],
        check=True, stdout=subprocess.DEVNULL, timeout=900,
    )
    open(marker, "w").close()
    return True


def _family(fn) -> str:
    return getattr(fn, "__wrapped__", fn).__module__.rsplit(".", 1)[-1]


def run(seed: int, seconds: float, tracer: tr.Tracer | None) -> dict:
    sf_dir = data_dir()
    built = ensure_caches(sf_dir)

    t0 = time.perf_counter()
    from ingestprocessstoreinnrt_spark import catalog, session

    if tracer:
        tr.wrap_callable(tracer, session, "get_spark", "session.get_spark")
        tr.wrap_callable(tracer, catalog, "load_table", "catalog.load_table")
    spark = session.get_spark()
    spark.range(1).count()
    for name in catalog.TABLES:
        catalog.load_table(spark, sf_dir, name)
    import __spark_entry__ as entry

    registry = entry.queries()
    setup_s = time.perf_counter() - t0

    from ingestprocessstoreinnrt_spark.operators import artifacts

    sc = spark.sparkContext
    rng = random.Random(seed)
    stats_before = dict(artifacts.STATS)
    passes: list[list[dict]] = []
    results: list[dict] = []
    last_df: dict[str, object] = {}

    def one_pass(p: int) -> float:
        order = list(QUERIES)
        rng.shuffle(order)
        rows, out = {}, []
        start = time.perf_counter()
        for name in order:
            fn = registry[name]
            if tracer:
                sc.setJobGroup(f"{name}:{p}", name)
            with (tracer.span("bi.query", query=name, family=_family(fn), pass_=p)
                  if tracer else nullcontext()):
                a = time.perf_counter()
                with tracer.span("operators.construct") if tracer else nullcontext():
                    df = fn(spark, sf_dir)
                b = time.perf_counter()
                with tracer.span("spark.action") if tracer else nullcontext():
                    got = df.collect()
                c = time.perf_counter()
            out.append({"query": name, "family": _family(fn), "construct_s": b - a,
                        "action_s": c - b, "wall_s": c - a,
                        "memo_hit": last_df.get(name) is df})
            last_df[name] = df
            rows[name] = (df.columns, [tuple(r) for r in got])
        wall = time.perf_counter() - start
        passes.append(out)
        results[1:] = [rows]  # the first pass and the latest one
        return wall

    cold_s = one_pass(0)
    # after a fixed amount of work, with every memo and cache filled:
    # Spark's UI store grows with the jobs run, and the number of timed
    # passes depends on the box's speed.  The full collections it forces
    # slow the next few passes, which the warm-up absorbs.
    retained = common.retained_mb(spark)
    warmup_walls = [one_pass(len(passes)) for _ in range(WARMUP_PASSES)]
    timed_from = len(passes)
    warm_walls = []
    t_warm = time.perf_counter()
    while len(warm_walls) < MIN_PASSES or time.perf_counter() - t_warm < seconds:
        warm_walls.append(one_pass(len(passes)))
    if tracer:
        sc.setJobGroup("oracle", "untimed correctness check")
    misses = artifacts.STATS["miss"] - stats_before["miss"]
    hits = artifacts.STATS["hit"] - stats_before["hit"]

    checks, mismatched = _oracle_check(sf_dir, entry.oracle_sql(),
                                       [results[0], results[-1]])
    warm = [r for ps in passes[timed_from:] for r in ps]
    lat = [r["wall_s"] for r in warm]
    summ = stats.summary(lat)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": summ["p50"],
        "cycle_p50_s": statistics.median(warm_walls),
        "retained_mb": retained,
    }
    record = {
        "query_s": summ,
        "cold_s": cold_s,
        "warm_passes": len(warm_walls),
        "warmup_pass_walls_s": warmup_walls,
        "warm_pass_s": statistics.median(warm_walls),
        "warm_pass_walls_s": warm_walls,
        "query_wall_s": {q: [r["wall_s"] for r in warm if r["query"] == q]
                         for q in QUERIES},
        "artifacts_timed": {"hit": hits, "miss": misses},
        "caches_built_untimed": built,
        "mismatched": mismatched,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
    }
    layers = {}
    if tracer:
        layers = _read_path_layers(tracer, passes[0], passes[timed_from:])
        layers["artifacts.hit"] = hits
        layers["artifacts.miss"] = misses
        tracer.tables["passes"] = passes
    attempted = len(passes) * len(QUERIES) + checks
    return {"spark": spark, "metrics": metrics, "record": record,
            "layers": layers, "attempted": attempted,
            "failed": len(mismatched) + misses}


def _oracle_check(sf_dir: str, oracles: dict, result_sets: list[dict]):
    """Compare each result set with the DuckDB oracle, cell for cell."""
    sys.path.insert(0, ROOT)
    from tools.oracle_check import _duck_con, _norm_rows

    store = work_path("bi-data", "oracle")
    data_id = "".join(
        f"{n}:{os.stat(os.path.join(sf_dir, n)).st_mtime_ns}"
        for n in sorted(os.listdir(sf_dir))
    )
    con = None
    checks, bad = 0, []
    for name in QUERIES:
        key = hashlib.sha1(f"{sf_dir}|{data_id}|{oracles[name]}".encode())
        path = os.path.join(store, f"{name}-{key.hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                want = pickle.load(f)
        else:
            con = con or _duck_con(sf_dir)
            res = con.execute(oracles[name])
            want = _norm_rows([d[0] for d in res.description], res.fetchall())
            with open(path + ".tmp", "wb") as f:
                pickle.dump(want, f)
            os.rename(path + ".tmp", path)
        for rs in result_sets:
            checks += 1
            if _norm_rows(*rs[name]) != want:
                bad.append(name)
    if con is not None:
        con.close()
    return checks, bad


def _read_path_layers(tracer, cold, warm) -> dict:
    layers: dict[str, float] = {}
    for fam in sorted({r["family"] for r in cold}):
        def fam_sum(ps, key):
            return sum(r[key] for r in ps if r["family"] == fam)

        layers[f"operators.{fam}.construct_cold_s"] = fam_sum(cold, "construct_s")
        layers[f"operators.{fam}.construct_warm_s"] = statistics.median(
            fam_sum(ps, "construct_s") for ps in warm)
        layers[f"operators.{fam}.action_s"] = statistics.median(
            fam_sum(ps, "action_s") for ps in warm)
    layers["planmemo.hits"] = statistics.median(
        sum(r["memo_hit"] for r in ps) for ps in warm)
    cold_spans = [s for s in tracer.spans
                  if s["name"] == "bi.query" and s["attrs"]["pass_"] == 0]
    t_lo = min(s["start"] for s in cold_spans)
    t_hi = max(s["end"] for s in cold_spans)
    loads = [s for s in tracer.spans if s["name"] == "catalog.load_table"
             and t_lo <= s["start"] <= t_hi]
    layers["catalog.load_table_calls"] = len(loads)
    layers["catalog.load_table_s"] = sum(s["end"] - s["start"] for s in loads)
    return layers


def _warm_main(sf_dir: str) -> None:
    """Child process: run every query once so the on-disk caches hold
    this program's artifacts for this data."""
    from common import prepare_env, stop_spark

    prepare_env(None)
    sys.path.insert(0, ROOT)
    from ingestprocessstoreinnrt_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark()
    registry = entry.queries()
    for name in QUERIES:
        registry[name](spark, sf_dir).collect()
    stop_spark(spark)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--warm":
        _warm_main(sys.argv[2])
    else:
        sys.exit("usage: bimix.py --warm SF_DIR")
