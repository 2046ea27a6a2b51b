"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
plus a "streaming" block measuring the NRT ingest path (CSV lines ->
parse/clean -> per-micro-batch aggregate -> exactly-once merge upsert —
the reference's actual workload) in rows/s.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# 80k-row micro-batches: the upsert path is fixed-cost bound per batch
# (current-bucket read, merge, staged write, rename swap, ledger
# marker) up to at least 80k rows/batch — measured on the write path
# before stage-and-swap: 50k total rows -> 5.1k rows/s, 400k -> 40k
# rows/s in the SAME ~10 s wall clock — so small batches benchmark the
# scheduler, not the pipeline.
STREAM_ROWS = 400_000
STREAM_CHUNKS = 5


def streaming_bench(spark) -> dict:
    """Rows/s through the upsert pipeline: 5 micro-batches of taxi CSV
    lines, each parsed, aggregated, and exact-merged into the bucketed
    keyed table (ledger + undo log on — the full exactly-once cost)."""
    from ingestprocessstoreinnrt_spark.operators import taxi
    from ingestprocessstoreinnrt_spark.sources import csv_clean, generators
    from ingestprocessstoreinnrt_spark.streaming import pipelines
    from ingestprocessstoreinnrt_spark.streaming.upsert import UpsertTable

    tmp = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        # setup (untimed): one CSV split into per-micro-batch chunks
        full = generators.write_taxi_csv(
            tmp + "/all.csv", rows=STREAM_ROWS, seed=7
        )
        with open(full) as f:
            lines = [ln for ln in f.read().splitlines() if ln]
        header, data = lines[0], lines[1:]
        os.makedirs(tmp + "/stream")
        k = len(data) // STREAM_CHUNKS + 1
        for i in range(STREAM_CHUNKS):
            with open(f"{tmp}/stream/chunk{i:03d}.csv", "w") as f:
                f.write("\n".join([header] + data[i * k : (i + 1) * k]))
        table = UpsertTable(
            spark, tmp + "/entity", ["vender_id"], num_buckets=4
        )
        src = csv_clean.taxi_trips_from_lines(
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", "1")  # one chunk per batch
            .load(tmp + "/stream")
        )
        t0 = time.perf_counter()
        q = pipelines.upsert_aggregate_stream(
            src,
            table,
            taxi.entity_from_trips,
            lambda cur, new: taxi.merge_taxi_entities(cur, new),
            checkpoint=tmp + "/ckpt",
        )
        q.awaitTermination()
        elapsed = time.perf_counter() - t0
        n_entities = table.read().count()
        return {
            "upsert_rows_per_sec": round(STREAM_ROWS / elapsed, 1),
            "rows": STREAM_ROWS,
            "batches": STREAM_CHUNKS,
            "sec": round(elapsed, 4),
            "entities": n_entities,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def windowed_stream_bench(spark, sf_dir: str) -> dict:
    """Rows/s through the watermarked event-time window path: the sf
    events table streamed in 5 file micro-batches into the tumbling
    hourly aggregate (state-store windows + watermark eviction on)."""
    from ingestprocessstoreinnrt_spark.catalog import load_table
    from ingestprocessstoreinnrt_spark.streaming import windows as sw

    tmp = tempfile.mkdtemp(prefix="bench_winstream_")
    try:
        ev = load_table(spark, sf_dir, "events")
        n_rows = ev.count()
        ev.repartition(5).write.mode("overwrite").parquet(tmp + "/ev")
        src = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp + "/ev")
        )
        t0 = time.perf_counter()
        q = (
            sw.windowed_counts_stream(src)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", tmp + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        elapsed = time.perf_counter() - t0
        return {
            "windowed_rows_per_sec": round(n_rows / elapsed, 1),
            "windowed_rows": n_rows,
            "windowed_sec": round(elapsed, 4),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Quiet-box gate (VERDICT r6 item 2): above this 1-minute loadavg,
# timings measure contention, not plans — wait for quiet, and re-sweep
# any family that still ran contended.
LOAD_GATE = 4.0
LOAD_WAIT_SEC = 600

# Record-protocol gate (VERDICT r10 "what's wrong" #3): the canonical
# BENCH_full_latest.json is only ever written by a run that STARTED on
# a quiet box — a contended run goes to a load-stamped side file so the
# protocol can't regress by habit.  PERFORMANCE.md documents the rule;
# this enforces it in code.
LATEST_LOAD_MAX = 1.0


def record_path(
    repo_dir: str, load_1m: float, sf: str = "0.1", uniq: str = ""
) -> str:
    """Where this run's full record lands: the canonical latest file iff
    the run is at the canonical scale (sf0.1, the default dir) AND the
    pre-sweep loadavg was under LATEST_LOAD_MAX.  Other scales get
    their own named record (quiet) — cross-round comparison must never
    find an sf1 sweep wearing the sf0.1 record's name — and contended
    runs at any scale go to a load-stamped side file.  `uniq` (ADVICE
    r11: the pid, in practice) suffixes CONTENDED names only, so two
    contended runs that round to the same load tag can't silently
    clobber each other; canonical/quiet names stay stable."""
    tag = f"{load_1m:.2f}".replace(".", "p") + (f"_{uniq}" if uniq else "")
    if str(sf) != "0.1":
        name = (
            f"BENCH_full_sf{sf}.json"
            if load_1m < LATEST_LOAD_MAX
            else f"BENCH_full_sf{sf}_contended_load{tag}.json"
        )
        return os.path.join(repo_dir, name)
    if load_1m < LATEST_LOAD_MAX:
        return os.path.join(repo_dir, "BENCH_full_latest.json")
    return os.path.join(repo_dir, f"BENCH_full_contended_load{tag}.json")


def _wait_for_quiet(sustain: bool = False) -> float:
    """Block until loadavg(1m) < LOAD_GATE or LOAD_WAIT_SEC elapses.
    Returns the final loadavg.  r6's closing bench shipped at load 7.17
    and its 1.33x headline was ~0 real regression — a gate, not a
    warning, is what makes cross-round diffs measure code.

    `sustain=True` (the contended-resweep retry gate, ADVICE r12):
    require TWO consecutive sub-gate 1-minute readings ~60 s apart and
    return the worse of the pair.  A momentary 1m dip (the r11
    incident: 1m 0.80 while 5m was 11) must not open the retry gate —
    that path decides whether min(contended, retry) wears the canonical
    record's name, and a dip-triggered retry writes min(contended,
    contended) labeled quiet."""
    deadline = time.monotonic() + LOAD_WAIT_SEC
    while True:
        load = os.getloadavg()[0]
        if load <= LOAD_GATE:
            if not sustain:
                return round(load, 2)
            time.sleep(60)
            load2 = os.getloadavg()[0]
            if load2 <= LOAD_GATE:
                return round(max(load, load2), 2)
            print(
                f"bench: quiet reading {load:.2f} did not sustain "
                f"({load2:.2f} a minute later) — still waiting...",
                file=sys.stderr,
            )
        if time.monotonic() >= deadline:
            load = os.getloadavg()[0]
            print(
                f"WARNING: still loadavg {load:.2f} after "
                f"{LOAD_WAIT_SEC}s — proceeding; contended families "
                "will be re-swept",
                file=sys.stderr,
            )
            return round(load, 2)
        print(
            f"bench: loadavg {os.getloadavg()[0]:.2f} > {LOAD_GATE} — "
            "waiting for a quiet box...",
            file=sys.stderr,
        )
        time.sleep(30)


def sweep_families(registry: dict) -> dict[str, list[str]]:
    """The sweep order: cache family -> its queries, in run order.

    CANONICAL order (VERDICT r6 item 2): the registry's order follows
    the driver's correctness-window rotation and changes every round,
    which silently moved shared-cache population costs between queries
    (r6: dedup_minhash_lsh 11.2 s cold-first vs 5.9 s warm — rotation
    luck, not code).  Queries therefore sort by NAME, so the same query
    pays the same warm-up every round.  A query with ``after`` then
    moves to right behind the query whose cache it reuses: timings are
    per-query either way, this only pins the one-time cache population
    onto the query that owns it.

    Cache hygiene: shared caches (token frames, pair frames, qvec
    frames) are an asset within their query family and dead weight
    after it — by the tail of a 130-query sweep the accumulated entries
    evict each other and the last families time cache *pressure*, not
    their own plans (sf1 r3: json_props_rollup 65.6 s under pressure vs
    2.1 s isolated).  Queries are grouped by the cache they share (the
    entry's ``family``, else its name prefix), families in order of
    first appearance, and main() clears the SQL cache at each family
    boundary, so every family starts cold and owns its own warm-up."""
    names = sorted(n for n, q in registry.items() if q.after is None)
    for late in sorted(n for n, q in registry.items() if q.after):
        names.insert(names.index(registry[late].after) + 1, late)
    by_family: dict[str, list[str]] = {}
    for n in names:
        fam = registry[n].family or n.split("_", 1)[0]
        by_family.setdefault(fam, []).append(n)
    return by_family


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Big-scale sweeps need a big single-JVM heap: the r11 first sf10
    # attempt ran on the 8g default and died 30 min in on a broadcast
    # build OOM under the dedup family's cached shingle frames (the
    # established sf10 protocol is SPARK_GRAFT_DRIVER_MEM=48g —
    # PERFORMANCE.md r7/r10).  Warn loudly up front, not 30 min in.
    sf_name = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        big = float(sf_name) >= 1.0
    except ValueError:
        big = False
    if big and "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        print(
            f"WARNING: sf{sf_name} sweep on the default 8g driver heap —"
            " expect broadcast-build OOMs; set SPARK_GRAFT_DRIVER_MEM=48g"
            " (the sf>=1 protocol, PERFORMANCE.md)",
            file=sys.stderr,
        )
    load_1m = _wait_for_quiet()
    # Capture the 5-minute average PRE-sweep too (post-sweep it would
    # only measure bench's own local[32] work): the canonical-record
    # decision uses the WORSE of the two.  The r11 round-close refresh
    # started on a momentary 1-min dip to 0.80 while the 5-min average
    # was still 11 (box draining an sf10 sweep) and measured 1.43x the
    # quiet baseline — a momentary dip is not a quiet box.
    load_5m = round(os.getloadavg()[1], 2)
    import __spark_entry__ as e
    from ingestprocessstoreinnrt_spark import planmemo
    from ingestprocessstoreinnrt_spark.operators import artifacts as _artifacts
    from ingestprocessstoreinnrt_spark.session import get_spark

    spark = get_spark("bench")
    qs = e.queries()
    # warm the JVM + parquet footers once so timings measure the queries
    next(iter(qs.values()))(spark, sf_dir).count()

    # pre-touch every source table once, untimed (VERDICT r11 item 6):
    # a per-query cold time otherwise charges the OS-level first read
    # of a shared table to whichever query happens to scan it first —
    # bi_yoy_growth's 1.80 "cold exponent" was the 60M-row lineitem
    # first-touch, not its own plan.  One full-column noop scan per
    # table moves that cost out of every query's number.
    for t in sorted(os.listdir(sf_dir)):
        if t.endswith(".parquet"):
            spark.read.parquet(os.path.join(sf_dir, t)).write.format(
                "noop"
            ).mode("overwrite").save()

    by_family = sweep_families(e.registry())
    fam_order = list(by_family)

    # SPARK_GRAFT_FAMILIES=dedup[,sim,...] sweeps only the named cache
    # families — the miss-path protocol (VERDICT r12 item 3): clear
    # .cache/artifacts, run the owning family alone, and the committed
    # record prices a new corpus's first ingest (index builds included)
    # without paying a full-surface sweep.  Partial records NEVER wear
    # the canonical name (record_path below).
    only = os.environ.get("SPARK_GRAFT_FAMILIES")
    families_kept = None
    if only:
        keep = {f.strip() for f in only.split(",") if f.strip()}
        unknown = keep - set(fam_order)
        if unknown:
            sys.exit(f"bench: unknown families {sorted(unknown)}; "
                     f"known: {sorted(fam_order)}")
        fam_order = [f for f in fam_order if f in keep]
        by_family = {f: by_family[f] for f in fam_order}
        families_kept = sorted(fam_order)

    def sweep_family(members: list[str]) -> dict[str, tuple[float, float]]:
        """Run one family cold (cache + every session memo cleared first).
        Each query runs TWICE back-to-back: (cold, warm) — warm rides
        every cache/memo its own cold run populated, so cross-round
        diffs compare warm (plans only) while family cache-attribution
        stays visible in cold (VERDICT r7 finding #3: canonical name
        order moved first-touch costs between rounds and manufactured
        phantom 2-6x 'regressions' that were all sub-second warm)."""
        spark.catalog.clearCache()
        planmemo.clear()
        out: dict[str, tuple[float, float]] = {}
        for name in members:
            try:
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                t1 = time.perf_counter()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as ex:
                # name the culprit: the r10 sf10 sweep died anonymous
                # on an ml_correlation int64 overflow and cost a
                # bisection to attribute
                raise RuntimeError(
                    f"bench query {name!r} failed at {sf_dir}"
                ) from ex
            out[name] = (round(t1 - t0, 4), round(time.perf_counter() - t1, 4))
        return out

    def sweep_all() -> dict[str, tuple[float, float]]:
        out: dict[str, tuple[float, float]] = {}
        for fam in fam_order:
            out.update(sweep_family(by_family[fam]))
        return out

    # NOTE on the gate: loadavg DURING the sweep measures bench's own
    # local[32] work, not contention — external load is only observable
    # while Spark is idle.  So: gate before the sweep; if the sweep had
    # to start contended anyway (gate timeout), re-run the WHOLE sweep
    # once quiet returns and keep per-query minimums (contention only
    # ever slows a query down, never speeds it up).
    started_contended = load_1m > LOAD_GATE
    both = sweep_all()
    reran = False
    retry_load = None
    if started_contended:
        # sustained gate (ADVICE r12): this reading decides whether the
        # retried sweep's minimums may wear the canonical record name
        retry_load = _wait_for_quiet(sustain=True)
        if retry_load <= LOAD_GATE:
            second = sweep_all()
            both = {
                n: (
                    min(both[n][0], second[n][0]),
                    min(both[n][1], second[n][1]),
                )
                for n in both
            }
            reran = True
    timings = {n: cw[0] for n, cw in both.items()}
    warm = {n: cw[1] for n, cw in both.items()}
    # Self-flagging warm rows (VERDICT r12 item 2 — three rounds of
    # phantom scale flags traced to this): a warm rep that ran SLOWER
    # than its own cold run did not measure the plan — it measured
    # MemoryStore eviction churn under the family's accumulated cache
    # pressure (the sf10 local[32] pathology PERFORMANCE.md documents).
    # Stamp those rows so tools/scale_exponents.py skips them instead
    # of a future round re-adjudicating the same phantom.  Threshold:
    # >25% slower AND >1 s absolute — sub-second jitter is scheduler
    # noise, not the pathology.
    warm_invalid = sorted(
        n for n, (c, w) in both.items() if w > c * 1.25 and w - c > 1.0
    )
    spark.catalog.clearCache()

    if families_kept is None:
        streaming = streaming_bench(spark)
        streaming.update(windowed_stream_bench(spark, sf_dir))
    else:
        streaming = None  # partial sweeps price queries only

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "total_query_wall_time",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        # warm = second back-to-back run of the same query; compare
        # THESE across rounds (cold carries family first-touch costs
        # whose attribution shifts when the query set changes)
        "queries_warm": warm,
        "value_warm": round(sum(warm.values()), 4),
        # warm rows that ran under a hotter (eviction-churning) cache
        # than their own cold run — exponent tools must skip these
        "warm_invalid": warm_invalid,
        "streaming": streaming,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # machine-load stamp: r5's mid-round 15 s readings were pure
        # box contention and cost a re-run to disprove — record the
        # conditions so contended numbers are self-identifying
        "load_1m": load_1m,
        "load_5m": load_5m,
        "started_contended": started_contended,
        "contended_resweep": reran,
        "cpus": os.cpu_count(),
        # source tables were full-scanned once, untimed, before the
        # sweep — per-query colds exclude OS first-touch attribution
        "pretouched_tables": True,
        # persisted-index cache state (operators/artifacts.py): misses
        # mean some cold numbers include a one-time index build+write;
        # steady-state records should show miss == 0
        "artifacts": dict(_artifacts.STATS),
        # non-null iff SPARK_GRAFT_FAMILIES restricted the sweep
        "families": families_kept,
    }
    # The driver's BENCH_r{N}.json keeps only the last 2 KB of stdout,
    # so cross-round comparison sees ~26 of 150+ queries.  Persist the
    # FULL record to a repo file so each round's judge can diff the
    # whole surface (committed as BENCH_full_r{N}.json at round end).
    # Contended runs (worse of the pre-sweep 1m/5m loadavgs >=
    # LATEST_LOAD_MAX) are diverted to a side file —
    # BENCH_full_latest.json stays quiet-box only.
    # Record-path decision load: normally the WORSE of the pre-sweep
    # 1m/5m loadavgs.  A contended_resweep run kept quiet per-query
    # minimums (the second sweep re-gated on a quiet box), so its
    # record is decided by the RETRY gate's load, not the dead
    # pre-sweep stamp (ADVICE r11) — contention only ever slows a
    # query, so min(contended, quiet-retry) is a quiet measurement.
    decide_load = max(load_1m, load_5m)
    if reran and retry_load is not None:
        decide_load = retry_load
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    if families_kept is not None:
        # partial sweeps get their own self-describing side name and
        # can never clobber a full record (canonical or scale-named)
        tag = "-".join(families_kept)
        if _artifacts.STATS["miss"] > 0:
            tag += "_missbuild"
        full_path = os.path.join(
            repo_dir, f"BENCH_full_sf{sf}_families_{tag}.json"
        )
    else:
        full_path = record_path(
            repo_dir,
            decide_load,
            str(sf),
            uniq=str(os.getpid()),
        )
    try:
        with open(full_path, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout line still carries the record
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
