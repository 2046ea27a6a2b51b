"""Repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (BENCHMARK.json records why each was chosen):

* nrt_taxi_trickle  open-loop NRT ingest on the exactly-once upsert path
                    (nrt.py)
* bi_mix            closed-loop BI and analytics queries (bimix.py)

`--trace 0` measures the end-to-end metrics with no instrumentation.
`--trace 1` is a separate run that wraps the calls into each layer from
this directory's code, folds Spark's event log, prints the per-layer
metrics and writes the spans to
`.perfbench_work/traces/<workload>-seed<N>.jsonl` (read it with
`perfbench/report.py`).  Every run also writes its full record, box
conditions included, to `.perfbench_work/records/`.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import spans as tr  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("nrt_taxi_trickle", "bi_mix")
# A run whose box lost more than this share of CPU time to other guests
# (steal) is flagged noisy: its timings grow with steal, not with the
# program.
STEAL_LIMIT = 0.02


def _spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _spark_layers(event_log: str | None, workload: str, result: dict) -> dict:
    """spark.* per-layer metrics from the traced run's event log, folded
    per job group (bi_mix) or per streaming batch id (nrt)."""
    if not event_log:
        return {}
    if workload == "bi_mix":
        folded = tr.fold_event_log(event_log, tr.JOB_GROUP_PROP)
        timed = {k: v for k, v in folded.items() if k and k != "oracle"}
    else:
        folded = tr.fold_event_log(event_log, tr.BATCH_ID_PROP)
        ids = {str(b) for b in result["batch_ids"]}
        timed = {k: v for k, v in folded.items() if k in ids}
    tot = tr.total_of(timed)
    layers = {f"spark.{k}": tot.get(k, 0) for k in (
        "jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb")}
    if workload != "bi_mix":
        layers["spark.jobs_per_batch"] = stats.median(
            [v["jobs"] for v in timed.values()])
    result["spark_folded"] = folded
    return layers


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = _spec()
    if not os.path.isdir(os.path.join(common.ROOT, "ingestprocessstoreinnrt_spark")):
        sys.exit("perfbench: the program (ingestprocessstoreinnrt_spark/) is "
                 "not in this checkout")
    sys.path.insert(1, common.ROOT)
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    event_dir = common.fresh_dir("eventlog", run_id) if a.trace else None
    common.prepare_env(event_dir)
    tracer = tr.Tracer(run_id) if a.trace else None
    box = stats.BoxStamp()
    t_start = time.time()

    if a.workload == "nrt_taxi_trickle":
        import nrt as workload
    else:
        import bimix as workload
    result = workload.run(a.seed, a.seconds, tracer)
    spark = result["spark"]
    facts = common.driver_facts(spark)
    result["layers"]["mem.peak_rss_mb"] = (
        stats.vm_hwm_mb(facts["jvm_pid"]) + stats.vm_hwm_mb()
    )
    common.stop_spark(spark)
    if tracer:
        tracer.restore()

    layers = dict(result["layers"])
    if tracer:
        layers.update(_spark_layers(
            common.event_log_file(event_dir), a.workload, result))
        starts = [s for s in tracer.spans if s["name"] == "session.get_spark"]
        layers["session.start_s"] = starts[0]["end"] - starts[0]["start"]
        layers["trace.latency_p50_s"] = result["metrics"]["latency_p50_s"]
        layers["trace.cycle_p50_s"] = result["metrics"]["cycle_p50_s"]

    box_stamp = box.finish(facts)
    noise = []
    if box_stamp["steal_share"] > STEAL_LIMIT:
        noise.append(f"steal {100 * box_stamp['steal_share']:.1f}% > "
                     f"{100 * STEAL_LIMIT:.0f}%")
    if result["record"].get("settled") is False:
        noise.append("stream did not settle before the window opened")
    record = {
        "run": run_id, "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "started": t_start,
        "wall_s": time.time() - t_start,
        "metrics": result["metrics"], "layers": layers,
        "detail": result["record"],
        "box": box_stamp, "noisy": noise,
        "attempted": result["attempted"], "failed": result["failed"],
    }
    with open(os.path.join(common.work_path("records"), f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer:
        tracer.write(
            os.path.join(common.work_path("traces"), f"{a.workload}-seed{a.seed}.jsonl"),
            {"workload": a.workload, "layers": layers,
             "metrics": result["metrics"],
             "spark_folded": result.get("spark_folded", {})},
        )
    if event_dir:
        shutil.rmtree(event_dir, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else result["metrics"]
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }
    for reason in noise:
        print(f"perfbench: noisy run, timings not representative: {reason}",
              file=sys.stderr)
    print("perfbench-record " + json.dumps({k: record[k] for k in (
        "run", "wall_s", "noisy", "box", "detail")}, default=str))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
