"""Layer report over traced runs.

    python3 perfbench/report.py [TRACE.jsonl ...]

With no arguments it reads every side file in .perfbench_work/traces/.
Per workload it prints the layers ranked by self time, the accounting
checks (each query's construct + action against its wall time; each
micro-batch's stream phases against triggerExecution and its txn-log +
compute split against apply_batch), the tracing overhead against the
median of the untraced records of the same workload (noisy ones left
out), and for bi_mix the top queries per layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as tr  # noqa: E402
from common import WORK  # noqa: E402
from nrt import TXN_GROUPS  # noqa: E402

TOP = 5


def load(path: str) -> tuple[dict, list[dict]]:
    with open(path) as f:
        lines = f.read().splitlines()
    return json.loads(lines[0]), [json.loads(x) for x in lines[1:]]


def layer_ranking(spans: list[dict]) -> list[tuple[str, float, int]]:
    own = tr.self_time_by_name(spans)
    calls: dict[str, int] = {}
    for s in spans:
        calls[s["name"]] = calls.get(s["name"], 0) + 1
    return sorted(((n, t, calls[n]) for n, t in own.items()),
                  key=lambda x: -x[1])


def top_queries_per_layer(head: dict, spans: list[dict]) -> dict[str, list]:
    """Layer -> [(query, seconds)] over the warm and cold passes; the
    spark layer is executor CPU from the event log, folded per query."""
    by_id = {s["id"]: s for s in spans}

    def query_of(s):
        while s is not None and s["name"] != "bi.query":
            s = by_id.get(s["parent"])
        return s["attrs"]["query"] if s else None

    out: dict[str, dict[str, float]] = {}
    own = tr.self_times(spans)
    for s in spans:
        q = query_of(s)
        if q and s["name"] != "bi.query":
            layer = out.setdefault(s["name"], {})
            layer[q] = layer.get(q, 0.0) + own[s["id"]]
    cpu: dict[str, float] = {}
    for group, m in head.get("spark_folded", {}).items():
        if ":" in group:
            q = group.split(":", 1)[0]
            cpu[q] = cpu.get(q, 0.0) + m["task_cpu_s"]
    out["spark.task_cpu"] = cpu
    return {layer: sorted(v.items(), key=lambda x: -x[1])[:TOP]
            for layer, v in out.items()}


def bi_accounting(spans: list[dict]) -> tuple[int, float]:
    """(queries, worst |construct + action - wall| / wall)."""
    kids: dict[int, float] = {}
    for s in spans:
        if s["name"] in ("operators.construct", "spark.action"):
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    worst, n = 0.0, 0
    for s in spans:
        if s["name"] == "bi.query":
            wall = s["end"] - s["start"]
            worst = max(worst, abs(kids.get(s["id"], 0.0) - wall) / wall)
            n += 1
    return n, worst


def nrt_ranking(per_batch: list[dict]) -> list[tuple[str, float, int]]:
    """Layers of the measured micro-batches by self time: the trigger
    phases other than addBatch, addBatch's time outside apply_batch
    (pipelines), and apply_batch split into txn-log groups and compute."""
    own: dict[str, float] = {}
    for r in per_batch:
        parts = {f"stream.{k}": v / 1000 for k, v in r["phases_ms"].items()
                 if k not in ("addBatch", "triggerExecution")}
        parts["stream.other"] = (r["trigger_s"] - r["add_batch_s"]
                                 - sum(parts.values()))
        parts["pipelines.pre_apply"] = r["pre_apply_s"]
        parts["upsert.compute"] = r["compute_s"]
        parts.update({k[:-2]: r[k] for k in TXN_GROUPS})
        for k, v in parts.items():
            own[k] = own.get(k, 0.0) + v
    return sorted(((k, v, len(per_batch)) for k, v in own.items()),
                  key=lambda x: -x[1])


def nrt_accounting(per_batch: list[dict]) -> list[str]:
    lines = []
    for r in per_batch:
        ph = r["phases_ms"]
        named = sum(v for k, v in ph.items() if k != "triggerExecution")
        txn = sum(r[k] for k in TXN_GROUPS)
        lines.append(
            f"  batch {r['batch_id']:>3}: phases {named:7.0f} ms of trigger "
            f"{ph['triggerExecution']:7.0f} ms ({100 * named / ph['triggerExecution']:5.1f}%)"
            f" | apply {r['apply_s']:.3f} s = txnlog {txn:.4f} + compute "
            f"{r['compute_s']:.3f} | pre-apply {r['pre_apply_s']:.3f} s"
        )
    return lines


def untraced_metrics(workload: str) -> list[dict]:
    """Metrics of the untraced runs of a workload that were not noisy."""
    out = []
    for p in glob.glob(os.path.join(WORK, "records", f"{workload}-*-trace0-*.json")):
        with open(p) as f:
            rec = json.load(f)
        if not rec.get("noisy"):
            out.append(rec["metrics"])
    return out


def report(path: str) -> None:
    head, spans = load(path)
    wl = head["workload"]
    print(f"== {wl}  ({os.path.basename(path)}, run {head['run']})")
    per_batch = head["tables"].get("per_batch", [])
    if wl == "bi_mix":
        print("layers by self time (spans):")
        ranking = layer_ranking(spans)
    else:
        print(f"layers by self time over the {len(per_batch)} measured batches:")
        ranking = nrt_ranking(per_batch)
    for name, t, n in ranking:
        print(f"  {name:28s} {t:9.3f} s  {n:6d} calls")
    if wl == "bi_mix":
        n, worst = bi_accounting(spans)
        print(f"accounting: {n} queries, construct + action within "
              f"{100 * worst:.3f}% of wall")
        for layer, rows in top_queries_per_layer(head, spans).items():
            print(f"top queries, {layer}:")
            for q, t in rows:
                print(f"  {q:28s} {t:9.3f} s")
    else:
        print("accounting per micro-batch:")
        print("\n".join(nrt_accounting(per_batch)))
    base = untraced_metrics(wl)
    if base:
        for m in ("latency_p50_s", "cycle_p50_s"):
            traced = head["metrics"][m]
            plain = statistics.median(b[m] for b in base)
            print(f"tracing overhead {m}: {traced - plain:+.4f} s (traced "
                  f"{traced:.4f}, median of {len(base)} untraced runs {plain:.4f})")
    print()


def main() -> None:
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(WORK, "traces", "*.jsonl")))
    if not paths:
        sys.exit("no trace side files; run perfbench/run.py with --trace 1")
    for p in paths:
        report(p)


if __name__ == "__main__":
    main()
