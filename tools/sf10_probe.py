"""sf0.1 -> sf1 -> sf10 scaling probe of the hot families (VERDICT r5
item 1: turn the 100 TB design claims from plan-reading into measured
scaling exponents).

Runs the production dedup path (LSH pair generation, LSH-path
survivorship, cluster components), one iterative graph family
(PageRank + connected components over the events interaction graph),
and a shuffle-heavy timeseries op, at each scale; reports wall seconds,
result rows, and the log10 scaling exponent between consecutive scales
(1.0 = perfectly linear in corpus size; < 1 sublinear; > 1 superlinear).

Caches are cleared between operators so each timing is cold-path (the
session-cache sharing bench.py measures is deliberately DISABLED here —
this probe isolates per-operator cost).

Usage:
  SPARK_GRAFT_DRIVER_MEM=48g python tools/sf10_probe.py \
      [/root/testdata/sf0.1 .bigdata/sf1 .bigdata/sf10]

Prints one JSON line per (sf, op) plus a markdown table for
PERFORMANCE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# override with SF10_PROBE_OPS=a,b,c — round 7 added the text/curation
# hot-family sweep (curation_bpe_train, text_tfidf_topterms, text_bm25,
# curation_decontaminate) on top of the r6 dedup/graph defaults
OPS = os.environ.get(
    "SF10_PROBE_OPS",
    "dedup_minhash_lsh,dedup_keep_longest_lsh,dedup_clusters,"
    "graph_pagerank,graph_components,ts_resample_ffill",
).split(",")

DEFAULT_DIRS = [
    "/root/testdata/sf0.1",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bigdata", "sf1"),
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bigdata", "sf10"),
]


def main() -> None:
    from ingestprocessstoreinnrt_spark import planmemo
    from ingestprocessstoreinnrt_spark.session import get_spark
    import __spark_entry__ as entry

    dirs = sys.argv[1:] or DEFAULT_DIRS
    spark = get_spark("sf10-probe")
    qs = entry.queries()
    # untimed warmup (same as bench.py): the FIRST timed op otherwise
    # pays JVM + codegen + parquet-footer startup (~8 s) and its
    # smallest-scale timing — hence the scaling exponent — is garbage
    # (r7: bpe_train "10.7 s at sf0.1, 2.9 s at sf1")
    qs[OPS[0]](spark, dirs[0]).count()
    spark.catalog.clearCache()
    results: dict[str, dict[str, dict]] = {op: {} for op in OPS}
    for sf_dir in dirs:
        label = os.path.basename(sf_dir.rstrip("/"))
        for op in OPS:
            spark.catalog.clearCache()
            planmemo.clear()
            t0 = time.perf_counter()
            n = qs[op](spark, sf_dir).count()
            sec = round(time.perf_counter() - t0, 2)
            results[op][label] = {"rows": n, "sec": sec}
            print(
                json.dumps(
                    {"op": op, "sf_dir": label, "rows": n, "sec": sec,
                     "load": round(os.getloadavg()[0], 1)}
                ),
                flush=True,
            )

    labels = [os.path.basename(d.rstrip("/")) for d in dirs]
    hdr = " | ".join(
        f"{a} s" for a in labels
    ) + " | " + " | ".join(
        f"exp {labels[i]}->{labels[i+1]}" for i in range(len(labels) - 1)
    )
    print(f"\n| op | {hdr} |")
    print("|" + "---|" * (1 + len(labels) + len(labels) - 1))
    for op in OPS:
        secs = [results[op][a]["sec"] for a in labels]
        exps = [
            round(math.log10(max(secs[i + 1], 0.01) / max(secs[i], 0.01)), 2)
            for i in range(len(secs) - 1)
        ]
        cells = [f"{s}" for s in secs] + [f"{e}" for e in exps]
        print(f"| {op} | " + " | ".join(cells) + " |")
    spark.stop()


if __name__ == "__main__":
    main()
