"""Seeded input generators for the benchmark.

Two kinds of input, both derived only from the workload seed:

* the BI star schema (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings) with the column names, types
  and value domains the operator registry reads, written as one parquet
  file per table;
* the taxi trickle: small 2009-format taxi CSV files (header, blank
  lines, empty cells), published into a watched directory on a fixed
  schedule by this module run as its own process.

Run as a process it is the open-loop trickle publisher:

    python3 perfbench/datagen.py trickle --seed 1 --out DIR \
        --manifest FILE --stop-file FILE

It publishes one ROWS_PER_FILE-row file every INTERVAL_S seconds.  Each
file is written under a dot-name (ignored by Spark's file source)
and renamed into DIR, so the stream never sees a partial file.  The
manifest holds one JSON line per file: name, rows, scheduled and actual
publish time (wall clock, seconds since the epoch).  Publishing stops
once the stop file exists (checked before each file) or, as a safety
net for a consumer that died, after MAX_PUBLISH_S.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TAXI_HEADER = (
    "vendor_name,Trip_Pickup_DateTime,Trip_Dropoff_DateTime,"
    "Passenger_Count,Trip_Distance,Start_Lon,Start_Lat,Rate_Code,"
    "store_and_forward,End_Lon,End_Lat,Payment_Type,Fare_Amt,"
    "surcharge,mta_tax,Tip_Amt,Tolls_Amt,Total_Amt"
)
VENDORS = ("VTS", "CMT", "DDS")
PAYMENTS = ("Cash", "CASH", "Credit", "CREDIT", "No Charge")
# the trickle: 5 rows every 250 ms, the reference producer's 20 rows/s
INTERVAL_S = 0.25
ROWS_PER_FILE = 5
MAX_PUBLISH_S = 170.0


def taxi_csv_text(rng: np.random.Generator, rows: int) -> str:
    """One 2009-vintage taxi CSV: header, ~5% blank lines, ~1% empty
    numeric cells, skewed vendors and mixed-case payment spellings."""
    out = [TAXI_HEADER]
    for _ in range(rows):
        if rng.random() < 0.05:
            out.append("")
        vendor = VENDORS[rng.choice(3, p=(0.6, 0.3, 0.1))]
        day, hour, minute, sec = (
            int(rng.integers(1, 29)), int(rng.integers(0, 24)),
            int(rng.integers(0, 60)), int(rng.integers(0, 60)),
        )
        end = hour * 60 + minute + int(rng.integers(2, 91))
        eday = day + (1 if end >= 1440 else 0)
        dist = round(float(rng.uniform(0.3, 25.0)), 2)
        fare = round(2.5 + dist * float(rng.uniform(2.2, 3.2)), 2)
        tip = round(fare * (0.0, 0.1, 0.15, 0.2)[rng.integers(4)], 2)
        tolls = (0.0, 0.0, 0.0, 4.15)[rng.integers(4)]
        surcharge = (0.0, 0.5, 1.0)[rng.integers(3)]
        total = round(fare + tip + tolls + surcharge, 2)

        def maybe(v: str) -> str:
            return "" if rng.random() < 0.01 else v

        out.append(",".join([
            vendor,
            f"2009-01-{day:02d} {hour:02d}:{minute:02d}:{sec:02d}",
            f"2009-01-{eday:02d} {(end // 60) % 24:02d}:{end % 60:02d}:{sec:02d}",
            str(int(rng.integers(1, 7))),
            maybe(f"{dist}"),
            maybe(f"{rng.uniform(-74.03, -73.75):.6f}"),
            maybe(f"{rng.uniform(40.57, 40.9):.6f}"),
            "",
            "",
            f"{rng.uniform(-74.03, -73.75):.6f}",
            f"{rng.uniform(40.57, 40.9):.6f}",
            PAYMENTS[rng.choice(5, p=(0.63, 0.13, 0.17, 0.04, 0.03))],
            maybe(f"{fare}"),
            f"{surcharge}",
            "",
            f"{tip}",
            f"{tolls}",
            f"{total}",
        ]))
    return "\n".join(out) + "\n"


def publish_trickle(out_dir: str, seed: int, manifest: str, stop_file: str) -> None:
    """Open loop: file i is due at start + i * INTERVAL_S, whether or not
    the consumer keeps up.  A late publisher catches up without
    skipping files; its lateness is in the manifest."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    start = time.time()
    with open(manifest, "w") as mf:
        for i in range(int(MAX_PUBLISH_S / INTERVAL_S)):
            if os.path.exists(stop_file):
                break
            due = start + i * INTERVAL_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"trip-{i:05d}.csv"
            tmp = os.path.join(out_dir, f".{name}.tmp")
            with open(tmp, "w") as f:
                f.write(taxi_csv_text(rng, ROWS_PER_FILE))
            os.rename(tmp, os.path.join(out_dir, name))
            published = time.time()
            mf.write(json.dumps({
                "file": name, "rows": ROWS_PER_FILE, "due": due,
                "published": published,
            }) + "\n")
            mf.flush()


# --- BI star schema -------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype("int64")
    b = np.datetime64(hi, "D").astype("int64")
    return rng.integers(a, b + 1, n) * 86_400_000_000


def bi_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor `sf` (lineitem = 6M * sf rows)."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_vec = max(500, int(50_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array("blue old hot large cold red small new".split())
    noun = np.array("widget gizmo ring gear bolt plate anvil rod".split())
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "),
            noun[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    ev_start = np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.sort(ev_start + rng.integers(0, 30 * 86_400_000_000, n_ev))),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": np.array(
            ["click", "error", "purchase", "signup", "view"]
        )[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_doc):
        words = list(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))])
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    # near-duplicates: some documents repeat an earlier one with one
    # word changed, so dedup operators find pairs
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        src = texts[int(rng.integers(0, n_doc))].split()
        src[int(rng.integers(0, len(src)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[i] = " ".join(src)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[
            rng.integers(0, 7, n_doc)
        ],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] + rng.normal(0, 0.8, (n_vec, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_bi_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables once per (seed, sf); a finished directory is
    reused, a half-written one is replaced."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    tmp = out_dir + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in bi_tables(seed, sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    if os.path.isdir(out_dir):
        import shutil

        shutil.rmtree(out_dir)
    os.rename(tmp, out_dir)
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["trickle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--stop-file", required=True)
    a = ap.parse_args()
    publish_trickle(a.out, a.seed, a.manifest, a.stop_file)


if __name__ == "__main__":
    main()
