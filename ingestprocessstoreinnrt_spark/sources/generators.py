"""Deterministic fixture generators (seeded) for the reference-shaped
inputs (FIXTURES.md): 2009-vintage taxi CSV with the dirty-data features
the cleaning rules exist for (header line, interleaved blanks, empty
cells, mixed-case payment strings), and connected-car telemetry with the
reference generator's error injection (ConnectedCarReadingGenerator.scala:
negative speed ~0.1% :108-110, missing VIN ~0.1% :162-165, zeroed lat/lon
~0.5% :154-158).

Plain seeded-Python writers (test fixtures, not data-plane code): the
engine under test must see real files on disk, exactly like the
reference's CsvKafkaPublisher replaying yellow_tripdata CSVs.
"""

from __future__ import annotations

import os
import random

VENDORS = ("VTS", "CMT", "DDS")
PAYMENT_SPELLINGS = ("Cash", "CASH", "Credit", "CREDIT", "No Charge")


def _fmt_ts(rng: random.Random) -> tuple[str, str]:
    day = rng.randint(1, 28)
    hour = rng.randint(0, 23)
    minute = rng.randint(0, 59)
    sec = rng.randint(0, 59)
    dur_min = rng.randint(2, 90)
    end_min_total = hour * 60 + minute + dur_min
    eh, em = (end_min_total // 60) % 24, end_min_total % 60
    eday = day + (1 if end_min_total >= 24 * 60 else 0)
    return (
        f"2009-01-{day:02d} {hour:02d}:{minute:02d}:{sec:02d}",
        f"2009-01-{eday:02d} {eh:02d}:{em:02d}:{sec:02d}",
    )


def write_taxi_csv(
    path: str, rows: int = 10_000, seed: int = 42, empty_cell_rate: float = 0.01
) -> str:
    """2009-format taxi CSV: header + blank interleaves + ~1% empty
    numeric cells (FIXTURES.md §1 generator rules); zipfian-ish vendor
    skew via weighted choice."""
    rng = random.Random(seed)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write(
            "vendor_name,Trip_Pickup_DateTime,Trip_Dropoff_DateTime,"
            "Passenger_Count,Trip_Distance,Start_Lon,Start_Lat,Rate_Code,"
            "store_and_forward,End_Lon,End_Lat,Payment_Type,Fare_Amt,"
            "surcharge,mta_tax,Tip_Amt,Tolls_Amt,Total_Amt\n"
        )
        for _ in range(rows):
            if rng.random() < 0.05:
                f.write("\n")  # interleaved blank line (P3 skip target)
            vendor = rng.choices(VENDORS, weights=(6, 3, 1))[0]
            pickup, dropoff = _fmt_ts(rng)
            dist = round(rng.uniform(0.3, 25.0), 2)
            fare = round(2.5 + dist * rng.uniform(2.2, 3.2), 2)
            tip = round(fare * rng.choice((0.0, 0.1, 0.15, 0.2)), 2)
            tolls = rng.choice((0.0, 0.0, 0.0, 4.15))
            surcharge = rng.choice((0.0, 0.5, 1.0))
            total = round(fare + tip + tolls + surcharge, 2)

            def maybe(v):
                return "" if rng.random() < empty_cell_rate else v

            cells = [
                vendor,
                pickup,
                dropoff,
                str(rng.randint(1, 6)),
                maybe(f"{dist}"),
                maybe(f"{rng.uniform(-74.03, -73.75):.6f}"),
                maybe(f"{rng.uniform(40.57, 40.9):.6f}"),
                "",  # Rate_Code: usually empty in 2009 data
                "",  # store_and_forward
                f"{rng.uniform(-74.03, -73.75):.6f}",
                f"{rng.uniform(40.57, 40.9):.6f}",
                rng.choices(PAYMENT_SPELLINGS, weights=(63, 13, 17, 4, 1))[0],
                maybe(f"{fare}"),
                f"{surcharge}",
                maybe(""),  # mta_tax often empty
                f"{tip}",
                f"{tolls}",
                f"{total}",
            ]
            f.write(",".join(cells) + "\n")
    return path


def write_bsm_csv(path: str, rows: int = 10_000, seed: int = 42) -> str:
    """FHWA basic-safety-message CSV (FIXTURES.md §7): >=20 cells, cell 0
    ignored by the parser."""
    rng = random.Random(seed)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    t0 = 1_430_000_000_000
    days = ("Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday")
    with open(path, "w") as f:
        for i in range(rows):
            gen_time = t0 + rng.randint(0, 30 * 86400) * 1000
            f.write(
                ",".join(
                    [
                        str(i),  # ignored cell 0
                        str(rng.randint(1, 9999)),
                        str(rng.randint(1, 500)),
                        str(rng.randint(1, 9999)),
                        str(gen_time),
                        rng.choice(days),
                        str(rng.randint(0, 23)),
                        str(rng.randint(0, 2**31)),
                        str(rng.randint(0, 127)),
                        str(rng.randint(0, 59)),
                        f"{rng.uniform(42.2, 42.5):.6f}",
                        f"{rng.uniform(-83.8, -83.5):.6f}",
                        f"{rng.uniform(150, 300):.1f}",
                        f"{rng.uniform(0, 360):.1f}",
                        f"{rng.gauss(0, 1.5):.3f}",
                        f"{rng.gauss(0, 1.5):.3f}",
                        f"{rng.gauss(9.8, 0.2):.3f}",
                        str(rng.randint(0, 30)),
                        f"{rng.uniform(-5000, 5000):.1f}",
                        str(rng.randint(0, 100)),
                    ]
                )
                + "\n"
            )
    return path


def write_trip_summary_csv(path: str, rows: int = 5_000, seed: int = 42) -> str:
    """FHWA trip-summary CSV (FIXTURES.md §8): 15 cells."""
    rng = random.Random(seed)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    t0 = 1_430_000_000_000
    with open(path, "w") as f:
        for i in range(rows):
            start = t0 + rng.randint(0, 30 * 86400) * 1000
            dur_s = rng.randint(120, 7200)
            end = start + dur_s * 1000
            dist = round(rng.uniform(0.5, 80.0), 2)
            avg_speed = round(dist / (dur_s / 3600.0), 2)
            f.write(
                f"{rng.randint(1, 500)},trip{i:06d},{start},d,t,{end},d,t,"
                f"{dist},{round(dist * rng.uniform(0, 1), 2)},{dur_s / 60.0:.2f},"
                f"{avg_speed},{round(avg_speed * rng.uniform(1.1, 1.6), 2)},"
                f"{rng.randint(0, 40)},{rng.choice(('NONE', 'LOW', 'HIGH'))}\n"
            )
    return path


def write_car_readings_csv(
    path: str,
    cars: int = 100,
    sweeps: int = 600,
    seed: int = 42,
    error_mode: bool = False,
) -> str:
    """Telemetry CSV, one row per car per sweep (14 fields,
    ConnectedCarReading.scala:3-18), Gaussian around per-car props with
    the reference generator's collision/hazard/lane models."""
    rng = random.Random(seed)
    props = []
    for i in range(cars):
        props.append(
            dict(
                vin=f"VIN{i:05d}",
                miles=rng.randint(1000, 150000),
                speed=rng.randint(25, 80),
                accel=rng.uniform(0.5, 4.0),
                decel=rng.uniform(0.5, 4.0),
                handling=rng.uniform(0.1, 1.0),
                illegal=rng.randint(0, 100),
            )
        )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    t0 = 1_462_000_000_000
    with open(path, "w") as f:
        for sweep in range(sweeps):
            t = t0 + sweep * 1000
            for p in props:
                vin = p["vin"]
                if error_mode and rng.random() < 0.001:
                    vin = ""  # missing VIN (~0.1%)
                miles = p["miles"] + (p["speed"] * sweep) // 3600
                x_accel = p["handling"] + rng.gauss(0, 0.5)
                accelerating = rng.random() < 0.5
                y_accel = (p["accel"] if accelerating else -p["decel"]) + rng.gauss(0, 0.5)
                speed = max(0, int(p["speed"] + rng.gauss(0, 5)))
                if error_mode and rng.random() < 0.001:
                    speed = -speed  # negative speed (~0.1%)
                brakes_on = rng.random() < 0.1
                lane_departed = rng.random() < 0.02
                signal_on = lane_departed and rng.random() < 1 - p["illegal"] / 100
                collision = rng.random() < (
                    (p["accel"] + p["decel"] + p["handling"]) * 10000 / 1e7
                )
                hazard = rng.random() < 0.001
                lat, lon = rng.uniform(25, 49), rng.uniform(-124, -67)
                if error_mode and rng.random() < 0.005:
                    lat, lon = 0.0, 0.0  # zeroed coords (~0.5%)
                f.write(
                    f"{t},{vin},{miles},{x_accel:.4f},{y_accel:.4f},0.0,"
                    f"{speed},{str(brakes_on).lower()},{str(signal_on).lower()},"
                    f"{str(lane_departed).lower()},{str(collision).lower()},"
                    f"{str(hazard).lower()},{lat:.6f},{lon:.6f}\n"
                )
    return path
