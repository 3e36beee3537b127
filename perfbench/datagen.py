"""Seeded generator for the taxi flow's inputs.

`write_trips` produces raw trips in the producer's wire shape (parquet,
and one JSON message per line), plus CSV uploads of enriched trips for
the serving step. The query workload does not use it: it reads the
pinned tables under `perfbench/data/`.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv  # noqa: F401  (pa.csv)
import pyarrow.parquet as pq


def raw_trips(rng, n):
    """Raw trips: ISO-string timestamps, numeric ids as doubles, and a
    fare with a learnable signal. One trip in five has passenger_count
    0, which the consumer transform drops."""
    t0 = np.datetime64("2024-05-01T00:00:00", "s").astype(np.int64)
    pu = t0 + rng.integers(0, 30 * 86400, n)
    dist = np.round(rng.uniform(0.2, 12.2, n), 2)
    dur = np.round(dist * 4 + rng.uniform(0, 10, n), 2)
    do = pu + (dur * 60).astype(np.int64)
    hour = (pu % 86400) // 3600
    fare = np.round(3.0 + dist * 2.5 + dur * 0.12 + np.where((hour >= 17) & (hour <= 20), 2.0, 0.0)
                    + rng.normal(0, 1.5, n), 2)
    tip = np.round(fare * 0.15 + rng.normal(0, 0.5, n), 2)

    def iso(ts):
        return np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    return {
        "tpep_pickup_datetime": iso(pu),
        "tpep_dropoff_datetime": iso(do),
        "vendorid": rng.integers(1, 3, n).astype(np.float64),
        "ratecodeid": rng.integers(1, 7, n).astype(np.float64),
        "pulocationid": rng.integers(1, 266, n).astype(np.float64),
        "dolocationid": rng.integers(1, 266, n).astype(np.float64),
        "passenger_count": rng.integers(0, 5, n).astype(np.float64),
        "payment_type": rng.integers(1, 5, n).astype(np.float64),
        "trip_distance": dist,
        "fare_amount": fare,
        "tip_amount": tip,
        "improvement_surcharge": np.ones(n),
        "total_amount": np.round(fare + tip + 1.0, 2),
    }, pu, do


def write_trips(out_dir, seed, trips, uploads, upload_rows):
    """trips_raw/ (parquet), messages.jsonl and upload_<i>/ CSVs."""
    rng = np.random.default_rng(seed)
    cols, _, _ = raw_trips(rng, trips)
    os.makedirs(os.path.join(out_dir, "trips_raw"), exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(out_dir, "trips_raw", "part-0.parquet"))
    names = list(cols)
    with open(os.path.join(out_dir, "messages.jsonl"), "w") as f:
        for i in range(trips):
            f.write(json.dumps({k: (cols[k][i].item() if hasattr(cols[k][i], "item")
                                    else str(cols[k][i])) for k in names}) + "\n")
    # uploads: enriched trips (the features the fare model reads) with
    # nonzero passenger counts, as the consumer transform would emit them
    up, pu, do = raw_trips(np.random.default_rng(seed + 7919), uploads * upload_rows * 2)
    keep = np.nonzero(up["passenger_count"] != 0)[0][: uploads * upload_rows]
    hour = (pu % 86400) // 3600
    up["trip_duration"] = (do - pu) / 60.0
    up["pickup_hour"] = hour
    up["pickup_timeofday"] = np.select(
        [(hour >= 6) & (hour < 12), (hour >= 12) & (hour < 16), (hour >= 16) & (hour < 22)],
        ["morning", "afternoon", "evening"], "late night")
    up["fare_per_mile"] = np.where(up["trip_distance"] == 0, 0.0,
                                   up["fare_amount"] / np.where(up["trip_distance"] == 0, 1,
                                                                up["trip_distance"]))
    for i in range(uploads):
        rows = keep[i * upload_rows:(i + 1) * upload_rows]
        d = os.path.join(out_dir, f"upload_{i}")
        os.makedirs(d, exist_ok=True)
        pa.csv.write_csv(pa.table({k: v[rows] for k, v in up.items()}),
                         os.path.join(d, "part-0.csv"))

