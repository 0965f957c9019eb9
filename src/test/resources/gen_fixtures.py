#!/usr/bin/env python3
"""Regenerate the loader-parity fixtures in this directory.

    python3 src/test/resources/gen_fixtures.py

Writes testTypes.parquet, traffic.parquet and their *WithPDIndex twins
with pyarrow 16.1 / pandas 2.2, following the schemas in FIXTURES.md.
These are regenerated stand-ins for the reference loader's test inputs,
not its bytes: same names, row counts, column names and types.

- testTypes: 26 rows, c = 'a'..'z', floatVal = 50/(n+1), numeric = 0..25.
- traffic: 2,000 seeded taxi-style trips (Feb 2019), µs timestamps,
  int8 passenger_count, float32 fare columns.
- *WithPDIndex: the same frame written with pandas' range-index footer
  metadata; the plain files carry no pandas metadata. No extra columns.

The same seed gives the same rows, so a rerun rewrites equal data.
"""
import os
import string

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def test_types() -> pd.DataFrame:
    n = np.arange(26)
    return pd.DataFrame({
        "c": list(string.ascii_lowercase),
        "floatVal": 50.0 / (n + 1),
        "numeric": n.astype(np.int64),
    })


def traffic(rows: int = 2000, seed: int = 2019) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    start = pd.Timestamp("2019-02-01", tz="UTC").value // 1000  # µs
    month_us = 28 * 24 * 3600 * 1_000_000
    pickup = start + rng.integers(0, month_us, rows)
    dropoff = pickup + rng.integers(60, 3600, rows) * 1_000_000
    as_us = lambda a: pd.to_datetime(a, unit="us", utc=True).astype(
        "datetime64[us, UTC]")
    f32 = lambda lo, hi: np.round(rng.uniform(lo, hi, rows), 2).astype(
        np.float32)
    fare = f32(2.5, 80.0)
    extra = rng.choice(np.array([0.0, 0.5, 1.0], np.float32), rows)
    mta = np.full(rows, 0.5, np.float32)
    tip = f32(0.0, 15.0)
    tolls = rng.choice(np.array([0.0, 5.76], np.float32), rows, p=[0.9, 0.1])
    surcharge = np.full(rows, 0.3, np.float32)
    congestion = rng.choice(np.array([0.0, 2.5], np.float32), rows)
    total = (fare + extra + mta + tip + tolls + surcharge + congestion
             ).astype(np.float32)
    return pd.DataFrame({
        "vendor_id": rng.choice(["1", "2"], rows),
        "pickup_at": as_us(pickup),
        "dropoff_at": as_us(dropoff),
        "passenger_count": rng.integers(1, 7, rows).astype(np.int8),
        "trip_distance": f32(0.1, 30.0),
        "rate_code_id": rng.choice(["1", "2", "3", "4", "5"], rows,
                                   p=[0.9, 0.04, 0.02, 0.02, 0.02]),
        "store_and_fwd_flag": rng.choice(["N", "Y"], rows, p=[0.99, 0.01]),
        "pickup_location_id": rng.integers(1, 266, rows).astype(np.int32),
        "dropoff_location_id": rng.integers(1, 266, rows).astype(np.int32),
        "payment_type": rng.choice(["1", "2", "3", "4"], rows,
                                   p=[0.7, 0.27, 0.02, 0.01]),
        "fare_amount": fare,
        "extra": extra,
        "mta_tax": mta,
        "tip_amount": tip,
        "tolls_amount": tolls,
        "improvement_surcharge": surcharge,
        "total_amount": total,
        "congestion_surcharge": congestion,
    })


def write(df: pd.DataFrame, name: str) -> None:
    plain = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(plain.replace_schema_metadata(None),
                   os.path.join(HERE, f"{name}.parquet"))
    # default preserve_index: a RangeIndex becomes footer metadata only
    pq.write_table(pa.Table.from_pandas(df),
                   os.path.join(HERE, f"{name}WithPDIndex.parquet"))


if __name__ == "__main__":
    write(test_types(), "testTypes")
    write(traffic(), "traffic")
