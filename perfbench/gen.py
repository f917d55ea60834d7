"""Seeded input generator for the benchmark workloads.

Writes ``events`` parquet with the fixture schema
(``event_id bigint, ts timestamp, user_id bigint, event_type string,
value double, props string``): five event types drawn uniformly,
exponential ``value`` with mean 50 rounded to cents, ``ts`` uniform over
``days`` days from 2024-01-01, and a small JSON ``props`` payload.  The
same arguments always give byte-identical files.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

START = datetime.datetime(2024, 1, 1)
DAY_US = 86_400_000_000


def events_table(seed: int, n_events: int, n_users: int, days: int) -> pa.Table:
    """The events table for one seed, in ``event_id`` order."""
    rng = np.random.default_rng(seed)
    start_us = int((START - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = start_us + rng.integers(0, days * DAY_US, n_events, dtype=np.int64)
    user = rng.integers(0, n_users, n_events, dtype=np.int64)
    kind = rng.integers(0, len(EVENT_TYPES), n_events)
    value = np.round(rng.exponential(50.0, n_events), 2)
    k = rng.integers(0, 100, n_events)
    types = np.array(EVENT_TYPES, dtype=object)[kind]
    props = np.array([f'{{"k": {i}}}' for i in range(100)], dtype=object)[k]
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n_events, dtype=np.int64)),
            pa.array(ts, type=pa.timestamp("us")),
            pa.array(user),
            pa.array(types, type=pa.string()),
            pa.array(value),
            pa.array(props, type=pa.string()),
        ],
        schema=SCHEMA,
    )


def write_events(table: pa.Table, path: str) -> None:
    """One parquet file holding ``table`` in one row group."""
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1), compression="snappy")


def write_daily_files(table: pa.Table, out_dir: str) -> int:
    """One parquet file per calendar day (``day=00.parquet`` ...), each
    holding that day's events in ``event_id`` order.  Returns the
    number of files."""
    os.makedirs(out_dir, exist_ok=True)
    ts = table.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    start_us = int((START - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    day = (ts - start_us) // DAY_US
    n = 0
    for d in np.unique(day):
        part = table.filter(pa.array(day == d))
        write_events(part, os.path.join(out_dir, f"day={int(d):02d}.parquet"))
        n += 1
    return n
