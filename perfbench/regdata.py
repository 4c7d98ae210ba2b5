"""Seeded generator for the tables the ``stream_drain`` entries read.

Writes ``events`` and ``customer`` as one parquet file each in the shapes
``catalog.TABLES`` expects (FIXTURES.md §1): a month of user events with
JSON props, time ordered like the repository's sf* test tables, and one
customer row per user id (the dimension ``stream_static_enrich`` joins).
The same seed writes byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
MONTH_US = 30 * 86400 * 1_000_000
JAN_2024_US = 1_704_067_200 * 1_000_000


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = np.sort(rng.integers(0, MONTH_US, size=n)) + JAN_2024_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(users, size=n).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(5, size=n)]),
            "value": pa.array(np.round(rng.gamma(2.0, 40.0, size=n), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(100, size=n)]),
        }
    )


def _customer(rng: np.random.Generator, users: int) -> pa.Table:
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(users, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(users)]),
            "c_nationkey": pa.array(rng.integers(25, size=users).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=users), 2)),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(5, size=users)]),
        }
    )


def write_tables(out_dir: str, seed: int, events: int, users: int) -> dict:
    """Write the tables under ``out_dir``; returns {table: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"events": _events(rng, events, users), "customer": _customer(rng, users)}
    stats = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        stats[name] = (t.num_rows, os.path.getsize(path))
    return stats
