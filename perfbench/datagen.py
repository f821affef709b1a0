"""Seeded ``events`` table with the schema of the fixture the engine-surface
gates read (FIXTURES.md section 2): event_id, ts, user_id, event_type,
value, props.

The benchmark cannot rely on a fixture directory outside its checkout, so
it writes its own: same columns and types, distributions of the same shape
(30 days of timestamps, ~66 events per user, five event types,
exponential values, ``{"k": n}`` props).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def events(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, n // 66), n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_events(out_dir: str, seed: int, n: int) -> str:
    """Write ``out_dir/events.parquet``; returns its path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events(seed, n), path)
    return path
