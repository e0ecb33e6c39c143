"""Seeded input generator: writes the `events` table the pipeline reads.

`loongcollector_spark.synth` derives every sequence from an `events` row: the
source from ``event_id % 10`` (0-7 nginx, 8 app-json, 9 csvlog), the
malformed nginx lines from ``event_id % 20 == 7`` and the line length mostly
from ``event_type``. Event ids are ``0..rows-1``, so a multiple of 20 rows
gives exactly 80% nginx lines, 1/16 of them malformed; the seed picks event
types, users, values, timestamps and the row order, so the same seed always
writes the same file.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["error", "signup", "purchase", "click", "view", "login", "logout"]


def write_events(path: str, rows: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    table = pa.table(
        {
            "event_id": pa.array(rng.permutation(rows), pa.int64()),
            # microseconds: Spark rejects parquet nanosecond timestamps
            "ts": pa.array(t0 + rng.integers(0, 86_400 * 30 * 1_000_000, size=rows), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 5_000, size=rows), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=rows), pa.string()),
            "value": pa.array(np.round(rng.gamma(1.1, 45.0, size=rows), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=rows)], pa.string()),
        }
    )
    pq.write_table(table, path)
