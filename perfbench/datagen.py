"""Input tables and the seeded draws made from them.

The fixed inputs are the engine's seed-42 test tables (TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``), copied
unchanged into ``perfbench/data/sf<scale>``; every run of every workload
reads the same tables. Everything else a workload feeds the engine
(statement parameters, algorithm sources, write batches, event batches,
injected duplicates) is drawn per run from ``--seed`` by the workload
modules, with the helpers below.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def data_dir(scale: str) -> str:
    """The bundled tables at ``scale`` (``0.01`` or ``0.001``)."""
    return os.path.join(DATA, f"sf{scale}")


def table_rows(input_dir: str) -> dict[str, int]:
    """Row count of every table in ``input_dir`` (from parquet footers)."""
    return {
        f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(input_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(input_dir)) if f.endswith(".parquet")
    }


def unit_rows(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def events_table(
    rng: np.random.Generator, first_id: int, n: int, start: dt.datetime
) -> pa.Table:
    """``n`` new events with ids from ``first_id``, time-ordered from
    ``start`` over 30 days, with the ``events`` table's schema and value
    ranges (150 users, values 0.01-490)."""
    secs = np.sort(rng.uniform(0, 30 * 86_400, n))
    ts = np.datetime64(start, "us") + (secs * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
