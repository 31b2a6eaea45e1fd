"""Seeded input generators.

The sequences come from the package's own F1 generator
(``datagen.generate_sequences``). It derives every value from
``xxhash64(id, salt, datagen.SEED)``; the benchmark sets ``datagen.SEED``
from its ``--seed``, so the seed changes the rows and keeps the
distributions. The ``events`` table for the spans workload is written here
with numpy, shaped like the repository's sf0.1 table: ~66.7 events per
user (one trace per user), timestamps rising with ``event_id`` over 30
days, five event types and ``props = {"k": 0..99}``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_PER_TRACE = 1000 / 15  # sf0.1: 100k events over 1500 users
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EPOCH_2024_US = 1_704_067_200 * 10**6


def sequences(spark, n_rows: int, seed: int):
    """F1 sequences for ``seed``."""
    from hypertrace_ingester_spark import datagen

    datagen.SEED = seed
    return datagen.generate_sequences(spark, n_rows)


def write_events(sf_dir: str, n_events: int, seed: int | tuple[int, ...]) -> None:
    rng = np.random.default_rng(seed)
    n_users = max(1, round(n_events / EVENTS_PER_TRACE))
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events)) + EPOCH_2024_US
    k = rng.integers(0, 100, n_events).astype(str)
    table = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": np.round(rng.uniform(0, 560, n_events), 2),
        "props": np.char.add(np.char.add('{"k": ', k), "}"),
    })
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
