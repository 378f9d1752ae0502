"""Seeded generator for the benchmark's ``events`` inputs.

The table has the schema of the repository's synthetic ``events`` test
table (``event_id, ts, user_id, event_type, value, props``) and its
shape at sf0.1: 30 days of events, a dense ``event_id`` in time order,
five event types drawn uniformly, ``value`` exponential with mean 50
rounded to cents, and ``props = {"k": <receiver>}``.

Receivers ``k`` are drawn from ``[0, wallets / 15)``. sf0.1 has 100
receivers for 1,500 wallets; scaling the range with the wallet count keeps
that share. A fixed range of 100 at 15,000 wallets makes almost every
wallet a pure sender, ``zero_min_balance_pct`` approaches 100 % and the
feature quality gate (``run_dq``) rejects the data.

The same ``(seed, events, wallets)`` always writes byte-identical parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAYS = 30
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00, no zone
RECEIVER_SHARE = 15  # wallets per receiver id, as in sf0.1 (1,500 / 100)


def make_events(seed: int, events: int, wallets: int) -> pa.Table:
    """Return the seeded events table, ordered by ``ts`` (and ``event_id``)."""
    if events < 1 or wallets < RECEIVER_SHARE:
        raise ValueError(f"need events >= 1 and wallets >= {RECEIVER_SHARE}")
    rng = np.random.default_rng(seed)
    span_us = DAYS * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=events, dtype=np.int64)) + START_US
    user_id = rng.integers(0, wallets, size=events, dtype=np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), size=events)
    value = np.round(rng.exponential(50.0, size=events), 2)
    k = rng.integers(0, wallets // RECEIVER_SHARE, size=events)
    props = [f'{{"k": {int(v)}}}' for v in k]
    return pa.table(
        {
            "event_id": pa.array(np.arange(events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[etype]),
            "value": pa.array(value),
            "props": pa.array(props, type=pa.string()),
        }
    )


def write_events(table: pa.Table, sf_dir: str) -> str:
    """Write ``table`` as ``<sf_dir>/events.parquet`` and return the path."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def split_at(table: pa.Table, share: float) -> pa.Table:
    """The first ``share`` of ``table``'s rows, which are in time order."""
    return table.slice(0, int(table.num_rows * share))

