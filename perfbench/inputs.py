"""Seeded inputs for the benchmark workloads.

Everything the program under test reads is generated here from the
workload seed: an ``events`` table shaped like the engine's sf0.1 fixture
(100k events over 30 days, the same six columns), its cut into daily
micro-batches by event time and the late-event set. The same seed always
gives the same inputs; nothing here touches Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_DAYS = 30
START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
N_USERS = 1_500
#: share of a day's events delivered one micro-batch late
LATE_SHARE = 0.02


@dataclass(frozen=True)
class Replay:
    """One seeded replay: the events and the micro-batch each is delivered in."""

    events: pa.Table
    batch_of: np.ndarray  # micro-batch index per event row
    late: np.ndarray  # bool per event row: delivered after its event-time batch
    n_batches: int


def make_events(seed: int, n: int = N_EVENTS) -> pa.Table:
    """The events table: ts uniform over ``N_DAYS`` days, ids in ts order,
    five event types, a price-like ``value`` and a ``{"k": int}`` payload."""
    rng = np.random.default_rng([seed, 1])
    offs = np.sort(rng.integers(0, N_DAYS * 86_400 * 1_000_000, n))
    ts = START + offs.astype("timedelta64[us]")
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def day_index(events: pa.Table) -> np.ndarray:
    """Day of each event, counted from ``START``."""
    ts = events.column("ts").to_numpy()
    return ((ts - START) // np.timedelta64(1, "D")).astype(np.int64)


def cut_batches(day: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Cut events by event time into one micro-batch per day. A seeded
    ``LATE_SHARE`` of every day but the last is delivered with the next
    day's micro-batch. Every micro-batch after the first therefore touches
    exactly two day partitions, its own day and the day before: each merge
    has the same shape. Returns the delivered batch index and the late flag
    of every event."""
    rng = np.random.default_rng([seed, 2])
    late = (rng.random(len(day)) < LATE_SHARE) & (day < day.max())
    return np.where(late, day + 1, day), late


def make_replay(seed: int, n: int = N_EVENTS) -> Replay:
    events = make_events(seed, n)
    batch_of, late = cut_batches(day_index(events), seed)
    return Replay(events, batch_of, late, int(batch_of.max()) + 1)


def stage(replay: Replay, root: str) -> list[str]:
    """Write each micro-batch as ``<root>/mb/<i>/events.parquet`` and the
    whole replay, with its batch index in column ``mb``, as
    ``<root>/all/events.parquet``. Returns the micro-batch directories, in
    delivery order; each is a table directory for ``sources.batch.load_table``."""
    dirs = []
    order = np.argsort(replay.batch_of, kind="stable")
    ev = replay.events.take(pa.array(order))
    bounds = np.searchsorted(replay.batch_of[order], np.arange(replay.n_batches + 1))
    for i in range(replay.n_batches):
        d = os.path.join(root, "mb", f"{i:05d}")
        os.makedirs(d)
        pq.write_table(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), os.path.join(d, "events.parquet"))
        dirs.append(d)
    all_dir = os.path.join(root, "all")
    os.makedirs(all_dir)
    full = replay.events.append_column("mb", pa.array(replay.batch_of))
    pq.write_table(full, os.path.join(all_dir, "events.parquet"))
    return dirs
