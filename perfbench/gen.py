"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, parameters): the same seed
gives identical tables and tick files.  The program under test only
ever sees the parquet files these functions write, in the fixture
contract's `events` schema (FIXTURES.md section 2).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ticker import tick_name

EVENT_TYPES = ["view", "click", "purchase", "signup", "error", "search"]
PRIMER = "primer.parquet"  # lands before the open loop starts
EPOCH0 = np.datetime64(dt.datetime(2024, 1, 1), "us")

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def zipf_ids(rng: np.random.Generator, n: int, n_users: int, skew: float):
    """n draws from a bounded Zipf law over n_users ids: rank r has
    weight 1/r**skew, and ranks map to ids through a seeded shuffle so
    hot users are not simply the small ids."""
    w = 1.0 / np.arange(1, n_users + 1, dtype=np.float64) ** skew
    ranks = rng.choice(n_users, size=n, p=w / w.sum())
    return rng.permutation(n_users)[ranks].astype(np.int64)


def events_table(
    rng: np.random.Generator,
    n: int,
    n_users: int,
    skew: float,
    first_id: int = 0,
    dup_share: float = 0.0,
) -> pa.Table:
    """`n` events in ts order, event ids from `first_id`.

    A `dup_share` of the rows repeat the (user_id, event_type) of an
    earlier row of the same table, so a micro-batch holding the table
    carries duplicate (key, value) messages.  Null message keys come
    from the program's own rule (user ids divisible by 19).
    """
    users = zipf_ids(rng, n, n_users, skew)
    types = rng.integers(0, len(EVENT_TYPES), size=n)
    if dup_share > 0 and n > 1:
        dup = np.flatnonzero(rng.random(n) < dup_share)
        dup = dup[dup > 0]
        src = (rng.random(len(dup)) * dup).astype(np.int64)
        users[dup] = users[src]
        types[dup] = types[src]
    gaps_us = rng.integers(1, 2_000_000, size=n)
    ts = EPOCH0 + (np.cumsum(gaps_us) + first_id * 1_000_000).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": users,
            "event_type": [EVENT_TYPES[t] for t in types],
            "value": np.round(rng.random(n) * 100.0, 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)],
        },
        schema=EVENTS_SCHEMA,
    )


def message_key(user_id: int) -> str | None:
    """The message key `file_stream_messages` derives from a user id."""
    return None if user_id % 19 == 0 else str(user_id % 50)


def write_events(seed: int, p: dict, path: str) -> None:
    """The stateful workload's input: one events table."""
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        events_table(rng, p["n_events"], p["n_users"], p["user_skew"]), path
    )


def stage_ticks(seed: int, p: dict, n_ticks: int, staged_dir: str,
                primer_dir: str) -> None:
    """The ingest workload's input: a primer file, then `n_ticks`
    tick files, each of `events_per_tick` events with consecutive ids."""
    rng = np.random.default_rng(seed)
    per_tick = p["events_per_tick"]

    def tick(first_id: int) -> pa.Table:
        return events_table(rng, per_tick, p["n_users"], p["user_skew"],
                            first_id=first_id,
                            dup_share=p["in_tick_dup_share"])

    os.makedirs(primer_dir, exist_ok=True)
    pq.write_table(tick(0), os.path.join(primer_dir, PRIMER))
    os.makedirs(staged_dir, exist_ok=True)
    for i in range(n_ticks):
        pq.write_table(tick((i + 1) * per_tick),
                       os.path.join(staged_dir, tick_name(i)))
