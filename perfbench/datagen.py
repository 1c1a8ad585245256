"""Seeded input generators. The same seed gives the same rows.

The events shape copies the ``events`` table the package is built
around: ``event_id`` in time order, a naive microsecond ``ts`` spanning
2024-01-01 .. 2024-01-31, 1,500 users, five channels in
``event_type``, exponential values (mean 50) rounded to cents, and a
small JSON ``props`` string. Timestamps are unique, so every
order-by-time result has one right answer.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHANNELS = ("click", "error", "purchase", "signup", "view")
EPOCH0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000


def events_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    # sorted draws plus the row index give strictly increasing instants
    ts = np.sort(rng.integers(0, SPAN_US - n, n)) + np.arange(n) + EPOCH0_US
    channel = np.asarray(CHANNELS, dtype=object)[rng.integers(0, len(CHANNELS), n)]
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(channel, type=pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props.astype(object), type=pa.string()),
        }
    )


def write_single_file(table: pa.Table, path: str) -> None:
    """One file, one row group: the layout of a single-table store."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def ingest_batch(seed: int, step: int, rows: int, lo_us: int, hi_us: int) -> pa.Table:
    """One micro-batch in the ingest sink's canonical row schema
    ``(ts, source, channel, value, status)``, its instants unique and
    inside ``[lo_us, hi_us)``."""
    rng = np.random.default_rng((seed, step))
    ts = np.sort(rng.integers(lo_us, hi_us - rows, rows)) + np.arange(rows)
    return pa.table(
        {
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "source": pa.array(
                np.char.add("sim", rng.integers(0, 4, rows).astype(str)).astype(object),
                type=pa.string(),
            ),
            "channel": pa.array(
                np.char.add("ch", rng.integers(0, 8, rows).astype(str)).astype(
                    object
                ),
                type=pa.string(),
            ),
            "value": pa.array(np.round(rng.normal(100.0, 15.0, rows), 2)),
            "status": pa.array(np.zeros(rows, dtype=np.int32)),
        }
    )


def cents_sum(values: np.ndarray) -> int:
    """Exact sum of cent-rounded values, in cents."""
    return int(np.rint(np.asarray(values) * 100).astype(np.int64).sum())
