"""``ingest``: writes beside reads on a ``write_ingest_epoch`` sink.

Each operation commits one seeded micro-batch, then runs a range query
through ``read_ingest_table`` that must return exactly that commit's
rows; its latency is the commit-to-visible freshness. Every
``COMMITS_PER_DAY`` commits the day is closed and compacted with
``compact_ingest_partition``, so the file count levels off; a read of
the compacted day must then return every row of its commits.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

import datagen
from harness import Step, action
from etsd_time_series_database_spark.streaming.ingest import (
    compact_ingest_partition,
    read_ingest_table,
    write_ingest_epoch,
)

BATCH_ROWS = 20_000
COMMITS_PER_DAY = 4
WARM_DAYS = 2
DAY_US = 86_400 * 1_000_000
SLOT_US = DAY_US // COMMITS_PER_DAY


def _bytes(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    files = [
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names if f.endswith(".parquet")
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


class Ingest:
    name = "ingest"
    round_size = COMMITS_PER_DAY

    def __init__(self, spark, root, seed, tracer) -> None:
        self.spark, self.root, self.seed, self.tr = spark, root, seed, tracer
        # (ops covered, expected (rows, cents), read back (rows, cents))
        self.checks: list[tuple[list[int], tuple[int, int], tuple[int, int]]] = []
        self.day_expected: list[tuple[int, int]] = []
        self.bytes_per_row = 0.0

    def build_inputs(self, path: str) -> None:
        self.sink = os.path.join(path, "sink")
        os.makedirs(self.sink)

    def warm_up(self) -> None:
        for i in range(-WARM_DAYS * COMMITS_PER_DAY, 0):
            self.step(i)
        self.checks.clear()

    def _commit(self, i: int, epoch: int, df) -> None:
        with self.tr.span("streaming.commit", i) as span:
            before = _bytes(self.sink) if span else None
            write_ingest_epoch(df, epoch, self.sink)
            if span:
                after = _bytes(self.sink)
                span.counts["files"] = after[0] - before[0]
                span.counts["bytes"] = after[1] - before[1]

    def step(self, i: int) -> Step:
        # warm-up steps (i < 0) fill the first WARM_DAYS days
        g = i + WARM_DAYS * COMMITS_PER_DAY
        day, slot = divmod(g, COMMITS_PER_DAY)
        lo = datagen.EPOCH0_US + day * DAY_US + slot * SLOT_US
        batch = datagen.ingest_batch(self.seed, g, BATCH_ROWS, lo, lo + SLOT_US)
        expected = (batch.num_rows, datagen.cents_sum(batch.column("value").to_numpy()))
        df = self.spark.createDataFrame(batch)

        t0 = time.perf_counter()
        with self.tr.op(i):
            self._commit(i, g, df)
            with self.tr.span("sources.load", i) as span:
                table = read_ingest_table(self.spark, self.sink)
                if span:
                    span.counts["files"] = len(table.inputFiles())
            q = _rows_and_cents(table, lo, lo + SLOT_US)
            got = action(self.tr, i, q, q.collect)[0]
        latency = time.perf_counter() - t0
        self.checks.append(([i], expected, _pair(got)))
        self.day_expected.append(expected)

        if slot == COMMITS_PER_DAY - 1:
            day_lo = lo - slot * SLOT_US
            dt = time.strftime("%Y-%m-%d", time.gmtime(day_lo // 1_000_000))
            with self.tr.span("streaming.compact", i):
                compact_ingest_partition(self.spark, self.sink, f"dt={dt}")
            got = _rows_and_cents(read_ingest_table(self.spark, self.sink), day_lo, day_lo + DAY_US)
            want = tuple(map(sum, zip(*self.day_expected)))
            self.checks.append((list(range(i - slot, i + 1)), want, _pair(got.collect()[0])))
            self.day_expected.clear()
            if i == COMMITS_PER_DAY - 1:
                # the table as the first timed day closes: the same for
                # every run of a seed, however many days a run reaches
                self.bytes_per_row = _bytes(self.sink)[1] / ((g + 1) * BATCH_ROWS)
        return Step(latency, BATCH_ROWS, "commit+read", 1)

    def stored_bytes_per_row(self) -> float:
        return self.bytes_per_row

    def verify(self, oracle, steps: list[Step]) -> int:
        return len({op for ops, want, got in self.checks if want != got for op in ops})


def _rows_and_cents(table, lo_us: int, hi_us: int):
    return table.filter(
        (F.col("ts") >= F.timestamp_micros(F.lit(lo_us)))
        & (F.col("ts") < F.timestamp_micros(F.lit(hi_us)))
    ).agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))


def _pair(row) -> tuple[int, int]:
    return row["n"], int(row["s"] * 100) if row["s"] is not None else 0
