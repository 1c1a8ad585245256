"""``volume``: fixed full-history operators over a date-partitioned
events store written by ``create_events_table``, each run to a
``noop`` sink.

Every operation repeats a plan the warm-up already ran, so codegen is
warm (no compiles) and the time goes to scans, shuffles and window
sorts on the executors rather than to building new plans.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

import datagen
from harness import Step, action
from etsd_time_series_database_spark.functions.exprs import epoch_us
from etsd_time_series_database_spark.operators.asof import asof_join_scalable
from etsd_time_series_database_spark.operators.range_stats import (
    exact_percentiles,
    range_stats,
)
from etsd_time_series_database_spark.operators.scalable_window import rate_scalable
from etsd_time_series_database_spark.plans import catalog
from etsd_time_series_database_spark.sources.store import create_events_table, load_table

EVENT_ROWS = 100_000
T0, T1 = "2024-01-05 00:00:00", "2024-01-20 00:00:00"

RATE_ORACLE = """
    SELECT event_id, event_type,
           (value - lag(value) OVER w) * 1000000.0
             / (epoch_us(ts) - lag(epoch_us(ts)) OVER w) AS rate_per_s
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
"""


def _asof(events):
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join_scalable(purchases, clicks, on="user_id", bucket_s=86400)
    return joined.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("p_ts_us"),
        epoch_us("ts_asof").alias("click_ts_us"),
    )


# name -> (load_table ts_range, operator, oracle SQL)
OPS = {
    "range_stats": (
        (T0, T1), lambda e: range_stats(e, T0, T1), catalog()["q04_range_aggregate"].oracle,
    ),
    "rate": (None, rate_scalable, RATE_ORACLE),
    "percentiles": (None, exact_percentiles, catalog()["q33_exact_percentiles"].oracle),
    "asof": (None, _asof, catalog()["q34_asof_join_scalable"].oracle),
}
KINDS = tuple(OPS)


class Volume:
    name = "volume"
    round_size = len(KINDS)
    # One pass generates ~140 classes; Spark's default 100-entry codegen
    # cache would evict each plan's classes before the pass comes round
    # again, and every operation would compile afresh.
    spark_conf = {"spark.sql.codegen.cache.maxEntries": "1000"}

    def __init__(self, spark, root, seed, tracer) -> None:
        self.spark, self.root, self.seed, self.tr = spark, root, seed, tracer
        self.result_rows: dict[str, int] = {}

    def build_inputs(self, path: str) -> None:
        raw = os.path.join(path, "raw.parquet")
        datagen.write_single_file(datagen.events_table(self.seed, EVENT_ROWS), raw)
        create_events_table(
            self.spark.read.parquet(raw), os.path.join(path, "events.parquet")
        )
        os.remove(raw)
        self.store = path

    def stored_bytes_per_row(self) -> float:
        return _dir_bytes(os.path.join(self.store, "events.parquet")) / EVENT_ROWS

    def _frame(self, kind: str, i: int):
        ts_range, op, _ = OPS[kind]
        with self.tr.span("sources.load", i):
            df = load_table(self.spark, self.store, "events", ts_range=ts_range)
        with self.tr.span("operators.build", i):
            return op(df)

    def warm_up(self) -> None:
        """One pass writes each result as parquet: the copy the oracle
        checks after the timed loop. It compiles every plan the timed
        loop runs."""
        for kind in KINDS:
            out = self.root.sub("results", kind)
            self._frame(kind, -1).write.mode("overwrite").parquet(out)
            self.result_rows[kind] = self.spark.read.parquet(out).count()

    def step(self, i: int) -> Step:
        kind = KINDS[i % len(KINDS)]
        t0 = time.perf_counter()
        with self.tr.op(i):
            df = self._frame(kind, i)
            action(self.tr, i, df, lambda: df.write.format("noop").mode("overwrite").save())
        return Step(
            time.perf_counter() - t0, EVENT_ROWS, kind, self.result_rows[kind]
        )

    def verify(self, oracle, steps: list[Step]) -> int:
        oracle.view("events", os.path.join(self.store, "events.parquet", "*", "*.parquet"))
        failed_kinds = set()
        for kind in KINDS:
            bad = oracle.mismatches(self.root.sub("results", kind), OPS[kind][2])
            if bad:
                print(f"volume: {kind} differs from DuckDB in {bad} rows", file=sys.stderr)
                failed_kinds.add(kind)
        return sum(1 for s in steps if s.kind in failed_kinds)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
