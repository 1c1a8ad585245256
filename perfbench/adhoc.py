"""``adhoc``: the interactive ETSD query model on a 100k-row events
table (one file, one row group).

Requests cycle through three forms: the CLI ``query`` verb, a
``range_stats`` call over a time-pushed ``load_table`` scan, and an
OHLC or M4 panel with a random bucket width. Every request has a fresh
window with bounds at random seconds and 1-4 random channels, so no
two requests share generated code: driver-side work (DataFrame
construction, planning, codegen) dominates while executors idle.
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import time
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

import datagen
from harness import Step, action
from etsd_time_series_database_spark import cli
from etsd_time_series_database_spark.operators.range_stats import range_stats
from etsd_time_series_database_spark.operators.trends import m4_downsample, ohlc
from etsd_time_series_database_spark.sources.store import load_table

ROWS = 100_000
WARM_REQUESTS = 21
KINDS = ("cli", "range_stats", "panel")
DAY0 = datetime(2024, 1, 1)

STATS_SQL = """
    SELECT event_type, count(value) AS n, min(value) AS min_value,
           max(value) AS max_value,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS avg_value,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events {where} GROUP BY event_type ORDER BY event_type
"""
OHLC_SQL = """
    WITH b AS (
      SELECT event_type, (epoch_us(ts) // {w_us}) * {w} AS bucket_s, value,
             CAST(epoch_us(ts) AS HUGEINT) * CAST(10000000000000000000 AS HUGEINT)
               + event_id AS ord
      FROM events {where})
    SELECT event_type, bucket_s, arg_min(value, ord) AS open_value,
           max(value) AS high_value, min(value) AS low_value,
           arg_max(value, ord) AS close_value, count(*) AS n_samples
    FROM b GROUP BY event_type, bucket_s ORDER BY event_type, bucket_s
"""
M4_SQL = """
    WITH b AS (
      SELECT event_type, (epoch_us(ts) // {w_us}) * {w_us} AS bucket_us,
             epoch_us(ts) AS us, value,
             CAST(epoch_us(ts) AS HUGEINT) * CAST(10000000000000000000 AS HUGEINT)
               + event_id AS ord
      FROM events {where})
    SELECT event_type, bucket_us, count(*) AS n, min(us) AS first_us,
           arg_min(value, ord) AS first_v, min(value) AS min_v, max(value) AS max_v,
           max(us) AS last_us, arg_max(value, ord) AS last_v
    FROM b GROUP BY event_type, bucket_us ORDER BY event_type, bucket_us
"""


def request(seed: int, i: int) -> dict:
    """The i-th request of a seed; warm-up requests (i < 0) draw from
    their own stream."""
    rng = np.random.default_rng([seed, int(i < 0), abs(i)])
    lo_s = int(rng.integers(0, 29 * 86_400))
    width_s = int(rng.integers(3_600, 10 * 86_400))
    fmt = "%Y-%m-%d %H:%M:%S"
    lo = DAY0 + timedelta(seconds=lo_s)
    hi = min(lo + timedelta(seconds=width_s), DAY0 + timedelta(days=30))
    k = int(rng.integers(1, 5))
    # a panel draws 100-500 buckets across its window, one per pixel
    pixels = int(rng.integers(100, 500))
    return {
        "kind": KINDS[i % len(KINDS)],
        "lo": lo.strftime(fmt),
        "hi": hi.strftime(fmt),
        "channels": sorted(rng.choice(datagen.CHANNELS, k, replace=False).tolist()),
        "panel": "ohlc" if rng.integers(0, 2) == 0 else "m4",
        "width_s": max(1, int((hi - lo).total_seconds()) // pixels),
    }


def _parse_show(text: str) -> list[tuple]:
    """Rows of a ``DataFrame.show`` table printed by the CLI."""
    lines = [ln for ln in text.splitlines() if ln.startswith("|")]
    rows = []
    for ln in lines[1:]:
        cells = [c.strip() for c in ln.strip("|").split("|")]
        rows.append(
            (cells[0], int(cells[1]), *(None if c == "NULL" else float(c) for c in cells[2:]))
        )
    return rows


def _same(a, b) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None or not math.isclose(x, y, rel_tol=1e-12):
                return False
        elif x != y:
            return False
    return True


class Adhoc:
    name = "adhoc"
    round_size = len(KINDS)

    def __init__(self, spark, root, seed, tracer) -> None:
        self.spark, self.root, self.seed, self.tr = spark, root, seed, tracer
        self.answers: list[tuple[dict, list[tuple]]] = []

    def build_inputs(self, path: str) -> None:
        datagen.write_single_file(
            datagen.events_table(self.seed, ROWS), os.path.join(path, "events.parquet")
        )
        self.store = path

    def stored_bytes_per_row(self) -> float:
        return os.path.getsize(os.path.join(self.store, "events.parquet")) / ROWS

    def warm_up(self) -> None:
        # request latency keeps falling for ~20 requests as the JIT
        # compiles Catalyst's hot paths; time only what follows
        for i in range(-WARM_REQUESTS, 0):
            self.step(i)
        self.answers.clear()

    def step(self, i: int) -> Step:
        req = request(self.seed, i)
        t0 = time.perf_counter()
        with self.tr.op(i):
            rows = self._run(req, i)
        latency = time.perf_counter() - t0
        self.answers.append((req, rows))
        return Step(latency, ROWS, req["kind"], len(rows))

    def _run(self, req: dict, i: int) -> list[tuple]:
        if req["kind"] == "cli":
            argv = ["query", os.path.join(self.store, "events.parquet"),
                    "-s", req["lo"], "-e", req["hi"], "--limit", "100"]
            for ch in req["channels"]:
                argv += ["-c", ch]
            out = io.StringIO()
            with self.tr.span("cli.verb", i), contextlib.redirect_stdout(out):
                cli.main(argv, spark=self.spark)
            return _parse_show(out.getvalue())
        lo, hi = req["lo"], req["hi"]
        with self.tr.span("sources.load", i):
            df = load_table(self.spark, self.store, "events", ts_range=(lo, hi))
        with self.tr.span("operators.build", i):
            df = df.filter(F.col("event_type").isin(req["channels"]))
            if req["kind"] == "range_stats":
                out = range_stats(df, lo, hi)
            else:
                df = df.filter(
                    (F.col("ts") >= F.lit(lo).cast("timestamp"))
                    & (F.col("ts") <= F.lit(hi).cast("timestamp"))
                )
                panel = ohlc if req["panel"] == "ohlc" else m4_downsample
                out = panel(df, req["width_s"])
        return [tuple(r) for r in action(self.tr, i, out, out.collect)]

    def _oracle_sql(self, req: dict) -> str:
        chans = ", ".join(f"'{c}'" for c in req["channels"])
        where = (
            f"WHERE ts >= TIMESTAMP '{req['lo']}' AND ts <= TIMESTAMP '{req['hi']}' "
            f"AND event_type IN ({chans})"
        )
        if req["kind"] != "panel":
            return STATS_SQL.format(where=where)
        w = req["width_s"]
        sql = OHLC_SQL if req["panel"] == "ohlc" else M4_SQL
        return sql.format(where=where, w=w, w_us=w * 1_000_000)

    def verify(self, oracle, steps: list[Step]) -> int:
        oracle.view("events", os.path.join(self.store, "events.parquet"))
        failed = 0
        for req, rows in self.answers:
            want = oracle.rows(self._oracle_sql(req))
            if len(want) != len(rows) or not all(map(_same, rows, want)):
                failed += 1
        return failed
