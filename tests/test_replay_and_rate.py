"""Tests for the recover/replay path (reference O27), the streaming
counter-rate (O10 streaming form), and date-partition pruning on the
partitioned store."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from etsd_time_series_database_spark.sources.store import create_events_table
from etsd_time_series_database_spark.streaming import ingest
from etsd_time_series_database_spark.streaming.stateful import counter_rate_stream

SCHEMA = "ts timestamp, source string, channel string, value double, status int"


def _rows_df(spark, rows):
    return spark.createDataFrame(
        [(ts, "s", ch, float(v), 0) for ts, ch, v in rows],
        "ts string, source string, channel string, value double, status int",
    ).withColumn("ts", F.to_timestamp("ts"))


@pytest.mark.slow
def test_replay_equals_live_downsample_sink(spark, tmp_path):
    """Recovering the downsample sink from raw history == the sink the
    live foreachBatch ingest maintained (the recoverRRD property)."""
    rows = [
        ("2026-01-01 00:00:05", "a", 1.0),
        ("2026-01-01 00:00:55", "a", 3.0),
        ("2026-01-01 00:01:10", "a", 5.0),
        ("2026-01-01 00:00:10", "b", 7.0),
    ]
    src = str(tmp_path / "src")
    _rows_df(spark, rows).coalesce(1).write.parquet(f"{src}/b0")
    stream = spark.readStream.schema(SCHEMA).parquet(f"{src}/*")
    raw, live_ds = str(tmp_path / "raw"), str(tmp_path / "live_ds")
    q = ingest.ingest_to_parquet(
        stream,
        raw,
        checkpoint=str(tmp_path / "ckpt"),
        downsample_to=live_ds,
        downsample_width_s=60,
        available_now=True,
    )
    q.awaitTermination(120)

    recovered = str(tmp_path / "recovered_ds")
    ingest.replay(spark, raw, recovered, width_s=60)

    def canon(path):
        return sorted(map(tuple, ingest.read_ingest_table(spark, path).collect()))

    assert canon(recovered) == canon(live_ds)


@pytest.mark.slow
def test_streaming_rate_matches_batch_rate(spark, tmp_path):
    """Streaming counter->rate across micro-batches == the batch rate
    operator over the same data."""
    b1 = [("2026-01-01 00:00:00", "a", 100.0)]
    b2 = [("2026-01-01 00:00:05", "a", 110.0), ("2026-01-01 00:00:15", "a", 140.0)]
    src = str(tmp_path / "rate_src")
    now = time.time()
    for i, rows in enumerate([b1, b2]):
        _rows_df(spark, rows).coalesce(1).write.parquet(f"{src}/b{i}")
        for root, _, fs in os.walk(f"{src}/b{i}"):
            for f in fs:
                os.utime(os.path.join(root, f), (now - 100 + i * 50,) * 2)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        counter_rate_stream(stream)
        .writeStream.format("memory")
        .queryName("sr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2  # state really crossed batches
    got = {
        r.ts_us: r.rate_per_s for r in spark.sql("select * from sr").collect()
    }
    by_time = [got[k] for k in sorted(got)]
    # first reading has no predecessor; then 10/5 = 2.0 (state-carried), 30/10 = 3.0
    assert by_time == [None, 2.0, 3.0]


def test_partitioned_store_prunes_by_date(spark, tmp_path):
    rows = [
        ("2026-01-01 10:00:00", "a", 1.0),
        ("2026-01-02 10:00:00", "a", 2.0),
        ("2026-01-03 10:00:00", "a", 3.0),
    ]
    df = _rows_df(spark, rows).withColumnRenamed("channel", "event_type")
    path = str(tmp_path / "tbl")
    create_events_table(df, path, mode="overwrite")
    read = spark.read.parquet(path).filter(F.col("dt") == "2026-01-02")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert read.count() == 1


def test_day_refresh_refuses_flat_sink(spark, tmp_path):
    """The dt= layout rule lives in the library, not only in the CLI:
    a day-scoped refresh_downsample against a FLAT sink (replay's
    layout) raises ValueError and leaves the sink as it was — no dt=
    directory beside the flat part files, no sidecar stamped."""
    rows = [
        ("2024-01-01 00:00:05", "a", 1.0),
        ("2024-01-01 00:01:10", "a", 5.0),
        ("2024-01-02 00:00:10", "b", 7.0),
    ]
    raw, sink = str(tmp_path / "raw"), str(tmp_path / "flat_sink")
    _rows_df(spark, rows).coalesce(1).write.parquet(raw)
    ingest.consolidate(
        spark.read.parquet(raw), ["source", "channel"], 60
    ).write.parquet(sink)
    listing = sorted(os.listdir(sink))
    with pytest.raises(ValueError, match="dt=-partitioned"):
        ingest.refresh_downsample(
            spark, raw, sink, width_s=60, days=["2024-01-01"]
        )
    assert sorted(os.listdir(sink)) == listing
