"""End-to-end streaming ingest tests: the edd-daemon analog — file
stream -> foreachBatch -> date-partitioned parquet + downsampled second
sink — and the watermark late-data drop (the reference's short-block
accounting, SURVEY.md §2.1 O28)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from etsd_time_series_database_spark.streaming import ingest

SCHEMA = "ts timestamp, source string, channel string, value double, status int"


def _write_batch(spark, path, rows, mtime):
    df = spark.createDataFrame(
        [(ts, "s", ch, float(v), 0) for ts, ch, v in rows],
        "ts string, source string, channel string, value double, status int",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(path)
    for root, _, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))


@pytest.mark.slow
def test_ingest_to_parquet_with_downsample_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    now = time.time()
    _write_batch(
        spark,
        os.path.join(src, "b0"),
        [
            ("2026-01-01 00:00:05", "a", 1.0),
            ("2026-01-01 00:00:55", "a", 3.0),
            ("2026-01-02 00:00:05", "b", 7.0),  # second date partition
        ],
        now - 60,
    )
    stream = spark.readStream.schema(SCHEMA).parquet(f"{src}/*")
    raw = str(tmp_path / "raw")
    ds = str(tmp_path / "ds")
    q = ingest.ingest_to_parquet(
        stream,
        raw,
        checkpoint=str(tmp_path / "ckpt"),
        downsample_to=ds,
        downsample_width_s=60,
        available_now=True,
    )
    q.awaitTermination(120)

    stored = spark.read.parquet(raw)
    assert stored.count() == 3
    # date-partitioned on disk (the block-commit analog)
    parts = {p.name for p in (tmp_path / "raw").iterdir() if p.name.startswith("dt=")}
    assert parts == {"dt=2026-01-01", "dt=2026-01-02"}

    down = spark.read.parquet(ds)
    rows = {
        (r.channel, str(r.bucket_ts)): (r.n, r.avg_value, r.min_value, r.max_value)
        for r in down.collect()
    }
    assert rows[("a", "2026-01-01 00:00:00")] == (2, 2.0, 1.0, 3.0)
    assert rows[("b", "2026-01-02 00:00:00")] == (1, 7.0, 7.0, 7.0)


@pytest.mark.slow
def test_watermark_drops_late_data(spark, tmp_path):
    """A row arriving after its window was finalized and evicted is
    dropped — the streaming analog of the reference's short-block /
    valid-interval accounting. Spark semantics require the window's
    state to have been EVICTED in an earlier batch: eviction + append
    emission run at end-of-batch with that batch's watermark, so the
    drop needs three micro-batches (establish -> finalize -> late)."""
    src = str(tmp_path / "late_src")
    now = time.time()
    # batch 1: a row in the 10:00 window + one at 10:30 (advances watermark)
    _write_batch(
        spark,
        os.path.join(src, "b1"),
        [
            ("2026-01-01 10:00:30", "a", 1.0),
            ("2026-01-01 10:30:00", "a", 5.0),
        ],
        now - 150,
    )
    # batch 2 runs with watermark 10:30: evicts + emits the 10:00 window
    _write_batch(
        spark, os.path.join(src, "b2"), [("2026-01-01 10:40:00", "a", 6.0)], now - 100
    )
    # batch 3: a late row for the already-emitted 10:00 window -> dropped
    _write_batch(
        spark, os.path.join(src, "b3"), [("2026-01-01 10:00:45", "a", 100.0)], now - 50
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    agg = ingest.windowed_aggregate(stream, width_s=60, watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    rows = {
        str(r.bucket_ts): (r.n, r.max_value)
        for r in spark.sql("select * from late_drop").collect()
    }
    assert dropped == 1
    # the 10:00 window emitted exactly once, with only the on-time row
    assert rows["2026-01-01 10:00:00"] == (1, 1.0)
    assert not any(v[1] == 100.0 for v in rows.values())


@pytest.mark.slow
def test_dedup_stream_drops_retried_rows(spark, tmp_path):
    """A reading re-sent in a later micro-batch (at-least-once source
    retry) is dropped within the watermark horizon."""
    src = str(tmp_path / "dup_src")
    now = time.time()
    _write_batch(spark, os.path.join(src, "b1"), [("2026-01-01 10:00:00", "a", 1.0)], now - 100)
    # same (source, channel, ts) re-delivered + one genuinely new row
    _write_batch(
        spark,
        os.path.join(src, "b2"),
        [("2026-01-01 10:00:00", "a", 1.0), ("2026-01-01 10:00:05", "a", 2.0)],
        now - 50,
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = ingest.dedup_stream(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_s")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 2
    rows = spark.sql("select ts, value from dedup_s order by ts").collect()
    assert [(str(r.ts), r.value) for r in rows] == [
        ("2026-01-01 10:00:00", 1.0),
        ("2026-01-01 10:00:05", 2.0),
    ]


def _mk_feed(spark, src, i):
    import pyspark.sql.functions as F

    spark.createDataFrame(
        [(f"2026-01-01 00:{i:02d}:00", "s", "a", float(i), 0)],
        "ts string, source string, channel string, value double, status int",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _mk_run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema(
            "ts timestamp, source string, channel string, value double, "
            "status int"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)


def test_compact_stream_sink_row_identity_and_resume(spark, tmp_path):
    """compact_stream_sink (O26 rotation for the watch topology): a
    reader sees IDENTICAL rows mid- and post-compaction, the file
    count drops, the checkpointed stream resumes cleanly afterwards,
    and the engine's own every-10th-batch log compaction later folds
    the rewritten log without complaint."""
    import os

    from etsd_time_series_database_spark.streaming.ingest import (
        compact_stream_sink,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        _mk_feed(spark, src, i)
    _mk_run(spark, src, out, ckpt)

    def files():
        return sorted(
            f for f in os.listdir(out) if f.endswith(".parquet")
        )

    before_rows = sorted(map(tuple, spark.read.parquet(out).collect()))
    n_before = len(files())
    assert n_before >= 3  # one per micro-batch
    stats = compact_stream_sink(spark, out)
    assert stats["files_before"] == n_before
    assert stats["files_after"] == 1 and stats["rows"] == 3
    assert not stats["recovered"]
    assert len(files()) == 1
    after_rows = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after_rows == before_rows

    # resume past the engine's batch-9 log-compaction boundary
    for i in range(3, 11):
        _mk_feed(spark, src, i)
    _mk_run(spark, src, out, ckpt)
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == [float(i) for i in range(11)]
    md = sorted(
        f
        for f in os.listdir(os.path.join(out, "_spark_metadata"))
        if not f.startswith(".")
    )
    assert "9.compact" in md


def test_compact_stream_sink_crash_recovery(spark, tmp_path):
    """A crash between the manifest commit and the log rewrite leaves
    the sink half-swapped; the next compaction call must FINISH the
    manifest's plan (never re-compact duplicate visibility) and end at
    the same rows."""
    import os

    import pytest

    from etsd_time_series_database_spark.streaming.ingest import (
        compact_stream_sink,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        _mk_feed(spark, src, i)
    _mk_run(spark, src, out, ckpt)
    want = sorted(map(tuple, spark.read.parquet(out).collect()))

    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_stream_sink(spark, out, _fail_after_manifest=True)
    assert os.path.exists(
        os.path.join(out, "_spark_metadata", ".compact_manifest")
    )
    stats = compact_stream_sink(spark, out)
    assert stats["recovered"]
    assert not os.path.exists(
        os.path.join(out, "_spark_metadata", ".compact_manifest")
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want
    assert (
        len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1
    )


def test_compact_stream_sink_rejects_plain_dirs(spark, tmp_path):
    import pytest

    from etsd_time_series_database_spark.streaming.ingest import (
        compact_stream_sink,
    )

    p = str(tmp_path / "plain")
    spark.range(3).write.parquet(p)
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_stream_sink(spark, p)


def test_compact_ingest_partition_row_identity(spark, tmp_path):
    """compact_ingest_partition merges a closed dt partition's
    per-epoch files into __epoch=-1: read_ingest_table sees identical
    rows, the file count drops, a NEW epoch written afterwards appends
    beside the compacted one, and its retry still dynamic-overwrites
    only itself."""
    import os

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.streaming.ingest import (
        compact_ingest_partition,
        read_ingest_table,
        write_ingest_epoch,
    )

    path = str(tmp_path / "ingest_sink")

    def batch(i, minute):
        return spark.createDataFrame(
            [(f"2026-01-01 00:{minute:02d}:00", "s", "a", float(i), 0)],
            "ts string, source string, channel string, value double, "
            "status int",
        ).withColumn("ts", F.to_timestamp("ts"))

    for i in range(3):
        write_ingest_epoch(batch(i, i), i, path)

    def files():
        out = []
        for dirpath, _d, fnames in os.walk(path):
            out += [f for f in fnames if f.endswith(".parquet")]
        return out

    before_rows = sorted(
        map(tuple, read_ingest_table(spark, path).collect())
    )
    n_before = len(files())
    assert n_before >= 3
    stats = compact_ingest_partition(spark, path, "dt=2026-01-01")
    assert stats["files_before"] == n_before
    assert stats["files_after"] == 1 and stats["rows"] == 3
    assert len(files()) == 1
    assert sorted(
        map(tuple, read_ingest_table(spark, path).collect())
    ) == before_rows
    # the layout keeps partition-discovery depth: __epoch=-1 present
    assert os.path.isdir(os.path.join(path, "dt=2026-01-01", "__epoch=-1"))

    # a post-compaction epoch appends beside it; its RETRY replaces
    # only its own subdirectory (the idempotency contract)
    write_ingest_epoch(batch(3, 9), 3, path)
    write_ingest_epoch(batch(3, 9), 3, path)  # retry
    got = sorted(
        r.value for r in read_ingest_table(spark, path).collect()
    )
    assert got == [0.0, 1.0, 2.0, 3.0]


def test_compact_stream_sink_multiple_target_files(spark, tmp_path):
    """target_files > 1: row identity holds and the sink lands exactly
    that many files (bands of a bigger sink can stay parallel)."""
    import os

    from etsd_time_series_database_spark.streaming.ingest import (
        compact_stream_sink,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for i in range(4):
        _mk_feed(spark, src, i)
    _mk_run(spark, src, out, ckpt)
    want = sorted(map(tuple, spark.read.parquet(out).collect()))
    stats = compact_stream_sink(spark, out, target_files=2)
    assert stats["files_after"] == 2
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == want
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 2


def test_compact_stream_sink_failed_move_leaves_the_sink_as_it_was(
    spark, tmp_path, monkeypatch
):
    """The compacted files move into the sink one by one before the
    manifest commit. When a later move fails, the files already moved
    are deleted: no manifest references them, so nothing would ever
    list or reclaim them. The sink's listing and rows stay as they
    were."""
    import os

    import pytest

    from etsd_time_series_database_spark.sources import store
    from etsd_time_series_database_spark.streaming.ingest import (
        compact_stream_sink,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for i in range(4):
        _mk_feed(spark, src, i)
    _mk_run(spark, src, out, ckpt)
    listing = sorted(os.listdir(out))
    rows = spark.read.parquet(out).count()

    class SecondStagedRenameFails:
        def __init__(self, fs):
            self._fs, self.staged = fs, 0

        def rename(self, src_p, dst_p):
            if src_p.getParent().getName().startswith("__compact_"):
                self.staged += 1
                if self.staged == 2:
                    return False
            return self._fs.rename(src_p, dst_p)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = store._hadoop_fs
    monkeypatch.setattr(
        store,
        "_hadoop_fs",
        lambda s, p: (SecondStagedRenameFails(real(s, p)[0]), real(s, p)[1]),
    )
    with pytest.raises(IOError, match="staging rename"):
        compact_stream_sink(spark, out, target_files=2)
    monkeypatch.undo()
    assert sorted(os.listdir(out)) == listing
    assert spark.read.parquet(out).count() == rows
    assert not [f for f in os.listdir(tmp_path) if f.startswith("__")]
