"""Structured-Streaming ingest: the reference's ``edd`` daemon
re-expressed as streaming plans.

Reference lifecycle (edd main loop, reference code/edd.c:239-387):
poll up to 4 dlopen'd source plugins once per interval, route each
channel's reading to the ETSD encoder and/or an external output
(RRDTool), commit a block when full. Here:

  * a **source registry** replaces the dlopen plugin ABI
    (code/edd.c:77-237, Plugin_API.txt): any callable
    ``(spark, **opts) -> streaming DataFrame`` with the canonical row
    schema ``(ts, source, channel, value, status)`` — the relational
    form of the plugin contract srcCheckData/srcReadChan
    (code/plugins/sourceAPI.txt);
  * the **sim source** replaces srcSIM's sine-wave generator
    (code/plugins/srcSIM.c:97-117): a rate stream transformed by
    deterministic JVM expressions;
  * **ingest_to_parquet** replaces the per-interval block commit
    (etsdCommit, code/etsdSave.c:58-75): foreachBatch appends
    date-partitioned parquet — each micro-batch is the 'block', made
    durable exactly once, with the same self-describing recoverability
    the 512-byte blocks give the reference;
  * **windowed_aggregate** replaces the RRD export consolidation
    (edoRRD, code/plugins/edoRRD.c:44-74) with watermarked windows —
    late data within the watermark updates its window, later data is
    dropped and accounted, the streaming analog of the reference's
    short blocks (code/etsdSave.c:103-113);
  * **session_gaps** detects activity sessions split by silence — the
    query-side view of the reference's missed-update tracking
    (code/etsdSave.c:450-458).

Scale: streaming state is keyed by (source, channel [, window]) — at
1000 executors state shards by key with no skew since windows rotate;
the parquet sink partitions by date so downstream batch reads prune.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CANONICAL_SCHEMA = "ts timestamp, source string, channel string, value double, status int"

SOURCE_REGISTRY: dict[str, Callable[..., DataFrame]] = {}


def register_source(name: str):
    """Register a streaming source factory (the plugin-ABI analog:
    reference Plugin_API.txt srcSetup/srcCheckData/srcReadChan)."""

    def deco(fn: Callable[..., DataFrame]):
        SOURCE_REGISTRY[name] = fn
        return fn

    return deco


@register_source("sim")
def sim_source(
    spark: SparkSession,
    rows_per_second: int = 100,
    n_channels: int = 5,
    amplitude: float = 100.0,
    period_s: float = 60.0,
) -> DataFrame:
    """Deterministic sine-wave source (reference srcSIM,
    code/plugins/srcSIM.c:97-117: counters accumulating
    (sin(k/p)+1)*amp plus a gauge).

    Built on the rate source; each tick fans out to n_channels rows via
    a JVM transform+explode — value is a pure function of (tick,
    channel) so replays are idempotent.
    """
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    chans = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_channels - 1)),
            lambda i: i.cast("int"),
        )
    ).alias("chan")
    df = rate.select("timestamp", "value", chans)
    phase = (F.col("value") + F.col("chan") * 7) / F.lit(period_s)
    return df.select(
        F.col("timestamp").alias("ts"),
        F.lit("sim").alias("source"),
        F.concat(F.lit("chan_"), F.col("chan")).alias("channel"),
        ((F.sin(phase) + 1.0) * amplitude).alias("value"),
        F.lit(0).alias("status"),
    )


def union_sources(dfs: list[DataFrame]) -> DataFrame:
    """N plugin sources -> one stream (the reference polls each source
    per interval, code/edd.c:309-311; union is the declarative form)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def write_ingest_epoch(
    batch: DataFrame,
    epoch_id: int,
    path: str,
    downsample_to: str | None = None,
    downsample_width_s: int = 60,
) -> None:
    """Write one micro-batch IDEMPOTENTLY: every output row lands in an
    ``__epoch=<id>`` partition and the write uses dynamic partition
    overwrite, so a failed-and-restarted micro-batch (foreachBatch is
    at-least-once) REPLACES its own previous partial output instead of
    appending duplicates. Combined with the checkpoint's exactly-once
    epoch numbering this makes the sink effectively exactly-once — the
    same write-once guarantee the reference gets from its committed
    512-byte blocks (code/etsd.c:153-160).

    ``__epoch`` is an internal lifecycle column (readers drop it via
    :func:`read_ingest_table`); partition layout is dt=*/__epoch=* so
    date pruning still works and a replayed epoch touches only its own
    subdirectories. The per-write option (not a session conf) keeps the
    behavior independent of the caller's session setup.
    """
    (
        batch.withColumn("dt", F.to_date("ts"))
        .withColumn("__epoch", F.lit(int(epoch_id)))
        .repartition("dt")
        .sortWithinPartitions("channel", "ts")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt", "__epoch")
        .parquet(path)
    )
    if downsample_to is not None:
        (
            consolidate(batch, ["source", "channel"], downsample_width_s)
            .withColumn("__epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(downsample_to)
        )


def consolidate(df: DataFrame, keys: list[str], width_s: int) -> DataFrame:
    """The downsample consolidation (the RRA export, edoRRD
    code/plugins/edoRRD.c:44-74): per ``keys`` and ``width_s``-second
    tumbling bucket, ``n``, the exact DECIMAL ``sum_value``, and the
    display ``avg_value``/``min_value``/``max_value``. THE one form the
    live foreachBatch sink, :func:`replay` and :func:`refresh_downsample`
    write, which is what keeps their outputs bit-identical."""
    return (
        df.groupBy(*keys, F.window("ts", f"{int(width_s)} seconds").alias("w"))
        .agg(
            F.count("value").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            *keys,
            F.col("w.start").alias("bucket_ts"),
            "n",
            "sum_value",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


def read_ingest_table(spark: SparkSession, path: str) -> DataFrame:
    """Read an ingest sink, hiding the internal lifecycle columns
    (``dt`` date partition, ``__epoch`` idempotency key)."""
    df = spark.read.parquet(path)
    return df.drop(*[c for c in ("dt", "__epoch") if c in df.columns])


XDATA_SCHEMA = "batch_ts timestamp, source string, payload binary"


def write_xdata_epoch(xdata: DataFrame, epoch_id: int, path: str) -> None:
    """Write one micro-batch's opaque side blobs — the xData analog
    (reference per-block extended data, code/etsd.h:102-103, written at
    block commit code/etsdSave.c:138-140, surfaced to readers
    code/etsdRead.h:29). Rows are ``(batch_ts, source, payload
    BINARY)``; the payload is engine-opaque, exactly like the
    reference's plugin-provided ≤255-byte blob, but without the size
    cap. Same epoch-keyed dynamic-overwrite idempotency as the main
    sink, so blob and readings commit under the same retry contract."""
    (
        xdata.select("batch_ts", "source", "payload")
        .withColumn("__epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch")
        .parquet(path)
    )


def read_xdata(spark: SparkSession, path: str) -> DataFrame:
    """Read the xData side table with its epoch key (kept: it is the
    join key back to the readings of the same committed block)."""
    return spark.read.parquet(path).select(
        "batch_ts", "source", F.col("payload"), F.col("__epoch").alias("epoch")
    )


def events_with_xdata(
    spark: SparkSession, raw_path: str, xdata_path: str
) -> DataFrame:
    """Readings joined to their commit-batch blob — the read-side pairing
    the reference gets implicitly because xData lives inside the same
    512-byte block as the intervals (code/etsdRead.h:29). Here the pair
    key is (source, epoch); the side table is tiny (one row per source
    per micro-batch) so the join broadcasts — the events side never
    shuffles."""
    raw = spark.read.parquet(raw_path).withColumnRenamed("__epoch", "epoch")
    xd = read_xdata(spark, xdata_path).select("source", "epoch", "payload")
    return raw.join(F.broadcast(xd), ["source", "epoch"], "left").drop("dt")


def ingest_to_parquet(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    trigger_seconds: int = 10,
    downsample_to: str | None = None,
    downsample_width_s: int = 60,
    available_now: bool = False,
    xdata_fn: Callable[[DataFrame, int], DataFrame] | None = None,
    xdata_to: str | None = None,
):
    """Start the ingest sink: raw rows land date-partitioned (the
    block-commit path) and optionally a downsampled second sink is
    maintained in the same foreachBatch (the edo external-output path,
    code/edd.c:333-346). Both writes are epoch-keyed dynamic partition
    overwrites (see :func:`write_ingest_epoch`), so micro-batch retries
    are idempotent and the sinks are effectively exactly-once.

    ``xdata_fn(batch, epoch_id) -> (batch_ts, source, payload BINARY)``
    is the xData plugin hook (reference xdRead at block commit,
    code/edd.c:354-368): whatever opaque blob it derives for the batch
    is committed to ``xdata_to`` under the same epoch, recoverable
    alongside the readings via :func:`events_with_xdata`.
    """

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        write_ingest_epoch(
            batch,
            epoch_id,
            path,
            downsample_to=downsample_to,
            downsample_width_s=downsample_width_s,
        )
        if xdata_fn is not None and xdata_to is not None:
            write_xdata_epoch(xdata_fn(batch, epoch_id), epoch_id, xdata_to)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        # drain-everything mode: backfill jobs and tests
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def windowed_aggregate(
    stream: DataFrame,
    width_s: int = 60,
    slide_s: int | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window min/max/avg/count per
    channel (the RRA consolidation, streaming form). Data later than
    the watermark is dropped — the reference's short-block semantics
    (valid-interval accounting, code/etsdSave.c:58-66)."""
    win = (
        F.window("ts", f"{width_s} seconds")
        if slide_s is None
        else F.window("ts", f"{width_s} seconds", f"{slide_s} seconds")
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("source", "channel", win.alias("w"))
        .agg(
            F.count("value").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.avg("value").alias("avg_value"),
        )
        .select(
            "source",
            "channel",
            F.col("w.start").alias("bucket_ts"),
            "n",
            "sum_value",
            "min_value",
            "max_value",
            "avg_value",
        )
    )


def m4_stream(
    stream: DataFrame,
    width_s: int = 3600,
    watermark: str = "2 minutes",
    seq: str = "seq",
) -> DataFrame:
    """Streaming maintenance of the M4 visualization tier (the batch
    q73 operator, operators/trends.py m4_downsample): watermarked
    tumbling windows per channel emit (first, min, max, last) with
    the first/last timestamps as each window CLOSES — the ingest side
    keeps the dashboard's zoom tier current without any batch recompute
    pass. Same physical discipline as the batch twin: first/last ride
    min_by/max_by on the packed DECIMAL(38,0) (ts, seq) key (exact,
    collision-free, hash-mutable state buffer), so the streaming state
    per open window is six scalars — never the window's rows.
    """
    shift = F.expr("CAST(10000000000000000000 AS DECIMAL(20,0))")
    packed = (
        F.unix_micros("ts").cast("decimal(19,0)") * shift
        + F.col(seq).cast("decimal(19,0)")
    )
    return (
        stream.withColumn("__ord", packed)
        .withWatermark("ts", watermark)
        .groupBy(
            "source",
            "channel",
            F.window("ts", f"{width_s} seconds").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.min_by("value", "__ord").alias("first_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.max_by("value", "__ord").alias("last_v"),
        )
        .select(
            "source",
            "channel",
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            F.col("n").cast("bigint").alias("n"),
            "first_us",
            "first_v",
            "min_v",
            "max_v",
            "last_us",
            "last_v",
        )
    )


def session_gaps(
    stream: DataFrame, gap_s: int = 300, watermark: str = "2 minutes"
) -> DataFrame:
    """Session windows split by >= gap_s of silence per channel
    (streaming sessionization via session_window; the batch equivalent
    is the lag/cumsum formulation in catalog q29)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            "source", "channel", F.session_window("ts", f"{gap_s} seconds").alias("w")
        )
        .agg(F.count("value").alias("n_events"))
        .select(
            "source",
            "channel",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-by-key ingestion: drop duplicate readings (source
    retries, at-least-once upstreams) within the watermark horizon.
    State is bounded by the horizon — the streaming analog of the
    reference's write-once block guarantee (a re-sent interval can't
    overwrite a committed block, code/etsd.c:153-160).

    On a batch DataFrame this degrades to plain dropDuplicates.
    """
    keys = keys or ["source", "channel", "ts"]
    marked = stream.withWatermark("ts", watermark)
    if stream.isStreaming:
        return marked.dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)


def replay(
    spark: SparkSession,
    raw_path: str,
    sink_path: str,
    width_s: int = 60,
) -> None:
    """Recover/replay: re-drive stored history through the downsample
    sink (the reference's recoverRRD path, call site
    code/etsdCmd.c:648-656 — re-deriving the external DB from the
    authoritative store). Same :func:`consolidate` as the live
    foreachBatch sink, so a recovered sink is bit-identical to one
    maintained live.
    """
    raw = spark.read.parquet(raw_path)
    consolidate(raw, ["source", "channel"], width_s).write.mode(
        "overwrite"
    ).parquet(sink_path)


def compact_ingest_partition(
    spark: SparkSession,
    path: str,
    partition: str,
    target_files: int = 1,
    sort_cols: tuple[str, ...] = ("channel", "ts"),
) -> dict:
    """Compact one CLOSED date partition of a foreachBatch ingest sink
    (the ``dt=*/__epoch=*`` layout :func:`write_ingest_epoch`
    maintains): every micro-batch adds an ``__epoch=N`` subdirectory,
    so a day of 10-second triggers leaves ~8,640 small files. Merge
    them into ``target_files`` sorted files under ``__epoch=-1`` — the
    reserved compacted-epoch id (real epochs are >= 0), kept so the
    directory depth stays uniform for Spark's partition discovery and
    :func:`read_ingest_table` keeps dropping the column.

    Installed with ``sources.store.swap_in_dir``, like
    ``sources.store.compact_partition``, and under the same contract:
    only for partitions past the ingest watermark — a
    micro-batch RETRY of a merged epoch would re-create its
    ``__epoch=N`` dir beside ``-1`` and duplicate those rows, which is
    exactly the at-least-once window the closed-partition rule
    excludes (reference rotation touches only the closed file,
    code/etsdSave.c:80-99). Returns {files_before, files_after, rows}.
    """
    from etsd_time_series_database_spark.sources.store import (
        _hadoop_fs,
        staging_dir,
        swap_in_dir,
    )

    fs, Path = _hadoop_fs(spark, path)
    part_dir = f"{path}/{partition}"
    if not fs.exists(Path(part_dir)):
        raise ValueError(f"{part_dir} does not exist")

    def _count_files(p) -> int:
        n = 0
        for ep in fs.listStatus(Path(p)):
            if ep.isDirectory():
                for f in fs.listStatus(ep.getPath()):
                    if f.getPath().getName().endswith(".parquet"):
                        n += 1
        return n

    files_before = _count_files(part_dir)
    df = spark.read.parquet(part_dir).drop("__epoch")
    tmp = staging_dir(part_dir, "compact")
    (
        df.repartition(int(target_files))
        .sortWithinPartitions(*[c for c in sort_cols if c in df.columns])
        .withColumn("__epoch", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("__epoch")
        .parquet(tmp)
    )
    rows = spark.read.parquet(tmp).count()
    swap_in_dir(fs, Path, tmp, part_dir, "ingest compact")
    return {
        "files_before": files_before,
        "files_after": _count_files(part_dir),
        "rows": rows,
    }


def compact_stream_sink(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    sort_cols: tuple[str, ...] = ("channel", "ts"),
    _fail_after_manifest: bool = False,
) -> dict:
    """Compact a Structured Streaming parquet file sink IN PLACE —
    the rotation/maintenance pass for the `watch --out` topology
    (reference file rotation O26, code/etsdSave.c:80-99): every
    micro-batch appends at least one small file forever, so a
    long-running monitor turns its sink into thousands of KB files.

    A file sink is NOT a plain directory: batch readers list files
    from the ``_spark_metadata`` commit log, so rewriting data files
    alone either hides the compacted files or leaves readers pointing
    at deleted ones (and Spark 4 ignores the log's legacy delete
    action — verified empirically). The swap therefore rewrites the
    LOG to match the data: stage the compacted files inside the sink
    dir (unreferenced = invisible), then blank every earlier batch
    file to ``v1`` and rewrite the latest batch file to list exactly
    the compacted files (batch-file names keep their contiguity, which
    the log requires), then delete the replaced data files. The
    checkpointed stream RESUMES cleanly afterwards — the next
    micro-batch appends a new log entry as usual, and the engine's own
    periodic log compaction (every 10th batch) folds our rewritten
    files without complaint (pinned by test through the boundary).

    Crash-safe via a two-phase manifest (same discipline as the dedup
    index compaction): after staging, the full finish plan is written
    to ``_spark_metadata/.compact_manifest`` (temp + rename); the
    finish steps are idempotent replays of that plan, and a re-invoked
    compaction FIRST completes a found manifest instead of
    re-compacting (re-compacting a half-swapped sink would fold
    duplicate visibility into the output). Run from the sink's single
    owner between sessions — a maintenance pass, not a concurrent
    protocol; readers racing the swap can see a batch file mid-rename.

    Returns {files_before, files_after, rows, recovered}.
    """
    import json as _json
    import uuid

    from etsd_time_series_database_spark.sources.store import _hadoop_fs

    fs, Path = _hadoop_fs(spark, path)
    md = f"{path}/_spark_metadata"
    if not fs.exists(Path(md)):
        raise ValueError(
            f"{path} has no _spark_metadata — not a streaming file "
            "sink (use sources.store.compact_partition for batch "
            "tables)"
        )
    manifest_p = Path(f"{md}/.compact_manifest")

    def _write_file(target: str, content: str) -> None:
        # temp + rename; fs.create regenerates the .crc side file
        tmp = Path(f"{md}/.tmp_{uuid.uuid4().hex}")
        out = fs.create(tmp, True)
        out.write(bytearray(content.encode()))
        out.close()
        tgt = Path(target)
        if fs.exists(tgt):
            fs.delete(tgt, False)
        if not fs.rename(tmp, tgt):
            raise IOError(f"sink compact: rename over {target} failed")

    def _read_file(p) -> str:
        # commons-io rides Spark's classpath; py4j arrays don't
        # round-trip in-place mutation, so readFully is unusable here
        stream = fs.open(p)
        try:
            return spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def _finish(plan: dict) -> None:
        for name in plan["earlier"]:
            _write_file(f"{md}/{name}", "v1\n")
        lines = ["v1"] + [
            _json.dumps(
                {
                    "path": e["path"],
                    "size": e["size"],
                    "isDir": False,
                    "modificationTime": e["modificationTime"],
                    "blockReplication": 1,
                    "blockSize": 134217728,
                    "action": "add",
                }
            )
            for e in plan["new"]
        ]
        _write_file(f"{md}/{plan['latest']}", "\n".join(lines) + "\n")
        for p in plan["old"]:
            tgt = Path(p)
            if fs.exists(tgt):
                fs.delete(tgt, False)
        fs.delete(manifest_p, False)

    if fs.exists(manifest_p):
        plan = _json.loads(_read_file(manifest_p))
        _finish(plan)
        return {
            "files_before": len(plan["old"]),
            "files_after": len(plan["new"]),
            "rows": None,
            "recovered": True,
        }

    log_files = sorted(
        (
            st.getPath().getName()
            for st in fs.listStatus(Path(md))
            if not st.getPath().getName().startswith(".")
        ),
        key=lambda s: int(s.split(".")[0]),
    )
    if not log_files:
        raise ValueError(f"{md} holds no committed batches yet")
    live = []
    for name in log_files:
        for ln in _read_file(Path(f"{md}/{name}")).splitlines()[1:]:
            e = _json.loads(ln)
            if e.get("action") == "add":
                live.append(e["path"])

    stage = f"{path.rstrip('/')}.__compact__"
    df = spark.read.parquet(path)
    (
        df.repartition(int(target_files))
        .sortWithinPartitions(*[c for c in sort_cols if c in df.columns])
        .write.mode("overwrite")
        .parquet(stage)
    )
    # readability check of the compacted copy before anything destructive
    rows = spark.read.parquet(stage).count()
    new_entries = []
    for st in fs.listStatus(Path(stage)):
        name = st.getPath().getName()
        if not name.endswith(".parquet"):
            continue
        dst = Path(f"{path}/{name}")
        if not fs.rename(st.getPath(), dst):
            raise IOError(f"sink compact: staging rename of {name} failed")
        dst_st = fs.getFileStatus(dst)
        new_entries.append(
            {
                "path": dst_st.getPath().toString(),
                "size": int(dst_st.getLen()),
                "modificationTime": int(dst_st.getModificationTime()),
            }
        )
    fs.delete(Path(stage), True)
    plan = {
        "earlier": log_files[:-1],
        "latest": log_files[-1],
        "new": new_entries,
        "old": live,
    }
    tmp_manifest = Path(f"{md}/.tmp_manifest_{uuid.uuid4().hex}")
    out = fs.create(tmp_manifest, True)
    out.write(bytearray(_json.dumps(plan).encode()))
    out.close()
    if not fs.rename(tmp_manifest, manifest_p):
        raise IOError("sink compact: manifest rename failed")
    if _fail_after_manifest:  # test hook: simulate a crash mid-swap
        raise RuntimeError("simulated crash after manifest commit")
    _finish(plan)
    return {
        "files_before": len(live),
        "files_after": len(new_entries),
        "rows": rows,
        "recovered": False,
    }


def refresh_downsample(
    spark: SparkSession,
    raw_path: str,
    sink_path: str,
    width_s: int = 60,
    days: list[str] | None = None,
    target_files: int = 1,
) -> dict:
    """Day-scoped consolidation refresh — the recover path narrowed to
    the days that actually changed: after ``amend`` applies late
    corrections to the raw store, the downsample tiers derived from it
    are stale for exactly those days, and re-deriving the WHOLE sink
    (the reference's recoverRRD, code/etsdCmd.c:648-656) is O(store).
    This recomputes only the named days' buckets from the raw store
    and installs each day through ``sources.store.install_partition``;
    untouched sink partitions are never listed, read, or rewritten.

    When the raw store is ``dt=``-partitioned the day filter goes on
    the PARTITION column alone (``dt == day``) so Catalyst prunes the
    scan to that one directory — a ``to_date(ts)`` predicate is a
    data-column filter that plans tasks over EVERY day's files AND is
    session-timezone dependent (plan-pinned: non-empty
    PartitionFilters and scan_files == the day's file count). A flat
    raw store falls back to the ts predicate.

    ``target_files`` controls the per-day output fan-out (same knob as
    :func:`sources.store.compact_partition`): default 1 keeps today's
    single-file layout; a hot day at scale can spread its rewrite
    across N write tasks.

    The sink root carries a ``_downsample_meta.json`` sidecar
    recording ``width_s`` (the digest tier's ``_digest_meta.json``
    pattern): a day-scoped refresh at a DIFFERENT width raises instead
    of silently mixing bucket widths inside one sink, and ``amend
    --refresh-sink`` validates ``--refresh-width`` against it before
    touching the store.

    The sink layout is date-partitioned (``dt=`` from the bucket
    start) — the partitioned twin of :func:`replay`'s flat sink, and
    what the CLI ``recover --days`` writes. ``days=None`` rebuilds the
    full sink in the same layout. ``width_s`` must divide 86400 so no
    bucket spans a day boundary (raises otherwise — a day-scoped
    rewrite of a cross-midnight bucket would drop the neighbor day's
    contribution).

    Same :func:`consolidate` as the live foreachBatch sink and the
    flat replay, so a refreshed day is bit-identical to a full
    recompute of that day (test-pinned). The consolidation carries
    ``sum_value`` (exact DECIMAL sums) alongside the display
    ``avg_value`` — sums compose associatively where stored doubles
    don't, which is what lets :func:`operators.trends.fetch_from_tier`
    answer coarser requests from this sink bit-identically to a raw
    scan. Returns {day: n_buckets}.
    """
    if int(width_s) <= 0 or 86_400 % int(width_s) != 0:
        raise ValueError(
            f"refresh_downsample: width_s={width_s} must be a positive "
            "divisor of 86400 — a bucket would span a day boundary "
            "and a day-scoped rewrite would lose the neighbor day's "
            "rows"
        )
    from etsd_time_series_database_spark.sources.store import (
        _hadoop_fs,
        buckets_misaligned,
        day_scoped,
        install_partition,
        read_meta_sidecar,
        write_meta_sidecar,
    )

    sink_meta = {"width_s": int(width_s)}
    raw = spark.read.parquet(raw_path)
    # key columns adapt to the store flavor: canonical ingest tables
    # carry (source, channel); events stores carry event_type
    channel = "channel" if "channel" in raw.columns else "event_type"
    keys = (["source"] if "source" in raw.columns else []) + [channel]

    if days is None:
        full = consolidate(raw, keys, width_s).withColumn(
            "dt", F.to_date("bucket_ts")
        )
        if int(target_files) > 1:
            # fan each day out across up to target_files write tasks —
            # deterministic (channel, bucket)-hash salt, so the knob
            # works for a full rebuild exactly as for a --days refresh
            # without the round-robin+partitionBy anti-pattern (every
            # task holding a writer for every day). Salting by channel
            # alone degenerates when few channels share a hash parity.
            # explicit partition count: a column-only repartition is
            # advisory and AQE coalesces the tiny shuffle back into
            # one task per day, silently undoing the salt
            n_part = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200")
            )
            full = full.repartition(
                n_part,
                F.col("dt"),
                F.pmod(
                    F.abs(F.hash(channel, "bucket_ts")),
                    F.lit(int(target_files)),
                ),
            )
        else:
            full = full.repartition("dt")
        (
            full.sortWithinPartitions(channel, "bucket_ts")
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(sink_path)
        )
        write_meta_sidecar(
            spark, sink_path, "_downsample_meta.json", sink_meta
        )
        out = spark.read.parquet(sink_path)
        return {
            r.dt.isoformat(): r.n
            for r in out.groupBy("dt").count().withColumnRenamed(
                "count", "n"
            ).collect()
        }

    fs, Path = _hadoop_fs(spark, sink_path)
    existing = read_meta_sidecar(spark, sink_path, "_downsample_meta.json")
    if existing is not None and existing != sink_meta:
        raise ValueError(
            f"refresh_downsample: sink {sink_path} was built with "
            f"{existing} but this refresh asked for {sink_meta} — a "
            "day-scoped refresh at a different width would mix bucket "
            "widths inside one sink; rebuild it (days=None) to change "
            "the width"
        )
    if existing is None and fs.exists(Path(sink_path)):
        # pre-sidecar sink: before ADOPTING the caller's width as its
        # meta, check every existing bucket aligns to it — stamping an
        # unvalidated claim would both mix widths in this refresh and
        # lock the wrong width in for every future one. (A claimed
        # width FINER than the build width divides its buckets and is
        # undetectable from data; the sidecar closes that for every
        # sink built from round 13 on.)
        if buckets_misaligned(spark, sink_path, width_s, "bucket_ts"):
            raise ValueError(
                f"refresh_downsample: sink {sink_path} holds buckets "
                f"not aligned to width_s={width_s} — it was built at a "
                "different width; pass the sink's own width, or "
                "rebuild it (days=None) to change the width"
            )
        write_meta_sidecar(
            spark, sink_path, "_downsample_meta.json", sink_meta
        )
    # pre-round-14 sink (no carried exact sums): preserve ITS column
    # set rather than upgrading one day — a mixed-schema sink would
    # let fetch compose null sums for un-refreshed days; a full
    # rebuild (days=None) is the upgrade path
    legacy_cols: list[str] | None = None
    if fs.exists(Path(sink_path)):
        sink_cols = spark.read.parquet(sink_path).columns
        if "sum_value" not in sink_cols:
            legacy_cols = [c for c in sink_cols if c != "dt"]
    stats: dict = {}
    for d in sorted(days):
        fresh = (
            consolidate(day_scoped(raw, d), keys, width_s)
            .repartition(int(target_files))
            .sortWithinPartitions(channel, "bucket_ts")
        )
        if legacy_cols is not None:
            fresh = fresh.select(*legacy_cols)
        stats[d] = install_partition(fresh, f"{sink_path}/dt={d}", "downsample")
    return stats


def carry_forward_batch(batch: DataFrame, state: DataFrame | None) -> tuple[DataFrame, DataFrame]:
    """Carry-forward / LastReading state as an incremental batch fold:
    given this batch and the previous per-channel state
    ``(source, channel, last_ts, last_value)``, fill NULL readings with
    the last known value and emit updated state.

    This is the foreachBatch-friendly formulation of the reference's
    LastReading/MissedUpdate arrays (code/etsd.h:114-121,
    backfill code/etsdSave.c:445-447). An applyInPandasWithState
    variant exists in streaming tests; this one is deterministic,
    replayable, and state lives in a table — the robust pattern at
    scale.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source", "channel").orderBy("ts")
    cur = batch
    if state is not None:
        seed = state.select(
            F.col("last_ts").alias("ts"),
            "source",
            "channel",
            F.col("last_value").alias("value"),
            F.lit(-1).alias("status"),
        )
        cur = batch.unionByName(seed)
    filled = cur.withColumn(
        "value_filled", F.last("value", ignorenulls=True).over(w)
    ).filter(F.col("status") >= 0)
    new_state = (
        filled.groupBy("source", "channel")
        .agg(
            F.max("ts").alias("last_ts"),
            F.max_by("value_filled", "ts").alias("last_value"),
        )
    )
    return filled, new_state


def enrich_join_stream(
    readings: DataFrame,
    annotations: DataFrame,
    band_s: int = 60,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Stream-stream interval join: attach to every reading the
    annotations (alerts, config changes, operator notes) for the SAME
    channel whose timestamp falls within ``band_s`` seconds BEFORE the
    reading — the live enrichment path a monitoring pipeline runs
    (readings tagged with the alert that was active when they arrived).

    The standard Structured Streaming stream-stream equi+interval join:
    both sides carry a watermark and the join condition bounds
    ``ann.ts ∈ [reading.ts − band_s, reading.ts]``, so state on each
    side is bounded by watermark + band — Spark evicts joined state
    past the horizon. Inner join: readings without an annotation in
    the band are dropped (use the batch as-of join, q23/q34, for the
    keep-all enrichment shape).

    On batch DataFrames the same expression is a plain interval join
    with identical semantics (watermark is a no-op) — which is how the
    deterministic tests pin it.
    """
    r = readings.withWatermark("ts", watermark).alias("r")
    a = (
        annotations.withWatermark("ts", watermark)
        .select(
            F.col("source").alias("a_source"),
            F.col("channel").alias("a_channel"),
            F.col("ts").alias("a_ts"),
            F.col("value").alias("a_value"),
        )
        .alias("a")
    )
    cond = (
        (F.col("r.source") == F.col("a.a_source"))
        & (F.col("r.channel") == F.col("a.a_channel"))
        & (F.col("a.a_ts") <= F.col("r.ts"))
        & (F.col("a.a_ts") >= F.col("r.ts") - F.expr(f"INTERVAL {band_s} SECONDS"))
    )
    return r.join(a, cond, "inner").select(
        F.col("r.source").alias("source"),
        F.col("r.channel").alias("channel"),
        F.col("r.ts").alias("ts"),
        F.col("r.value").alias("value"),
        F.col("a.a_ts").alias("ann_ts"),
        F.col("a.a_value").alias("ann_value"),
    )


def enrich_static_stream(
    readings: DataFrame, dim: DataFrame, on: str, dim_key: str
) -> DataFrame:
    """Stream-static enrichment join: attach a STATIC dimension row to
    every streaming reading — the live analog of the reference's
    config-file channel-name resolution (labels resolved against a
    static table at read time, code/etsdQuery.c:192-208), generalized
    to any dimension (owner, site, asset metadata).

    The static side is re-evaluated per micro-batch and, being a
    dimension table, planned as a broadcast-hash join by AQE /
    ``autoBroadcastJoinThreshold`` while it fits — per batch the
    stream side never shuffles, which is exactly the property that
    matters when the stream side is the 100 TB firehose and the dim is
    KBs of metadata. No watermark is needed: a stream-static inner
    join is stateless (nothing is buffered waiting for the other
    side), so this composes freely before stateful stages.

    Every ``dim`` column except ``dim_key`` rides along; the key is
    dropped after the match (it duplicates ``on``).
    """
    return readings.join(
        dim.withColumnRenamed(dim_key, on), on, "inner"
    )
