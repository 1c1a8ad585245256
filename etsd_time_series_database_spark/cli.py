"""Command-line interface — the ``etsdCmd`` analog.

Verbs mirror the reference CLI (reference code/etsdCmd.c:618-663
dispatch):

  create   — write an events-shaped parquet table from a source file
             (createETSD, code/etsdCmd.c:91-344; here DDL == directory
             layout + footer schema, no 512-byte geometry)
  query    — range statistics for channels over a time range with the
             reference's time grammar (queryETSD code/etsdCmd.c:347-463
             + etsdAMT code/etsdQuery.c:218-401)
  examine  — schema + geometry introspection (examinETSD,
             code/etsdCmd.c:549-613)
  dump     — raw rows in a range (dumpETSD, code/etsdCmd.c:465-547,
             minus the interactive hex walk)

Beyond the reference's verbs, the ANN serving layout is reachable the
same way (no reference analog — the LLM-pipeline extension set):

  write-index / probe — materialize an embedding corpus partitioned
             by IVF cell and run multi-probe top-k against it; the
             probe reads exactly nprobe cell directories.

The CLI is a thin shell over the library: every verb builds a
DataFrame plan and shows/collects at the edge only.
"""

from __future__ import annotations

import argparse
import importlib
import sys
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etsd_time_series_database_spark.session import get_spark
from etsd_time_series_database_spark.sources.store import (
    epoch_ts,
    read_footer,
    read_parquet,
)
from etsd_time_series_database_spark.timeparse import resolve_range

_ops = importlib.import_module(
    "etsd_time_series_database_spark.operators.range_stats"
)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    # store.epoch_ts is session-timezone INDEPENDENT — cli.main accepts
    # external SparkSessions, whose confs this read leaves untouched
    return epoch_ts(read_parquet(spark, path, read_footer(spark, path)))


def _utc(t: datetime | None) -> datetime | None:
    return t.replace(tzinfo=timezone.utc) if t else None


def _bounds(df: DataFrame, ts: str = "ts") -> tuple[datetime, datetime]:
    row = df.select(F.min(ts).alias("lo"), F.max(ts).alias("hi")).collect()[0]
    return _utc(row.lo), _utc(row.hi)


def match_channels(names: list, patterns: list[str]) -> list:
    """Case-insensitive substring channel-name resolution over the
    stored ``names`` — the reference's etsdChanNum
    (code/etsdQuery.c:193-203), which matches the first channel whose
    name contains the argument. Returns every matching channel name;
    unknown patterns raise."""
    out: list = []
    for pat in patterns:
        hits = [n for n in names if pat.lower() in str(n).lower()]
        if not hits:
            raise ValueError(
                f"no channel matches {pat!r} (have: {sorted(names, key=str)})"
            )
        out.extend(h for h in hits if h not in out)
    return out


def resolve_channels(
    df: DataFrame,
    patterns: list[str],
    channel_col: str = "event_type",
    names: list | None = None,
) -> list:
    """:func:`match_channels` over ``names`` (e.g. a file's
    :func:`~sources.store.read_footer` names), or over the column's
    ``distinct()`` values — one scan — when they are None."""
    if names is None:
        names = [r[0] for r in df.select(channel_col).distinct().collect()]
    return match_channels(names, patterns)


def cmd_query(args, spark: SparkSession) -> int:
    # one footer open gives the schema and, when it can, the channel
    # names; min(ts) is computed only when the range refers to begin
    footer = read_footer(
        spark, args.path, args.channel_col if args.channel else None
    )
    df = events = epoch_ts(read_parquet(spark, args.path, footer))
    start, end = resolve_range(
        args.start, args.end, begin=lambda: _bounds(events)[0]
    )
    if args.channel:
        names = footer.names if footer else None
        df = df.filter(
            F.col(args.channel_col).isin(
                resolve_channels(df, args.channel, args.channel_col, names)
            )
        )
    stats = _ops.range_stats(
        df, start.replace(tzinfo=None), end.replace(tzinfo=None),
        channel=args.channel_col, value=args.value_col,
    )
    want = {
        "min": "min_value",
        "max": "max_value",
        "ave": "avg_value",
        "tot": "total_value",
        "cnt": "n",
    }
    if args.q != "all":
        stats = stats.select(args.channel_col, want[args.q])
    stats.show(n=args.limit, truncate=False)
    return 0


def cmd_examine(args, spark: SparkSession) -> int:
    df = _load_events(spark, args.path)
    print("schema:")
    df.printSchema()
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
    ).collect()[0]
    print(f"rows: {row.n}")
    print(f"time range: {_utc(row.lo)} .. {_utc(row.hi)}")
    if args.channel_col in df.columns:
        print("channels:")
        df.groupBy(args.channel_col).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        ).orderBy(args.channel_col).show(n=200, truncate=False)
    return 0


def cmd_dump(args, spark: SparkSession) -> int:
    if args.with_xdata:
        # pair each reading with its commit-batch blob (the reference
        # reads xData from the same 512-byte block as the intervals,
        # code/etsd.h:102-103; here the pair key is (source, epoch))
        from etsd_time_series_database_spark.streaming.ingest import (
            events_with_xdata,
        )

        df = events_with_xdata(spark, args.path, args.with_xdata).withColumn(
            "xdata_hex", F.hex(F.col("payload"))
        ).drop("payload", "batch_ts")
    else:
        df = _load_events(spark, args.path)
    start, end = resolve_range(
        args.start, args.end, begin=lambda: _bounds(df)[0]
    )
    out = df.filter(
        (F.col("ts") >= F.lit(start.replace(tzinfo=None)))
        & (F.col("ts") <= F.lit(end.replace(tzinfo=None)))
    ).orderBy("ts")
    out.show(n=args.limit, truncate=False)
    return 0


def cmd_create(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.sources.store import create_events_table

    df = _load_events(spark, args.source)
    create_events_table(df, args.path, mode=args.mode, partition_col="ts")
    print(f"wrote {args.path} (mode={args.mode})")
    return 0


def cmd_write_pq(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.similarity import (
        write_pq_codes,
    )

    emb = spark.read.parquet(args.source)
    write_pq_codes(
        emb, path=args.path, m=args.m, n_cents=args.n_cents, dim=args.dim,
        mode=args.mode, key=args.key, vec=args.vec,
    )
    print(
        f"wrote PQ code table {args.path} (m={args.m}, "
        f"n_cents={args.n_cents}, mode={args.mode})"
    )
    return 0


def cmd_probe_pq(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.similarity import (
        pq_probe_codes,
    )

    if args.vector:
        qv = [float(x) for x in args.vector.split(",")]
    elif args.query_id is not None and args.source:
        rows = (
            spark.read.parquet(args.source)
            .filter(F.col(args.key) == args.query_id)
            .select(args.vec)
            .collect()
        )
        if not rows:
            raise ValueError(f"query id {args.query_id} not in {args.source}")
        qv = list(rows[0][0])
    else:
        raise ValueError("pass --vector, or --query-id with --source")
    pq_probe_codes(
        spark, args.path, qv, k=args.k, key=args.key,
        exclude_id=args.query_id,
    ).show(n=args.k, truncate=False)
    return 0


def cmd_catalog(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.plans import catalog

    for name, q in sorted(catalog().items()):
        if args.category and q.category != args.category:
            continue
        oracle = "oracle" if q.oracle else "rows-only"
        print(f"{name:30s} {q.category:15s} [{oracle}] {q.doc.strip()[:80]}")
    return 0


def cmd_run(args, spark: SparkSession) -> int:
    """Execute any catalog query against a testdata-style sf_dir —
    makes the whole operator surface user-reachable from the CLI, not
    just the TSDB verbs (pair with `catalog` to discover names)."""
    from etsd_time_series_database_spark.plans import catalog

    cat = catalog()
    if args.name not in cat:
        close = [n for n in sorted(cat) if args.name in n]
        print(f"unknown catalog query {args.name!r}"
              + (f"; did you mean: {', '.join(close[:5])}" if close else ""))
        return 2
    df = cat[args.name].build(spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
        return 0
    rows = df.limit(args.limit).collect()
    cols = df.columns
    print("\t".join(cols))
    for r in rows:
        print("\t".join(str(r[c]) for c in cols))
    print(f"({len(rows)} row(s) shown, limit {args.limit})")
    return 0


def cmd_write_index(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.similarity import (
        write_ivf_partitioned,
    )

    emb = spark.read.parquet(args.source)
    cids = [int(c) for c in args.centroids.split(",")]
    write_ivf_partitioned(
        emb, centroid_ids=cids, path=args.path, mode=args.mode,
        key=args.key, vec=args.vec,
    )
    print(f"wrote IVF layout {args.path} (cells={len(cids)}, mode={args.mode})")
    return 0


def cmd_append_index(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.similarity import (
        ivf_append,
    )

    new = spark.read.parquet(args.source)
    try:
        ivf_append(new, args.path, key=args.key, vec=args.vec)
    except ValueError as exc:
        # geometry/column mismatch against the layout's
        # _centroids_meta.json (or a failed pre-sidecar adoption):
        # refuse before any cell is written
        print(f"append-index: {exc}", file=sys.stderr)
        return 2
    print(f"appended {args.source} into IVF layout {args.path}")
    return 0


def cmd_probe(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.similarity import (
        ivf_probe_partitioned,
        nearest_cells,
        read_centroids,
    )

    try:
        if args.vector:
            qv = [float(x) for x in args.vector.split(",")]
        elif args.query_id is not None and args.source:
            rows = (
                spark.read.parquet(args.source)
                .filter(F.col(args.key) == args.query_id)
                .select(args.vec)
                .collect()
            )
            if not rows:
                raise ValueError(
                    f"query id {args.query_id} not in {args.source}"
                )
            qv = list(rows[0][0])
        else:
            raise ValueError("pass --vector, or --query-id with --source")
        if args.cells:
            cells = [int(c) for c in args.cells.split(",")]
        else:
            cells = nearest_cells(
                read_centroids(spark, args.path), qv, args.nprobe
            )
        print(f"probing cells: {cells}")
        ivf_probe_partitioned(
            spark, args.path, qv, cells, k=args.k, key=args.key,
            vec=args.vec,
        ).show(n=args.k, truncate=False)
    except ValueError as exc:
        # bad arguments or a query/layout mismatch against the
        # _centroids_meta.json sidecar
        print(f"probe: {exc}", file=sys.stderr)
        return 2
    return 0


def cmd_rebalance(args, spark: SparkSession) -> int:
    """Targeted maintenance of a write-index IVF layout: split cells
    over --hot via a local per-cell Lloyd, retire cells at or under
    --empty (stragglers reassign to the nearest survivor), rewrite
    ONLY the affected cell directories (operators.similarity.
    rebalance_cells — the acting half of the x83 cell-balance
    profile). Exit 2 if the path is not a write-index layout."""
    from etsd_time_series_database_spark.operators.similarity import (
        cell_balance_profile,
        read_centroids,
        rebalance_cells,
    )
    from etsd_time_series_database_spark.sources.store import _hadoop_fs

    fs, Path = _hadoop_fs(spark, args.path)
    if not fs.exists(Path(args.path + "/_centroids")):
        print(
            f"rebalance: {args.path} is not a write-index IVF layout "
            "(no _centroids table; build it with `write-index`)",
            file=sys.stderr,
        )
        return 2
    try:
        stats = rebalance_cells(
            spark, args.path,
            hot_threshold=args.hot,
            empty_threshold=args.empty,
            split_factor=args.split,
            n_iter=args.iters,
            key=args.key,
            vec=args.vec,
        )
    except ValueError as exc:
        # column mismatch against the layout's _centroids_meta.json
        print(f"rebalance: {exc}", file=sys.stderr)
        return 2
    for old, new in sorted(stats["split"].items()):
        print(f"split cell {old} -> {new}")
    for c in stats["retired"]:
        print(f"retired cell {c}")
    print(
        f"{len(stats['split'])} cell(s) split, "
        f"{len(stats['retired'])} retired, "
        f"{stats['reassigned']} straggler vector(s) reassigned"
    )
    if args.profile:
        cell_balance_profile(
            spark.read.parquet(args.path).select(args.key, args.vec),
            [],
            key=args.key,
            vec=args.vec,
            _centroids=read_centroids(spark, args.path),
        ).show(n=1000, truncate=False)
    return 0


def cmd_ivf_compact(args, spark: SparkSession) -> int:
    """Per-cell small-file compaction of a write-index IVF layout
    (operators.similarity.ivf_compact): only cells over
    --files-per-cell are read or rewritten; probe results are
    unchanged, only the file layout. The `dedup-compact` analog for
    the ANN index. Exit 2 if the path is not a write-index layout."""
    from etsd_time_series_database_spark.operators.similarity import (
        ivf_compact,
    )
    from etsd_time_series_database_spark.sources.store import _hadoop_fs

    fs, Path = _hadoop_fs(spark, args.path)
    if not fs.exists(Path(args.path + "/_centroids")):
        print(
            f"ivf-compact: {args.path} is not a write-index IVF layout "
            "(no _centroids table; build it with `write-index`)",
            file=sys.stderr,
        )
        return 2
    stats = ivf_compact(
        spark, args.path, files_per_cell=args.files_per_cell, key=args.key
    )
    print(
        f"compacted ivf index {args.path}: "
        f"{stats['cells_compacted']} cell(s), "
        f"{stats['files_before']} -> {stats['files_after']} files "
        f"({stats['rows']} vector rows rewritten)"
    )
    return 0


def cmd_dedup_index(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.dedup import (
        write_minhash_index,
    )

    docs = spark.read.parquet(args.source)
    write_minhash_index(
        docs, args.path, text=args.text, key=args.key, n=args.n,
        rows_per_band=args.rows_per_band, hash_mode=args.hash_mode,
        mode=args.mode,
    )
    print(f"wrote MinHash dedup index {args.path} (mode={args.mode})")
    return 0


def cmd_dedup_append(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.dedup import (
        minhash_index_append,
    )

    minhash_index_append(spark.read.parquet(args.source), args.path,
                         text=args.text)
    print(f"appended {args.source} into dedup index {args.path}")
    return 0


def cmd_dedup_compact(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.dedup import (
        minhash_index_compact,
    )

    stats = minhash_index_compact(
        spark, args.path, files_per_band=args.files_per_band
    )
    print(
        f"compacted dedup index {args.path}: "
        f"{stats['files_before']} -> {stats['files_after']} files "
        f"({stats['rows']} signature rows)"
    )
    return 0


def cmd_dedup_probe(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        minhash_probe_new,
    )

    new = spark.read.parquet(args.source)
    if args.survivors_out:
        import glob as _glob
        import os as _os

        # refuse to silently clobber a prior run's survivors: an
        # existing non-empty survivors directory means a previous
        # probe completed its persist step.  A RETRY of the same
        # shard is safe (idempotent: self-matches are excluded, so
        # the same survivor set is reproduced) but must be explicit;
        # reusing the path for a DIFFERENT shard would lose data.
        if (
            not args.overwrite_survivors
            and _os.path.isdir(args.survivors_out)
            and _glob.glob(_os.path.join(args.survivors_out, "*.parquet"))
        ):
            print(
                f"refusing to overwrite existing survivors at "
                f"{args.survivors_out}; pass --overwrite-survivors to "
                f"retry this shard (idempotent) or choose a new path",
                file=sys.stderr,
            )
            return 2
        # crash-safe ordering lives in the library: survivors are
        # persisted (temp + rename) BEFORE the index append, and a
        # retry after a successful append reproduces the same
        # survivor set (self-matches are excluded in the probe);
        # --dry-run persists the survivors but skips the append
        kept = incremental_dedup(
            new, args.path, text=args.text,
            survivors_path=args.survivors_out,
            append_survivors=False if args.dry_run else None,
        )
        print(
            f"kept {kept.count()} of {new.count()} docs -> "
            f"{args.survivors_out}"
            + (" (dry run: index unchanged)" if args.dry_run else "")
        )
    else:
        minhash_probe_new(new, args.path, text=args.text).orderBy(
            "new_id", "index_id"
        ).show(
            n=args.limit, truncate=False
        )
    return 0


def cmd_watch(args, spark: SparkSession) -> int:
    """Live monitor over a growing ingest directory (the reference's
    edd daemon analog, code/edd.c): 'freshness' emits
    first_seen/stale/recovered per feed, 'alarms' emits hysteresis
    open/close transitions, 'anomalies' emits readings past --z
    running standard deviations of their channel's own history
    (s12's operator), 'rollup' maintains the watermarked downsample
    tier (windowed_aggregate — the RRA consolidation, with late-data
    drop accounting), 'site' folds a transitions directory (written
    by a prior `watch --mode alarms --out ...`) into the live
    cross-channel union, 'dedup' runs the production incremental
    MinHash dedup (the dedup-probe verb's code path) as a foreachBatch
    ingest stage over a growing DOCUMENTS directory — survivors land
    under --out/batch=N, their signatures append to --dedup-index, and
    a restart resumes from the checkpoint processing only new files
    (the s18 topology as a daemon verb; requires --out and an index
    built by `dedup-index`). Default trigger is availableNow (catch up
    on everything present, then exit — replay-deterministic); --follow
    keeps the query running on a processing-time trigger.

    After a catch-up run the per-session watermark-drop count is
    printed (and appended to --metrics-log if given) — the streaming
    form of the reference's per-block validity accounting
    (code/etsdSave.c:58-66): data lost to lateness is REPORTED, never
    silent. Unit caveat: for windowed aggregation the counter ticks
    per dropped (channel, window) GROUP per micro-batch, not per raw
    row (see plans.metrics.fold_streaming_progress)."""
    import time as _time

    from etsd_time_series_database_spark.plans.metrics import (
        MetricsLog,
        fold_streaming_progress,
    )
    from etsd_time_series_database_spark.streaming.ingest import (
        windowed_aggregate,
    )
    from etsd_time_series_database_spark.streaming.stateful import (
        freshness_stream,
        hysteresis_alarm_stream,
        running_zscore_stream,
        site_alarm_stream,
    )

    if args.compact and (args.follow or not args.out):
        print(
            "watch: --compact is a post-catch-up maintenance pass — it "
            "requires --out and is incompatible with --follow",
            file=sys.stderr,
        )
        return 2
    if args.mode == "dedup":
        if not args.out or not args.dedup_index:
            print(
                "watch: --mode dedup needs --out (survivors root) and "
                "--dedup-index (an index built by `dedup-index`)",
                file=sys.stderr,
            )
            return 2
        if args.compact:
            # the dedup sink is foreachBatch batch-parquet dirs, not a
            # streaming file sink — there is no _spark_metadata log to
            # compact
            print(
                "watch: --compact applies to file-sink modes only "
                "(the dedup sink has no _spark_metadata log)",
                file=sys.stderr,
            )
            return 2
        from etsd_time_series_database_spark.sources.store import (
            _hadoop_fs,
        )

        _fs, _Path = _hadoop_fs(spark, args.dedup_index)
        if not _fs.exists(_Path(args.dedup_index)):
            print(
                f"watch: dedup index {args.dedup_index} does not exist; "
                "seed it with `dedup-index` first (an empty index would "
                "silently pass every near-duplicate)",
                file=sys.stderr,
            )
            return 2
    schema = spark.read.parquet(args.source).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", args.max_files)
        .parquet(args.source)
    )
    if args.mode == "dedup":
        from etsd_time_series_database_spark.operators.dedup import (
            incremental_dedup,
        )

        surv_root, text_col = args.out, args.text

        def _dedup_batch(batch: DataFrame, batch_id: int) -> None:
            # the dedup-probe verb's exact lifecycle per micro-batch:
            # survivors persist first, signatures append after
            # (crash-safe ordering lives in the library)
            incremental_dedup(
                batch, args.dedup_index, text=text_col,
                survivors_path=f"{surv_root}/batch={batch_id}",
            )

        writer = (
            stream.writeStream.foreachBatch(_dedup_batch)
            .option("checkpointLocation", args.out + "_checkpoint")
        )
    elif args.mode == "freshness":
        out = freshness_stream(stream, stale_after_s=args.stale_after)
    elif args.mode == "alarms":
        out = hysteresis_alarm_stream(stream, hi=args.hi, lo=args.lo)
    elif args.mode == "anomalies":
        out = running_zscore_stream(stream, z=args.z, min_n=args.min_n)
    elif args.mode == "rollup":
        out = windowed_aggregate(
            stream, width_s=args.width, watermark=args.watermark
        )
    else:
        out = site_alarm_stream(stream)
    if args.mode != "dedup":
        writer = out.writeStream.outputMode("append")
        if args.out:
            writer = writer.format("parquet").option(
                "path", args.out
            ).option("checkpointLocation", args.out + "_checkpoint")
        else:
            writer = writer.format("console").option("truncate", "false")
    from etsd_time_series_database_spark.plans.metrics import (
        ProgressAccumulator,
    )

    if args.follow:
        # exact totals for the resident daemon too: a --follow run
        # outliving the recentProgress retention cap (100 batches)
        # would otherwise report undercounted totals at shutdown
        acc = ProgressAccumulator()
        spark.streams.addListener(acc.listener)
        try:
            q = writer.trigger(
                processingTime=f"{args.interval} seconds"
            ).start()
            try:
                q.awaitTermination()
            finally:
                got_term = acc.wait_terminated(q, timeout_s=10.0)
                if not got_term:
                    # interrupted but not stopped: totals would
                    # undercount in-flight batches — stop the query so
                    # the terminate event orders behind its last
                    # progress event, then re-wait (mirrors the
                    # availableNow path's timeout handling)
                    try:
                        q.stop()
                    except Exception:
                        pass
                    got_term = acc.wait_terminated(q, timeout_s=10.0)
                totals = acc.totals(q)
                partial = ""
                if not got_term:
                    # listener bus never delivered: fall back to the
                    # retained-progress fold and say so — an
                    # interrupted daemon must not report undercounted
                    # totals as exact
                    fold = fold_streaming_progress(q)
                    if fold["n_batches"] > totals["n_batches"]:
                        totals = fold
                    partial = " (partial: stop not confirmed)"
                print(
                    f"watch[{args.mode}]: stopped after "
                    f"{totals['n_batches']} micro-batch(es), "
                    f"{totals['input_rows']} row(s) in, "
                    f"{totals['late_rows']} dropped by watermark"
                    + partial
                )
        finally:
            spark.streams.removeListener(acc.listener)
    else:
        # listener-based fold: exact totals even past the
        # recentProgress retention cap (default 100 micro-batches)
        acc = ProgressAccumulator()
        spark.streams.addListener(acc.listener)
        try:
            t0 = _time.monotonic()
            q = writer.trigger(availableNow=True).start()
            finished = q.awaitTermination(max(args.timeout, 0.001))
            if not finished:
                # catch-up exceeded --timeout: the stream is STILL
                # committing batches — compacting the sink log or
                # folding metrics now would race live commits, so stop
                # the query, let it settle, and refuse the
                # post-catch-up passes
                q.stop()
                q.awaitTermination()
                print(
                    f"watch[{args.mode}]: catch-up exceeded --timeout="
                    f"{args.timeout}s and was stopped mid-stream; sink "
                    "is consistent up to the last committed batch but "
                    "NOT caught up — rerun to finish"
                    + (" (--compact skipped)" if args.compact else "")
                    + (" (--metrics-log skipped: partial run)"
                       if args.metrics_log else ""),
                    file=sys.stderr,
                )
                return 1
            got_term = acc.wait_terminated(q, timeout_s=30.0)
            totals = acc.totals(q)
            if not got_term or totals["n_batches"] == 0:
                # listener bus failed to deliver: fall back to the
                # retained-progress fold (capped but available)
                totals = fold_streaming_progress(q)
            print(
                f"watch[{args.mode}]: caught up in {totals['n_batches']} "
                f"micro-batch(es), {totals['input_rows']} row(s) in, "
                f"{totals['late_rows']} dropped by watermark"
                + (f" -> {args.out}" if args.out else "")
            )
            if args.metrics_log:
                log = MetricsLog(spark, path=args.metrics_log)
                log.record_streaming(
                    f"watch[{args.mode}]:{args.source}",
                    q,
                    wall_ms=(_time.monotonic() - t0) * 1000.0,
                    totals=totals,
                )
                log.flush()
        finally:
            spark.streams.removeListener(acc.listener)
        if args.compact:
            from etsd_time_series_database_spark.streaming.ingest import (
                compact_stream_sink,
            )

            stats = compact_stream_sink(spark, args.out)
            print(
                f"compacted {args.out}: {stats['files_before']} -> "
                f"{stats['files_after']} file(s)"
                + (" (recovered a prior half-finished compaction)"
                   if stats["recovered"] else "")
            )
    return 0


def cmd_recover(args, spark: SparkSession) -> int:
    from etsd_time_series_database_spark.streaming.ingest import (
        refresh_downsample,
        replay,
    )

    if args.days or args.partitioned:
        days = args.days.split(",") if args.days else None
        try:
            stats = refresh_downsample(
                spark, args.raw, args.sink, width_s=args.width, days=days,
                target_files=args.target_files,
            )
        except ValueError as exc:
            # the sink contract (store.check_derived_tier) refused
            print(f"recover: {exc}", file=sys.stderr)
            return 2
        scope = (
            f"day(s) {', '.join(sorted(stats))}" if days else "full rebuild"
        )
        print(
            f"refreshed {args.sink} from {args.raw} "
            f"(width={args.width}s, {scope}, "
            f"{sum(stats.values())} bucket row(s))"
        )
    else:
        replay(spark, args.raw, args.sink, width_s=args.width)
        print(f"recovered {args.sink} from {args.raw} (width={args.width}s)")
    return 0


def cmd_fetch(args, spark: SparkSession) -> int:
    """rrdtool-fetch analog: answer a range aggregate at --width from
    the MATERIALIZED consolidation ladder — one or more `recover
    --partitioned` sinks — never touching raw history. The coarsest
    sink whose build width (per its _downsample_meta.json) divides the
    request serves it; exit 2 when no sink qualifies or a sink
    predates the carried exact sums. This is the reference's actual
    dashboard query model (code/plugins/edoRRD.c:44-74: queries read
    the RRA, not the ring)."""
    from etsd_time_series_database_spark.operators.trends import (
        fetch_from_tier,
        route_tier,
    )

    from datetime import datetime, timezone

    start_us = end_us = None
    try:
        if args.start or args.end:
            # begin = epoch: an --end-only fetch means "everything
            # before end", not "from now" (which would raise
            # end-before-start for any historical bound); tier bounds
            # never need the table's own min(ts)
            s_dt, e_dt = resolve_range(
                args.start, args.end,
                begin=datetime(1970, 1, 1, tzinfo=timezone.utc),
            )
            if args.start:
                start_us = int(s_dt.timestamp() * 1_000_000)
            if args.end:
                end_us = int(e_dt.timestamp() * 1_000_000)
        routed = route_tier(spark, args.tiers, args.width)
        out = fetch_from_tier(
            spark, args.tiers, args.width,
            start_us=start_us, end_us=end_us, routed=routed,
            step_s=args.step, xff_pct=args.xff,
        )
    except ValueError as exc:
        print(f"fetch: {exc}", file=sys.stderr)
        return 2
    path, w = routed
    print(f"routed to {path} (tier width {w}s)")
    out.show(n=args.limit, truncate=False)
    return 0


def _digest_drift(
    spark: SparkSession,
    left: str,
    right: str,
    bucket_s: int,
    channel_col: str,
    value_col: str,
    materialized: bool = False,
) -> DataFrame:
    """Drifted (channel, bucket) cells between two stores' content
    digests (operators.range_stats.range_digest, q77) — the shared
    core of the digest-diff and repair verbs. One full-outer join of
    two KB-per-store digest tables; no event data crosses the wire.
    ``materialized=True`` treats both paths as digest-TIER tables
    (sources.store.refresh_digest_tier output) and skips the store
    scans entirely — the cheap monitoring cadence; drift is then "as
    of each tier's refresh", which is why repair never uses it."""
    from etsd_time_series_database_spark.operators.range_stats import (
        range_digest,
    )

    def digests(path):
        if materialized:
            return spark.read.parquet(path).select(
                channel_col, "bucket_us", "n", "digest"
            )
        return range_digest(
            _load_events(spark, path),
            bucket_s=bucket_s,
            channel=channel_col,
            value=value_col,
        )

    a = digests(left).alias("a")
    b = digests(right).alias("b")
    return (
        a.join(
            b,
            on=[
                F.col(f"a.{channel_col}") == F.col(f"b.{channel_col}"),
                F.col("a.bucket_us") == F.col("b.bucket_us"),
            ],
            how="full_outer",
        )
        .filter(
            F.col("a.digest").isNull()
            | F.col("b.digest").isNull()
            | (F.col("a.digest") != F.col("b.digest"))
            | (F.col("a.n") != F.col("b.n"))
        )
        .select(
            F.coalesce(
                F.col(f"a.{channel_col}"),
                F.col(f"b.{channel_col}"),
            ).alias("channel"),
            F.coalesce(F.col("a.bucket_us"), F.col("b.bucket_us")).alias(
                "bucket_us"
            ),
            F.col("a.n").alias("left_n"),
            F.col("b.n").alias("right_n"),
            F.col("a.digest").alias("left_digest"),
            F.col("b.digest").alias("right_digest"),
        )
        .orderBy("channel", "bucket_us")
    )


def cmd_digest_tier(args, spark: SparkSession) -> int:
    """Materialize / day-refresh the q77 content digest as a
    dt=-partitioned table beside a store (sources.store.
    refresh_digest_tier) — the monitoring tier: `digest-diff
    --materialized` then compares replicas without scanning any
    events. Exit 2 if the store is not dt=-partitioned."""
    from etsd_time_series_database_spark.sources.store import (
        list_date_partitions,
        refresh_digest_tier,
    )

    if not list_date_partitions(spark, args.store):
        print(
            f"digest-tier: {args.store} is not a dt=-partitioned events "
            "store (create it with the `create` verb)",
            file=sys.stderr,
        )
        return 2
    days = args.days.split(",") if args.days else None
    try:
        stats = refresh_digest_tier(
            spark, args.store, args.path,
            bucket_s=args.bucket, days=days,
            channel_col=args.channel_col, value_col=args.value_col,
            target_files=args.target_files,
        )
    except ValueError as exc:
        print(f"digest-tier: {exc}", file=sys.stderr)
        return 2
    scope = f"day(s) {', '.join(sorted(stats))}" if days else "full build"
    print(
        f"digest tier {args.path} <- {args.store} "
        f"(bucket={args.bucket}s, {scope}, "
        f"{sum(stats.values())} digest cell(s))"
    )
    return 0


def cmd_digest_diff(args, spark: SparkSession) -> int:
    """Compare two stores by their per-(channel, bucket) content
    digests (operators.range_stats.range_digest, q77) and print only
    the drifted buckets — replica validation without shipping data.
    Exit code 0 = identical, 3 = drift found, 2 = --materialized tiers
    are incompatible (built with different bucket_s/channel_col, per
    their _digest_meta.json sidecars — comparing those would report
    total spurious drift). In --materialized mode --bucket is ignored:
    the tiers' own build buckets govern."""
    channel_col = args.channel_col
    if args.materialized:
        from etsd_time_series_database_spark.sources.store import (
            DIGEST_TIER,
            read_meta_sidecar,
        )

        metas = {
            p: read_meta_sidecar(spark, p, DIGEST_TIER.sidecar)
            for p in (args.left, args.right)
        }
        known = {p: m for p, m in metas.items() if m is not None}
        if len(known) == 2 and metas[args.left] != metas[args.right]:
            print(
                "digest-diff: materialized tiers are incompatible — "
                f"{args.left} built with {metas[args.left]}, "
                f"{args.right} with {metas[args.right]}; drift between "
                "them would be an artifact of the parameters, not the "
                "data",
                file=sys.stderr,
            )
            return 2
        if known:
            # the sidecar, not the flag, knows the tiers' channel
            # column — a tier built with --channel-col source must
            # not need the flag re-passed at diff time. With exactly
            # one sidecar, it is still the best evidence available
            # (the flag default would select a nonexistent column on
            # that tier and die in an AnalysisException)
            channel_col = next(iter(known.values()))["channel_col"]
        if len(known) < 2:
            # pre-sidecar tier(s): the compatibility check above was
            # vacuous — say so, because bucket-width drift from
            # mismatched builds would otherwise be indistinguishable
            # from real replica drift
            unknown = [p for p in (args.left, args.right) if p not in known]
            print(
                "digest-diff: no _digest_meta.json sidecar on "
                f"{', '.join(unknown)} — build parameters unverified; "
                "if the tiers were built at different buckets this "
                "diff reports spurious drift",
                file=sys.stderr,
            )
    drift = _digest_drift(
        spark, args.left, args.right, args.bucket, channel_col,
        args.value_col, materialized=args.materialized,
    )
    # display fetches at most --limit rows; the exact total comes from
    # a separate count — two wholly divergent stores must never
    # materialize channels x days rows on the driver
    shown = drift.limit(args.limit).collect()
    if not shown:
        print(f"identical: {args.left} == {args.right} (digest level)")
        return 0
    for r in shown:
        print(
            f"DRIFT channel={r.channel} bucket_us={r.bucket_us} "
            f"n={r.left_n}/{r.right_n} "
            f"digest={r.left_digest}/{r.right_digest}"
        )
    total = drift.count()
    print(f"{total} drifted (channel, bucket) cells")
    return 3


def cmd_amend(args, spark: SparkSession) -> int:
    """Apply late corrections to a date-partitioned store: UPSERT by
    --keys (replace existing keys, insert new ones; a correction whose
    ts moves a key across days deletes the old-day row too under the
    default --cross-day resolve), rewriting ONLY the involved date
    partitions via the crash-safe swap (sources.store.amend_events —
    the reference's write-into-past-blocks capability, code/etsdRW.c,
    as partition lifecycle). With --refresh-sink / --refresh-digest,
    chains the day-scoped downsample / digest refresh over exactly the
    amended days so derived tiers never go stale. Exit 2 if the target
    is not a dt= store, or a refresh target is missing or refused by
    the refresh's own check (sources.store.check_derived_tier, run
    with the meta the refresh will use) — all checked BEFORE any
    rewrite, so a bad refresh target never leaves the store amended
    but the tiers stale; 3 if the corrections are rejected (duplicate
    keys, or a cross-day move under --cross-day fail)."""
    from etsd_time_series_database_spark.sources.store import (
        DIGEST_TIER,
        DOWNSAMPLE_TIER,
        amend_events,
        check_derived_tier,
        list_date_partitions,
        refresh_digest_tier,
    )
    from etsd_time_series_database_spark.streaming.ingest import (
        refresh_downsample,
    )

    if not list_date_partitions(spark, args.path):
        print(
            f"amend: {args.path} is not a dt=-partitioned events store "
            "(create it with the `create` verb)",
            file=sys.stderr,
        )
        return 2
    # chained refreshes as (tier, path, meta, refresh, shown as, unit);
    # meta keys are the refresh's keyword names, so the pre-check
    # below and the refresh after the rewrite use the same meta
    refreshes = []
    if args.refresh_sink:
        refreshes.append((
            DOWNSAMPLE_TIER, args.refresh_sink,
            {"width_s": args.refresh_width}, refresh_downsample,
            args.refresh_sink, "bucket row(s)",
        ))
    if args.refresh_digest:
        refreshes.append((
            DIGEST_TIER, args.refresh_digest,
            {"bucket_s": args.digest_bucket, "channel_col": "event_type",
             "value_col": "value"}, refresh_digest_tier,
            f"digest tier {args.refresh_digest}", "digest cell(s)",
        ))
    for tier, path, meta, *_ in refreshes:
        try:
            check_derived_tier(spark, tier, path, meta)
        except ValueError as exc:
            print(f"amend: {exc} (store unchanged)", file=sys.stderr)
            return 2
        if not list_date_partitions(spark, path):
            # a missing tier refreshed day-scoped would come back
            # holding ONLY the amended days — a partial tier
            # masquerading as complete
            print(
                f"amend: {path} is not an existing dt=-partitioned "
                f"{tier.name} tier; build it with `{tier.verb}` first "
                "(store unchanged)",
                file=sys.stderr,
            )
            return 2
    corrections = _load_events(spark, args.source)
    try:
        stats = amend_events(
            spark, args.path, corrections,
            key_cols=tuple(args.keys.split(",")),
            cross_day=args.cross_day,
            target_files=args.target_files,
        )
    except ValueError as exc:
        print(f"amend: {exc}", file=sys.stderr)
        return 3
    for part, n in sorted(stats["partitions"].items()):
        print(f"amended {part}: {n} row(s) now")
    print(
        f"replaced {stats['replaced']} row(s), inserted "
        f"{stats['inserted']}, moved {stats['moved']} across "
        f"{len(stats['partitions'])} partition(s)"
    )
    amended_days = sorted(p.split("=", 1)[1] for p in stats["partitions"])
    for _tier, path, meta, refresh, shown, unit in refreshes:
        try:
            rstats = refresh(
                spark, args.path, path, days=amended_days,
                target_files=args.target_files, **meta,
            )
        except ValueError as exc:
            # the pre-check above ran the same check; anything new
            # must still exit clean, not as a traceback
            print(f"amend: {exc}", file=sys.stderr)
            return 2
        print(
            f"refreshed {shown} for day(s) {', '.join(amended_days)} "
            f"({sum(rstats.values())} {unit})"
        )
    return 0


def cmd_repair(args, spark: SparkSession) -> int:
    """Close the digest loop (reference recover path,
    code/etsdCmd.c:648-656): re-sync ONLY the drifted buckets of a
    target store from a source-of-truth store, then re-digest to prove
    convergence. Drift detection is the q77 digest diff (KB-sized
    tables, no data shipped); the rewrite is partition-scoped — each
    drifted (channel, bucket) cell maps to the date partitions its
    bucket covers, and only those dt= directories are byte-copied
    through the crash-safe rename-swap (sources.store.sync_partition).
    Untouched partitions are never listed, read, or rewritten.
    Exit 0 = converged (or already identical), 3 = residual drift,
    2 = not a date-partitioned store.

    Relies on the layout invariant ``dt == to_date(ts)`` that this
    repo's writers (create, ingest) guarantee: a drifted bucket's rows
    live exactly in the date partitions the bucket covers. Rows
    mis-filed under a foreign dt= value are outside that mapping; the
    post-repair re-digest surfaces them as residual drift (rc 3,
    'repair INCOMPLETE') rather than a false convergence claim. Also
    assumes both stores share the session timezone convention for dt=
    (this repo's sessions pin UTC)."""
    from etsd_time_series_database_spark.sources.store import (
        list_date_partitions,
        sync_partition,
    )

    if not list_date_partitions(spark, args.target):
        print(
            f"repair: {args.target} is not a dt=-partitioned events "
            "store (create it with the `create` verb); partition-scoped "
            "repair needs the date layout",
            file=sys.stderr,
        )
        return 2

    def drift_df():
        return _digest_drift(
            spark, args.source, args.target, args.bucket,
            args.channel_col, args.value_col,
        )

    width_us = args.bucket * 1_000_000
    days = sorted(
        r.d.isoformat()
        for r in drift_df()
        .select(
            F.explode(
                F.sequence(
                    F.to_date(F.timestamp_micros(F.col("bucket_us"))),
                    F.to_date(
                        F.timestamp_micros(
                            F.col("bucket_us") + F.lit(width_us - 1)
                        )
                    ),
                )
            ).alias("d")
        )
        .distinct()
        .collect()
    )
    if not days:
        print(f"identical: {args.target} already matches {args.source}")
        return 0
    if args.dry_run:
        print(f"would sync {len(days)} partition(s): "
              + ", ".join(f"dt={d}" for d in days))
        return 3
    for d in days:
        action = sync_partition(
            spark, args.source, args.target, f"dt={d}"
        )
        print(f"repair dt={d}: {action}")
    residual = drift_df().count()
    if residual:
        print(f"repair INCOMPLETE: {residual} drifted cells remain "
              "(bucket/day misalignment? non-dt drift?)", file=sys.stderr)
        return 3
    print(
        f"converged: {len(days)} partition(s) re-synced, digests match"
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="etsd-spark", description="PySpark-native ETSD-capability engine CLI"
    )
    p.add_argument("--cpus", default=None, help="local[N] parallelism")
    sub = p.add_subparsers(dest="verb", required=True)

    q = sub.add_parser("query", help="range statistics (etsdCmd query)")
    q.add_argument("path", help="events parquet path/dir")
    q.add_argument("-s", "--start", default=None, help="start time literal")
    q.add_argument("-e", "--end", default=None, help="end time literal")
    q.add_argument("-c", "--channel", action="append", help="channel filter (repeatable)")
    q.add_argument(
        "-q", default="all", choices=["min", "max", "ave", "tot", "cnt", "all"]
    )
    q.add_argument("--channel-col", default="event_type")
    q.add_argument("--value-col", default="value")
    q.add_argument("--limit", type=int, default=100)
    q.set_defaults(fn=cmd_query)

    x = sub.add_parser("examine", help="schema + geometry introspection")
    x.add_argument("path")
    x.add_argument("--channel-col", default="event_type")
    x.set_defaults(fn=cmd_examine)

    d = sub.add_parser("dump", help="raw rows in a time range")
    d.add_argument("path")
    d.add_argument("-s", "--start", default=None)
    d.add_argument("-e", "--end", default=None)
    d.add_argument("--limit", type=int, default=50)
    d.add_argument(
        "--with-xdata",
        default=None,
        metavar="XDATA_PATH",
        help="join each row to its ingest batch's xData blob (shown as "
        "xdata_hex) from this side-table path — the reference's "
        "per-block opaque payload (code/etsd.h:102-103)",
    )
    d.set_defaults(fn=cmd_dump)

    c = sub.add_parser("create", help="write a partitioned events table")
    c.add_argument("source", help="source parquet file")
    c.add_argument("path", help="destination table directory")
    c.add_argument("--mode", default="error", choices=["error", "overwrite", "append"])
    c.set_defaults(fn=cmd_create)

    r = sub.add_parser(
        "recover", help="rebuild a downsampled sink from raw history (recoverRRD analog)"
    )
    r.add_argument("raw", help="raw events table path")
    r.add_argument("sink", help="downsample sink destination")
    r.add_argument("--width", type=int, default=60, help="bucket width seconds")
    r.add_argument(
        "--partitioned", action="store_true",
        help="write the sink date-partitioned (dt= from bucket start) "
        "so later --days refreshes are partition-scoped",
    )
    r.add_argument(
        "--days", default=None,
        help="comma-separated YYYY-MM-DD list: refresh ONLY these "
        "days' buckets in a partitioned sink (the post-amend "
        "consolidation repair — O(amended days), untouched partitions "
        "byte-identical)",
    )
    r.add_argument(
        "--target-files", type=int, default=1,
        help="output files per day (spread a hot day's rewrite across "
        "N write tasks; applies to --days refreshes AND --partitioned "
        "full rebuilds; content identical)",
    )
    r.set_defaults(fn=cmd_recover)

    fe = sub.add_parser(
        "fetch",
        help="answer a range aggregate from the materialized "
        "consolidation ladder (rrdtool fetch analog) — routes to the "
        "coarsest sink whose width divides the request, never "
        "scanning raw history",
    )
    fe.add_argument(
        "tiers", nargs="+",
        help="downsample sinks (recover --partitioned output) and/or "
        "materialized tier-ladder tables; together they form the RRA "
        "ladder",
    )
    fe.add_argument(
        "--width", type=int, required=True,
        help="requested bucket width in seconds (must be a multiple "
        "of some sink's build width)",
    )
    fe.add_argument("-s", "--start", default=None, help="start time literal")
    fe.add_argument("-e", "--end", default=None, help="end time literal")
    fe.add_argument(
        "--step", type=int, default=None,
        help="polling cadence seconds: adds expected/is_valid per "
        "bucket and NULLs the aggregates of buckets failing the "
        "xfiles factor (rrdtool's UNKNOWN consolidated points)",
    )
    fe.add_argument(
        "--xff", type=int, default=50,
        help="xfiles factor as integer percent (with --step)",
    )
    fe.add_argument("--limit", type=int, default=100)
    fe.set_defaults(fn=cmd_fetch)

    dd = sub.add_parser(
        "digest-diff",
        help="compare two stores by per-(channel, bucket) content "
        "digests (q77) and print only drifted buckets — replica "
        "validation without shipping data",
    )
    dd.add_argument("left", help="events table path A")
    dd.add_argument("right", help="events table path B")
    dd.add_argument("--bucket", type=int, default=86_400,
                    help="digest bucket seconds (ignored with "
                    "--materialized: the tiers' own build buckets "
                    "govern, checked via their _digest_meta.json)")
    dd.add_argument("--channel-col", default="event_type")
    dd.add_argument("--value-col", default="value")
    dd.add_argument("--limit", type=int, default=20)
    dd.add_argument(
        "--materialized", action="store_true",
        help="left/right are digest-TIER tables (digest-tier verb "
        "output), not stores: compare without scanning any events — "
        "drift is as of each tier's refresh",
    )
    dd.set_defaults(fn=cmd_digest_diff)

    dt = sub.add_parser(
        "digest-tier",
        help="materialize / day-refresh the q77 content digest beside "
        "a store; digest-diff --materialized then compares replicas "
        "without scanning events",
    )
    dt.add_argument("store", help="dt=-partitioned events store")
    dt.add_argument("path", help="digest tier destination")
    dt.add_argument("--bucket", type=int, default=86_400,
                    help="digest bucket seconds (must divide 86400)")
    dt.add_argument(
        "--days", default=None,
        help="comma-separated YYYY-MM-DD list: refresh ONLY these "
        "days' digest cells (the post-amend tier repair)",
    )
    dt.add_argument("--channel-col", default="event_type")
    dt.add_argument("--value-col", default="value")
    dt.add_argument(
        "--target-files", type=int, default=1,
        help="output files per day (applies to --days refreshes AND "
        "full builds)",
    )
    dt.set_defaults(fn=cmd_digest_tier)

    am = sub.add_parser(
        "amend",
        help="apply late corrections to a store: upsert by key, "
        "rewriting only the date partitions the corrections land in "
        "(crash-safe swap)",
    )
    am.add_argument("path", help="dt=-partitioned events store to amend")
    am.add_argument("source", help="corrections parquet (events schema)")
    am.add_argument("--keys", default="event_id",
                    help="comma-separated upsert key columns")
    am.add_argument(
        "--cross-day", default="resolve",
        choices=["resolve", "fail", "ignore"],
        help="a correction whose ts moves a key to a different day: "
        "resolve = delete the old-day row too (true upsert; key-column "
        "probe scan), fail = exit 3 naming the keys, ignore = insert "
        "side only (no probe; caller owns the old-day delete)",
    )
    am.add_argument(
        "--refresh-sink", default=None,
        help="after amending, refresh this dt=-partitioned downsample "
        "sink for exactly the amended days (chains recover --days so "
        "derived tiers never go stale)",
    )
    am.add_argument(
        "--refresh-width", type=int, default=60,
        help="--refresh-sink bucket width seconds (must match the "
        "sink's build width)",
    )
    am.add_argument(
        "--refresh-digest", default=None,
        help="after amending, day-refresh this digest tier "
        "(digest-tier verb output) for exactly the amended days",
    )
    am.add_argument(
        "--digest-bucket", type=int, default=86_400,
        help="--refresh-digest bucket seconds (must match the tier's "
        "build bucket)",
    )
    am.add_argument(
        "--target-files", type=int, default=1,
        help="output files per rewritten day — applies to the store "
        "rewrite AND any chained --refresh-sink/--refresh-digest day "
        "(spread a hot day across N write tasks; content identical)",
    )
    am.set_defaults(fn=cmd_amend)

    rp = sub.add_parser(
        "repair",
        help="re-sync a target store's drifted date partitions from a "
        "source-of-truth store (digest diff -> partition-scoped "
        "byte-copy swap -> re-digest convergence proof)",
    )
    rp.add_argument("source", help="authoritative events store (dt= layout)")
    rp.add_argument("target", help="store to repair in place (dt= layout)")
    rp.add_argument("--bucket", type=int, default=86_400,
                    help="digest bucket seconds")
    rp.add_argument("--channel-col", default="event_type")
    rp.add_argument("--value-col", default="value")
    rp.add_argument("--dry-run", action="store_true",
                    help="print the partitions that would sync, change "
                    "nothing")
    rp.set_defaults(fn=cmd_repair)

    wi = sub.add_parser(
        "write-index",
        help="materialize an embedding corpus partitioned by IVF cell "
        "(the 100 TB ANN serving layout; probes prune to cell dirs)",
    )
    wi.add_argument("source", help="embeddings parquet (key + vector columns)")
    wi.add_argument("path", help="destination index directory")
    wi.add_argument(
        "--centroids", required=True,
        help="comma-separated seed vector ids used as centroids",
    )
    wi.add_argument("--mode", default="overwrite", choices=["overwrite", "error"])
    wi.add_argument("--key", default="vec_id")
    wi.add_argument("--vec", default="embedding")
    wi.set_defaults(fn=cmd_write_index)

    ai = sub.add_parser(
        "append-index",
        help="assign a new embedding batch against the layout's stored "
        "centroids and append into the existing cell dirs (O(batch) "
        "index maintenance)",
    )
    ai.add_argument("source", help="parquet with the new vectors")
    ai.add_argument("path", help="existing index directory")
    ai.add_argument("--key", default="vec_id")
    ai.add_argument("--vec", default="embedding")
    ai.set_defaults(fn=cmd_append_index)

    pr = sub.add_parser(
        "probe",
        help="ANN top-k against a write-index layout (multi-probe: "
        "reads exactly nprobe cell directories)",
    )
    pr.add_argument("path", help="index directory from write-index")
    pr.add_argument("--vector", default=None, help="comma-separated floats")
    pr.add_argument(
        "--query-id", type=int, default=None,
        help="look the query vector up by id in --source instead",
    )
    pr.add_argument("--source", default=None, help="parquet with query vectors")
    pr.add_argument("--nprobe", type=int, default=2)
    pr.add_argument(
        "--cells", default=None,
        help="explicit comma-separated cell ids (skips nearest_cells planning)",
    )
    pr.add_argument("-k", type=int, default=5)
    pr.add_argument("--key", default="vec_id")
    pr.add_argument("--vec", default="embedding")
    pr.set_defaults(fn=cmd_probe)

    rb = sub.add_parser(
        "rebalance",
        help="split hot IVF cells / retire empties in a write-index "
        "layout, rewriting only the affected cell dirs (acts on the "
        "x83 cell-balance profile)",
    )
    rb.add_argument("path", help="index directory from write-index")
    rb.add_argument("--hot", type=int, required=True,
                    help="split cells holding more than this many vectors")
    rb.add_argument("--empty", type=int, default=0,
                    help="retire cells at or under this many vectors")
    rb.add_argument("--split", type=int, default=2,
                    help="sub-cells per split cell")
    rb.add_argument("--iters", type=int, default=2,
                    help="local Lloyd iterations per split")
    rb.add_argument("--key", default="vec_id")
    rb.add_argument("--vec", default="embedding")
    rb.add_argument("--profile", action="store_true",
                    help="print the post-rebalance cell-balance profile")
    rb.set_defaults(fn=cmd_rebalance)

    ic = sub.add_parser(
        "ivf-compact",
        help="per-cell small-file compaction of a write-index IVF "
        "layout (append-heavy cells only; probe results unchanged)",
    )
    ic.add_argument("path", help="index directory from write-index")
    ic.add_argument("--files-per-cell", type=int, default=1)
    ic.add_argument("--key", default="vec_id")
    ic.set_defaults(fn=cmd_ivf_compact)

    w = sub.add_parser(
        "watch",
        help="live monitor over a growing ingest directory (the edd "
        "daemon analog): feed freshness, hysteresis alarm "
        "transitions, running z-score anomalies, the site-wide "
        "alarm union, or incremental dedup as an ingest stage",
    )
    w.add_argument("source", help="parquet directory to monitor")
    w.add_argument(
        "--mode", default="freshness",
        choices=["freshness", "alarms", "anomalies", "rollup", "site",
                 "dedup"],
    )
    w.add_argument(
        "--dedup-index", default=None,
        help="dedup mode: the persisted MinHash index (`dedup-index` "
        "verb output) to probe and append; survivors land under "
        "--out/batch=N per micro-batch",
    )
    w.add_argument("--text", default="text",
                   help="dedup mode: document text column")
    w.add_argument("--stale-after", type=float, default=60.0,
                   help="freshness SLA seconds (event-time)")
    w.add_argument("--hi", type=float, default=250.0)
    w.add_argument("--lo", type=float, default=50.0)
    w.add_argument("--z", type=int, default=3,
                   help="anomalies mode: running-sigma threshold")
    w.add_argument("--min-n", type=int, default=30,
                   help="anomalies mode: per-channel warm-up readings")
    w.add_argument("--width", type=int, default=60,
                   help="rollup mode: window width seconds")
    w.add_argument("--watermark", default="2 minutes",
                   help="rollup mode: lateness horizon (e.g. '2 minutes')")
    w.add_argument(
        "--metrics-log", default=None,
        help="append one ops-log row (input/output/late counts) to this "
        "parquet path after a catch-up run (plans.metrics.MetricsLog)",
    )
    w.add_argument(
        "--compact", action="store_true",
        help="after a catch-up run, compact the --out sink's "
        "accumulated per-micro-batch files in place (rewrites the "
        "_spark_metadata log to match; the checkpointed stream resumes "
        "cleanly afterwards)",
    )
    w.add_argument(
        "--out", default=None,
        help="write events to this parquet path instead of the console",
    )
    w.add_argument("--follow", action="store_true",
                   help="keep running (processing-time trigger) instead "
                   "of catching up and exiting")
    w.add_argument("--interval", type=int, default=10,
                   help="--follow trigger seconds")
    w.add_argument("--max-files", type=int, default=1000,
                   help="files per micro-batch")
    w.add_argument("--timeout", type=float, default=300,
                   help="availableNow catch-up wait seconds; if the "
                   "catch-up outlives this the query is STOPPED (rc 1, "
                   "--compact/--metrics-log skipped) — rerun to finish")
    w.set_defaults(fn=cmd_watch)

    di = sub.add_parser(
        "dedup-index",
        help="materialize a MinHash band table as a persisted dedup "
        "index (cross-run near-dup state; shards append in O(batch))",
    )
    di.add_argument("source", help="documents parquet (key + text columns)")
    di.add_argument("path", help="destination index directory")
    di.add_argument("--text", default="text")
    di.add_argument("--key", default="doc_id")
    di.add_argument("--n", type=int, default=3, help="shingle width")
    di.add_argument("--rows-per-band", type=int, default=2)
    di.add_argument(
        "--hash-mode", default="hash64", choices=["hash64", "poly", "dict"]
    )
    di.add_argument("--mode", default="overwrite", choices=["overwrite", "error"])
    di.set_defaults(fn=cmd_dedup_index)

    da = sub.add_parser(
        "dedup-append",
        help="sign a new shard with the index's pinned recipe and "
        "append into the existing band dirs (O(shard) maintenance)",
    )
    da.add_argument("source", help="parquet with the new documents")
    da.add_argument("path", help="existing dedup index directory")
    da.add_argument("--text", default="text")
    da.set_defaults(fn=cmd_dedup_append)

    dc = sub.add_parser(
        "dedup-compact",
        help="rewrite a dedup index's band partitions at a bounded "
        "file count (append-heavy layouts accumulate one small file "
        "per band per shard); signatures and probe results unchanged",
    )
    dc.add_argument("path", help="existing dedup index directory")
    dc.add_argument("--files-per-band", type=int, default=1)
    dc.set_defaults(fn=cmd_dedup_compact)

    dp = sub.add_parser(
        "dedup-probe",
        help="probe a new shard against a dedup index: print colliding "
        "(new, indexed) pairs, or with --survivors-out run the full "
        "drop+append workflow",
    )
    dp.add_argument("source", help="parquet with the new documents")
    dp.add_argument("path", help="dedup index directory")
    dp.add_argument("--text", default="text")
    dp.add_argument(
        "--survivors-out", default=None,
        help="write surviving docs here and append their signatures "
        "to the index",
    )
    dp.add_argument(
        "--dry-run", action="store_true",
        help="with --survivors-out: keep the index unchanged",
    )
    dp.add_argument(
        "--overwrite-survivors", action="store_true",
        help="allow --survivors-out to point at an existing non-empty "
        "survivors directory (an explicit retry of the same shard; "
        "idempotent, reproduces the same survivor set)",
    )
    dp.add_argument("--limit", type=int, default=20)
    dp.set_defaults(fn=cmd_dedup_probe)

    cat = sub.add_parser("catalog", help="list every catalog query")
    cat.add_argument("--category", default=None)
    cat.set_defaults(fn=cmd_catalog)

    wp = sub.add_parser(
        "write-pq",
        help="materialize the PQ code table (compressed ANN serving "
        "artifact; probes read codes, never vectors)",
    )
    wp.add_argument("source", help="embeddings parquet")
    wp.add_argument("path", help="output code-table directory")
    wp.add_argument("--m", type=int, default=8)
    wp.add_argument("--n-cents", type=int, default=16)
    wp.add_argument("--dim", type=int, default=64)
    wp.add_argument("--mode", default="overwrite")
    wp.add_argument("--key", default="vec_id")
    wp.add_argument("--vec", default="embedding")
    wp.set_defaults(fn=cmd_write_pq)

    pp = sub.add_parser(
        "probe-pq", help="ADC top-k against a write-pq code table"
    )
    pp.add_argument("path", help="code table from write-pq")
    pp.add_argument("--vector", default=None, help="comma-separated floats")
    pp.add_argument("--query-id", type=int, default=None)
    pp.add_argument("--source", default=None, help="embeddings parquet for --query-id")
    pp.add_argument("--k", type=int, default=10)
    pp.add_argument("--key", default="vec_id")
    pp.add_argument("--vec", default="embedding")
    pp.set_defaults(fn=cmd_probe_pq)

    run = sub.add_parser(
        "run", help="execute a catalog query on an sf_dir of parquet tables"
    )
    run.add_argument("name", help="catalog query name (see `catalog`)")
    run.add_argument("sf_dir", help="directory with the parquet tables")
    run.add_argument("--limit", type=int, default=20)
    run.add_argument("--out", default=None, help="write result parquet here "
                     "instead of printing")
    run.set_defaults(fn=cmd_run)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        import os

        if args.cpus:
            os.environ["SPARK_GRAFT_CPUS"] = args.cpus
        spark = get_spark("etsd_spark_cli")
    return args.fn(args, spark)


if __name__ == "__main__":
    sys.exit(main())
