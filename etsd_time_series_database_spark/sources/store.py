"""Table store: read/create/append partitioned Parquet tables.

Replaces the reference's file layer (etsdInit/etsdRW/etsdCommit/
etsdRotate — reference code/etsd.c:41-165, code/etsdSave.c:34-99).
The ETSD file's 512-byte self-timestamped append-only blocks map to
immutable Parquet files in a date-partitioned directory tree; schema
lives in the Parquet footer instead of block 0; "rotation" is
partition lifecycle.

At 100 TB the events table is written date-partitioned and sorted by
(channel-ish key, ts) within partitions so Parquet row-group min/max
statistics give the same block-skipping the reference gets from its
sector arithmetic (code/etsdRead.c:300-353) — but federated across
thousands of files and pruned by Catalyst before any I/O happens.
"""

from __future__ import annotations

import os
import posixpath
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def _parse_ts_literal(literal: str) -> datetime:
    """Parse a ts_range bound. Grammar = ISO-8601 date/timestamp plus
    the short forms Spark's string->timestamp cast accepts: a bare
    year ('2024'), year-month ('2024-01'), and a trailing 'Z'
    (stripped before parsing so Python < 3.11 agrees with 3.11+).
    Raises ValueError on anything else — the eager-validation contract
    that keeps a malformed bound from silently NULLing the predicate.
    """
    s = literal.strip()
    if s and s[-1] in "Zz":
        s = s[:-1]
    try:
        return datetime.fromisoformat(s)
    except ValueError:
        pass
    for fmt in ("%Y", "%Y-%m"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(
        f"malformed time literal {literal!r}: expected ISO-8601 "
        "(e.g. 2024, 2024-01, 2024-01-02, 2024-01-02T03:04:05[.ffffff][Z])"
    )


def _epoch_us(literal: str) -> int:
    return int(
        _parse_ts_literal(literal)
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1_000_000
    )


def _ensure_ts_confs(spark: SparkSession) -> None:
    """Session confs every ts-bearing parquet read in this repo
    relies on. Harness portability: TIMESTAMP(NANOS) files are
    rejected by Spark 4.x unless nanosAsLong is on, and callers hand
    us arbitrary SparkSessions — the repo's own get_spark() is NOT the
    only entry point. Naive (isAdjustedToUTC=false) timestamps must
    surface as TIMESTAMP_NTZ: with inferTimestampNTZ disabled they
    would arrive as plain TimestampType and fall into a
    session-timezone cast, silently breaking UTC/DuckDB epoch
    parity."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")


def _ts_kind(df: DataFrame) -> str | None:
    """The ``ts`` column's surfaced type name (None when absent):
    'bigint' == TIMESTAMP(NANOS) under nanosAsLong, 'timestamp_ntz'
    == naive micros. THE single probe the batch readers (via
    :func:`epoch_ts`) and the streaming replays decide their conversion
    from."""
    return next(
        (
            f.dataType.simpleString()
            for f in df.schema.fields
            if f.name == "ts"
        ),
        None,
    )


def raw_ts_micros_divisor(spark: SparkSession, path: str) -> int:
    """Divisor that turns ``path``'s RAW int64 ts into epoch micros —
    the same :func:`_ts_kind` probe :func:`load_table` converts with,
    shared so other readers (e.g. the streaming replay entries, which
    must declare an explicit int64 schema) cannot drift from it:
    nanos divide by 1000; naive micros pass through."""
    _ensure_ts_confs(spark)
    kind = _ts_kind(spark.read.parquet(path))
    if kind is None:
        raise ValueError(
            f"{path} has no 'ts' column — cannot derive a timestamp "
            "unit for a raw int64 read"
        )
    return 1000 if kind == "bigint" else 1


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_range: tuple[str | None, str | None] | None = None,
) -> DataFrame:
    """Load one testdata table. Schema comes from the Parquet footer
    (the analog of reading the ETSD header block, code/etsd.c:41-123).

    Nanosecond parquet timestamps arrive as LongType (session conf
    ``spark.sql.legacy.parquet.nanosAsLong``) and are floor-truncated
    to a micros TimestampType — exactly what DuckDB does when it reads
    the same file, so both engines see identical instants.

    ``ts_range=(lo, hi)`` (inclusive, conservative) applies the time
    predicate on the RAW int64 column *before* the conversion. Bound
    grammar: ISO-8601 date/timestamp, plus the short forms the Spark
    cast accepts — bare year, year-month, trailing 'Z' — anything
    else raises eagerly (never a silent NULL predicate). The filter
    runs on the raw column because a
    function-wrapped column defeats Parquet predicate pushdown, so
    this is what turns the query's time range into actual row-group
    skipping (the reference's block-skip search,
    code/etsdRead.c:300-353). Callers keep their exact filter on the
    converted column; this prefilter is a superset.
    """
    _ensure_ts_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ts_kind = _ts_kind(df)
    raw_ns = ts_kind == "bigint"
    raw_ntz = ts_kind == "timestamp_ntz"
    if ts_range is not None and "ts" in df.columns:
        lo, hi = ts_range
        if raw_ns:
            if lo is not None:
                df = df.filter(F.col("ts") >= F.lit(_epoch_us(lo) * 1000))
            if hi is not None:
                df = df.filter(F.col("ts") < F.lit((_epoch_us(hi) + 1) * 1000))
        else:
            # Validate bounds eagerly: under non-ANSI mode a malformed
            # literal cast returns NULL, and a NULL predicate silently
            # drops every row — an empty result instead of an error.
            # The raw_ns branch already fails loudly via _epoch_us; give
            # the cast branches the same contract.
            for bound in (lo, hi):
                if bound is not None:
                    _parse_ts_literal(bound)  # raises on malformed
            # Filter on the raw column so the predicate still reaches
            # the parquet row-group stats.
            cast_t = "timestamp_ntz" if raw_ntz else "timestamp"
            if lo is not None:
                df = df.filter(F.col("ts") >= F.lit(lo).cast(cast_t))
            if hi is not None:
                df = df.filter(F.col("ts") <= F.lit(hi).cast(cast_t))
    return epoch_ts(df)


def epoch_ts(df: DataFrame) -> DataFrame:
    """Convert ``df``'s raw ``ts`` to an epoch-based TimestampType, as
    :func:`_ts_kind` classifies it: nanos (``bigint``) floor-truncate
    to micros, exactly what DuckDB does reading the same file; naive
    ``timestamp_ntz`` goes through timestampdiff against the NTZ epoch,
    which DuckDB's epoch() matches and which is session-timezone
    independent (a plain cast would re-interpret the wall clock in the
    session tz). Any other ``ts`` (or none) passes through."""
    kind = _ts_kind(df)
    if kind == "bigint":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    if kind == "timestamp_ntz":
        return df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def create_events_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_col: str = "ts",
) -> None:
    """Write an events-shaped DataFrame as a date-partitioned,
    sort-within-partition Parquet table (the CREATE/append path;
    reference createETSD code/etsdCmd.c:91-344 + etsdCommit
    code/etsdSave.c:58-75).

    Sorting by (event_type, ts) inside each file makes Parquet
    row-group stats selective for both per-channel and time-range
    predicates — the scale replacement for the reference's
    largest-width-first stream sort (code/etsdCmd.c:167-185).
    """
    (
        df.withColumn("dt", F.to_date(F.col(partition_col)))
        .repartition(F.col("dt"))
        .sortWithinPartitions("event_type", partition_col)
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    )


def read_events_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("dt")


def _hadoop_fs(spark: SparkSession, path: str):
    """Resolve (FileSystem, Path-class) for ``path`` via the JVM Hadoop
    FileSystem API — works uniformly for file:, hdfs:, s3a:, abfs:
    URIs, unlike os.listdir/shutil which only see the driver's local
    disk. At 100 TB the table lives on an object store; every
    maintenance op goes through this handle — the one place the
    package opens a FileSystem (test-pinned).
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def compact_partition(
    spark: SparkSession,
    path: str,
    partition: str,
    target_files: int = 1,
    sort_cols: tuple[str, str] = ("event_type", "ts"),
) -> int:
    """Compact one date partition: rewrite its many small files (the
    residue of frequent streaming micro-batch commits) into
    ``target_files`` sorted files, installed with :func:`swap_in_dir`.
    Returns the number of files before compaction.

    Only safe on partitions no longer receiving appends (i.e. past the
    ingest watermark) — same contract as the reference's rotation
    touching only the closed file (code/etsdSave.c:80-99).
    """
    fs, Path = _hadoop_fs(spark, path)
    part_dir = f"{path}/{partition}"
    files_before = [
        st.getPath().getName()
        for st in fs.listStatus(Path(part_dir))
        if st.getPath().getName().endswith(".parquet")
    ]
    df = spark.read.parquet(part_dir)
    tmp = staging_dir(part_dir, "compact")
    (
        df.repartition(target_files)
        .sortWithinPartitions(*[c for c in sort_cols if c in df.columns])
        .write.mode("overwrite")
        .parquet(tmp)
    )
    swap_in_dir(fs, Path, tmp, part_dir, "compact")
    return len(files_before)


def cross_day_probe(
    spark: SparkSession,
    path: str,
    corrections: DataFrame,
    keys: list[str],
) -> DataFrame:
    """The key→day probe behind :func:`amend_events`'s cross-day
    handling: for every correction key, the partitions where the key
    lives TODAY that differ from where its corrected ``ts`` sends it —
    i.e. the stale rows a true upsert must also delete.

    Scale shape (plan-asserted in tests/test_plan_shape.py): the store
    scan is COLUMN-PRUNED to the key columns (``dt`` is a partition
    value, read from directory names, and the probe never touches
    value/props bytes), and the tiny correction side broadcasts, so
    the store never shuffles — the price of not maintaining a key→day
    side index is one key-column scan, not a corpus shuffle. Output is
    bounded by the correction count.
    """
    target_of = corrections.select(
        *keys, F.to_date("ts").cast("string").alias("__target_d")
    )
    return (
        spark.read.parquet(path)
        .select(*keys, F.col("dt").cast("string").alias("__old_d"))
        .join(F.broadcast(target_of), on=keys, how="inner")
        .filter(F.col("__old_d") != F.col("__target_d"))
    )


def amend_events(
    spark: SparkSession,
    path: str,
    corrections: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    sort_cols: tuple[str, str] = ("event_type", "ts"),
    cross_day: str = "resolve",
    target_files: int = 1,
) -> dict:
    """Apply late corrections to a date-partitioned events store:
    UPSERT by ``key_cols`` — rows whose key exists are replaced by the
    correction, new keys are inserted — touching ONLY the date
    partitions involved. The reference can write into past blocks
    through its block-addressed RW layer (code/etsdRW.c); on immutable
    parquet the equivalent is a partition-scoped rewrite: per affected
    day, current rows anti-join the correction keys, union the day's
    corrections, and the merged partition installs through
    :func:`swap_in_dir`.

    A correction whose ``ts`` moves a row ACROSS days is two physical
    operations (delete old-day row + insert new-day row); ``cross_day``
    picks the handling:

    - ``"resolve"`` (default): a key-column probe finds every partition
      holding a correction key, the stale old-day rows are deleted in
      the same pass (their partitions join the rewrite set), and the
      store ends with exactly ONE row per corrected key — true upsert
      semantics, the reference's in-place block overwrite. The probe
      semi-joins the store's ``key_cols`` + ``dt`` against the
      broadcast correction keys: column-pruned to the key columns, so
      it reads key bytes only, not values — the price of not keeping a
      key→day side index.
    - ``"fail"``: run the same probe but REFUSE the whole amend
      (raises ``ValueError`` naming the offending keys) if any
      correction would move a key across days — for callers that treat
      a cross-day move as an upstream bug.
    - ``"ignore"``: skip the probe entirely (O(target days) only, no
      store-wide key scan) and handle just the insert side; the caller
      owns deleting the old-day row. The pre-round-12 contract.

    Cost: O(affected days' data) rewrites + (resolve/fail) one
    key-column probe scan; untouched partitions are never rewritten
    (byte-identical — pinned by the CLI test). ``target_files`` sets
    each rewritten day's output fan-out (same knob as
    :func:`compact_partition`; default 1 keeps today's layout — a hot
    day at scale should spread its rewrite across N write tasks
    instead of funneling through one). Corrections must carry
    the full events schema, and their keys must be UNIQUE — duplicate
    keys would install duplicate rows and miscount the stats, so they
    raise. Returns {partitions: {dt: n_rows}, replaced, inserted,
    moved}.

    Single-writer maintenance, like compaction: run it from the store
    owner between ingest sessions, not concurrently with appends to
    the same days.
    """
    if cross_day not in ("resolve", "fail", "ignore"):
        raise ValueError(f"amend: unknown cross_day mode {cross_day!r}")
    corrections = corrections.localCheckpoint()
    keys = list(key_cols)
    n_corr_total = corrections.count()
    n_distinct_keys = corrections.select(*keys).distinct().count()
    if n_distinct_keys != n_corr_total:
        dups = (
            corrections.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(5)
            .collect()
        )
        shown = ", ".join(
            "(" + ", ".join(f"{k}={r[k]}" for k in keys) + f") x{r['count']}"
            for r in dups
        )
        raise ValueError(
            f"amend: corrections carry duplicate keys — "
            f"{n_corr_total - n_distinct_keys} extra row(s), e.g. {shown}; "
            "an upsert needs one correction per key (keep the latest "
            "before calling)"
        )
    target_days = [
        r.d.isoformat()
        for r in corrections.select(
            F.to_date("ts").alias("d")
        ).distinct().collect()
    ]
    fs, Path = _hadoop_fs(spark, path)
    stats = {"partitions": {}, "replaced": 0, "inserted": 0, "moved": 0}
    removed_total = 0
    days = set(target_days)
    all_keys = corrections.select(*keys).distinct()
    if cross_day in ("resolve", "fail"):
        probe = cross_day_probe(spark, path, corrections, keys)
        stale = probe.collect()  # bounded: <= one row per correction key
        if stale and cross_day == "fail":
            shown = ", ".join(
                "(" + ", ".join(f"{k}={r[k]}" for k in keys)
                + f") {r['__old_d']}->{r['__target_d']}"
                for r in stale[:5]
            )
            raise ValueError(
                f"amend: {len(stale)} correction(s) move key(s) across "
                f"days, e.g. {shown}; rerun with cross_day='resolve' to "
                "delete the old-day rows or fix the corrections"
            )
        stats["moved"] = len(stale)
        days.update(r["__old_d"] for r in stale)
    for d in sorted(days):
        part = f"dt={d}"
        part_dir = f"{path}/{part}"
        day_corr = corrections.filter(F.to_date("ts") == F.lit(d)).drop(
            *[c for c in ("dt",) if c in corrections.columns]
        )
        # anti-join the FULL key set, not the day's: a key whose old
        # row sits in this day but whose corrected ts lands elsewhere
        # must be deleted here (cross_day="ignore" keeps the old
        # insert-side-only behavior: day-local keys)
        anti = all_keys if cross_day == "resolve" else day_corr.select(*keys)
        if fs.exists(Path(part_dir)):
            cur = spark.read.parquet(part_dir)
            day_corr = day_corr.select(*cur.columns)  # align column order
            kept = cur.join(anti, on=keys, how="left_anti")
            n_cur = cur.count()
            n_kept = kept.count()
            merged = kept.unionByName(day_corr)
            removed_total += n_cur - n_kept
            if n_kept == 0 and day_corr.isEmpty():
                # a stale-only day drained by cross-day moves: drop the
                # partition rather than install an empty one
                fs.delete(Path(part_dir), True)
                stats["partitions"][part] = 0
                continue
        else:
            merged = day_corr
        tmp = staging_dir(part_dir, "amend")
        (
            merged.repartition(int(target_files))
            .sortWithinPartitions(
                *[c for c in sort_cols if c in merged.columns]
            )
            .write.mode("overwrite")
            .parquet(tmp)
        )
        swap_in_dir(fs, Path, tmp, part_dir, "amend")
        stats["partitions"][part] = spark.read.parquet(part_dir).count()
    # key-level accounting: each moved key contributes one removal (old
    # day) and one insertion (new day) but is neither a replace nor a
    # net insert; everything else removed was replaced in place
    stats["replaced"] = removed_total - stats["moved"]
    stats["inserted"] = n_corr_total - removed_total
    return stats


def sync_partition(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    partition: str,
) -> str:
    """Re-sync ONE date partition of ``target_path`` from
    ``source_path`` (the repair primitive behind the CLI ``repair``
    verb; reference analog: the recover path re-deriving state from
    the authoritative store, code/etsdCmd.c:648-656).

    The partition's parquet files are copied BYTE-IDENTICALLY through
    the Hadoop FileSystem API (no decode/re-encode — works across
    file:/hdfs:/s3a: and guarantees the re-digest converges), staged
    into a temp dir and installed with :func:`swap_in_dir`. A
    partition absent from the source is DELETED from the target
    (drift-by-extra-data).
    Returns 'synced' | 'deleted' | 'noop' (absent on both sides).

    Partition-scoped by contract: untouched partitions are never
    listed, read, or rewritten — repair cost is O(drifted days), not
    O(store).
    """
    fs_src, Path = _hadoop_fs(spark, source_path)
    fs_dst, _ = _hadoop_fs(spark, target_path)
    src_dir = Path(f"{source_path}/{partition}")
    dst = f"{target_path}/{partition}"
    if not fs_src.exists(src_dir):
        if fs_dst.exists(Path(dst)):
            fs_dst.delete(Path(dst), True)
            return "deleted"
        return "noop"
    tmp_s = staging_dir(dst, "sync")
    tmp = Path(tmp_s)
    fs_dst.mkdirs(tmp)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for st in fs_src.listStatus(src_dir):
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS / CRC side files regenerate
        ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs_src, st.getPath(), fs_dst, Path(f"{tmp_s}/{name}"),
            False, conf,
        )
        if not ok:
            fs_dst.delete(tmp, True)
            raise IOError(f"sync: copy of {name} failed; "
                          f"target partition {partition} untouched")
    swap_in_dir(fs_dst, Path, tmp_s, dst, "sync")
    return "synced"


def refresh_digest_tier(
    spark: SparkSession,
    store_path: str,
    digest_path: str,
    bucket_s: int = 86_400,
    days: list[str] | None = None,
    channel_col: str = "event_type",
    value_col: str = "value",
    target_files: int = 1,
) -> dict:
    """Materialize (or day-scope-refresh) the q77 content digest as a
    dt=-partitioned table beside the store — the MONITORING tier of
    the digest/repair loop: a periodic replica comparison then reads
    two KB-sized digest TABLES (`digest-diff --materialized`) instead
    of re-scanning both stores, so the cadence of "did my replica
    drift" checks is decoupled from store size. After an ``amend``,
    the tier is stale for exactly the amended days; ``days=[...]``
    recomputes only those partitions from the store and installs each
    through :func:`install_partition` — untouched tier partitions are
    never listed, read, or rewritten. The day filter goes on the
    store's ``dt`` PARTITION column alone when present so Catalyst
    prunes the scan to that one directory — a ``to_date(ts)``
    predicate is a data-column filter with zero PartitionFilters that
    plans tasks over every day's files, and is session-timezone
    dependent besides (plan-pinned). ``days=None`` rebuilds the whole tier.
    ``bucket_s`` must divide 86400 so no digest bucket spans a day
    boundary. ``target_files`` sets the per-day output fan-out
    (default 1 — today's layout; same knob as
    :func:`compact_partition`).

    The tier root carries a ``_digest_meta.json`` sidecar recording
    ``bucket_s``/``channel_col``/``value_col`` (underscore-prefixed,
    so parquet readers ignore it): a day-scoped refresh against a tier
    built with DIFFERENT parameters raises instead of silently mixing
    bucket widths, and ``digest-diff --materialized`` uses it to
    refuse comparing incompatible tiers.

    A day whose store partition vanished drops its tier partition.
    Same arithmetic as :func:`operators.range_stats.range_digest`
    (q77), so a refreshed day is bit-identical to a full recompute of
    that day (test-pinned). Returns {day: n_cells}.

    Freshness contract: the tier proves drift only as of its own
    refresh — REPAIR's convergence proof deliberately re-digests the
    stores themselves (cli.cmd_repair), never this table; a stale
    materialized digest must not be able to fake convergence.
    """
    if int(bucket_s) <= 0 or 86_400 % int(bucket_s) != 0:
        raise ValueError(
            f"refresh_digest_tier: bucket_s={bucket_s} must be a "
            "positive divisor of 86400 — a digest bucket would span a "
            "day boundary and a day-scoped refresh would be wrong"
        )
    from etsd_time_series_database_spark.operators.range_stats import (
        range_digest,
    )

    store = spark.read.parquet(store_path)
    meta = {
        "bucket_s": int(bucket_s),
        "channel_col": channel_col,
        "value_col": value_col,
    }

    def digest(df: DataFrame) -> DataFrame:
        return range_digest(
            df, bucket_s=bucket_s, channel=channel_col, value=value_col
        )

    if days is None:
        full = digest(store).withColumn(
            "dt", F.to_date(F.timestamp_micros("bucket_us"))
        )
        if int(target_files) > 1:
            # spread each day across up to target_files write tasks —
            # deterministic (channel, bucket)-hash salt, so the
            # fan-out knob works for the full rebuild exactly as for a
            # --days refresh without the round-robin+partitionBy
            # anti-pattern (every task holding a writer for every day)
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
                    F.abs(F.hash(channel_col, "bucket_us")),
                    F.lit(int(target_files)),
                ),
            )
        else:
            full = full.repartition("dt")
        (
            full.sortWithinPartitions(channel_col, "bucket_us")
            .write.mode("overwrite")
            .partitionBy("dt")
            .parquet(digest_path)
        )
        write_digest_tier_meta(spark, digest_path, meta)
        out = spark.read.parquet(digest_path)
        return {
            r.dt.isoformat(): r.n
            for r in out.groupBy("dt").count().withColumnRenamed(
                "count", "n"
            ).collect()
        }
    fs, Path = _hadoop_fs(spark, digest_path)
    existing = read_digest_tier_meta(spark, digest_path)
    if existing is not None and existing != meta:
        raise ValueError(
            f"refresh_digest_tier: tier {digest_path} was built with "
            f"{existing} but this refresh asked for {meta} — a "
            "day-scoped refresh with different parameters would mix "
            "bucket widths inside one tier; rebuild it (days=None) to "
            "change parameters"
        )
    if existing is None and fs.exists(Path(digest_path)):
        # pre-sidecar tier: validate the claimed bucket against the
        # existing buckets' alignment before adopting it as the meta —
        # stamping an unvalidated claim would lock the wrong bucket in
        # (a FINER claim divides the true buckets and is undetectable
        # from data; the sidecar closes that for new builds)
        if buckets_misaligned(spark, digest_path, bucket_s, "bucket_us"):
            raise ValueError(
                f"refresh_digest_tier: tier {digest_path} holds buckets "
                f"not aligned to bucket_s={bucket_s} — it was built at "
                "a different bucket; pass the tier's own bucket, or "
                "rebuild it (days=None)"
            )
        write_digest_tier_meta(spark, digest_path, meta)
    return {
        d: install_partition(
            digest(day_scoped(store, d))
            .repartition(int(target_files))
            .sortWithinPartitions(channel_col, "bucket_us"),
            f"{digest_path}/dt={d}",
            "digest",
        )
        for d in sorted(days)
    }


def staging_dir(dst: str, kind: str) -> str:
    """A fresh ``__{kind}_{token}`` sibling of ``dst``: where a
    :func:`swap_in_dir` install stages its new copy, and where the
    swap moves the live ``dst`` aside (kind ``old``). The underscore
    prefix hides it from Spark's listing of the enclosing table; the
    token keeps a crashed run's leftovers from colliding with a
    retry's."""
    parent = posixpath.dirname(dst.rstrip("/"))
    return posixpath.join(parent, f"__{kind}_{uuid.uuid4().hex}")


def swap_in_dir(fs, Path, tmp: str, dst: str, label: str) -> None:
    """The crash-safe directory swap every single-dir maintenance verb
    shares (compact, ingest compact, amend, sync, the day-scoped tier
    refreshes via :func:`install_partition`, minhash-index compact,
    incremental-dedup survivors, ivf-compact, the rebalance
    ``_centroids`` rewrite): the new data is FULLY written at ``tmp``
    (a :func:`staging_dir`) before anything destructive happens;
    ``dst`` (if present) moves aside to a ``__old_*`` sibling, ``tmp``
    renames in, the old copy is deleted last. Hadoop rename signals
    most failures by returning FALSE, not raising, so every step
    before a destructive delete is checked: a failed move-aside
    deletes only the temp; a failed install renames the old dir back.
    A crash leaves either the old dir or a rollback-able ``__old_*``
    — the target is never simply absent with no recovery copy, and
    never double-counted. Rename is atomic on HDFS but copy-based on
    S3; serious object-store deployments layer a table format
    (Delta/Iceberg OPTIMIZE) on top — this is the same maintenance
    contract without that dependency.
    """
    old = staging_dir(dst, "old")
    had_old = fs.exists(Path(dst))
    if had_old and not fs.rename(Path(dst), Path(old)):
        fs.delete(Path(tmp), True)
        raise IOError(f"{label}: failed to move {dst} aside")
    if not fs.rename(Path(tmp), Path(dst)):
        if had_old:
            fs.rename(Path(old), Path(dst))
        raise IOError(f"{label}: failed to install {dst}")
    if had_old:
        fs.delete(Path(old), True)


def install_partition(fresh: DataFrame, part_dir: str, kind: str) -> int:
    """Stage ``fresh`` beside ``part_dir``, count the staged copy (a
    readability check before anything destructive) and install it
    with :func:`swap_in_dir` — or, when it holds no rows, drop
    ``part_dir`` rather than install an empty partition (its source
    day vanished, e.g. drained by a cross-day amend). The shared tail
    of the day-scoped tier refreshes. Returns the row count."""
    spark = fresh.sparkSession
    fs, Path = _hadoop_fs(spark, part_dir)
    tmp = staging_dir(part_dir, kind)
    fresh.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    if n == 0:
        fs.delete(Path(tmp), True)
        fs.delete(Path(part_dir), True)
        return 0
    swap_in_dir(fs, Path, tmp, part_dir, f"{kind} refresh")
    return n


def day_scoped(df: DataFrame, day: str) -> DataFrame:
    """Restrict a store scan to one calendar day the PRUNABLE way:
    when the table carries the ``dt`` partition column, filter on it
    (``dt == day``) so Catalyst emits a PartitionFilter and the scan
    lists exactly one ``dt=`` directory — a ``to_date(ts)`` predicate
    alone is a data-column filter with ZERO PartitionFilters that
    plans tasks over (and reads footers of) every day's files, which
    at 100 TB turns "refresh one amended day" into O(store) work. The
    ``dt`` predicate stands ALONE — deliberately no ``to_date(ts)``
    conjunct: ``to_date`` evaluates in the SESSION timezone, so under
    an external non-UTC session a belt-and-braces conjunct would
    silently drop the day's midnight-adjacent rows from the refresh;
    the layout invariant ``dt == to_date(ts)`` (UTC at write time,
    pinned in tests/test_cli.py) already guarantees the partition
    holds exactly the day's rows. Flat tables fall back to the
    ``to_date(ts)`` predicate (session-tz caveat applies there — the
    repo's own sessions pin UTC). ``dt`` is dropped from the result
    so downstream schemas match the flat-store path. Plan-pinned by
    tests/test_plan_shape.py."""
    if "dt" in df.columns:
        return df.filter(F.col("dt") == F.lit(day)).drop("dt")
    return df.filter(F.to_date("ts") == F.lit(day))


def write_meta_sidecar(
    spark: SparkSession, path: str, fname: str, meta: dict
) -> None:
    """Record a derived table's build parameters in an
    underscore-prefixed JSON sidecar at its root. The prefix makes
    parquet readers skip it (Spark's hidden-file convention), and it
    rides the Hadoop FS API so the same sidecar works on
    file:/hdfs:/s3a: tables. Derived tiers (digest, downsample) use it
    to refuse day-scoped refreshes or comparisons with contradicting
    parameters — mixing bucket widths inside one tier produces silent
    garbage that looks exactly like replica drift."""
    import json

    fs, Path = _hadoop_fs(spark, path)
    out = fs.create(Path(f"{path}/{fname}"), True)
    try:
        out.write(bytearray(json.dumps(meta, sort_keys=True).encode()))
    finally:
        out.close()


def read_meta_sidecar(
    spark: SparkSession, path: str, fname: str
) -> dict | None:
    """The JSON sidecar of a derived table, or None for a pre-sidecar
    (or foreign) table. Read through IOUtils — py4j cannot round-trip
    a mutated JVM byte[], so FSDataInputStream's readFully is unusable
    from Python."""
    import json

    fs, Path = _hadoop_fs(spark, path)
    p = Path(f"{path}/{fname}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        jvm = spark.sparkContext._jvm
        txt = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(txt)


def buckets_misaligned(
    spark: SparkSession, path: str, width_s: int, bucket_col: str
) -> bool:
    """True when any existing bucket of the derived table at ``path``
    is NOT aligned to ``width_s`` seconds — the pre-sidecar adoption
    probe shared by the day-scoped refresh paths and the CLI's
    before-any-rewrite guards. ``bucket_col`` may be a timestamp
    (downsample sinks' ``bucket_ts``) or an epoch-micros bigint
    (digest tiers' ``bucket_us``); the probe is a ``limit(1)`` scan,
    never a full materialization. A claimed width FINER than the build
    width divides its buckets and is undetectable from data — the
    sidecar closes that for every table built since it exists; this
    probe is the best possible check for tables that predate it.

    A table without ``bucket_col`` at all is reported misaligned — it
    is definitionally not the kind of derived table the caller thinks
    it is (e.g. a digest tier passed as a downsample sink), and the
    refusal must fire before any rewrite, not as a KeyError."""
    df = spark.read.parquet(path)
    if bucket_col not in df.columns:
        return True
    dtype = dict(df.dtypes)[bucket_col]
    col = (
        F.unix_micros(F.col(bucket_col))
        if dtype.startswith("timestamp")
        else F.col(bucket_col)
    )
    w_us = int(width_s) * 1_000_000
    return bool(df.filter(col % w_us != 0).limit(1).count())


def write_digest_tier_meta(
    spark: SparkSession, tier_path: str, meta: dict
) -> None:
    """Digest-tier sidecar (``_digest_meta.json``): what lets
    ``digest-diff --materialized`` refuse comparing tiers built at
    different ``bucket_s`` up front instead of reporting total
    spurious drift."""
    write_meta_sidecar(spark, tier_path, "_digest_meta.json", meta)


def read_digest_tier_meta(spark: SparkSession, tier_path: str) -> dict | None:
    """The ``_digest_meta.json`` sidecar of a digest tier (None for a
    pre-sidecar or foreign table)."""
    return read_meta_sidecar(spark, tier_path, "_digest_meta.json")


def list_date_partitions(spark: SparkSession, path: str) -> list[str]:
    """The ``dt=YYYY-MM-DD`` partition directory names of a store, via
    the Hadoop FS API (object-store safe). Empty list means the path
    is missing or not a date-partitioned events table."""
    fs, Path = _hadoop_fs(spark, path)
    if not fs.exists(Path(path)):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(Path(path))
        if st.isDirectory() and st.getPath().getName().startswith("dt=")
    )


def drop_partitions_before(
    path: str, cutoff_date: str, spark: SparkSession | None = None
) -> list[str]:
    """Retention: delete date partitions older than ``cutoff_date``
    (YYYY-MM-DD) from a ``dt=``-partitioned table — the reference's
    file rotation (etsdRotate, code/etsdSave.c:80-99; SIGUSR1 hook
    code/etsd.c:31-37) expressed as partition lifecycle. Returns the
    dropped partition names.

    Immutable date partitions make retention an O(#partitions) metadata
    operation — no rewrite of surviving data, same as the reference's
    rename-and-restart rotation but per-day instead of per-file. Goes
    through the Hadoop FS API so the same call works on file:, hdfs:,
    and s3a: tables.
    """
    if spark is None:
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    fs, Path = _hadoop_fs(spark, path)
    dropped = []
    for st in sorted(fs.listStatus(Path(path)), key=lambda s: s.getPath().getName()):
        entry = st.getPath().getName()
        if not entry.startswith("dt="):
            continue
        if entry.split("=", 1)[1] < cutoff_date:
            fs.delete(st.getPath(), True)
            dropped.append(entry)
    return dropped


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed managed table (Hive-style bucketing).

    Bucketing is the Spark answer to the co-located fact-fact join: two
    tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle — at 100 TB that removes the dominant exchange of
    lineitem-x-orders-shaped joins. (The reference never joins — it has
    one table — but a 100 TB deployment of this engine will.)

    ``mode="overwrite"`` is made genuinely idempotent (round 15): a
    process killed mid-write leaves the managed location on disk with
    no metastore entry, and every LATER process (whose fresh metastore
    has never heard of the table) then fails saveAsTable with
    LOCATION_ALREADY_EXISTS — .mode("overwrite") only overwrites
    REGISTERED tables. Drop the registration if any and clear the
    orphaned managed location first — resolved through the catalog
    (the target database's ``locationUri`` plus the table name), so
    an unqualified name under a non-default current database never
    touches a same-named table in another database.
    """
    if mode == "overwrite":
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        db, _, name = table_name.rpartition(".")
        try:
            db_uri = spark.catalog.getDatabase(
                db or spark.catalog.currentDatabase()
            ).locationUri
            loc = f"{db_uri.rstrip('/')}/{name.lower()}"
            fs, Path = _hadoop_fs(spark, loc)
            fs.delete(Path(loc), True)
        except Exception:
            pass  # non-default layouts: saveAsTable reports precisely
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)
