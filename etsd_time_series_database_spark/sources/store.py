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

import base64
import json
import os
import posixpath
import struct
import uuid
from collections.abc import Callable
from datetime import datetime, timezone
from typing import Any, NamedTuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

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


class Footer(NamedTuple):
    """What a Parquet store's footers answer without a Spark job (see
    :func:`read_footer`)."""

    schema: StructType
    names: list[str | None] | None
    files: int  # data files the path holds: 1 for a single file


class StagedCount(NamedTuple):
    """A directory's rows and data files (see :func:`count_staged`)."""

    rows: int
    files: int


def _hidden(name: str) -> bool:
    """Spark's rule for an entry below a table's root
    (``HadoopFSUtils.shouldFilterOutPathName``): a ``.`` name, an
    ``_`` name that is not a ``k=v`` partition directory, or a file
    still being copied is not part of the table."""
    return (
        name.startswith(".")
        or name.startswith("_") and "=" not in name
        or name.endswith("._COPYING_")
    )


def _store_files(fs, root) -> tuple[list[tuple[str, Any]], bool]:
    """(data files, deferred) of the directory store at the Hadoop
    Path ``root``: (path below ``root``, FileStatus) of every file
    Spark's listing of the table reads, sorted by path as its schema
    inference sorts them, and whether Spark reads the store through
    something else than that listing — a Parquet summary file
    (``_metadata``, ``_common_metadata``) or a streaming sink's
    ``_spark_metadata`` commit log at the root. Only entries below the
    root are hidden by :func:`_hidden`, so a ``__{kind}_*`` staging
    root lists its own files."""
    files, deferred, dirs = [], False, [(root, "")]
    while dirs:
        parent, prefix = dirs.pop()
        for st in fs.listStatus(parent):
            path = st.getPath()
            name = path.getName()
            if name.startswith(("_metadata", "_common_metadata")) or (
                not prefix and name == "_spark_metadata"
            ):
                deferred = True
            elif _hidden(name):
                continue
            elif st.isDirectory():
                dirs.append((path, f"{prefix}{name}/"))
            else:
                files.append((prefix + name, st))
    return sorted(files, key=lambda f: f[0]), deferred


def _open_parquet(spark: SparkSession, status):
    """A parquet-hadoop ``ParquetFileReader`` over the file ``status``
    (the caller closes it); its footer is read on open."""
    hadoop = spark._jvm.org.apache.parquet.hadoop
    return hadoop.ParquetFileReader.open(
        hadoop.util.HadoopInputFile.fromStatus(
            status, spark._jsc.hadoopConfiguration()
        )
    )


def read_footer(
    spark: SparkSession, path: str, channel_col: str | None = None
) -> Footer | None:
    """Read a Parquet store's schema from a footer on the driver: the
    analog of reading the ETSD header block (code/etsd.c:41-123), whose
    stored channel names etsdChanNum matches against
    (code/etsdQuery.c:193-203). ``path`` is one file, or a directory
    store (the ingest sink, a ``dt=`` store, a staged copy), whose
    first data file in Spark's listing order (:func:`_store_files`)
    is read, as Spark's inference reads it. None, leaving Spark's own
    inference and errors, for a missing path or a glob, a directory
    without data files, with summary files or a sink commit log, or
    with a visible non-``.parquet`` file, and under
    ``spark.sql.parquet.mergeSchema``. Nothing is cached: every call
    lists the store again.

    ``schema`` is Spark's own footer conversion
    (``ParquetFileFormat.readSchemaFromFooter``) through a converter
    built from the session's CURRENT SQLConf, so it is the schema
    ``spark.read.parquet`` would infer under the same confs; nothing is
    set here. For a directory it is the data schema: given to
    ``spark.read.schema(...)``, Spark appends the partition columns it
    infers from the ``k=v`` directory names. ``names`` is
    ``channel_col``'s value set as ``select(channel_col).distinct()``
    returns it, read from a single file's dictionary pages (None added
    when a chunk counts NULLs); it is None, meaning "scan for them",
    for a directory or unless :func:`_dictionary_names` can prove the
    pages hold exactly the stored values."""
    fs, Path = _hadoop_fs(spark, path)
    jpath = Path(path)
    try:
        status = fs.getFileStatus(jpath)
    except Py4JJavaError as exc:
        missing = "java.io.FileNotFoundException"
        if exc.java_exception.getClass().getName() == missing:
            return None
        raise
    if status.isFile():
        files = [(path, status)]
    else:
        if spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
            return None
        files, deferred = _store_files(fs, jpath)
        if deferred or not files or any(
            not name.endswith(".parquet") for name, _ in files
        ):
            return None
        channel_col = None
    spq = spark._jvm.org.apache.spark.sql.execution.datasources.parquet
    reader = _open_parquet(spark, files[0][1])
    try:
        footer = reader.getFooter()
        converter = spq.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        )
        jschema = spq.ParquetFileFormat.readSchemaFromFooter(
            spark._jvm.org.apache.parquet.hadoop.Footer(jpath, footer),
            converter,
        )
        # nullable, as a relation's inferred data schema is
        schema = StructType.fromJson(json.loads(jschema.asNullable().json()))
        names = (
            None
            if channel_col is None
            else _dictionary_names(spark, reader, footer, schema, channel_col)
        )
        return Footer(schema, names, len(files))
    finally:
        reader.close()


def count_staged(spark: SparkSession, path: str) -> StagedCount:
    """The rows of the directory ``path`` (a staged copy, read back
    before :func:`install_staged` swaps it in) as
    ``spark.read.parquet(path).count()`` counts them, summed from the
    footer record counts of the same data files on the driver: no
    Spark job, and no "All paths were ignored" listing of an
    underscore-prefixed root. A file whose footer does not read raises,
    as the scan would; a directory without data files raises too (Spark
    cannot infer its schema), so a 0 count always means an empty data
    file was written."""
    fs, Path = _hadoop_fs(spark, path)
    files, _ = _store_files(fs, Path(path))
    if not files:
        raise ValueError(f"{path} holds no data file")
    rows = 0
    for _, st in files:
        reader = _open_parquet(spark, st)
        try:
            rows += reader.getRecordCount()
        finally:
            reader.close()
    return StagedCount(rows, len(files))


def _dictionary_names(spark, reader, footer, schema, col):
    """``col``'s distinct values from its dictionary pages, or None
    unless every condition that makes them exact holds: ``col`` is a
    top-level StringType; every chunk has encoding stats with no
    non-dictionary data page (a writer that fell back to PLAIN
    mid-chunk stored values outside the dictionary) and a null count;
    and the footer's ``ARROW:schema``, when present, does not declare
    ``col`` dictionary-typed (Arrow writes a DictionaryArray's unused
    entries into the page)."""
    field = next((f for f in schema.fields if f.name == col), None)
    if field is None or field.dataType != StringType():
        return None
    meta = footer.getFileMetaData()
    arrow = meta.getKeyValueMetaData().get("ARROW:schema")
    if arrow is not None and _arrow_declares_dictionary(arrow, col):
        return None
    jcol = spark.sparkContext._gateway.new_array(spark._jvm.java.lang.String, 1)
    jcol[0] = col
    pschema = meta.getSchema()
    desc = pschema.getColumnDescription(jcol)
    # a row group's column chunks follow the schema's leaf order
    leaf = pschema.getColumns().indexOf(desc)
    names: dict[str | None, None] = {}
    blocks = footer.getBlocks()
    for i in range(blocks.size()):
        chunk = blocks.get(i).getColumns().get(leaf)
        encodings, stats = chunk.getEncodingStats(), chunk.getStatistics()
        if (
            encodings is None
            or encodings.hasNonDictionaryEncodedPages()
            or stats is None
            or not stats.isNumNullsSet()
        ):
            return None
        page = reader.getDictionaryReader(i).readDictionaryPage(desc)
        if page is None:
            return None
        try:
            names.update(
                dict.fromkeys(
                    _plain_strings(
                        bytes(page.getBytes().toByteArray()),
                        page.getDictionarySize(),
                    )
                )
            )
        except UnicodeDecodeError:
            return None
        if stats.getNumNulls() > 0:
            names[None] = None
    return list(names)


def _arrow_declares_dictionary(arrow_schema: str, col: str) -> bool:
    """Whether a footer's base64 ``ARROW:schema`` declares ``col``
    dictionary-typed (or cannot say: ``col`` is missing or repeated)."""
    import pyarrow as pa

    declared = pa.ipc.read_schema(pa.py_buffer(base64.b64decode(arrow_schema)))
    i = declared.get_field_index(col)
    return i < 0 or pa.types.is_dictionary(declared.field(i).type)


def _plain_strings(raw: bytes, n: int) -> list[str]:
    """Decode ``n`` PLAIN-encoded BYTE_ARRAY values (4-byte
    little-endian length, then the bytes): a dictionary page's body."""
    out, off = [], 0
    for _ in range(n):
        (size,) = struct.unpack_from("<i", raw, off)
        out.append(raw[off + 4 : off + 4 + size].decode())
        off += 4 + size
    return out


def read_parquet(
    spark: SparkSession, path: str, footer: Footer | None
) -> DataFrame:
    """``spark.read.parquet(path)`` with ``footer``'s schema (the
    :func:`read_footer` of ``path``) given up front: no
    schema-inference job. ``footer`` None keeps Spark's inference."""
    reader = spark.read if footer is None else spark.read.schema(footer.schema)
    return reader.parquet(path)


def raw_ts_micros_divisor(spark: SparkSession, path: str) -> int:
    """Divisor that turns ``path``'s RAW int64 ts into epoch micros —
    the same :func:`_ts_kind` probe :func:`load_table` converts with,
    shared so other readers (e.g. the streaming replay entries, which
    must declare an explicit int64 schema) cannot drift from it:
    nanos divide by 1000; naive micros pass through."""
    _ensure_ts_confs(spark)
    kind = _ts_kind(read_parquet(spark, path, read_footer(spark, path)))
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
    (the analog of reading the ETSD header block, code/etsd.c:41-123),
    read on the driver by :func:`read_footer` for a single file: no
    Spark job.

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
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path, read_footer(spark, path))
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
    largest-width-first stream sort (code/etsdCmd.c:167-185). The sort
    leads with ``dt``: Spark's planned write sorts a partitioned
    write's tasks by the partition columns, and a caller sort that
    does not already satisfy that ordering is dropped as redundant.
    """
    (
        df.withColumn("dt", F.to_date(F.col(partition_col)))
        .repartition(F.col("dt"))
        .sortWithinPartitions("dt", "event_type", partition_col)
        .write.mode(mode)
        .partitionBy("dt")
        .parquet(path)
    )


def read_events_table(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path, read_footer(spark, path)).drop("dt")


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
    ``target_files`` sorted files, installed with :func:`install_staged`.
    Returns the number of data files before compaction, from the
    listing the footer read makes.

    Only safe on partitions no longer receiving appends (i.e. past the
    ingest watermark) — same contract as the reference's rotation
    touching only the closed file (code/etsdSave.c:80-99).
    """
    part_dir = f"{path}/{partition}"
    footer = read_footer(spark, part_dir)
    df = read_parquet(spark, part_dir, footer)
    install_staged(
        spark, part_dir, "compact",
        df.repartition(target_files)
        .sortWithinPartitions(*[c for c in sort_cols if c in df.columns])
        .write.parquet,
    )
    return footer.files if footer else len(df.inputFiles())


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
    :func:`install_staged`.

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
        merged = merged.repartition(int(target_files)).sortWithinPartitions(
            *[c for c in sort_cols if c in merged.columns]
        )

        def write(tmp: str) -> int:
            merged.write.parquet(tmp)
            return count_staged(spark, tmp).rows

        stats["partitions"][part] = install_staged(
            spark, part_dir, "amend", write
        )
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
    into a temp dir and installed with :func:`install_staged`. A
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
    copy = spark._jvm.org.apache.hadoop.fs.FileUtil.copy
    conf = spark._jsc.hadoopConfiguration()

    def write(tmp: str) -> None:
        fs_dst.mkdirs(Path(tmp))
        for st in fs_src.listStatus(src_dir):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue  # _SUCCESS / CRC side files regenerate
            if not copy(fs_src, st.getPath(), fs_dst, Path(f"{tmp}/{name}"),
                        False, conf):
                raise IOError(f"sync: copy of {name} failed; "
                              f"target partition {partition} untouched")

    install_staged(spark, dst, "sync", write)
    return "synced"


class DerivedTier(NamedTuple):
    """One kind of derived ``dt=`` tier re-derived from an
    authoritative store (the reference's recoverRRD,
    code/etsdCmd.c:648-656, with buckets per the RRA spec,
    code/plugins/edoRRD.c:44-74): what :func:`check_derived_tier` and
    :func:`refresh_derived_tier` need to know about it."""

    name: str  # messages, and the staging-dir kind of a day install
    sidecar: str  # parameter sidecar at the tier root
    width_key: str  # meta key holding the bucket width in seconds
    bucket_col: str  # bucket start: a timestamp or epoch-micros bigint
    verb: str  # the CLI verb that builds the whole tier


DOWNSAMPLE_TIER = DerivedTier(
    "downsample", "_downsample_meta.json", "width_s", "bucket_ts",
    "recover --partitioned",
)
DIGEST_TIER = DerivedTier(
    "digest", "_digest_meta.json", "bucket_s", "bucket_us", "digest-tier"
)


def check_derived_tier(
    spark: SparkSession,
    tier: DerivedTier,
    path: str,
    meta: dict,
    rebuild: bool = False,
) -> bool:
    """The derived-tier contract, checked before anything is written:
    :func:`refresh_derived_tier` runs it first, and ``amend`` runs it
    for every chained tier before it rewrites the store. Raises
    ValueError, in this order, when

    1. the width ``meta[tier.width_key]`` is not a positive divisor of
       86400 — a bucket spanning midnight would make a day-scoped
       rewrite drop the neighbor day's share;
    2. the tier exists but is not ``dt=``-partitioned — day
       directories beside flat part files break every read;
    3. the tier's parameter sidecar differs from ``meta`` — a day
       refreshed with other parameters would mix bucket widths (or
       channel/value columns) inside one tier;
    4. the tier has no sidecar (it predates them) and holds buckets
       not aligned to the width (:func:`buckets_misaligned`) — adopting
       an unvalidated claim would lock the wrong width in for every
       later refresh.

    ``rebuild=True`` (a whole-tier rewrite) checks the width alone:
    the rebuild replaces layout, parameters and buckets. ``meta``'s
    keys are the refresh function's own keyword names, so a caller can
    check a meta and then refresh with ``**meta``. Returns True when
    the tier exists without a sidecar and passed check 4 — the refresh
    then stamps ``meta`` before its first write."""
    width = int(meta[tier.width_key])
    redo = (
        "rebuild the whole tier (days=None; CLI "
        f"`{tier.verb}` without --days)"
    )
    if width <= 0 or 86_400 % width != 0:
        raise ValueError(
            f"{tier.name} tier: {tier.width_key}={width} must be a "
            "positive divisor of 86400 — a bucket would span a day "
            "boundary and a day-scoped refresh would lose the neighbor "
            "day's rows"
        )
    fs, Path = _hadoop_fs(spark, path)
    if rebuild or not fs.exists(Path(path)):
        return False
    if not list_date_partitions(spark, path):
        raise ValueError(
            f"{tier.name} tier {path} exists but is not a "
            "dt=-partitioned table (a flat replay sink?) — a day-scoped "
            f"refresh would mix layouts; {redo} first"
        )
    existing = read_meta_sidecar(spark, path, tier.sidecar)
    if existing is not None:
        if existing != meta:
            raise ValueError(
                f"{tier.name} tier {path} was built with {existing} but "
                f"this refresh asked for {meta} — a day-scoped refresh "
                "with other parameters would mix them inside one tier; "
                f"pass the tier's own, or {redo} to change them"
            )
        return False
    if buckets_misaligned(spark, path, width, tier.bucket_col):
        raise ValueError(
            f"{tier.name} tier {path} has no {tier.sidecar} and holds "
            f"buckets not aligned to {tier.width_key}={width} — it was "
            "built at a different width; pass the tier's own, or "
            f"{redo}"
        )
    return True


def refresh_derived_tier(
    spark: SparkSession,
    tier: DerivedTier,
    path: str,
    meta: dict,
    source: DataFrame,
    derive: Callable[[DataFrame], DataFrame],
    channel: str,
    days: list[str] | None,
    target_files: int,
    project: Callable[[DataFrame, list[str]], DataFrame] | None = None,
) -> dict:
    """Rebuild (``days=None``) or day-refresh the derived tier at
    ``path`` from the ``source`` store: the shared body of
    :func:`refresh_digest_tier` and
    :func:`streaming.ingest.refresh_downsample`, which supply only the
    ``meta`` their sidecar records and ``derive`` (source rows -> tier
    rows keyed by ``channel`` and ``tier.bucket_col``). Runs
    :func:`check_derived_tier` first.

    A full rebuild writes the tier partitioned by bucket day, stamps
    the sidecar, installs both with :func:`install_staged` and reads
    the result back for its per-day counts. With ``target_files > 1``
    each day fans out over up to that many write tasks through a
    deterministic (channel, bucket)-hash salt — not
    round-robin+partitionBy, where every task holds a writer for every
    day — under an explicit partition count: a column-only repartition
    is advisory, and AQE would coalesce the small shuffle back into one
    task per day, undoing the salt.

    A day refresh recomputes each named day from ``day_scoped(source,
    day)`` (partition-pruned) into ``target_files`` files, counts the
    staged copy from its footers (:func:`count_staged`) and installs it
    with :func:`install_staged`; untouched days are never listed, read
    or rewritten. A day whose source
    vanished (0 staged rows, e.g. drained by a cross-day amend) drops
    its partition after the install; a crash between the two leaves an
    empty day, which the next refresh of that day drops again. Both
    paths run the same ``derive``, so a refreshed day is bit-identical
    to a full rebuild of it. ``project(fresh, tier_columns)``, when
    given, maps each fresh day onto an existing tier's columns.
    Returns {day: rows}."""
    adopt = check_derived_tier(spark, tier, path, meta, rebuild=days is None)
    bucket = tier.bucket_col
    if days is None:
        full = derive(source)
        start = F.col(bucket)
        if not dict(full.dtypes)[bucket].startswith("timestamp"):
            start = F.timestamp_micros(start)
        full = full.withColumn("dt", F.to_date(start))
        if int(target_files) > 1:
            n_part = int(
                spark.conf.get("spark.sql.shuffle.partitions", "200")
            )
            full = full.repartition(
                n_part,
                F.col("dt"),
                F.pmod(
                    F.abs(F.hash(channel, bucket)), F.lit(int(target_files))
                ),
            )
        else:
            full = full.repartition("dt")
        # led by dt, or the planned write's dt sort drops it
        full = full.sortWithinPartitions("dt", channel, bucket)

        def rebuild(tmp: str) -> None:
            full.write.partitionBy("dt").parquet(tmp)
            write_meta_sidecar(spark, tmp, tier.sidecar, meta)

        install_staged(spark, path, tier.name, rebuild)
        out = spark.read.parquet(path).groupBy("dt").count()
        return {r.dt.isoformat(): r["count"] for r in out.collect()}
    if adopt:
        write_meta_sidecar(spark, path, tier.sidecar, meta)
    fs, Path = _hadoop_fs(spark, path)
    tier_cols = None
    if project is not None and fs.exists(Path(path)):
        tier_cols = spark.read.parquet(path).columns
    stats: dict = {}
    for d in sorted(days):
        fresh = (
            derive(day_scoped(source, d))
            .repartition(int(target_files))
            .sortWithinPartitions(channel, bucket)
        )
        if tier_cols is not None:
            fresh = project(fresh, tier_cols)

        def write(tmp: str) -> int:
            fresh.write.parquet(tmp)
            return count_staged(spark, tmp).rows

        part_dir = f"{path}/dt={d}"
        stats[d] = install_staged(spark, part_dir, tier.name, write)
        if stats[d] == 0:
            fs.delete(Path(part_dir), True)
    return stats


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
    """Materialize (or day-refresh) the q77 content digest as a
    dt=-partitioned tier beside the store — the MONITORING tier of the
    digest/repair loop: a periodic replica comparison then reads two
    KB-sized digest TABLES (`digest-diff --materialized`) instead of
    re-scanning both stores, so the cadence of "did my replica drift"
    checks is decoupled from store size. After an ``amend`` the tier
    is stale for exactly the amended days; ``days=[...]`` recomputes
    only those. Same arithmetic as
    :func:`operators.range_stats.range_digest` (q77). The
    ``_digest_meta.json`` sidecar records ``bucket_s``/``channel_col``/
    ``value_col``; ``digest-diff --materialized`` also reads it to
    refuse comparing incompatible tiers. Rules, layout and
    ``target_files``: :func:`refresh_derived_tier`. Returns
    {day: n_cells}.

    Freshness contract: the tier proves drift only as of its own
    refresh — REPAIR's convergence proof deliberately re-digests the
    stores themselves (cli.cmd_repair), never this table; a stale
    materialized digest must not be able to fake convergence.
    """
    from etsd_time_series_database_spark.operators.range_stats import (
        range_digest,
    )

    return refresh_derived_tier(
        spark,
        DIGEST_TIER,
        digest_path,
        {"bucket_s": int(bucket_s), "channel_col": channel_col,
         "value_col": value_col},
        spark.read.parquet(store_path),
        lambda df: range_digest(
            df, bucket_s=bucket_s, channel=channel_col, value=value_col
        ),
        channel_col,
        days,
        target_files,
    )


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
    shares (see :func:`install_staged`; ivf-compact swaps each cell
    with it): the new data is FULLY written at ``tmp``
    (a :func:`staging_dir`) before anything destructive happens;
    ``dst`` (if present) moves aside to a ``__old_*`` sibling, ``tmp``
    renames in, the old copy is deleted last. Hadoop rename signals
    most failures by returning FALSE, not raising, so every step
    before a destructive delete is checked: a failed move-aside
    deletes only the temp; a failed install renames the old dir back,
    then deletes the temp.
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
        # a failed rollback keeps tmp: with dst absent, old and tmp are
        # the copies left to recover from
        if not had_old or fs.rename(Path(old), Path(dst)):
            fs.delete(Path(tmp), True)
        raise IOError(f"{label}: failed to install {dst}")
    if had_old:
        fs.delete(Path(old), True)


def install_staged(
    spark: SparkSession, dst: str, kind: str, write: Callable[[str], Any]
) -> Any:
    """Replace the directory ``dst`` with what ``write(tmp)`` puts at
    a fresh :func:`staging_dir` of ``kind``, installed with
    :func:`swap_in_dir`; returns what ``write`` returns (e.g. a count
    of the staged copy, read back before anything destructive). A
    ``write`` that raises deletes the staging copy and leaves ``dst``
    as it was — an overwrite onto the live path would leave an empty
    directory. Every single-directory rewrite goes through here:
    compact, ingest compact, amend, sync, the derived-tier rebuilds
    and day refreshes, the tier ladder, minhash-index compact, the
    incremental-dedup survivors and the rebalance ``_centroids``."""
    fs, Path = _hadoop_fs(spark, dst)
    tmp = staging_dir(dst, kind)
    try:
        out = write(tmp)
    except Exception:
        fs.delete(Path(tmp), True)
        raise
    swap_in_dir(fs, Path, tmp, dst, kind)
    return out


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
    probe of :func:`check_derived_tier`. ``bucket_col`` may be a timestamp
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
