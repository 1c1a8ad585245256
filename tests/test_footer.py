"""The Parquet footer reader (``sources.store.read_footer``) and the
Spark jobs it replaces: a single file's schema, its channel names and
the CLI's ``begin`` come from the footer or on demand, so an
interactive ``query`` with absolute bounds runs only its own two
result jobs, and ``load_table`` of a single file runs none."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from etsd_time_series_database_spark import cli
from etsd_time_series_database_spark.sources import store
from tests.conftest import SF_SMOKE

EVENTS = f"{SF_SMOKE}/events.parquet"
SF01 = os.path.join(os.path.dirname(SF_SMOKE.rstrip("/")), "sf0.01")
TS_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
DAY0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
WINDOW = ["-s", "2024-01-01 00:00:00", "-e", "2024-01-01 00:05:00"]


def _jobs(spark, fn):
    """(number of Spark jobs ``fn`` ran, its result), counted by the
    status tracker in a job group of its own."""
    sc = spark.sparkContext
    group = f"footer-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _query(spark, capsys, path, *argv):
    assert cli.main(["query", path, *argv], spark=spark) == 0
    return capsys.readouterr().out


def _events_file(path, channels, **write_kw):
    """One row a minute from 2024-01-01 00:00, channel per row."""
    n = len(channels)
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(
                    [DAY0_US + i * 60_000_000 for i in range(n)],
                    type=pa.timestamp("us"),
                ),
                "event_type": channels,
                "value": pa.array([float(i) for i in range(n)]),
            }
        ),
        path,
        **write_kw,
    )
    return path


def test_query_with_absolute_range_runs_two_jobs(spark, capsys):
    """Schema, channel names and ``begin`` cost no job: what remains
    is the result's own aggregation and collection (7 jobs before)."""
    n, rc = _jobs(
        spark,
        lambda: cli.main(
            ["query", EVENTS, "-s", "2020-01-01", "-e", "2030-01-01",
             "-c", "click"],
            spark=spark,
        ),
    )
    assert rc == 0
    assert "click" in capsys.readouterr().out
    assert n == 2


def test_load_table_of_a_single_file_runs_no_job(spark):
    n, df = _jobs(
        spark,
        lambda: store.load_table(
            spark, SF_SMOKE, "events", ts_range=("2024-01-01", "2024-02-01")
        ),
    )
    assert n == 0
    assert "ts" in df.columns


def _schema_or_error(read):
    try:
        return read().schema
    except AnalysisException as exc:
        return exc.getCondition()


@pytest.mark.parametrize("confs", ["vanilla", "ts_confs"])
def test_footer_schema_equals_inferred_schema(spark, tmp_path, confs):
    """For every sf0.01 table, a TIMESTAMP(NANOS) file and a file with
    a REQUIRED column, the footer schema is the schema
    ``spark.read.parquet`` infers under the same session confs, or both
    reads fail alike: in a session with the default confs and after
    ``_ensure_ts_confs``."""
    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], type=pa.timestamp("ns")),
                  "v": [1.0, 2.0]}),
        nanos,
    )
    required = str(tmp_path / "required.parquet")
    pq.write_table(
        pa.table(
            {"id": [1, 2]},
            schema=pa.schema([pa.field("id", pa.int64(), nullable=False)]),
        ),
        required,
    )
    paths = [f"{SF01}/{t}.parquet" for t in store.TABLES] + [nanos, required]
    saved = {k: spark.conf.get(k, None) for k in TS_CONFS}
    try:
        for k in TS_CONFS:
            spark.conf.unset(k)
        if confs == "ts_confs":
            store._ensure_ts_confs(spark)
        for p in paths:
            want = _schema_or_error(lambda: spark.read.parquet(p))
            assert _schema_or_error(lambda: store.read_footer(spark, p)) == want, p
            assert _schema_or_error(
                lambda: store.read_parquet(spark, p, store.read_footer(spark, p))
            ) == want, p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_footer_is_none_where_spark_infers(spark, tmp_path):
    """A missing path, a glob, a directory without a visible data file,
    one with a sink commit log or a visible non-parquet file, and any
    directory under ``mergeSchema`` keep Spark's own inference."""
    assert store.read_footer(spark, str(tmp_path / "absent")) is None
    hidden = str(tmp_path / "hidden")
    spark.range(3).write.parquet(f"{hidden}/_x")
    assert store.read_footer(spark, hidden) is None
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(hidden)
    d = str(tmp_path / "dir")
    spark.range(3).write.parquet(d)
    assert store.read_footer(spark, f"{d}/*.parquet") is None
    assert store.read_footer(spark, d, "id").names is None
    conf = "spark.sql.parquet.mergeSchema"
    spark.conf.set(conf, "true")
    try:
        assert store.read_footer(spark, d) is None
    finally:
        spark.conf.unset(conf)
    os.makedirs(f"{d}/_spark_metadata")
    assert store.read_footer(spark, d) is None
    os.rmdir(f"{d}/_spark_metadata")
    open(f"{d}/notes.txt", "w").close()
    assert store.read_footer(spark, d) is None


def _ingest_sink(spark, path, days=1, epochs=3):
    """``epochs`` one-minute commits into each of ``days`` days."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.streaming.ingest import (
        write_ingest_epoch,
    )

    for e in range(days * epochs):
        day, i = divmod(e, epochs)
        write_ingest_epoch(
            spark.createDataFrame(
                [(f"2026-01-{day + 1:02d} 00:{i:02d}:{j:02d}", "s", f"c{j}",
                  float(j), j) for j in range(5)],
                "ts string, source string, channel string, value double, "
                "status int",
            ).withColumn("ts", F.to_timestamp("ts")),
            e, path,
        )
    return path


def _directory_store(spark, tmp_path, layout):
    from etsd_time_series_database_spark.streaming.ingest import (
        compact_ingest_partition,
    )

    root = str(tmp_path / "store")
    if layout == "ingest_mid_day":
        return _ingest_sink(spark, root)
    if layout == "ingest_compacted_day":
        _ingest_sink(spark, root, days=2)
        compact_ingest_partition(spark, root, "dt=2026-01-01")
        return root
    if layout == "dt_store":
        store.create_events_table(
            store.load_table(spark, SF_SMOKE, "events"), root
        )
        return root
    # a staged copy: the root itself is underscore-prefixed, and its
    # hidden entries (a side table, a half-copied file) stay unread
    tmp = store.staging_dir(f"{root}/dt=2026-01-01", "compact")
    spark.range(7).selectExpr("id", "id * 0.5 AS v").write.parquet(tmp)
    spark.range(3).selectExpr("'x' AS id").write.parquet(f"{tmp}/_meta")
    open(f"{tmp}/a._COPYING_", "w").close()
    return tmp


LAYOUTS = ["ingest_mid_day", "ingest_compacted_day", "dt_store", "staging_root"]


@pytest.mark.parametrize("layout", LAYOUTS)
def test_directory_footer_schema_equals_inferred_schema(
    spark, tmp_path, layout
):
    """A directory store's footer schema, given to ``read_parquet``,
    is the schema Spark infers, partition columns included; the footer
    counts the data files Spark lists."""
    path = _directory_store(spark, tmp_path, layout)
    want = spark.read.parquet(path)
    n, footer = _jobs(spark, lambda: store.read_footer(spark, path))
    assert n == 0
    assert footer.files == len(want.inputFiles())
    data = [f for f in want.schema.fields if f.name not in ("dt", "__epoch")]
    assert footer.schema.fields == data
    assert store.read_parquet(spark, path, footer).schema == want.schema


@pytest.mark.parametrize("layout", LAYOUTS)
def test_staged_count_equals_the_scan(spark, tmp_path, layout):
    path = _directory_store(spark, tmp_path, layout)
    n, staged = _jobs(spark, lambda: store.count_staged(spark, path))
    assert n == 0
    assert staged == (
        spark.read.parquet(path).count(), len(spark.read.parquet(path).inputFiles())
    )


def test_staged_count_of_empty_and_corrupt_copies(spark, tmp_path):
    """A 0-row write leaves an empty data file, counted 0 as the scan
    counts it; a partitioned 0-row write leaves none, and both reads
    raise; a corrupt footer raises before an install swaps anything."""
    empty = str(tmp_path / "__empty")
    spark.range(0).write.parquet(empty)
    assert store.count_staged(spark, empty) == (0, 1)
    assert spark.read.parquet(empty).count() == 0
    none = str(tmp_path / "__none")
    spark.range(0).selectExpr("id", "1 AS k").write.partitionBy("k").parquet(none)
    with pytest.raises(ValueError, match="no data file"):
        store.count_staged(spark, none)
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(none).count()

    live = str(tmp_path / "live")
    spark.range(4).write.parquet(live)

    def corrupt(tmp):
        spark.range(9).write.parquet(tmp)
        f = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.remove(os.path.join(tmp, f".{f}.crc"))  # past the checksum
        with open(os.path.join(tmp, f), "r+b") as fh:
            fh.seek(-8, os.SEEK_END)
            fh.write(b"\0" * 8)
        return store.count_staged(spark, tmp)

    with pytest.raises(Exception, match="not a Parquet file|magic number"):
        store.install_staged(spark, live, "compact", corrupt)
    assert spark.read.parquet(live).count() == 4
    assert not [p for p in os.listdir(tmp_path) if p.startswith("__compact")]


def test_ingest_read_and_compaction_run_no_metadata_job(spark, tmp_path):
    """Reading the sink runs no job (1 schema-inference job before);
    compacting a day runs only its write's 2 jobs (6 before: an
    inference job and a read-back count as well)."""
    from etsd_time_series_database_spark.streaming.ingest import (
        compact_ingest_partition,
        read_ingest_table,
    )

    path = _ingest_sink(spark, str(tmp_path / "sink"), days=2)
    n, df = _jobs(spark, lambda: read_ingest_table(spark, path))
    assert n == 0
    assert df.columns == ["ts", "source", "channel", "value", "status"]
    n, stats = _jobs(
        spark, lambda: compact_ingest_partition(spark, path, "dt=2026-01-01")
    )
    assert n == 2
    assert stats == {"files_before": 3, "files_after": 1, "rows": 15}
    assert read_ingest_table(spark, path).count() == 30


def test_plain_string_column_names_come_from_the_footer(spark, tmp_path, capsys):
    p = _events_file(str(tmp_path / "e.parquet"), ["a", "b", "c", "b"] * 3)
    n, footer = _jobs(spark, lambda: store.read_footer(spark, p, "event_type"))
    assert n == 0
    assert sorted(footer.names) == ["a", "b", "c"]
    out = _query(spark, capsys, p, *WINDOW, "-c", "B", "-q", "cnt")
    assert "|b " in out and "|a " not in out


def test_unused_arrow_dictionary_entry_falls_back_to_a_scan(
    spark, tmp_path, capsys
):
    """Arrow writes a DictionaryArray's unused entry into the
    dictionary page, so the footer's names would include a channel no
    row holds: the reader declines and the scan decides."""
    chans = pa.DictionaryArray.from_arrays(
        pa.array([0, 0, 2] * 4, type=pa.int32()),
        pa.array(["a", "phantom", "c"]),
    )
    p = _events_file(str(tmp_path / "dict.parquet"), chans)
    assert store.read_footer(spark, p, "event_type").names is None
    with pytest.raises(ValueError, match="no channel matches 'phantom'"):
        cli.main(["query", p, *WINDOW, "-c", "phantom"], spark=spark)
    plain = _events_file(str(tmp_path / "plain.parquet"), ["a", "a", "c"] * 4)
    assert _query(spark, capsys, p, *WINDOW, "-c", "a") == _query(
        spark, capsys, plain, *WINDOW, "-c", "a"
    )


def test_non_dictionary_pages_fall_back_with_the_same_output(
    spark, tmp_path, capsys
):
    chans = ["click", "view", "click", "error"] * 3
    dict_p = _events_file(str(tmp_path / "d.parquet"), chans)
    plain_p = _events_file(
        str(tmp_path / "p.parquet"), chans, use_dictionary=False
    )
    assert store.read_footer(spark, plain_p, "event_type").names is None
    for argv in (["-c", "i"], ["-c", "VIEW", "-q", "tot"]):
        assert _query(spark, capsys, plain_p, *WINDOW, *argv) == _query(
            spark, capsys, dict_p, *WINDOW, *argv
        )


def test_dictionary_fallback_mid_chunk_falls_back_to_a_scan(
    spark, tmp_path, capsys
):
    """A writer whose dictionary outgrew its page limit stores the
    later values in PLAIN pages, outside the dictionary page: the
    footer's encoding stats show it, and the scan finds the value."""
    chans = [f"ch{i:03d}" for i in range(200)]
    p = _events_file(
        str(tmp_path / "fallback.parquet"), chans,
        dictionary_pagesize_limit=64, data_page_size=64, write_batch_size=8,
    )
    assert store.read_footer(spark, p, "event_type").names is None
    out = _query(
        spark, capsys, p, "-s", "2024-01-01", "-e", "2024-01-02",
        "-c", "ch150", "-q", "cnt",
    )
    assert "|ch150 " in out


def test_null_channel_matches_the_distinct_path(spark, tmp_path, capsys):
    """A NULL-bearing channel column: the footer's names carry None,
    so output and errors equal the ``distinct()`` path's — including
    ``'none'`` matching the NULL channel."""
    chans = ["a", None, "b", None] * 3
    dict_p = _events_file(str(tmp_path / "d.parquet"), chans)
    scan_p = _events_file(str(tmp_path / "s.parquet"), chans, use_dictionary=False)
    assert set(store.read_footer(spark, dict_p, "event_type").names) == {
        "a", "b", None,
    }
    assert store.read_footer(spark, scan_p, "event_type").names is None
    for argv in (["-c", "a"], ["-c", "none"], ["-c", "b", "-c", "NONE"]):
        assert _query(spark, capsys, dict_p, *WINDOW, *argv) == _query(
            spark, capsys, scan_p, *WINDOW, *argv
        )
    errors = []
    for p in (dict_p, scan_p):
        with pytest.raises(ValueError, match="no channel matches") as exc:
            cli.main(["query", p, *WINDOW, "-c", "zzz"], spark=spark)
        errors.append(str(exc.value))
    assert errors[0] == errors[1]


@pytest.mark.parametrize(
    "argv",
    [
        ["-s", "begin", "-e", "begin+5m"],
        ["-e", "2024-01-01 00:05:00"],
        ["-s", "end-5m", "-e", "begin+5m"],
    ],
    ids=["begin", "no_start", "xref"],
)
def test_begin_still_resolves_against_min_ts(spark, tmp_path, capsys, argv):
    """``begin`` is computed only on demand, but ``-s begin`` and a
    missing ``-s`` still resolve against the table's min(ts)."""
    p = _events_file(str(tmp_path / "e.parquet"), ["a", "b"] * 10)
    assert _query(spark, capsys, p, *argv, "-q", "cnt") == _query(
        spark, capsys, p, *WINDOW, "-q", "cnt"
    )
