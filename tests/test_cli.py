"""CLI verb tests (the etsdCmd analog), run in-process against the
session fixture so no extra JVM spins up."""

from __future__ import annotations

import pytest

from etsd_time_series_database_spark import cli
from tests.conftest import SF_SMOKE

EVENTS = f"{SF_SMOKE}/events.parquet"


def test_query_all_stats(spark, capsys):
    rc = cli.main(["query", EVENTS, "-s", "2024-01-01", "-e", "2024-12-31"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "min_value" in out and "total_value" in out


def test_query_single_stat_and_channel_filter(spark, capsys):
    rc = cli.main(
        ["query", EVENTS, "-q", "ave", "-c", "click", "--limit", "5"], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "avg_value" in out and "min_value" not in out


def test_query_relative_time_grammar(spark, capsys):
    # begin/+span resolve against the table's own min(ts)
    rc = cli.main(["query", EVENTS, "-s", "begin", "-e", "begin+2d"], spark=spark)
    assert rc == 0
    assert "event_type" in capsys.readouterr().out


def test_examine(spark, capsys):
    rc = cli.main(["examine", EVENTS], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "schema:" in out and "time range:" in out and "rows:" in out


def test_dump(spark, capsys):
    rc = cli.main(
        ["dump", EVENTS, "-s", "begin", "-e", "begin+1h", "--limit", "5"], spark=spark
    )
    assert rc == 0
    assert "ts" in capsys.readouterr().out


def test_create_roundtrip(spark, tmp_path, capsys):
    dest = str(tmp_path / "events_tbl")
    rc = cli.main(["create", EVENTS, dest, "--mode", "overwrite"], spark=spark)
    assert rc == 0
    from etsd_time_series_database_spark.sources.store import read_events_table

    df = read_events_table(spark, dest)
    src_n = cli._load_events(spark, EVENTS).count()
    assert df.count() == src_n
    # date-partitioned layout on disk
    assert any(p.name.startswith("dt=") for p in (tmp_path / "events_tbl").iterdir())


def test_catalog_listing(spark, capsys):
    rc = cli.main(["catalog"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "q01_scan_project" in out and "x09_near_dup_clusters" in out
    rc = cli.main(["catalog", "--category", "dedup"], spark=spark)
    out = capsys.readouterr().out
    assert "x11_dedup_exact" in out and "q01_scan_project" not in out


def test_channel_name_resolution(spark, capsys):
    # substring, case-insensitive (reference etsdChanNum semantics)
    rc = cli.main(["query", EVENTS, "-c", "PUR", "-q", "cnt"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "purchase" in out and "click" not in out


def test_channel_name_resolution_unknown_errors(spark):
    import pytest as _p

    with _p.raises(ValueError, match="no channel matches"):
        cli.main(["query", EVENTS, "-c", "zzz"], spark=spark)


def test_dump_with_xdata(spark, tmp_path, capsys):
    """dump --with-xdata pairs every reading with its commit batch's
    blob (hex-rendered) — the CLI path to the reference's per-block
    xData payload (code/etsd.h:102-103)."""
    from pyspark.sql import functions as F

    from etsd_time_series_database_spark.streaming import ingest
    from tests.test_xdata import _rows_df, _xdata_fn

    raw, xd = str(tmp_path / "raw"), str(tmp_path / "xd")
    b0 = _rows_df(spark, [("2026-01-01 00:00:05", "a", 1.0)])
    b1 = _rows_df(spark, [("2026-01-01 00:00:06", "a", 9.0)])
    for i, b in enumerate([b0, b1]):
        ingest.write_ingest_epoch(b, i, raw)
        ingest.write_xdata_epoch(_xdata_fn(b, i), i, xd)

    rc = cli.main(
        ["dump", raw, "-s", "begin", "-e", "begin+1d", "--with-xdata", xd],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "xdata_hex" in out and "payload" not in out
    want_hex = (
        _xdata_fn(b0, 0)
        .select(F.hex("payload").alias("h"))
        .collect()[0]
        .h
    )
    assert want_hex in out


def test_write_index_and_probe(spark, tmp_path, capsys):
    """write-index lays out the corpus by IVF cell (with the centroid
    table stored inside the index dir); probe plans nprobe cells from
    it and answers top-k — the CLI surface of the 100 TB ANN serving
    path."""
    emb_path = f"{SF_SMOKE}/embeddings.parquet"
    idx = str(tmp_path / "ivf_idx")
    rc = cli.main(
        ["write-index", emb_path, idx, "--centroids", "0,1,2,3"], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0 and "cells=4" in out

    import os

    assert any(d.startswith("cent_id=") for d in os.listdir(idx))
    assert os.path.isdir(os.path.join(idx, "_centroids"))
    # the _centroids side-table must be invisible to corpus reads
    assert "cent_vec" not in spark.read.parquet(idx).columns

    rc = cli.main(
        ["probe", idx, "--query-id", "7", "--source", emb_path,
         "--nprobe", "2", "-k", "3"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "probing cells: [" in out and "cosine" in out

    # explicit cell list bypasses the planner
    rc = cli.main(
        ["probe", idx, "--query-id", "7", "--source", emb_path,
         "--cells", "0", "-k", "2"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0 and "probing cells: [0]" in out


def test_append_index_cli(spark, tmp_path, capsys):
    emb_path = f"{SF_SMOKE}/embeddings.parquet"
    idx = str(tmp_path / "ivf_idx2")
    assert cli.main(
        ["write-index", emb_path, idx, "--centroids", "0,1,2,3"], spark=spark
    ) == 0
    capsys.readouterr()
    before = spark.read.parquet(idx).count()
    # append the same file again: count doubles, layout still probes
    assert cli.main(["append-index", emb_path, idx], spark=spark) == 0
    out = capsys.readouterr().out
    assert "appended" in out
    assert spark.read.parquet(idx).count() == 2 * before


def test_run_catalog_query(spark, capsys):
    rc = cli.main(
        ["run", "q43_linear_trend", "/root/testdata/sf0.001"], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "slope_per_day" in out
    assert "row(s) shown" in out


def test_run_unknown_name_suggests(spark, capsys):
    rc = cli.main(["run", "linear", "/root/testdata/sf0.001"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 2
    assert "did you mean" in out and "q43_linear_trend" in out


def test_run_writes_parquet(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "res")
    rc = cli.main(
        ["run", "q43_linear_trend", "/root/testdata/sf0.001", "--out", out_dir],
        spark=spark,
    )
    assert rc == 0
    assert spark.read.parquet(out_dir).count() == 5


def test_write_pq_and_probe_pq(spark, tmp_path, capsys):
    idx = str(tmp_path / "pq")
    rc = cli.main(
        ["write-pq", f"{SF_SMOKE}/embeddings.parquet", idx], spark=spark
    )
    assert rc == 0 and "wrote PQ code table" in capsys.readouterr().out
    rc = cli.main(
        [
            "probe-pq", idx, "--query-id", "0",
            "--source", f"{SF_SMOKE}/embeddings.parquet", "--k", "5",
        ],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "adc_d2" in out


def test_dedup_index_lifecycle_cli(spark, tmp_path, capsys):
    """dedup-index / dedup-append / dedup-probe drive the persisted
    MinHash index end-to-end, including the --survivors-out workflow."""
    import pyspark.sql.functions as F

    docs_path = f"{SF_SMOKE}/documents.parquet"
    base = str(tmp_path / "base.parquet")
    shard = str(tmp_path / "shard.parquet")
    docs = spark.read.parquet(docs_path)
    docs.filter(F.col("doc_id") % 3 != 0).write.parquet(base)
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(shard)
    idx = str(tmp_path / "mh_idx")

    rc = cli.main(["dedup-index", base, idx], spark=spark)
    assert rc == 0 and "wrote MinHash dedup index" in capsys.readouterr().out

    rc = cli.main(["dedup-append", shard, idx], spark=spark)
    assert rc == 0 and "appended" in capsys.readouterr().out

    # probe print mode (shard now indexed -> it collides with itself)
    rc = cli.main(["dedup-probe", shard, idx], spark=spark)
    assert rc == 0 and "new_id" in capsys.readouterr().out

    # survivors workflow on a fresh index without the shard
    idx2 = str(tmp_path / "mh_idx2")
    rc = cli.main(["dedup-index", base, idx2], spark=spark)
    capsys.readouterr()
    out = str(tmp_path / "kept.parquet")
    rc = cli.main(
        ["dedup-probe", shard, idx2, "--survivors-out", out], spark=spark
    )
    assert rc == 0 and "kept" in capsys.readouterr().out
    kept = spark.read.parquet(out)
    assert 0 < kept.count() <= docs.filter(F.col("doc_id") % 3 == 0).count()
    kept_ids = sorted(r.doc_id for r in kept.select("doc_id").collect())

    # a bare re-run after the successful append REFUSES to touch the
    # existing survivors file (no silent truncation), and an explicit
    # --overwrite-survivors retry reproduces the identical survivor
    # set (self-matches excluded in the probe -> idempotent)
    rc = cli.main(
        ["dedup-probe", shard, idx2, "--survivors-out", out], spark=spark
    )
    captured = capsys.readouterr()
    assert rc == 2 and "refusing to overwrite" in captured.err
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    ) == kept_ids
    rc = cli.main(
        [
            "dedup-probe", shard, idx2, "--survivors-out", out,
            "--overwrite-survivors",
        ],
        spark=spark,
    )
    assert rc == 0 and "kept" in capsys.readouterr().out
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    ) == kept_ids


@pytest.mark.slow
def test_watch_alarms_then_site_cli(spark, tmp_path, capsys):
    """watch --mode alarms writes hysteresis transitions to parquet;
    watch --mode site folds that directory into the live union — the
    two-query monitor topology end-to-end through the CLI."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "ingest")
    rows = [
        ("2026-01-01 00:00:00", "s", "a", 100.0, 0),
        ("2026-01-01 00:00:10", "s", "a", 260.0, 0),   # open
        ("2026-01-01 00:00:40", "s", "a", 40.0, 0),    # close (span 30s)
        ("2026-01-01 00:00:20", "s", "b", 300.0, 0),   # open (overlaps a)
        ("2026-01-01 00:01:00", "s", "b", 10.0, 0),    # close
    ]
    df = spark.createDataFrame(
        rows, "ts string, source string, channel string, value double, "
              "status int",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.parquet(src)

    trans = str(tmp_path / "transitions")
    rc = cli.main(
        ["watch", src, "--mode", "alarms", "--out", trans], spark=spark
    )
    assert rc == 0 and "caught up" in capsys.readouterr().out
    tr = spark.read.parquet(trans)
    assert {r.event for r in tr.collect()} == {"open", "close"}
    assert tr.count() == 4

    site_out = str(tmp_path / "site")
    rc = cli.main(
        ["watch", trans, "--mode", "site", "--out", site_out], spark=spark
    )
    assert rc == 0 and "caught up" in capsys.readouterr().out
    site = sorted(
        spark.read.parquet(site_out).collect(), key=lambda r: r.ts_us
    )
    # union of [00:10, 00:40] and [00:20, 01:00] -> one interval, 50 s
    assert site[-1].covered_us == 50 * 1_000_000
    assert site[-1].open_channels == 0

    # freshness mode on the raw dir runs and reports first_seen rows
    fr_out = str(tmp_path / "fresh")
    rc = cli.main(
        ["watch", src, "--mode", "freshness", "--out", fr_out], spark=spark
    )
    assert rc == 0
    fr = spark.read.parquet(fr_out)
    assert {r.status for r in fr.collect()} == {"first_seen"}


def test_watch_anomalies_cli(spark, tmp_path, capsys):
    """watch --mode anomalies drives the running z-score monitor over
    an ingest directory: a stable channel's wild reading flags, the
    warm-up does not."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "ingest_z")
    rows = [
        (f"2026-01-01 00:{i:02d}:00", "s", "a",
         9.0 if i % 2 == 0 else 11.0, 0)
        for i in range(10)
    ] + [("2026-01-01 00:10:00", "s", "a", 500.0, 0)]
    spark.createDataFrame(
        rows, "ts string, source string, channel string, value double, "
              "status int",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(src)

    out = str(tmp_path / "anomalies")
    rc = cli.main(
        ["watch", src, "--mode", "anomalies", "--min-n", "5", "--out", out],
        spark=spark,
    )
    assert rc == 0 and "caught up" in capsys.readouterr().out
    got = spark.read.parquet(out).collect()
    assert [(r.value, r.n_prev) for r in got] == [(500.0, 10)]


def test_digest_diff_cli(spark, tmp_path, capsys):
    """digest-diff reports identical stores as identical (rc 0) and a
    single mutated value as exactly one drifted (channel, bucket)
    cell (rc 3)."""
    import pyspark.sql.functions as F

    src = f"{SF_SMOKE}/events.parquet"
    rc = cli.main(["digest-diff", src, src], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0 and "identical" in out

    mutated = str(tmp_path / "mutated.parquet")
    df = cli._load_events(spark, src)
    victim = df.orderBy("event_id").limit(1).collect()[0]
    df.withColumn(
        "value",
        F.when(
            F.col("event_id") == victim.event_id, F.col("value") + 1.0
        ).otherwise(F.col("value")),
    ).write.parquet(mutated)
    rc = cli.main(["digest-diff", src, mutated], spark=spark)
    out = capsys.readouterr().out
    assert rc == 3
    assert "1 drifted (channel, bucket) cells" in out
    assert "DRIFT channel=" in out


def test_watch_rollup_reports_watermark_drops(spark, tmp_path, capsys):
    """watch --mode rollup surfaces late-data loss operationally (the
    round-10 verdict's #1, reference O28 short-block accounting,
    code/etsdSave.c:58-66): a second catch-up session resuming from
    the checkpoint reports EXACTLY the predicted drop count — counted
    per dropped (channel, window) GROUP, not per raw late row (three
    late rows in two groups report 2) — on stdout and in the
    --metrics-log ops row."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "ingest_rollup")
    out = str(tmp_path / "rollup")
    mlog = str(tmp_path / "ops_log")

    def write(rows, mode):
        spark.createDataFrame(
            rows, "ts string, source string, channel string, "
                  "value double, status int",
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            mode
        ).parquet(src)

    # session one: watermark ends at 00:30:00 - 2 min = 00:28:00
    write(
        [
            ("2026-01-01 00:00:10", "s", "a", 1.0, 0),
            ("2026-01-01 00:01:10", "s", "a", 2.0, 0),
            ("2026-01-01 00:30:00", "s", "a", 3.0, 0),
        ],
        "overwrite",
    )
    args = ["watch", src, "--mode", "rollup", "--width", "60",
            "--out", out, "--metrics-log", mlog]
    assert cli.main(args, spark=spark) == 0
    assert "0 dropped by watermark" in capsys.readouterr().out

    # session two: three LATE rows in two (channel, window) groups
    # (window ends 00:06 / 00:03 <= carried watermark 00:28) plus one
    # live row whose window is still open
    write(
        [
            ("2026-01-01 00:05:30", "s", "a", 4.0, 0),  # late, group 1
            ("2026-01-01 00:05:45", "s", "a", 5.0, 0),  # late, group 1
            ("2026-01-01 00:02:30", "s", "b", 6.0, 0),  # late, group 2
            ("2026-01-01 00:29:30", "s", "a", 7.0, 0),  # live
        ],
        "append",
    )
    assert cli.main(args, spark=spark) == 0
    stdout = capsys.readouterr().out
    assert "4 row(s) in, 2 dropped by watermark" in stdout

    # the ops log ties the same number to the metrics subsystem
    ops = spark.read.parquet(mlog).orderBy("logged_at_us").collect()
    assert [r.late_rows for r in ops] == [0, 2]
    assert ops[-1].scan_rows == 4
    assert ops[-1].query.startswith("watch[rollup]:")

    # and the surviving window actually reached the sink: the late
    # groups are absent, the live row's window stays in state (append
    # mode emits only closed windows)
    sunk = spark.read.parquet(out)
    assert sunk.filter(
        (F.col("channel") == "b")
        | (F.col("bucket_ts") == F.to_timestamp(F.lit("2026-01-01 00:05:00")))
    ).count() == 0


def test_repair_resyncs_only_drifted_partitions(spark, tmp_path, capsys):
    """repair (the digest->recover loop, round-10 verdict #3): corrupt
    one date partition of a replica — repair re-syncs EXACTLY that
    partition from the source store (byte-copy swap), the re-digest
    converges (digest-diff rc 0), and every untouched partition's
    files are byte-identical before/after. An extra bogus partition on
    the replica is deleted (drift-by-extra-data)."""
    import hashlib
    import os
    import shutil

    import pyspark.sql.functions as F

    src_store = str(tmp_path / "store_a")
    dst_store = str(tmp_path / "store_b")
    assert cli.main(
        ["create", EVENTS, src_store, "--mode", "overwrite"], spark=spark
    ) == 0
    shutil.copytree(src_store, dst_store)

    def checksums(store):
        out = {}
        for dirpath, _dirs, files in os.walk(store):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[os.path.relpath(p, store)] = hashlib.sha256(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    parts = sorted(
        d for d in os.listdir(dst_store) if d.startswith("dt=")
    )
    assert len(parts) >= 3
    victim = parts[1]
    # corrupt: rewrite the victim partition with half its rows
    vic_dir = os.path.join(dst_store, victim)
    half = spark.read.parquet(vic_dir).filter(F.col("event_id") % 2 == 0)
    half.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "half"))
    shutil.rmtree(vic_dir)
    shutil.copytree(str(tmp_path / "half"), vic_dir)
    # and add a bogus extra partition (rows honestly dated 2030, so
    # the dt == to_date(ts) layout invariant holds — repair's
    # digest->partition mapping relies on it)
    from etsd_time_series_database_spark.sources.store import (
        create_events_table,
    )

    shifted = (
        spark.read.parquet(os.path.join(src_store, parts[0]))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2192 DAYS"))
    )
    create_events_table(shifted, dst_store, mode="append")
    assert os.path.isdir(os.path.join(dst_store, "dt=2030-01-01"))

    before = checksums(dst_store)
    rc = cli.main(["digest-diff", src_store, dst_store], spark=spark)
    assert rc == 3
    capsys.readouterr()

    rc = cli.main(["repair", src_store, dst_store], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "converged" in out
    assert f"repair {victim}: synced" in out
    assert "repair dt=2030-01-01: deleted" in out

    # digest-level identity restored
    rc = cli.main(["digest-diff", src_store, dst_store], spark=spark)
    assert rc == 0 and "identical" in capsys.readouterr().out

    # untouched partitions byte-identical; victim + bogus changed
    after = checksums(dst_store)
    untouched = {
        k for k in before
        if not k.startswith(victim) and not k.startswith("dt=2030-01-01")
    }
    assert untouched <= set(after)
    assert all(before[k] == after[k] for k in untouched)
    assert not any(k.startswith("dt=2030-01-01") for k in after)

    # row-level identity too, not just digests
    a = spark.read.parquet(src_store).drop("dt")
    b = spark.read.parquet(dst_store).drop("dt")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0


def test_repair_requires_date_layout(spark, tmp_path, capsys):
    rc = cli.main(
        ["repair", EVENTS, EVENTS], spark=spark
    )
    assert rc == 2


def test_repair_reports_incomplete_on_misfiled_rows(spark, tmp_path, capsys):
    """Rows mis-filed under a foreign dt= value violate the layout
    invariant repair's digest->partition mapping relies on; the
    post-repair re-digest must surface them as residual drift (rc 3,
    INCOMPLETE), never a false convergence claim."""
    import os
    import shutil

    src_store = str(tmp_path / "store_a")
    dst_store = str(tmp_path / "store_b")
    assert cli.main(
        ["create", EVENTS, src_store, "--mode", "overwrite"], spark=spark
    ) == 0
    shutil.copytree(src_store, dst_store)
    parts = sorted(d for d in os.listdir(dst_store) if d.startswith("dt="))
    # duplicate a day's files under a WRONG partition value
    shutil.copytree(
        os.path.join(dst_store, parts[0]),
        os.path.join(dst_store, "dt=2031-01-01"),
    )
    capsys.readouterr()
    rc = cli.main(["repair", src_store, dst_store], spark=spark)
    assert rc == 3
    assert "INCOMPLETE" in capsys.readouterr().err


@pytest.mark.slow
def test_watch_compact_then_resume(spark, tmp_path, capsys):
    """watch --compact (O26 rotation for the monitor topology): the
    alarms sink's per-micro-batch files compact in place after
    catch-up, a reader sees identical transitions before/after, and a
    LATER watch session resumes from the checkpoint on the compacted
    sink — final rows equal an uncompacted control run."""
    import os

    import pyspark.sql.functions as F

    def write_rows(path, rows, mode):
        spark.createDataFrame(
            rows, "ts string, source string, channel string, "
                  "value double, status int",
        ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
            mode
        ).parquet(path)

    early = [
        ("2026-01-01 00:00:00", "s", "a", 100.0, 0),
        ("2026-01-01 00:00:10", "s", "a", 260.0, 0),  # open
        ("2026-01-01 00:00:40", "s", "a", 40.0, 0),   # close
    ]
    late = [
        ("2026-01-01 00:01:10", "s", "a", 300.0, 0),  # open again
        ("2026-01-01 00:02:00", "s", "a", 10.0, 0),   # close
    ]

    # control: one uncompacted run over everything
    ctl_src, ctl_out = str(tmp_path / "ctl_src"), str(tmp_path / "ctl_out")
    write_rows(ctl_src, early + late, "overwrite")
    assert cli.main(
        ["watch", ctl_src, "--mode", "alarms", "--out", ctl_out],
        spark=spark,
    ) == 0
    want = sorted(map(tuple, spark.read.parquet(ctl_out).collect()))

    # compacted lifecycle: catch up on early, compact, grow, resume
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    for r in early:  # one file per row -> one sink file per micro-batch
        write_rows(src, [r], "append")
    args = ["watch", src, "--mode", "alarms", "--max-files", "1",
            "--out", out]
    assert cli.main(args + ["--compact"], spark=spark) == 0
    stdout = capsys.readouterr().out
    assert "compacted" in stdout and "-> 1 file(s)" in stdout
    assert len([f for f in os.listdir(out) if f.endswith(".parquet")]) == 1

    write_rows(src, late, "append")
    assert cli.main(args, spark=spark) == 0
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert got == want and len(got) == 4


def test_watch_compact_argument_guards(spark, tmp_path, capsys):
    import pyspark.sql.functions as F

    src = str(tmp_path / "g_src")
    spark.createDataFrame(
        [("2026-01-01 00:00:00", "s", "a", 1.0, 0)],
        "ts string, source string, channel string, value double, "
        "status int",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(src)
    # --compact without --out, and with --follow, are refused upfront
    assert cli.main(["watch", src, "--compact"], spark=spark) == 2
    assert "requires --out" in capsys.readouterr().err
    assert cli.main(
        ["watch", src, "--compact", "--follow",
         "--out", str(tmp_path / "g_out")],
        spark=spark,
    ) == 2


def test_amend_upserts_only_affected_partitions(spark, tmp_path, capsys):
    """amend (late corrections, the reference's write-into-past-blocks
    as partition lifecycle): corrected keys are replaced in place, new
    keys insert (including into a brand-new day partition), untouched
    partitions stay byte-identical, and the store's row identity
    matches an independently computed expectation."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    store = str(tmp_path / "amend_store")
    assert cli.main(
        ["create", EVENTS, store, "--mode", "overwrite"], spark=spark
    ) == 0
    src = cli._load_events(spark, EVENTS)
    parts = sorted(d for d in os.listdir(store) if d.startswith("dt="))
    victim_day = parts[1].split("=", 1)[1]

    # corrections: bump two existing rows of one day, add one new row
    # in a far-future (new) day
    vic = (
        src.filter(F.to_date("ts") == F.lit(victim_day))
        .orderBy("event_id")
        .limit(2)
        .withColumn("value", F.col("value") + 1000.0)
    )
    new_row = (
        src.orderBy("event_id").limit(1)
        .withColumn("event_id", F.lit(999_999_999))
        .withColumn("ts", F.to_timestamp(F.lit("2031-06-01 12:00:00")))
    )
    corr = str(tmp_path / "corr.parquet")
    vic.unionByName(new_row).write.parquet(corr)

    def checksums():
        out = {}
        for dirpath, _d, files in os.walk(store):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[os.path.relpath(p, store)] = hashlib.sha256(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    before = checksums()
    rc = cli.main(["amend", store, corr], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0, out
    assert "replaced 2 row(s), inserted 1" in out

    after = checksums()
    touched = {f"dt={victim_day}", "dt=2031-06-01"}
    untouched = {
        k for k in before if not any(k.startswith(t) for t in touched)
    }
    assert all(before[k] == after[k] for k in untouched)
    assert os.path.isdir(os.path.join(store, "dt=2031-06-01"))

    got = spark.read.parquet(store).drop("dt")
    vic_ids = [r.event_id for r in vic.select("event_id").collect()]
    assert got.count() == src.count() + 1
    bumped = {
        r.event_id: r.value
        for r in got.filter(F.col("event_id").isin(vic_ids)).collect()
    }
    orig = {
        r.event_id: r.value
        for r in src.filter(F.col("event_id").isin(vic_ids)).collect()
    }
    assert all(bumped[k] == orig[k] + 1000.0 for k in orig)
    assert got.filter(F.col("event_id") == 999_999_999).count() == 1

    # amend refuses non-dt stores
    assert cli.main(["amend", EVENTS, corr], spark=spark) == 2


def test_amend_cross_day_move_resolves_old_day(spark, tmp_path, capsys):
    """Round-11 verdict #1 (the cross-day seam): a correction whose ts
    moves a row to a DIFFERENT day deletes the old-day row in the same
    pass under the default --cross-day resolve — the store ends with
    exactly ONE copy of the key, in the new day, and the old day's
    other rows survive untouched (the reference's in-place block
    overwrite, code/etsdRW.c, expressed across partitions)."""
    import os

    import pyspark.sql.functions as F

    store = str(tmp_path / "amend_store2")
    assert cli.main(
        ["create", EVENTS, store, "--mode", "overwrite"], spark=spark
    ) == 0
    src = cli._load_events(spark, EVENTS)
    victim = src.orderBy("event_id").limit(1)
    vrow = victim.collect()[0]
    old_day = vrow.ts.date().isoformat()
    n_old_day = src.filter(F.to_date("ts") == F.lit(old_day)).count()
    moved = victim.withColumn(
        "ts", F.to_timestamp(F.lit("2032-03-03 03:03:03"))
    )
    corr = str(tmp_path / "corr2.parquet")
    moved.write.parquet(corr)
    rc = cli.main(["amend", store, corr], spark=spark)
    out = capsys.readouterr().out
    assert rc == 0
    assert "moved 1" in out and "inserted 0" in out and "replaced 0" in out
    got = spark.read.parquet(store)
    rows = got.filter(F.col("event_id") == vrow.event_id).collect()
    assert len(rows) == 1  # exactly one copy of the key survives
    assert str(rows[0].dt) == "2032-03-03"
    assert os.path.isdir(os.path.join(store, "dt=2032-03-03"))
    # the old day kept every OTHER row and the store's total is flat
    assert (
        got.filter(F.col("dt") == F.lit(old_day)).count() == n_old_day - 1
    )
    assert got.count() == src.count()


def test_amend_cross_day_fail_and_ignore_modes(spark, tmp_path, capsys):
    """--cross-day fail refuses the amend (rc 3, names the key) and
    leaves the store byte-identical; --cross-day ignore keeps the
    pre-round-12 insert-side-only contract (two copies, caller owns
    the old-day delete)."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    store = str(tmp_path / "amend_store3")
    assert cli.main(
        ["create", EVENTS, store, "--mode", "overwrite"], spark=spark
    ) == 0
    src = cli._load_events(spark, EVENTS)
    victim = src.orderBy("event_id").limit(1)
    vid = victim.collect()[0].event_id
    moved = victim.withColumn(
        "ts", F.to_timestamp(F.lit("2032-03-03 03:03:03"))
    )
    corr = str(tmp_path / "corr3.parquet")
    moved.write.parquet(corr)

    def checksums():
        out = {}
        for dirpath, _d, files in os.walk(store):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[os.path.relpath(p, store)] = hashlib.sha256(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    before = checksums()
    rc = cli.main(
        ["amend", store, corr, "--cross-day", "fail"], spark=spark
    )
    err = capsys.readouterr().err
    assert rc == 3
    assert f"event_id={vid}" in err and "across" in err
    assert checksums() == before  # refused = untouched

    rc = cli.main(
        ["amend", store, corr, "--cross-day", "ignore"], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0 and "inserted 1" in out
    got = spark.read.parquet(store).drop("dt")
    assert got.filter(F.col("event_id") == vid).count() == 2


def test_amend_rejects_duplicate_correction_keys(spark, tmp_path, capsys):
    """Corrections carrying the same key twice would install duplicate
    rows and miscount the stats — the amend refuses them (rc 3) and
    names a sample key."""
    import pyspark.sql.functions as F

    store = str(tmp_path / "amend_store4")
    assert cli.main(
        ["create", EVENTS, store, "--mode", "overwrite"], spark=spark
    ) == 0
    src = cli._load_events(spark, EVENTS)
    one = src.orderBy("event_id").limit(1)
    dup = one.unionByName(one.withColumn("value", F.col("value") + 1.0))
    corr = str(tmp_path / "corr4.parquet")
    dup.write.parquet(corr)
    rc = cli.main(["amend", store, corr], spark=spark)
    err = capsys.readouterr().err
    assert rc == 3 and "duplicate keys" in err


def test_recover_days_rejects_flat_sink_layout(spark, tmp_path, capsys):
    """ADVICE r11: recover --days against a sink written by the FLAT
    replay would drop dt= dirs beside flat parquet files (mixed
    layout, broken reads) — the layout guard exits 2 and points at the
    --partitioned full rebuild instead; the sink stays untouched."""
    import os

    raw = str(tmp_path / "raw_flat")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    # a sink in the FLAT replay layout: parquet files directly in the
    # directory, no dt= partition dirs
    sink = str(tmp_path / "flat_sink")
    spark.createDataFrame(
        [("a", 1)], "channel string, n int"
    ).coalesce(1).write.parquet(sink)
    listing = sorted(os.listdir(sink))
    capsys.readouterr()
    rc = cli.main(
        ["recover", raw, sink, "--days", "2024-01-02"], spark=spark
    )
    err = capsys.readouterr().err
    assert rc == 2 and "--partitioned" in err
    assert sorted(os.listdir(sink)) == listing


@pytest.mark.slow
def test_amend_refresh_sink_chains_day_refresh(spark, tmp_path, capsys):
    """Round-11 verdict #6: amend --refresh-sink chains the day-scoped
    downsample refresh over exactly the amended days — the tier rows
    for those days equal a full rebuild from the amended raw store,
    and every other sink partition is byte-identical."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    raw = str(tmp_path / "raw_chain")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    sink = str(tmp_path / "sink_chain")
    assert cli.main(
        ["recover", raw, sink, "--partitioned"], spark=spark
    ) == 0
    parts = sorted(d for d in os.listdir(sink) if d.startswith("dt="))
    day = parts[1].split("=", 1)[1]

    src = cli._load_events(spark, EVENTS)
    corr = str(tmp_path / "corr_chain.parquet")
    src.filter(F.to_date("ts") == F.lit(day)).limit(50).withColumn(
        "value", F.col("value") + 500.0
    ).write.parquet(corr)

    def checksums():
        out = {}
        for dirpath, _d, files in os.walk(sink):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[os.path.relpath(p, sink)] = hashlib.sha256(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    before = checksums()
    capsys.readouterr()
    rc = cli.main(
        ["amend", raw, corr, "--refresh-sink", sink], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0 and f"refreshed {sink} for day(s) {day}" in out

    after = checksums()
    untouched = {k for k in before if not k.startswith(f"dt={day}")}
    assert all(before[k] == after[k] for k in untouched)

    # the chained refresh equals a from-scratch rebuild of the tier
    control = str(tmp_path / "sink_chain_control")
    assert cli.main(
        ["recover", raw, control, "--partitioned"], spark=spark
    ) == 0
    a = spark.read.parquet(sink).drop("dt")
    b = spark.read.parquet(control).drop("dt")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # a flat --refresh-sink is refused before any tier write (rc 2)
    flat = str(tmp_path / "flat_tier")
    spark.createDataFrame(
        [("a", 1)], "channel string, n int"
    ).coalesce(1).write.parquet(flat)
    capsys.readouterr()
    rc = cli.main(
        ["amend", raw, corr, "--refresh-sink", flat], spark=spark
    )
    assert rc == 2
    assert "not a" in capsys.readouterr().err


@pytest.mark.slow
def test_watch_timeout_stops_and_skips_compact(spark, tmp_path, capsys):
    """ADVICE r11 (medium): a catch-up that outlives --timeout must
    NOT proceed to --compact/--metrics-log against the still-running
    query (compaction would rewrite _spark_metadata under live
    commits). The CLI stops the query, waits for it to settle, exits
    1, and a rerun with a real timeout finishes the catch-up cleanly
    on the same checkpoint."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "ingest_slow")
    out = str(tmp_path / "slow_out")
    mlog = str(tmp_path / "slow_ops")
    rows = [
        (f"2026-01-01 00:{m:02d}:00", "s", "a", float(m), 0)
        for m in range(30)
    ]
    df = spark.createDataFrame(
        rows, "ts string, source string, channel string, value double, "
              "status int",
    ).withColumn("ts", F.to_timestamp("ts"))
    # many single-row files + maxFilesPerTrigger=1 → many micro-batches,
    # so a 1 ms timeout always fires mid-catch-up
    df.repartition(30).write.parquet(src)
    args = ["watch", src, "--mode", "freshness", "--out", out,
            "--metrics-log", mlog, "--compact", "--max-files", "1",
            "--timeout", "0.001"]
    rc = cli.main(args, spark=spark)
    err = capsys.readouterr().err
    assert rc == 1
    assert "stopped mid-stream" in err
    assert "--compact skipped" in err and "--metrics-log skipped" in err
    import os

    assert not os.path.exists(mlog)  # no partial ops row

    # rerun finishes from the checkpoint and the post passes run
    rc = cli.main(
        ["watch", src, "--mode", "freshness", "--out", out,
         "--metrics-log", mlog, "--compact", "--max-files", "1",
         "--timeout", "300"],
        spark=spark,
    )
    assert rc == 0
    out_txt = capsys.readouterr().out
    assert "caught up in" in out_txt and "compacted" in out_txt
    assert spark.read.parquet(mlog).count() == 1


def test_recover_days_refresh_after_amend(spark, tmp_path, capsys):
    """The amend -> consolidation-repair loop: build a partitioned
    downsample sink, amend ONE day of the raw store, refresh only that
    day — the refreshed sink equals a from-scratch full rebuild, and
    every other sink partition is byte-identical (never rewritten)."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    raw = str(tmp_path / "raw_store")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    sink = str(tmp_path / "sink")
    assert cli.main(
        ["recover", raw, sink, "--partitioned"], spark=spark
    ) == 0
    assert "full rebuild" in capsys.readouterr().out
    parts = sorted(d for d in os.listdir(sink) if d.startswith("dt="))
    assert len(parts) >= 3
    day = parts[1].split("=", 1)[1]

    # amend: bump every value of that day by 5
    src = cli._load_events(spark, EVENTS)
    corr = str(tmp_path / "corr3.parquet")
    src.filter(F.to_date("ts") == F.lit(day)).withColumn(
        "value", F.col("value") + 5.0
    ).write.parquet(corr)
    assert cli.main(["amend", raw, corr], spark=spark) == 0

    def checksums():
        out = {}
        for dirpath, _d, files in os.walk(sink):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[os.path.relpath(p, sink)] = hashlib.sha256(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    before = checksums()
    capsys.readouterr()
    rc = cli.main(
        ["recover", raw, sink, "--days", day], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0 and f"day(s) {day}" in out

    after = checksums()
    untouched = {k for k in before if not k.startswith(f"dt={day}")}
    assert all(before[k] == after[k] for k in untouched)

    # the refreshed sink equals a full rebuild from the amended raw
    control = str(tmp_path / "sink_control")
    assert cli.main(
        ["recover", raw, control, "--partitioned"], spark=spark
    ) == 0
    a = spark.read.parquet(sink).drop("dt")
    b = spark.read.parquet(control).drop("dt")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.slow
def test_rebalance_cli_splits_hot_cell(spark, tmp_path, capsys):
    """The rebalance verb drives operators.similarity.rebalance_cells
    through the CLI against a write-index layout: the hot cell splits
    into fresh sub-cell dirs, the untouched cell's files survive
    byte-identical, probes keep working against the swapped
    _centroids, and a non-layout path is refused (rc 2)."""
    import hashlib
    import os

    emb = spark.createDataFrame(
        [(i, [1.0, i * 0.009]) for i in range(80)]
        + [(100 + j, [0.01 * j, 1.0]) for j in range(20)],
        "vec_id int, embedding array<float>",
    )
    src = str(tmp_path / "emb.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "ivf_idx")
    assert cli.main(
        ["write-index", src, idx, "--centroids", "0,100"], spark=spark
    ) == 0

    def cell_files(cid):
        d = os.path.join(idx, f"cent_id={cid}")
        return {
            f: hashlib.sha256(
                open(os.path.join(d, f), "rb").read()
            ).hexdigest()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    healthy = cell_files(100)
    capsys.readouterr()
    rc = cli.main(
        ["rebalance", idx, "--hot", "50", "--profile"], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "split cell 0 -> [101, 102]" in out
    assert "1 cell(s) split, 0 retired" in out
    assert "pct_corpus" in out  # --profile printed
    assert cell_files(100) == healthy
    assert not os.path.isdir(os.path.join(idx, "cent_id=0"))
    got = spark.read.parquet(idx)
    assert got.count() == 100
    assert {
        r["cent_id"] for r in got.select("cent_id").distinct().collect()
    } == {100, 101, 102}
    # probing still plans against the swapped centroid table
    capsys.readouterr()
    assert cli.main(
        ["probe", idx, "--vector", "1.0,0.3", "-k", "3"], spark=spark
    ) == 0
    assert "probing cells" in capsys.readouterr().out

    # not a layout -> rc 2
    assert cli.main(
        ["rebalance", src, "--hot", "50"], spark=spark
    ) == 2
    assert "not a write-index" in capsys.readouterr().err


def test_amend_resolve_is_a_true_upsert_property(spark, tmp_path):
    """The round-12 amend contract as one invariant: for ANY mix of
    in-day replacements, cross-day moves, and brand-new keys, the
    post-amend store equals exactly (store rows whose key is not
    corrected) UNION (the corrections) — one row per key, no stale
    copies anywhere — and the stats partition the correction set."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.sources.store import amend_events

    store = str(tmp_path / "prop_store")
    assert cli.main(
        ["create", EVENTS, store, "--mode", "overwrite"], spark=spark
    ) == 0
    src = cli._load_events(spark, EVENTS)

    # deterministic mixed correction set: 5 in-day value bumps, 4
    # cross-day ts moves (2 to an existing other day, 2 to a new day),
    # 3 brand-new keys
    keyed = src.orderBy("event_id").limit(9).collect()
    days = sorted({r.ts.date().isoformat() for r in src.collect()})
    other_day = days[2]
    parts = []
    inday = spark.createDataFrame(keyed[:5], src.schema).withColumn(
        "value", F.col("value") + 77.0
    )
    parts.append(inday)
    move_existing = spark.createDataFrame(keyed[5:7], src.schema).withColumn(
        "ts", F.to_timestamp(F.lit(f"{other_day} 11:22:33"))
    )
    parts.append(move_existing)
    move_new = spark.createDataFrame(keyed[7:9], src.schema).withColumn(
        "ts", F.to_timestamp(F.lit("2035-05-05 05:05:05"))
    )
    parts.append(move_new)
    fresh = spark.createDataFrame(keyed[:3], src.schema).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    ).withColumn("ts", F.to_timestamp(F.lit("2035-06-06 06:06:06")))
    parts.append(fresh)
    corr = parts[0]
    for p in parts[1:]:
        corr = corr.unionByName(p)
    corr = corr.localCheckpoint()

    stats = amend_events(spark, store, corr)
    got = (
        spark.read.parquet(store)
        .drop("dt")
        .select(*src.columns)
    )
    want = src.join(
        corr.select("event_id"), on="event_id", how="left_anti"
    ).unionByName(corr.select(*src.columns))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # every corrected key exists exactly once
    assert (
        got.join(corr.select("event_id"), "event_id")
        .groupBy("event_id").count().filter("count != 1").count() == 0
    )
    # stats partition the 12 corrections: 5 replaced in place, 4
    # moved across days, 3 net inserts
    assert stats["replaced"] == 5
    assert stats["moved"] == 4
    assert stats["inserted"] == 3


def test_watch_follow_reports_exact_totals_on_stop(spark, tmp_path, capsys):
    """--follow (the resident daemon) folds totals through the same
    listener as catch-up runs, so a stop after any number of
    micro-batches reports the true input/late counts rather than the
    retention-capped recentProgress refold."""
    import threading
    import time as _time

    import pyspark.sql.functions as F

    src = str(tmp_path / "follow_src")
    out = str(tmp_path / "follow_out")
    rows = [(f"2026-01-01 00:00:{s:02d}", "s", "a", float(s), 0)
            for s in range(10)]
    spark.createDataFrame(
        rows, "ts string, source string, channel string, value double, "
              "status int",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(src)

    def stop_when_processed():
        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:
            qs = [q for q in spark.streams.active if q.isActive]
            for q in qs:
                if q.lastProgress and q.lastProgress["numInputRows"] >= 0 \
                        and q.recentProgress:
                    done = sum(
                        p["numInputRows"] for p in q.recentProgress
                    )
                    if done >= 10:
                        q.stop()
                        return
            _time.sleep(0.5)

    t = threading.Thread(target=stop_when_processed, daemon=True)
    t.start()
    rc = cli.main(
        ["watch", src, "--mode", "freshness", "--out", out,
         "--follow", "--interval", "1"],
        spark=spark,
    )
    t.join(timeout=10)
    assert rc == 0
    out_txt = capsys.readouterr().out
    assert "watch[freshness]: stopped after" in out_txt
    assert "10 row(s) in" in out_txt


def test_digest_tier_materialized_monitoring_loop(spark, tmp_path, capsys):
    """The materialized digest tier: build tiers for two identical
    stores, compare WITHOUT scanning events (digest-diff
    --materialized, rc 0); amend one store with --refresh-digest
    chaining the day-scoped tier refresh — the materialized diff then
    pinpoints exactly the amended day's cells (rc 3) and agrees with
    the store-scanning diff; untouched tier partitions stay
    byte-identical and a refreshed day equals a full tier rebuild."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    a = str(tmp_path / "store_a")
    b = str(tmp_path / "store_b")
    for st in (a, b):
        assert cli.main(
            ["create", EVENTS, st, "--mode", "overwrite"], spark=spark
        ) == 0
    ta = str(tmp_path / "tier_a")
    tb = str(tmp_path / "tier_b")
    for st, t in ((a, ta), (b, tb)):
        assert cli.main(["digest-tier", st, t], spark=spark) == 0
        assert "full build" in capsys.readouterr().out

    # identical stores -> identical tiers, no events scanned
    assert cli.main(
        ["digest-diff", ta, tb, "--materialized"], spark=spark
    ) == 0
    assert "identical" in capsys.readouterr().out

    # amend one day of store A, chaining the digest refresh
    src = cli._load_events(spark, EVENTS)
    parts = sorted(d for d in os.listdir(a) if d.startswith("dt="))
    day = parts[1].split("=", 1)[1]
    corr = str(tmp_path / "corr_dt.parquet")
    src.filter(F.to_date("ts") == F.lit(day)).limit(20).withColumn(
        "value", F.col("value") + 9.0
    ).write.parquet(corr)

    def checksums(t):
        out = {}
        for dirpath, _d, files in os.walk(t):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[os.path.relpath(p, t)] = hashlib.sha256(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    before = checksums(ta)
    assert cli.main(
        ["amend", a, corr, "--refresh-digest", ta], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert f"refreshed digest tier {ta} for day(s) {day}" in out
    after = checksums(ta)
    untouched = {k for k in before if not k.startswith(f"dt={day}")}
    assert all(before[k] == after[k] for k in untouched)

    # materialized diff pinpoints the amended day only...
    rc = cli.main(
        ["digest-diff", ta, tb, "--materialized", "--limit", "100"],
        spark=spark,
    )
    mat = capsys.readouterr().out
    assert rc == 3
    day_us = {
        int(r.bucket_us)
        for r in spark.read.parquet(f"{ta}/dt={day}").collect()
    }
    import re

    drifted_us = {int(m) for m in re.findall(r"bucket_us=(\d+)", mat)}
    assert drifted_us and drifted_us <= day_us
    # ...and agrees with the store-scanning diff cell-for-cell
    rc = cli.main(["digest-diff", a, b, "--limit", "100"], spark=spark)
    scan = capsys.readouterr().out
    assert rc == 3
    assert {int(m) for m in re.findall(r"bucket_us=(\d+)", scan)} == \
        drifted_us

    # a day-refreshed tier equals a from-scratch rebuild
    control = str(tmp_path / "tier_a_control")
    assert cli.main(["digest-tier", a, control], spark=spark) == 0
    x = spark.read.parquet(ta).drop("dt")
    y = spark.read.parquet(control).drop("dt")
    assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0


def _store_checksums(store):
    import hashlib
    import os

    out = {}
    for dirpath, _d, files in os.walk(store):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, store)] = hashlib.sha256(
                    open(p, "rb").read()
                ).hexdigest()
    return out


def test_amend_refresh_guards_run_before_any_rewrite(spark, tmp_path, capsys):
    """Round-12 verdict #6 + ADVICE (medium): a missing/flat
    --refresh-sink or --refresh-digest target — or a --digest-bucket
    that contradicts the tier's _digest_meta.json — is refused with
    rc 2 BEFORE the store is touched. A guard that fired after the
    rewrite would leave the store amended with its derived tiers
    silently stale; a missing target rebuilt day-scoped would come
    back holding ONLY the amended days (a partial tier reporting
    false drift for every other day)."""
    import os

    import pyspark.sql.functions as F

    raw = str(tmp_path / "raw_guard")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    day = sorted(
        d for d in os.listdir(raw) if d.startswith("dt=")
    )[0].split("=", 1)[1]
    corr = str(tmp_path / "corr_guard.parquet")
    cli._load_events(spark, EVENTS).filter(
        F.to_date("ts") == F.lit(day)
    ).limit(5).withColumn("value", F.col("value") + 1.0).write.parquet(corr)

    before = _store_checksums(raw)
    # nonexistent downsample sink
    capsys.readouterr()
    rc = cli.main(
        ["amend", raw, corr, "--refresh-sink", str(tmp_path / "no_sink")],
        spark=spark,
    )
    assert rc == 2 and "store unchanged" in capsys.readouterr().err
    assert _store_checksums(raw) == before
    # nonexistent digest tier
    rc = cli.main(
        ["amend", raw, corr, "--refresh-digest", str(tmp_path / "no_tier")],
        spark=spark,
    )
    assert rc == 2 and "store unchanged" in capsys.readouterr().err
    assert _store_checksums(raw) == before
    # existing tier, contradicting --digest-bucket (vs its sidecar)
    tier = str(tmp_path / "tier_guard")
    assert cli.main(
        ["digest-tier", raw, tier, "--bucket", "3600"], spark=spark
    ) == 0
    rc = cli.main(
        ["amend", raw, corr, "--refresh-digest", tier,
         "--digest-bucket", "86400"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "bucket" in err and "store unchanged" in err
    assert _store_checksums(raw) == before
    # a non-divisor width/bucket is refused BEFORE the rewrite too —
    # previously refresh_downsample raised it after the store changed
    rc = cli.main(
        ["amend", raw, corr, "--refresh-sink", str(tmp_path / "s"),
         "--refresh-width", "7000"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "86400" in err and "store unchanged" in err
    assert _store_checksums(raw) == before
    rc = cli.main(
        ["amend", raw, corr, "--refresh-digest", str(tmp_path / "t"),
         "--digest-bucket", "7000"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "86400" in err and "store unchanged" in err
    assert _store_checksums(raw) == before

    # downsample sink built at width 300: a --refresh-width 60 amend
    # (or a recover --days at the wrong width) must be refused — the
    # same mixed-bucket hazard as the digest tier, via the sink's
    # _downsample_meta.json
    sink = str(tmp_path / "sink_guard")
    assert cli.main(
        ["recover", raw, sink, "--partitioned", "--width", "300"],
        spark=spark,
    ) == 0
    rc = cli.main(
        ["amend", raw, corr, "--refresh-sink", sink,
         "--refresh-width", "60"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "width" in err and "store unchanged" in err
    assert _store_checksums(raw) == before
    rc = cli.main(
        ["recover", raw, sink, "--days", day, "--width", "60"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "built with" in err

    # the happy path still works with the tier's own bucket
    rc = cli.main(
        ["amend", raw, corr, "--refresh-digest", tier,
         "--digest-bucket", "3600"],
        spark=spark,
    )
    assert rc == 0
    assert _store_checksums(raw) != before


def test_amend_digest_precheck_compares_the_whole_meta(
    spark, tmp_path, capsys
):
    """amend's pre-check is the refresh's own check: a digest tier
    built with --channel-col user_id contradicts the refresh amend
    chains (channel_col event_type) even at the same bucket, so the
    amend exits 2 BEFORE the rewrite. Comparing bucket_s alone let the
    store be amended and the refresh then refuse — store rewritten,
    tier stale."""
    import os

    import pyspark.sql.functions as F

    raw = str(tmp_path / "raw_cc")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    day = sorted(
        d for d in os.listdir(raw) if d.startswith("dt=")
    )[0].split("=", 1)[1]
    corr = str(tmp_path / "corr_cc.parquet")
    cli._load_events(spark, EVENTS).filter(
        F.to_date("ts") == F.lit(day)
    ).limit(5).withColumn("value", F.col("value") + 1.0).write.parquet(corr)
    tier = str(tmp_path / "tier_cc")
    assert cli.main(
        ["digest-tier", raw, tier, "--bucket", "86400",
         "--channel-col", "user_id"],
        spark=spark,
    ) == 0
    before = _store_checksums(raw)
    tier_before = _store_checksums(tier)
    capsys.readouterr()
    rc = cli.main(
        ["amend", raw, corr, "--refresh-digest", tier,
         "--digest-bucket", "86400"],
        spark=spark,
    )
    out = capsys.readouterr()
    assert rc == 2 and "store unchanged" in out.err
    assert "channel_col" in out.err and "amended" not in out.out
    assert _store_checksums(raw) == before
    assert _store_checksums(tier) == tier_before


def test_target_files_spreads_rewrite_without_changing_content(
    spark, tmp_path, capsys
):
    """Round-12 verdict #2: amend / recover --days / digest-tier --days
    take the same --target-files knob as compaction — a hot day's
    rewrite spreads across N write tasks instead of funneling through
    repartition(1) — with byte-level content identical to the
    single-file form."""
    import glob
    import os

    import pyspark.sql.functions as F

    raw = str(tmp_path / "raw_tf")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    day = sorted(
        d for d in os.listdir(raw) if d.startswith("dt=")
    )[0].split("=", 1)[1]
    corr = str(tmp_path / "corr_tf.parquet")
    cli._load_events(spark, EVENTS).filter(
        F.to_date("ts") == F.lit(day)
    ).limit(7).withColumn("value", F.col("value") + 9.0).write.parquet(corr)

    control = str(tmp_path / "raw_tf_control")
    import shutil

    shutil.copytree(raw, control)
    assert cli.main(["amend", control, corr], spark=spark) == 0
    assert cli.main(
        ["amend", raw, corr, "--target-files", "2"], spark=spark
    ) == 0
    assert len(glob.glob(f"{raw}/dt={day}/*.parquet")) == 2
    assert len(glob.glob(f"{control}/dt={day}/*.parquet")) == 1
    a = spark.read.parquet(raw).drop("dt")
    b = spark.read.parquet(control).drop("dt")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # recover --days --target-files
    sink = str(tmp_path / "sink_tf")
    assert cli.main(["recover", raw, sink, "--partitioned"], spark=spark) == 0
    assert cli.main(
        ["recover", raw, sink, "--days", day, "--target-files", "2"],
        spark=spark,
    ) == 0
    assert len(glob.glob(f"{sink}/dt={day}/*.parquet")) == 2
    sink_c = str(tmp_path / "sink_tf_control")
    assert cli.main(
        ["recover", raw, sink_c, "--partitioned"], spark=spark
    ) == 0
    x = spark.read.parquet(sink).drop("dt")
    y = spark.read.parquet(sink_c).drop("dt")
    assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0

    # digest-tier --days --target-files
    tier = str(tmp_path / "tier_tf")
    assert cli.main(["digest-tier", raw, tier], spark=spark) == 0
    assert cli.main(
        ["digest-tier", raw, tier, "--days", day, "--target-files", "2"],
        spark=spark,
    ) == 0
    assert len(glob.glob(f"{tier}/dt={day}/*.parquet")) == 2


def test_digest_diff_materialized_refuses_incompatible_tiers(
    spark, tmp_path, capsys
):
    """ADVICE r12: digest-diff --materialized between tiers built at
    different bucket_s would report total spurious drift with exit 3
    (indistinguishable from real replica drift) — the tiers'
    _digest_meta.json sidecars make it rc 2 with the cause named.
    digest-tier --days against a tier built with other parameters is
    likewise refused."""
    raw = str(tmp_path / "raw_meta")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    t1 = str(tmp_path / "tier_day")
    t2 = str(tmp_path / "tier_hour")
    assert cli.main(["digest-tier", raw, t1], spark=spark) == 0
    assert cli.main(
        ["digest-tier", raw, t2, "--bucket", "3600"], spark=spark
    ) == 0
    capsys.readouterr()
    rc = cli.main(
        ["digest-diff", t1, t2, "--materialized"], spark=spark
    )
    err = capsys.readouterr().err
    assert rc == 2 and "incompatible" in err
    # same parameters: clean comparison, rc 0
    rc = cli.main(
        ["digest-diff", t1, t1, "--materialized"], spark=spark
    )
    assert rc == 0

    # day-scoped refresh with contradicting bucket: rc 2, not a mixed
    # tier
    import os

    day = sorted(
        d for d in os.listdir(raw) if d.startswith("dt=")
    )[0].split("=", 1)[1]
    rc = cli.main(
        ["digest-tier", raw, t1, "--days", day, "--bucket", "3600"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "built with" in err


def test_watch_dedup_stage_with_checkpoint_resume(spark, tmp_path, capsys):
    """Round-12 verdict #5: the live ingest topology s18 gates is now
    a `watch` stage — `watch --mode dedup --dedup-index` streams a
    growing documents directory through the production
    incremental_dedup per micro-batch: survivors land under
    --out/batch=N, signatures append to the index, a second run
    resumes from the checkpoint processing ONLY the new arrival, and
    totals print via the exact listener path. The survivor set must
    equal the CLI batch lifecycle (dedup-probe per shard, in arrival
    order) verbatim."""
    import glob
    import os

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        write_minhash_index,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    idx = str(tmp_path / "widx")
    src = str(tmp_path / "arrivals")
    surv = str(tmp_path / "wsurv")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 3 == 1), idx, hash_mode="poly"
    )
    # control: the same shards through the library lifecycle
    cidx = str(tmp_path / "cidx")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 3 == 1), cidx, hash_mode="poly"
    )
    expect = {}
    for arrival, shard in ((0, 2), (1, 0)):
        kept = incremental_dedup(
            docs.filter(F.col("doc_id") % 3 == shard), cidx,
            survivors_path=str(tmp_path / f"csurv_{arrival}"),
        )
        expect[arrival] = {r.doc_id for r in kept.select("doc_id").collect()}

    # guards: missing --out / missing index
    capsys.readouterr()
    assert cli.main(
        ["watch", src, "--mode", "dedup", "--out", surv], spark=spark
    ) == 2
    assert "--dedup-index" in capsys.readouterr().err
    assert cli.main(
        ["watch", src, "--mode", "dedup", "--out", surv,
         "--dedup-index", str(tmp_path / "noidx")], spark=spark
    ) == 2
    assert "does not exist" in capsys.readouterr().err

    # arrival 2 lands; session one catches up (micro-batch 0)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    rc = cli.main(
        ["watch", src, "--mode", "dedup", "--out", surv,
         "--dedup-index", idx], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0 and "caught up in 1 micro-batch(es)" in out
    got0 = {
        r.doc_id
        for r in spark.read.parquet(f"{surv}/batch=0").select(
            "doc_id"
        ).collect()
    }
    assert got0 == expect[0]

    # the directory grows; a second session resumes from the
    # checkpoint and processes ONLY the new file (batch 1)
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    rc = cli.main(
        ["watch", src, "--mode", "dedup", "--out", surv,
         "--dedup-index", idx], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0 and "caught up in 1 micro-batch(es)" in out
    got1 = {
        r.doc_id
        for r in spark.read.parquet(f"{surv}/batch=1").select(
            "doc_id"
        ).collect()
    }
    assert got1 == expect[1]
    assert sorted(os.path.basename(p) for p in glob.glob(f"{surv}/batch=*")) \
        == ["batch=0", "batch=1"]
    # the watch-maintained index equals the control index row-for-row
    a = spark.read.parquet(idx)
    b = spark.read.parquet(cidx)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_watch_follow_marks_partial_totals_on_listener_timeout(
    spark, tmp_path, capsys, monkeypatch
):
    """ADVICE r12: an interrupted --follow daemon whose terminate
    event never arrives must NOT report undercounted listener totals
    as exact — the CLI stops the query, re-waits, and on a genuine
    listener failure falls back to the retained-progress fold with an
    explicit '(partial…)' marker."""
    import threading
    import time as _time

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.plans.metrics import (
        ProgressAccumulator,
    )

    src = str(tmp_path / "pfollow_src")
    out = str(tmp_path / "pfollow_out")
    rows = [(f"2026-01-01 00:00:{s:02d}", "s", "a", float(s), 0)
            for s in range(10)]
    spark.createDataFrame(
        rows, "ts string, source string, channel string, value double, "
              "status int",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(src)

    # simulate the terminate event never arriving on the listener bus
    monkeypatch.setattr(
        ProgressAccumulator, "wait_terminated",
        lambda self, q, timeout_s=30.0: False,
    )

    def stop_when_processed():
        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:
            for q in [q for q in spark.streams.active if q.isActive]:
                if q.recentProgress and sum(
                    p["numInputRows"] for p in q.recentProgress
                ) >= 10:
                    q.stop()
                    return
            _time.sleep(0.5)

    t = threading.Thread(target=stop_when_processed, daemon=True)
    t.start()
    rc = cli.main(
        ["watch", src, "--mode", "freshness", "--out", out,
         "--follow", "--interval", "1"],
        spark=spark,
    )
    t.join(timeout=10)
    assert rc == 0
    out_txt = capsys.readouterr().out
    assert "(partial: stop not confirmed)" in out_txt
    # the retained-progress fallback still carries the true counts
    # here (well under the 100-batch retention cap)
    assert "10 row(s) in" in out_txt


def test_pre_sidecar_tier_adoption_validates_alignment(
    spark, tmp_path, capsys
):
    """Review fixes, round 13: a tier WITHOUT a parameter sidecar
    (pre-round-13 build) must not blindly adopt the caller's claim —
    a day refresh claiming a width the existing buckets do not align
    to is refused (rc 2) BEFORE any rewrite, and digest-diff
    --materialized against a sidecar-less tier says its parameters
    are unverified instead of silently skipping the compatibility
    check."""
    import os

    raw = str(tmp_path / "raw_adopt")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    day = sorted(
        d for d in os.listdir(raw) if d.startswith("dt=")
    )[0].split("=", 1)[1]

    # sink built at width 60, sidecar removed to simulate an old build
    sink = str(tmp_path / "sink_adopt")
    assert cli.main(
        ["recover", raw, sink, "--partitioned", "--width", "60"],
        spark=spark,
    ) == 0
    os.remove(os.path.join(sink, "_downsample_meta.json"))
    before = _store_checksums(sink)
    capsys.readouterr()
    # claiming a COARSER width than built: 60 s buckets are not
    # 300-aligned -> refused, nothing rewritten, no sidecar stamped
    rc = cli.main(
        ["recover", raw, sink, "--days", day, "--width", "300"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "not aligned" in err
    assert _store_checksums(sink) == before
    assert not os.path.exists(os.path.join(sink, "_downsample_meta.json"))
    # the true width is adopted: refresh succeeds and stamps the meta
    rc = cli.main(
        ["recover", raw, sink, "--days", day, "--width", "60"],
        spark=spark,
    )
    assert rc == 0
    assert os.path.exists(os.path.join(sink, "_downsample_meta.json"))

    # digest tier: same alignment refusal through the library guard
    tier = str(tmp_path / "tier_adopt")
    assert cli.main(
        ["digest-tier", raw, tier, "--bucket", "3600"], spark=spark
    ) == 0
    os.remove(os.path.join(tier, "_digest_meta.json"))
    rc = cli.main(
        ["digest-tier", raw, tier, "--days", day, "--bucket", "86400"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "not aligned" in err

    # materialized diff against the sidecar-less tier: rc reflects the
    # data (identical tier vs itself -> 0) but stderr flags the
    # unverified parameters
    rc = cli.main(
        ["digest-diff", tier, tier, "--materialized"], spark=spark
    )
    out = capsys.readouterr()
    assert rc == 0 and "identical" in out.out
    assert "unverified" in out.err


def test_amend_pre_sidecar_targets_checked_before_rewrite(
    spark, tmp_path, capsys
):
    """ADVICE r13: cmd_amend's 'checked BEFORE any rewrite' guarantee
    must also hold for targets that predate the parameter sidecars —
    with no _downsample_meta.json / _digest_meta.json the sidecar
    compare is vacuous, so the CLI runs the library's bucket-alignment
    probe in the pre-check and refuses with rc 2 while the store is
    still byte-identical. Also pins the zero/negative width guards
    (previously a ZeroDivisionError traceback)."""
    import os

    import pyspark.sql.functions as F

    raw = str(tmp_path / "raw_presc")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    day = sorted(
        d for d in os.listdir(raw) if d.startswith("dt=")
    )[0].split("=", 1)[1]
    corr = str(tmp_path / "corr_presc.parquet")
    cli._load_events(spark, EVENTS).filter(
        F.to_date("ts") == F.lit(day)
    ).limit(3).withColumn("value", F.col("value") + 2.0).write.parquet(corr)
    before = _store_checksums(raw)

    # pre-sidecar downsample sink built at width 60, amended at 300:
    # 60-aligned buckets are not all 300-aligned, so the alignment
    # probe must fire in the PRE-check. (The reverse — a FINER claimed
    # width — divides the coarser buckets and is undetectable from
    # data; only the sidecar closes that, which is why it exists.)
    sink = str(tmp_path / "sink_presc")
    assert cli.main(
        ["recover", raw, sink, "--partitioned", "--width", "60"],
        spark=spark,
    ) == 0
    os.remove(os.path.join(sink, "_downsample_meta.json"))
    capsys.readouterr()
    rc = cli.main(
        ["amend", raw, corr, "--refresh-sink", sink,
         "--refresh-width", "300"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "not aligned" in err and "store unchanged" in err
    assert _store_checksums(raw) == before

    # pre-sidecar digest tier built at 3600, amended at 86400
    tier = str(tmp_path / "tier_presc")
    assert cli.main(
        ["digest-tier", raw, tier, "--bucket", "3600"], spark=spark
    ) == 0
    os.remove(os.path.join(tier, "_digest_meta.json"))
    rc = cli.main(
        ["amend", raw, corr, "--refresh-digest", tier,
         "--digest-bucket", "86400"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "not aligned" in err and "store unchanged" in err
    assert _store_checksums(raw) == before

    # zero / negative widths exit 2 with the divisor message, never a
    # ZeroDivisionError traceback — CLI pre-checks and library twins
    for argv in (
        ["amend", raw, corr, "--refresh-sink", sink, "--refresh-width", "0"],
        ["amend", raw, corr, "--refresh-digest", tier,
         "--digest-bucket", "-60"],
        ["recover", raw, str(tmp_path / "s0"), "--partitioned",
         "--width", "0"],
        ["digest-tier", raw, str(tmp_path / "t0"), "--bucket", "0"],
    ):
        rc = cli.main(argv, spark=spark)
        err = capsys.readouterr().err
        assert rc == 2 and "positive divisor" in err, argv
    assert _store_checksums(raw) == before


def test_digest_diff_single_sidecar_adopts_its_channel_col(
    spark, tmp_path, capsys
):
    """ADVICE r13: with exactly ONE sidecar'd tier, digest-diff
    --materialized must take the channel column from that sidecar —
    under the old both-or-flag rule a wrong/default --channel-col
    selected a nonexistent column and died in an AnalysisException
    traceback instead of diffing."""
    import os

    raw = str(tmp_path / "raw_one")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    t1 = str(tmp_path / "tier_a")
    t2 = str(tmp_path / "tier_b")
    assert cli.main(["digest-tier", raw, t1], spark=spark) == 0
    assert cli.main(["digest-tier", raw, t2], spark=spark) == 0
    os.remove(os.path.join(t2, "_digest_meta.json"))
    capsys.readouterr()
    # a bogus flag value must NOT reach the plan: the surviving
    # sidecar's channel_col governs
    rc = cli.main(
        ["digest-diff", t1, t2, "--materialized",
         "--channel-col", "no_such_column"],
        spark=spark,
    )
    out = capsys.readouterr()
    assert rc == 0 and "identical" in out.out
    assert "unverified" in out.err


def test_full_rebuild_honors_target_files(spark, tmp_path, capsys):
    """ADVICE r13: --target-files applied only to --days refreshes and
    was silently ignored by full rebuilds — now a --partitioned
    recover / full digest-tier build fans each day across N write
    tasks (deterministic channel-hash salt), content identical to the
    single-file layout."""
    import glob
    import os

    raw = str(tmp_path / "raw_fr")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0

    sink1 = str(tmp_path / "sink_fr1")
    sink2 = str(tmp_path / "sink_fr2")
    assert cli.main(
        ["recover", raw, sink1, "--partitioned"], spark=spark
    ) == 0
    assert cli.main(
        ["recover", raw, sink2, "--partitioned", "--target-files", "2"],
        spark=spark,
    ) == 0
    days = [d for d in os.listdir(sink2) if d.startswith("dt=")]
    assert days
    for d in days:
        assert 1 <= len(glob.glob(f"{sink2}/{d}/*.parquet")) <= 2
    assert any(
        len(glob.glob(f"{sink2}/{d}/*.parquet")) == 2 for d in days
    )
    a = spark.read.parquet(sink1).drop("dt")
    b = spark.read.parquet(sink2).drop("dt")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    tier1 = str(tmp_path / "tier_fr1")
    tier2 = str(tmp_path / "tier_fr2")
    assert cli.main(
        ["digest-tier", raw, tier1, "--bucket", "3600"], spark=spark
    ) == 0
    assert cli.main(
        ["digest-tier", raw, tier2, "--bucket", "3600",
         "--target-files", "2"],
        spark=spark,
    ) == 0
    tdays = [d for d in os.listdir(tier2) if d.startswith("dt=")]
    assert any(
        len(glob.glob(f"{tier2}/{d}/*.parquet")) == 2 for d in tdays
    )
    x = spark.read.parquet(tier1).drop("dt")
    y = spark.read.parquet(tier2).drop("dt")
    assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0


def test_fetch_verb_routes_ladder_and_guards(spark, tmp_path, capsys):
    """Round-13 verdict #1: the CLI `fetch` verb — rrdtool's fetch —
    answers a range aggregate from the materialized ladder, naming the
    routed sink; an un-servable width or a sidecar-less path exits 2
    with the cause, never a raw scan or a traceback."""
    raw = str(tmp_path / "raw_fetch")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    w60 = str(tmp_path / "f_w60")
    w3600 = str(tmp_path / "f_w3600")
    assert cli.main(
        ["recover", raw, w60, "--partitioned", "--width", "60"], spark=spark
    ) == 0
    assert cli.main(
        ["recover", raw, w3600, "--partitioned", "--width", "3600"],
        spark=spark,
    ) == 0
    capsys.readouterr()
    rc = cli.main(
        ["fetch", w60, w3600, "--width", "86400"], spark=spark
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert f"routed to {w3600} (tier width 3600s)" in out
    assert "avg_v" in out and "bucket_us" in out

    # --step adds the xfiles-factor validity columns
    rc = cli.main(
        ["fetch", w60, w3600, "--width", "86400", "--step", "600"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0 and "is_valid" in out and "expected" in out

    # bounded fetch with the time-literal grammar
    rc = cli.main(
        ["fetch", w60, w3600, "--width", "3600",
         "-s", "2024-01-02", "-e", "2024-01-03"],
        spark=spark,
    )
    assert rc == 0 and "routed to" in capsys.readouterr().out

    # un-servable width: exit 2, cause named
    rc = cli.main(["fetch", w3600, "--width", "5400"], spark=spark)
    err = capsys.readouterr().err
    assert rc == 2 and "no tier" in err

    # sidecar-less path: exit 2
    rc = cli.main(
        ["fetch", str(tmp_path / "missing"), "--width", "3600"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "sidecar" in err


def test_ivf_verbs_refuse_geometry_mismatch(spark, tmp_path, capsys):
    """Round-13 verdict #5, CLI half: append-index / probe exit 2 with
    the cause named when the batch width, query length, or key/vec
    columns contradict the layout's _centroids_meta.json — the
    digest-diff incompatible-tier contract applied to the ANN index."""
    import pyspark.sql.functions as F

    emb_src = f"{SF_SMOKE}/embeddings.parquet"
    emb = spark.read.parquet(emb_src)
    dim = emb.select(F.size("embedding")).first()[0]
    base = str(tmp_path / "base.parquet")
    emb.filter(F.col("vec_id") < 40).write.parquet(base)
    idx = str(tmp_path / "idx")
    assert cli.main(
        ["write-index", base, idx, "--centroids", "0,1,2,3"], spark=spark
    ) == 0
    import json
    import os

    meta = json.load(open(os.path.join(idx, "_centroids_meta.json")))
    assert meta["dim"] == dim and meta["nlist"] == 4

    # wrong-width batch
    badp = str(tmp_path / "bad.parquet")
    emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50)).withColumn(
        "embedding", F.slice("embedding", 1, dim - 1)
    ).write.parquet(badp)
    capsys.readouterr()
    rc = cli.main(["append-index", badp, idx], spark=spark)
    err = capsys.readouterr().err
    assert rc == 2 and "dim" in err

    # wrong key column
    rc = cli.main(
        ["append-index", base, idx, "--key", "doc_id"], spark=spark
    )
    err = capsys.readouterr().err
    assert rc == 2 and "key=" in err

    # wrong-length probe vector
    rc = cli.main(
        ["probe", idx, "--vector", "1.0,2.0", "--cells", "0"], spark=spark
    )
    err = capsys.readouterr().err
    assert rc == 2 and "components" in err

    # the happy paths still work
    goodp = str(tmp_path / "good.parquet")
    emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50)).write.parquet(goodp)
    assert cli.main(["append-index", goodp, idx], spark=spark) == 0
    qv = ",".join(str(float(i % 3)) for i in range(dim))
    assert cli.main(
        ["probe", idx, "--vector", qv, "--cells", "0"], spark=spark
    ) == 0


def test_watch_dedup_follow_survivors_and_partial_marker(
    spark, tmp_path, capsys, monkeypatch
):
    """Round-13 verdict #6: the --follow path of `watch --mode dedup`
    shares the listener-timeout machinery whose partial-totals marker
    was only exercised in alarm mode — a resident dedup daemon must
    (a) persist the same survivor set per micro-batch as the library
    lifecycle and (b) flag its shutdown totals '(partial…)' when the
    terminate event never arrives, instead of reporting undercounts
    as exact."""
    import threading
    import time as _time

    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.dedup import (
        incremental_dedup,
        write_minhash_index,
    )
    from etsd_time_series_database_spark.plans.metrics import (
        ProgressAccumulator,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    shard = docs.filter(F.col("doc_id") % 3 == 2)
    n_shard = shard.count()
    idx = str(tmp_path / "fidx")
    cidx = str(tmp_path / "fcidx")
    src = str(tmp_path / "farrivals")
    surv = str(tmp_path / "fsurv")
    write_minhash_index(
        docs.filter(F.col("doc_id") % 3 == 1), idx, hash_mode="poly"
    )
    write_minhash_index(
        docs.filter(F.col("doc_id") % 3 == 1), cidx, hash_mode="poly"
    )
    kept = incremental_dedup(
        shard, cidx, survivors_path=str(tmp_path / "fcsurv")
    )
    expect = {r.doc_id for r in kept.select("doc_id").collect()}
    shard.coalesce(1).write.parquet(src)

    monkeypatch.setattr(
        ProgressAccumulator, "wait_terminated",
        lambda self, q, timeout_s=30.0: False,
    )

    def stop_when_processed():
        deadline = _time.monotonic() + 120
        while _time.monotonic() < deadline:
            for q in [q for q in spark.streams.active if q.isActive]:
                if q.recentProgress and sum(
                    p["numInputRows"] for p in q.recentProgress
                ) >= n_shard:
                    q.stop()
                    return
            _time.sleep(0.5)

    t = threading.Thread(target=stop_when_processed, daemon=True)
    t.start()
    capsys.readouterr()
    rc = cli.main(
        ["watch", src, "--mode", "dedup", "--dedup-index", idx,
         "--out", surv, "--follow", "--interval", "1"],
        spark=spark,
    )
    t.join(timeout=10)
    assert rc == 0
    out_txt = capsys.readouterr().out
    assert "(partial: stop not confirmed)" in out_txt
    got = {
        r.doc_id
        for r in spark.read.parquet(f"{surv}/batch=0")
        .select("doc_id").collect()
    }
    assert got == expect


def test_fetch_end_only_and_wrong_kind_refresh_target(
    spark, tmp_path, capsys
):
    """Review fixes, round 14: (a) `fetch -e <past>` without -s means
    'everything before end' — previously start defaulted to now and
    any historical end died in an uncaught end-before-start traceback;
    (b) an amend --refresh-sink pointed at a DIGEST tier (dt=-
    partitioned, sidecar-less, no bucket_ts column) is refused rc 2 by
    the alignment probe instead of a KeyError."""
    import os

    raw = str(tmp_path / "raw_rf")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    sink = str(tmp_path / "rf_sink")
    assert cli.main(
        ["recover", raw, sink, "--partitioned", "--width", "3600"],
        spark=spark,
    ) == 0
    capsys.readouterr()
    rc = cli.main(
        ["fetch", sink, "--width", "3600", "-e", "2024-01-03"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0 and "routed to" in out
    # a bad range still exits 2 cleanly
    rc = cli.main(
        ["fetch", sink, "--width", "3600",
         "-s", "2024-02-01", "-e", "2024-01-01"],
        spark=spark,
    )
    assert rc == 2 and "before start" in capsys.readouterr().err

    # (b): digest tier as --refresh-sink target
    tier = str(tmp_path / "rf_tier")
    assert cli.main(
        ["digest-tier", raw, tier, "--bucket", "3600"], spark=spark
    ) == 0
    os.remove(os.path.join(tier, "_digest_meta.json"))
    day = sorted(
        d for d in os.listdir(raw) if d.startswith("dt=")
    )[0].split("=", 1)[1]
    corr = str(tmp_path / "rf_corr.parquet")
    import pyspark.sql.functions as F

    cli._load_events(spark, EVENTS).filter(
        F.to_date("ts") == F.lit(day)
    ).limit(3).write.parquet(corr)
    rc = cli.main(
        ["amend", raw, corr, "--refresh-sink", tier,
         "--refresh-width", "3600"],
        spark=spark,
    )
    err = capsys.readouterr().err
    assert rc == 2 and "store unchanged" in err


def test_legacy_sink_day_refresh_keeps_schema(spark, tmp_path, capsys):
    """Review fixes, round 14: a day-scoped refresh of a pre-sum_value
    sink preserves the sink's own column set (a mixed-schema sink
    would let fetch compose null sums for the un-refreshed days);
    fetch on such a sink keeps raising the rebuild hint."""
    import glob
    import json
    import os

    import pytest as _pytest

    from etsd_time_series_database_spark.operators.trends import (
        fetch_from_tier,
    )

    raw = str(tmp_path / "raw_leg")
    assert cli.main(
        ["create", EVENTS, raw, "--mode", "overwrite"], spark=spark
    ) == 0
    sink = str(tmp_path / "leg_sink")
    assert cli.main(
        ["recover", raw, sink, "--partitioned", "--width", "3600"],
        spark=spark,
    ) == 0
    # strip sum_value to simulate a pre-round-14 build
    legacy = spark.read.parquet(sink).drop("sum_value")
    tmp_copy = str(tmp_path / "leg_copy")
    legacy.repartition("dt").write.partitionBy("dt").parquet(tmp_copy)
    import shutil

    shutil.rmtree(sink)
    shutil.move(tmp_copy, sink)
    with open(os.path.join(sink, "_downsample_meta.json"), "w") as fh:
        json.dump({"width_s": 3600}, fh)

    day = sorted(
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(f"{sink}/dt=*")
    )[0]
    assert cli.main(
        ["recover", raw, sink, "--days", day, "--width", "3600"],
        spark=spark,
    ) == 0
    refreshed = spark.read.parquet(f"{sink}/dt={day}")
    assert "sum_value" not in refreshed.columns
    assert "sum_value" not in spark.read.parquet(sink).columns
    with _pytest.raises(ValueError, match="sum_value"):
        fetch_from_tier(spark, sink, 7200)
