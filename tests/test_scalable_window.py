"""Equivalence tests: the skew-proof (channel, bucket) window operators
must produce bit-identical results to the plain per-channel windows on
the real testdata — same numbers, ~n_buckets x more parallelism."""

from __future__ import annotations

import importlib

from pyspark.sql import functions as F

from etsd_time_series_database_spark.sources.store import load_table
from tests.conftest import SF_SMOKE
from tests.plain_windows import channel_global

ops = importlib.import_module("etsd_time_series_database_spark.operators.range_stats")
sw = importlib.import_module(
    "etsd_time_series_database_spark.operators.scalable_window"
)


def _events(spark):
    return load_table(spark, SF_SMOKE, "events")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_rate_scalable_equals_global_window(spark):
    e = _events(spark)
    with channel_global():
        want = ops.rate(e)
    assert _rows(sw.rate_scalable(e, bucket_s=86400)) == _rows(want)


def test_rate_scalable_small_buckets_still_exact(spark):
    # 1-hour buckets: many more boundaries to stitch, same result.
    e = _events(spark)
    with channel_global():
        want = ops.rate(e)
    assert _rows(sw.rate_scalable(e, bucket_s=3600)) == _rows(want)


def test_rollover_scalable_equals_global_window(spark):
    e = _events(spark)
    with channel_global():
        want = ops.rollover_corrected(e)
    assert _rows(sw.rollover_corrected_scalable(e, bucket_s=86400)) == _rows(
        want
    )


def test_cumsum_scalable_equals_window_sum(spark):
    e = _events(spark)
    got = sw.cumsum_scalable(e, F.col("value"), "cum").select("event_id", "cum")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = e.select("event_id", F.sum("value").over(w).alias("cum"))
    g = dict(map(tuple, got.collect()))
    x = dict(map(tuple, want.collect()))
    # float addition order differs between the two plans; values agree
    # to within accumulation round-off
    assert g.keys() == x.keys()
    assert all(abs(g[k] - x[k]) < 1e-6 for k in x)


def test_parallelism_actually_increases(spark):
    """The in-bucket window must partition by (channel, bucket), not by
    channel alone: check the physical plan's first window exchange keys."""
    e = _events(spark)
    plan = (
        sw.rate_scalable(e, bucket_s=3600)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "__bkt" in plan  # bucket key participates in the hash partitioning


def test_asof_scalable_equals_asof(spark):
    """asof_join_scalable == asof_join on the q23 shape (orders probed
    against events), for both coarse and fine buckets — fine buckets
    force many empty probe buckets, exercising the cross-bucket carry."""
    import importlib

    asof_mod = importlib.import_module(
        "etsd_time_series_database_spark.operators.asof"
    )
    e = load_table(spark, SF_SMOKE, "events").withColumn(
        "k", F.col("event_type")
    )
    # probes: one per hour over a span wider than the data on both ends
    probes = spark.range(24 * 40).select(
        (F.col("id") % 5).cast("string").alias("pid"),
        F.timestamp_seconds(
            F.lit(1703980800) + F.col("id") * 3600  # starts 2023-12-31
        ).alias("ts"),
        F.col("id").alias("probe_id"),
    )
    probes = probes.withColumn(
        "k",
        F.element_at(
            F.array(*[F.lit(c) for c in ["click", "error", "purchase", "signup", "view"]]),
            (F.col("pid").cast("int") + 1),
        ),
    ).drop("pid")
    want = sorted(
        map(
            tuple,
            asof_mod.asof_join(probes, e, on="k", value_cols=["value"]).collect(),
        )
    )
    for bucket_s in (86400, 3600):
        got = sorted(
            map(
                tuple,
                asof_mod.asof_join_scalable(
                    probes, e, on="k", value_cols=["value"], bucket_s=bucket_s
                ).collect(),
            )
        )
        assert got == want, f"bucket_s={bucket_s}"


def test_rollover_plan_has_no_duplicate_bucket_shuffle(spark):
    """The prefix-sum window must ride lag_stitched's (channel, bucket)
    partitioning: recomputing __bkt under a fresh attribute id used to
    add a second full-table Exchange + Sort chain (16 hash exchanges;
    now 12). Pin the ceiling so a refactor that breaks partitioning
    reuse fails loudly."""
    from etsd_time_series_database_spark.plans import catalog
    from tests.conftest import SF_SMOKE

    df = catalog()["q08_rollover_correction"].build(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("Exchange hashpartitioning")
    assert n <= 12, f"q08 regressed to {n} hash exchanges"


def test_running_zscore_scalable_equals_batch(spark):
    """q72 == q71 bit-identically on the real testdata at the default
    daily bucket AND at a tiny bucket that forces many boundary
    carries (the stitched exclusive-prefix arithmetic is the part
    that can silently drift)."""
    from etsd_time_series_database_spark.operators.trends import (
        running_zscore_batch,
    )

    e = _events(spark)
    want = _rows(running_zscore_batch(e, min_n=10))
    assert want  # the testdata actually flags something at min_n=10
    for bucket_s in (86_400, 60):
        got = _rows(
            sw.running_zscore_scalable(e, min_n=10, bucket_s=bucket_s)
        )
        assert got == want, bucket_s


def test_running_zscore_scalable_nulls_and_nonfinite(spark):
    """NULL/inf readings: both forms must null them out of stats and
    flags identically — including when the inf row sits EXACTLY on a
    bucket boundary of the stitched form."""
    import datetime as dt

    from etsd_time_series_database_spark.operators.trends import (
        running_zscore_batch,
    )

    rows = []
    for i in range(25):
        v = [9.0, 11.0, 10.0][i % 3]
        if i == 10:
            v = float("inf")
        if i == 13:
            v = None
        rows.append(
            (i, "a",
             dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i * 30), v)
        )
    rows.append((99, "a", dt.datetime(2024, 1, 1, 0, 13, 0), 444.0))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    want = _rows(running_zscore_batch(df, min_n=5))
    # 60 s buckets: the i=10 inf row lands exactly on a boundary
    got = _rows(sw.running_zscore_scalable(df, min_n=5, bucket_s=60))
    assert got == want
    assert any(r[3] == 444.0 for r in want)  # outlier flagged


def test_lag_stitched_boundary_agg_combines_map_side(spark):
    """The per-(channel, bucket) boundary table must stay a partial+
    final aggregate pair (map-side combine before its exchange),
    whatever the physical aggregate strategy. Round-14 measured the
    two strategies head-to-head at 20M rows: the struct-ordered
    max_by's SortAggregate (partial sort by the group key) beat the
    ohlc-style DECIMAL(38,0)-packed HashAggregate 1.13 s vs 2.15 s —
    precision-38 decimals are BigDecimal-backed, so the 'hash' form
    pays per-row BigDecimal multiplies. Pin only the map-side combine,
    not the strategy."""
    from etsd_time_series_database_spark.plans import catalog
    from tests.conftest import SF_SMOKE

    for name in ("q07_delta_rate", "q08_rollover_correction"):
        df = catalog()[name].build(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_max_by" in plan, name


def test_exact_percentiles_scalable_equals_global_rank(spark):
    """Round-14 optimization: q33's rank window must run at (channel,
    value-bucket) parallelism, never as a channel-global sort of the
    fact table; the stitched form (in-bucket row_number + exclusive
    running bucket counts) must reproduce the plain form bit-exactly,
    including on NaN/Inf values (NaN pins to the top bucket, where
    in-bucket value order still places it after +Inf)."""
    import re

    e = _events(spark)
    got = _rows(ops.exact_percentiles(e))
    with channel_global():
        want = _rows(ops.exact_percentiles(e))
    assert got == want

    plan = (
        ops.exact_percentiles(e)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the fact-table rank window partitions by (channel, __vb);
    # channel-only specs are legal only on the tiny bucket-counts table
    # (ordered by __vb, never by value)
    assert re.search(
        r"windowspecdefinition\(event_type#\d+, __vb#\d+L?, value#", plan
    ), plan
    assert not re.search(
        r"windowspecdefinition\(event_type#\d+, value#", plan
    ), plan

    # NaN / Inf ordering parity between the two forms
    rows = [
        (1, "a", float("nan")),
        (2, "a", float("inf")),
        (3, "a", float("-inf")),
        (4, "a", 1e300),
        (5, "a", -1e300),
        (6, "a", 42.0),
        (7, "a", 42.0),
        (8, "b", float("nan")),
        (9, "b", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )

    def _norm(rows_):
        # NaN != NaN under tuple equality; compare by repr instead
        return [tuple(map(repr, r)) for r in rows_]

    with channel_global():
        want = _rows(ops.exact_percentiles(df))
    assert _norm(_rows(ops.exact_percentiles(df))) == _norm(want)


def test_exact_percentiles_bucket_adaptive_on_narrow_range(spark):
    """Round-15: the value bucket is the high bits of the IEEE-754
    sortable-bits image (exponent + top mantissa bits), so a channel
    whose values concentrate in [0, 1) — where the round-14 fixed
    width 100.0 collapsed every row into ONE bucket, restoring the
    per-channel sort skew — fans out across many buckets, while the
    stitched ranks stay bit-identical to the plain window."""
    rows = [
        (i, "ch%d" % (i % 2), (i * 37 % 1000) / 1000.0)
        for i in range(1, 2001)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    with channel_global():
        want = _rows(ops.exact_percentiles(df))
    assert _rows(ops.exact_percentiles(df)) == want
    from etsd_time_series_database_spark.functions.exprs import (
        double_sortable_bits,
    )

    n_buckets = (
        df.select(
            F.shiftright(
                double_sortable_bits(F.col("value")), 52 - ops.VALUE_BUCKET_BITS
            ).alias("vb")
        )
        .distinct()
        .count()
    )
    assert n_buckets > 16, n_buckets


def test_value_ranks_match_row_number_on_signed_zeros(spark):
    """q33's rank helper on channels mixing -0.0, 0.0 and other values.
    The rank sort treats -0.0 == 0.0 and breaks the tie by seq, so the
    stitched ranks must equal the channel-global row_number row for
    row. Bucketing on the raw bits image put -0.0 one bucket below
    +0.0 and ranked every -0.0 ahead of every 0.0."""
    rows = [
        (1, "a", 0.0), (2, "a", -0.0), (3, "a", 1.0), (4, "a", -1.0),
        (5, "a", -0.0), (6, "a", 0.0), (7, "b", 0.0), (8, "b", -0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )

    def ranks():
        ranked, counts = ops._value_ranks(df, "event_type", "value", "event_id")
        # repr tells -0.0 from 0.0, which tuple equality does not
        return (
            sorted((r[0], repr(r[1]), r[2]) for r in ranked.collect()),
            _rows(counts),
        )

    got = ranks()
    with channel_global():
        want = ranks()
    assert got == want
    assert ("a", "0.0", 2) in want[0]  # seq 1's 0.0 before seq 2's -0.0
