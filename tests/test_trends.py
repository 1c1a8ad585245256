"""Hand-computed semantics tests for operators/trends.py."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row

from etsd_time_series_database_spark.operators.trends import (
    ewma_truncated,
    ohlc,
    resample_interpolate,
    time_weighted_avg,
    value_histogram,
    zscore_anomalies,
)

UTC = dt.timezone.utc


def _t(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, event_type=c, ts=t, value=float(v)) for i, c, t, v in rows]
    )


def test_ohlc_open_close_ties(spark):
    df = _events(
        spark,
        [
            (1, "a", _t(0), 10.0),
            (2, "a", _t(5), 99.0),
            (3, "a", _t(59), 7.0),
            # same ts as event 3: higher event_id wins "close"
            (4, "a", _t(59), 8.0),
            (5, "b", dt.datetime(2024, 1, 1, 1, 1), 1.0),
        ],
    )
    out = {r["event_type"]: r for r in ohlc(df, 3600).collect()}
    a = out["a"]
    assert (a["open_value"], a["high_value"], a["low_value"], a["close_value"]) == (
        10.0,
        99.0,
        7.0,
        8.0,
    )
    assert a["n_samples"] == 4
    assert out["b"]["open_value"] == out["b"]["close_value"] == 1.0


def test_value_histogram_bins_negative(spark):
    df = _events(
        spark,
        [(1, "a", _t(0), -0.5), (2, "a", _t(1), 0.0), (3, "a", _t(2), 24.9),
         (4, "a", _t(3), 25.0)],
    )
    out = {r["bin_idx"]: r for r in value_histogram(df, 25.0).collect()}
    assert out[-1]["n"] == 1 and out[-1]["bin_lo"] == -25.0
    assert out[0]["n"] == 2
    assert out[1]["n"] == 1 and out[1]["bin_lo"] == 25.0


def test_zscore_flags_only_outlier(spark):
    rows = [(i, "a", _t(i), 10.0 + (i % 2)) for i in range(20)]
    rows.append((99, "a", _t(30), 1000.0))
    out = zscore_anomalies(_events(spark, rows), 3.0).collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["z"] > 3


def test_zscore_constant_channel_no_nan_sqrt(spark):
    """ss/n - mean^2 can round to a tiny negative on a constant
    channel; the clamped sqrt must yield std=0 (not NaN on Spark /
    an exception on the ANSI oracle) and flag no rows."""
    rows = [(i, "const", _t(i), 42.000001) for i in range(10)]
    rows += [(100 + i, "a", _t(i), float(i)) for i in range(10)]
    out = zscore_anomalies(_events(spark, rows), 3.0).collect()
    assert [r["event_id"] for r in out if r["event_type"] == "const"] == []


def test_channel_correlation_constant_channel_no_nan_sqrt(spark):
    """A constant channel has zero variance; the clamp keeps sqrt at 0
    and the guarded division emits NULL pearson instead of
    DIVIDE_BY_ZERO (ANSI Spark) or sqrt(-epsilon) aborting an ANSI
    oracle. Correlated channels must still come out exact."""
    from etsd_time_series_database_spark.operators.trends import (
        channel_correlation,
    )

    rows = []
    for i in range(6):
        rows.append((i * 3 + 1, "a", _t(0, i * 10), float(i)))
        rows.append((i * 3 + 2, "b", _t(0, i * 10), 2.0 * i + 1))
        rows.append((i * 3 + 3, "c", _t(0, i * 10), 5.0))
    out = {
        (r["ch_a"], r["ch_b"]): r["pearson"]
        for r in channel_correlation(_events(spark, rows), 10).collect()
    }
    assert out[("a", "b")] == pytest.approx(1.0)
    assert out[("a", "c")] is None


def test_time_weighted_avg_carry_and_clip(spark):
    # channel a: v=10 for first 30 min, v=20 for the next 30.
    df = _events(spark, [(1, "a", _t(0), 10.0), (2, "a", _t(30), 20.0)])
    out = time_weighted_avg(
        df, "2024-01-01 00:00:00", "2024-01-01 01:00:00"
    ).collect()
    assert len(out) == 1
    assert out[0]["twa"] == pytest.approx(15.0)
    assert out[0]["covered_us"] == 3600 * 1_000_000
    # clip: sample before the range carries into it pro-rata
    out2 = time_weighted_avg(
        df, "2024-01-01 00:15:00", "2024-01-01 00:45:00"
    ).collect()
    # 15 min of 10 + 15 min of 20
    assert out2[0]["twa"] == pytest.approx(15.0)
    assert out2[0]["covered_us"] == 1800 * 1_000_000


def test_ewma_truncated_weights(spark):
    df = _events(spark, [(1, "a", _t(0), 3.0), (2, "a", _t(1), 9.0)])
    out = {r["event_id"]: r["ewma"] for r in ewma_truncated(df).collect()}
    assert out[1] == pytest.approx(3.0)
    # (9*2^15 + 3*2^14) / (2^15 + 2^14) = (2*9 + 3) / 3 = 7
    assert out[2] == pytest.approx(7.0)


def test_resample_interpolate_midpoint_and_edges(spark):
    df = _events(spark, [(1, "a", _t(0, 30), 10.0), (2, "a", _t(3, 30), 40.0)])
    out = resample_interpolate(
        df, "2024-01-01 00:00:00", "2024-01-01 00:04:00", 60
    ).collect()
    vals = {r["grid_us"]: r["value_interp"] for r in out}
    base = int(dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp() * 1e6)
    m = 60 * 1_000_000
    assert vals[base] == 10.0  # before first sample -> nearest
    assert vals[base + m] == pytest.approx(15.0)  # 00:01 between 00:00:30/00:03:30
    assert vals[base + 2 * m] == pytest.approx(25.0)
    assert vals[base + 3 * m] == pytest.approx(35.0)
    assert vals[base + 4 * m] == pytest.approx(40.0)  # after last -> nearest


def test_stitched_windows_match_global_forms(spark):
    """TWA/EWMA/resample window on (channel, bucket) with boundary
    carries; with bucket_s small enough that every bucket holds 0-2
    rows (sparse buckets, margins spanning many buckets) the stitched
    results must still be bit-identical to the channel-global window
    formulation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # irregular cadence across ~40 minutes; two channels
    rows = []
    i = 0
    for c, base in (("a", 0), ("b", 7)):
        t_s = base
        for j in range(40):
            t_s += (j * 37) % 113 + 3  # irregular gaps, 3..115 s
            i += 1
            rows.append(
                (i, c, dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(seconds=t_s),
                 float((j * 13) % 29))
            )
    df = _events(spark, rows)

    # --- EWMA: stitched (60 s buckets => most buckets hold 0-1 rows)
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma_truncated(df, bucket_s=60, mode="stitched").collect()
    }
    # global-window reference, computed inline with the same weights
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    from etsd_time_series_database_spark.functions.exprs import epoch_us
    from etsd_time_series_database_spark.operators.trends import DEC, DEC_W

    base_df = df.select(
        "event_id", "event_type", epoch_us("ts").alias("us"), "value"
    )
    num = F.lit(0).cast(DEC)
    den = F.lit(0).cast("bigint")
    for lag in range(16):
        weight = 1 << (15 - lag)
        x = F.lag("value", lag).over(w) if lag else F.col("value")
        num = num + F.coalesce(
            x.cast(DEC) * F.lit(weight).cast(DEC_W), F.lit(0).cast(DEC)
        )
        den = den + F.when(x.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
    want = {
        r["event_id"]: r["ewma"]
        for r in base_df.withColumn(
            "ewma", F.round(num.cast("double") / den.cast("double"), 6)
        ).collect()
    }
    assert got == want

    # --- TWA: stitched lead margin vs 1-bucket run (global window)
    t0, t1 = "2024-01-01 00:00:00", "2024-01-01 02:00:00"
    a = sorted(map(tuple, time_weighted_avg(df, t0, t1, bucket_s=60, mode="stitched").collect()))
    b = sorted(
        map(tuple, time_weighted_avg(df, t0, t1, bucket_s=86400 * 365, mode="stitched").collect())
    )
    assert a == b

    # --- resample: stitched carries vs 1-bucket run; grid step 90 s
    ra = sorted(
        map(
            tuple,
            resample_interpolate(df, t0, "2024-01-01 01:00:00", 90,
                                 bucket_s=60, mode="stitched").collect(),
        )
    )
    rb = sorted(
        map(
            tuple,
            resample_interpolate(df, t0, "2024-01-01 01:00:00", 90,
                                 bucket_s=86400 * 365, mode="stitched").collect(),
        )
    )
    assert ra == rb


def test_autocorrelation_detects_period(spark):
    """A series that repeats every 2 buckets has ACF(2) = 1 and
    ACF(1) strongly negative; a keyed-join formulation must produce
    one row per (channel, lag)."""
    from etsd_time_series_database_spark.operators.trends import (
        autocorrelation,
    )

    # bucket width 60 s, one sample per bucket, values alternate 1, 9
    rows = [
        (i + 1, "a", _t(i), 1.0 if i % 2 == 0 else 9.0) for i in range(12)
    ]
    out = {
        r["lag_k"]: r["pearson"]
        for r in autocorrelation(
            _events(spark, rows), lags=(1, 2), width_s=60
        ).collect()
    }
    assert out[2] == pytest.approx(1.0)
    assert out[1] == pytest.approx(-1.0)


def test_resample_exact_grid_hit(spark):
    df = _events(
        spark,
        [(1, "a", _t(1), 5.0), (2, "a", _t(1), 6.0), (3, "a", _t(2), 7.0)],
    )
    out = resample_interpolate(
        df, "2024-01-01 00:01:00", "2024-01-01 00:01:00", 60
    ).collect()
    # grid point coincides with two samples: deterministic tie -> max event_id
    assert len(out) == 1 and out[0]["value_interp"] == 6.0


def test_seasonal_profile_folds_phases(spark):
    """Rows 25h apart land in adjacent phases; the mean is the exact
    per-phase average; output is bounded by channels x period."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.trends import seasonal_profile

    rows = [
        # ch A: two samples in hour-phase 0 (midnight + next midnight)
        ("2024-01-01 00:10:00", "A", 10.0, 1),
        ("2024-01-02 00:50:00", "A", 30.0, 2),
        # ch A: one sample in phase 5
        ("2024-01-01 05:00:00", "A", 7.0, 3),
        # ch B: phase 23
        ("2024-01-01 23:59:59", "B", 2.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "ts string, event_type string, value double, event_id bigint"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r.event_type, r.phase): r for r in seasonal_profile(df).collect()
    }
    assert set(out) == {("A", 0), ("A", 5), ("B", 23)}
    assert out[("A", 0)].n == 2
    assert out[("A", 0)].avg_value == 20.0
    assert out[("A", 0)].min_value == 10.0 and out[("A", 0)].max_value == 30.0
    assert out[("B", 23)].n == 1


def test_cusum_changepoint_finds_level_shift(spark):
    from datetime import datetime, timezone

    from etsd_time_series_database_spark.operators.trends import (
        cusum_changepoint,
    )

    def ts(i):
        return datetime(2024, 1, 1, 0, i, tzinfo=timezone.utc)

    rows = [(i, ts(i), "ch", 0.0 if i < 4 else 10.0) for i in range(8)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    [r] = cusum_changepoint(df).collect()
    # mean 5; cusum walks -5..-20 then back to 0: the |CUSUM| argmax is
    # the LAST pre-shift sample (classic CUSUM changepoint estimate)
    assert r["n"] == 8
    assert r["mean"] == 5.0
    assert r["cp_cusum"] == -20.0
    assert r["max_abs_cusum"] == 20.0
    assert r["cp_ts_us"] == int(ts(3).timestamp() * 1_000_000)


def test_cusum_changepoint_tie_takes_earliest(spark):
    from datetime import datetime, timezone

    from etsd_time_series_database_spark.operators.trends import (
        cusum_changepoint,
    )

    def ts(i):
        return datetime(2024, 1, 1, 0, i, tzinfo=timezone.utc)

    # alternating +1/-1: |cusum| hits 1 at samples 0, 2, 4 — argmax
    # must deterministically take the earliest
    rows = [(i, ts(i), "ch", 1.0 if i % 2 == 0 else -1.0) for i in range(6)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    [r] = cusum_changepoint(df).collect()
    assert r["max_abs_cusum"] == 1.0
    assert r["cp_ts_us"] == int(ts(0).timestamp() * 1_000_000)


def test_rolling_stats_stitched_matches_global(spark):
    """rolling_stats shares _k_lag_frame with EWMA: at 60 s buckets
    (0-2 rows each — margins span many buckets) the stitched form
    must be bit-identical to the channel-global window."""
    from etsd_time_series_database_spark.operators.trends import (
        rolling_stats,
    )

    rows = []
    i = 0
    for c, base in (("a", 0), ("b", 7)):
        t_s = base
        for j in range(40):
            t_s += (j * 37) % 113 + 3
            i += 1
            rows.append(
                (i, c, dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(seconds=t_s),
                 float((j * 13) % 29))
            )
    df = _events(spark, rows)
    a = sorted(
        map(tuple, rolling_stats(df, k=8, bucket_s=60, mode="stitched").collect())
    )
    b = sorted(map(tuple, rolling_stats(df, k=8, mode="global").collect()))
    assert a == b
    # sanity: first row of a channel has roll_n == 1, window caps at k
    first = [r for r in b if r[0] == 1][0]
    assert first[4] == 1  # roll_n
    assert max(r[4] for r in b) == 8


def test_linear_trend_recovers_exact_line(spark):
    from etsd_time_series_database_spark.operators.trends import linear_trend

    # value = 10 + 2/minute along an exact line -> slope recovered
    # exactly, R^2 == 1; constant channel -> defined slope 0 and NULL
    # R^2 (vy == 0); single-point channel -> NULL slope (vx == 0)
    rows = [(i, "a", _t(i), 10.0 + 2.0 * i) for i in range(10)]
    rows += [(100 + i, "b", _t(i), 5.0) for i in range(10)]
    rows += [(200, "c", _t(0), 1.0)]
    origin = int(_t(0).replace(tzinfo=dt.timezone.utc).timestamp())
    out = {
        r["event_type"]: r
        for r in linear_trend(
            _events(spark, rows), origin_s=origin
        ).collect()
    }
    # 2 per minute = 2 * 1440 per day
    assert out["a"]["slope_per_day"] == pytest.approx(2.0 * 1440, abs=1e-3)
    assert out["a"]["intercept"] == pytest.approx(10.0, abs=1e-4)
    assert out["a"]["r_squared"] == pytest.approx(1.0, abs=1e-9)
    assert out["b"]["slope_per_day"] == pytest.approx(0.0, abs=1e-9)
    assert out["b"]["r_squared"] is None
    assert out["c"]["slope_per_day"] is None
    assert out["c"]["r_squared"] is None


def test_lttb_keeps_endpoints_and_peak(spark):
    from etsd_time_series_database_spark.operators.trends import lttb_downsample

    # one channel, 3 buckets of 60s; flat series except one spike in
    # the middle bucket -> LTTB must keep first point, the spike, and
    # the last point
    rows = [(i, "a", _t(0, i * 10), 1.0) for i in range(6)]          # bucket 0
    rows += [(10 + i, "a", _t(1, i * 10), 1.0) for i in range(6)]    # bucket 1
    rows[8] = (18, "a", _t(1, 20), 50.0)                             # spike
    rows += [(20 + i, "a", _t(2, i * 10), 1.0) for i in range(6)]    # bucket 2
    out = lttb_downsample(
        _events(spark, rows), width_s=60
    ).collect()
    roles = {r["role"]: r for r in out}
    assert len(out) == 3
    assert roles["first"]["us"] == int(
        _t(0, 0).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )
    assert roles["peak"]["value"] == 50.0
    assert roles["last"]["us"] == int(
        _t(2, 50).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )


def test_lttb_single_bucket_channel_emits_both_endpoints(spark):
    from etsd_time_series_database_spark.operators.trends import lttb_downsample

    rows = [(1, "solo", _t(0, 5), 3.0), (2, "solo", _t(0, 25), 4.0)]
    out = lttb_downsample(_events(spark, rows), width_s=60).collect()
    assert [(r["role"], r["value"]) for r in out] == [
        ("first", 3.0),
        ("last", 4.0),
    ]


def test_seasonal_decompose_recovers_pattern(spark):
    from etsd_time_series_database_spark.operators.trends import (
        seasonal_decompose,
    )

    # two full days of hourly samples: value = 100 + 0.5/h drift + a
    # 4-phase square pattern chosen orthogonal to BOTH the constant
    # and the linear term (sum p_i = 0 and sum i*p_i = 0), so the OLS
    # fit recovers the drift exactly and the per-phase residual RMS
    # collapses to ~0 (a pattern correlated with time would be partly
    # absorbed into the slope — correct OLS behavior, not a bug)
    pattern = {0: 5.0, 1: -5.0, 2: -5.0, 3: 5.0}
    rows = []
    for h in range(48):
        t = dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)
        rows.append((h, "a", t, 100.0 + 0.5 * h + pattern[h % 4]))
    origin = int(
        dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp()
    )
    out = seasonal_decompose(
        _events(spark, rows),
        origin_s=origin,
        period_buckets=4,
        bucket_s=3600,
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r["n_samples"] == 12
        assert r["seasonal"] == pytest.approx(pattern[r["phase"]], abs=1e-6)
        assert r["resid_rms"] == pytest.approx(0.0, abs=1e-6)


def test_resample_locf_steps_not_slopes(spark):
    from etsd_time_series_database_spark.operators.trends import (
        resample_interpolate,
    )

    # samples at :00 (v=10) and :04 (v=30); grid every minute.
    # LOCF holds 10 through :03, jumps to 30 at :04; the leading grid
    # point before any data takes the next sample
    rows = [(1, "a", _t(1, 0), 10.0), (2, "a", _t(4, 0), 30.0)]
    out = resample_interpolate(
        _events(spark, rows),
        "2024-01-01 00:00:00",
        "2024-01-01 00:05:00",
        width_s=60,
        fill="locf",
    ).collect()
    vals = [r["value_interp"] for r in sorted(out, key=lambda r: r["grid_us"])]
    assert vals == [10.0, 10.0, 10.0, 10.0, 30.0, 30.0]
    import pytest as _p

    with _p.raises(ValueError):
        resample_interpolate(
            _events(spark, rows), "2024-01-01", "2024-01-02", fill="cubic"
        )


def test_cross_correlation_detects_leader(spark):
    from etsd_time_series_database_spark.operators.trends import (
        cross_correlation,
    )

    # channel b copies channel a one bucket later: CCF(a, b) peaks at
    # lag 1 (a leads b), CCF(b, a) peaks at lag 0 only via the shared
    # trendless noise — use a non-monotone pattern so lag alignment is
    # unambiguous
    pat = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0]
    rows = []
    for j, v in enumerate(pat):
        rows.append((2 * j + 1, "a", _t(0, 0) + dt.timedelta(seconds=j * 10), v))
        if j >= 1:
            rows.append(
                (2 * j + 2, "b", _t(0, 0) + dt.timedelta(seconds=j * 10),
                 pat[j - 1])
            )
    out = {
        (r.ch_a, r.ch_b, r.lag_k): r.pearson
        for r in cross_correlation(
            _events(spark, rows), lags=(0, 1), width_s=10
        ).collect()
    }
    # a shifted 1 bucket == b exactly -> perfect correlation at lag 1
    assert out[("a", "b", 1)] == pytest.approx(1.0, abs=1e-6)
    assert out[("a", "b", 0)] < 0.9


def test_time_in_state_pro_rata_boundaries(spark):
    from etsd_time_series_database_spark.operators.trends import time_in_state

    # v=10 (below) for 30 min, then v=30 (above) for 30 min; threshold
    # 20 -> half the hour above. Clipped range covers only the middle
    # 30 min -> still half above (15 min of each state).
    df = _events(spark, [(1, "a", _t(0), 10.0), (2, "a", _t(30), 30.0)])
    r = time_in_state(
        df, 20.0, "2024-01-01 00:00:00", "2024-01-01 01:00:00"
    ).collect()[0]
    assert r.covered_us == 3600 * 1_000_000
    assert r.us_above == 1800 * 1_000_000
    assert abs(r.frac_above - 0.5) < 1e-9
    r2 = time_in_state(
        df, 20.0, "2024-01-01 00:15:00", "2024-01-01 00:45:00"
    ).collect()[0]
    assert r2.covered_us == 1800 * 1_000_000
    assert r2.us_above == 900 * 1_000_000


def test_time_in_state_stitched_matches_global(spark):
    from etsd_time_series_database_spark.operators.trends import time_in_state

    rows = []
    for j in range(50):
        rows.append((j, "a", _t(0) + dt.timedelta(seconds=7 * j + (j % 5)),
                     float((j * 13) % 40)))
    df = _events(spark, rows)
    t0, t1 = "2024-01-01 00:00:30", "2024-01-01 00:05:30"
    a = sorted(map(tuple, time_in_state(
        df, 20.0, t0, t1, bucket_s=60, mode="stitched").collect()))
    b = sorted(map(tuple, time_in_state(
        df, 20.0, t0, t1, mode="global").collect()))
    assert a == b


def test_moment_profile_known_distributions(spark):
    from etsd_time_series_database_spark.operators.trends import moment_profile

    # symmetric two-point {0, 10}: mean 5, skew 0, kurtosis -2 (Bernoulli)
    rows = [(i, "sym", _t(i), 0.0 if i % 2 else 10.0) for i in range(20)]
    # constant channel: stddev 0, skew/kurtosis NULL
    rows += [(100 + i, "const", _t(i), 7.0) for i in range(5)]
    # right-skewed: mostly 0 with one large value
    rows += [(200 + i, "skewed", _t(i), 0.0) for i in range(9)]
    rows += [(250, "skewed", _t(30), 90.0)]
    out = {r.event_type: r for r in moment_profile(_events(spark, rows)).collect()}
    s = out["sym"]
    assert s.mean == pytest.approx(5.0) and s.stddev_pop == pytest.approx(5.0)
    assert s.skewness == pytest.approx(0.0, abs=1e-9)
    assert s.kurtosis_excess == pytest.approx(-2.0, abs=1e-6)
    c = out["const"]
    assert c.stddev_pop == 0.0 and c.skewness is None and c.kurtosis_excess is None
    assert out["skewed"].skewness > 2.0


def test_daily_coverage_spans_and_clips_days(spark):
    from etsd_time_series_database_spark.operators.trends import daily_coverage

    # one sample at noon day 1 holds through the range end at noon
    # day 3: day1 covered from noon (0.5), day2 fully (1.0), day3
    # until noon (0.5); nothing before the first sample counts
    rows = [(1, "a", dt.datetime(2024, 1, 1, 12), 5.0)]
    out = daily_coverage(
        _events(spark, rows), "2024-01-01 00:00:00", "2024-01-03 12:00:00"
    ).collect()
    got = {r.day_epoch_s: r.coverage_frac for r in out}
    d1 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    assert got == {d1: 0.5, d1 + 86400: 1.0, d1 + 2 * 86400: 0.5}
    assert all(r.covered_us in (43_200_000_000, 86_400_000_000) for r in out)


def test_seasonal_strength_pattern_vs_trend_only(spark):
    from etsd_time_series_database_spark.operators.trends import (
        seasonal_strength,
    )

    pattern = {0: 5.0, 1: -5.0, 2: -5.0, 3: 5.0}   # trend-orthogonal
    rows = []
    for h in range(48):
        t = dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)
        # channel "seasonal": pure pattern + drift -> strength 1
        rows.append((h, "seasonal", t, 100.0 + 0.5 * h + pattern[h % 4]))
        # channel "trendonly": same drift, no pattern, plus tiny
        # phase-independent jitter -> strength ~ 0
        rows.append((100 + h, "trendonly", t, 100.0 + 0.5 * h + 0.01 * ((h * 7) % 13)))
        # constant channel -> SS_total 0 -> NULL
        rows.append((200 + h, "const", t, 42.0))
    out = {
        r.event_type: r
        for r in seasonal_strength(
            _events(spark, rows),
            origin_s=int(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp()),
            period_buckets=4,
            bucket_s=3600,
        ).collect()
    }
    assert out["seasonal"].seasonal_strength == pytest.approx(1.0, abs=1e-6)
    assert out["trendonly"].seasonal_strength < 0.5
    assert out["const"].seasonal_strength is None


def test_distribution_drift_detects_shift(spark):
    from etsd_time_series_database_spark.operators.trends import (
        distribution_drift,
    )

    split = int(dt.datetime(2024, 1, 1, 0, 30, tzinfo=dt.timezone.utc).timestamp())
    rows = []
    # "shifted": values ~10 early, ~110 late -> disjoint bins, TV = 1
    for i in range(10):
        rows.append((i, "shifted", _t(i), 10.0))
        rows.append((50 + i, "shifted", _t(31 + i), 110.0))
    # "stable": same distribution both halves -> TV = 0
    for i in range(10):
        rows.append((100 + i, "stable", _t(i), float(25 * (i % 3))))
        rows.append((150 + i, "stable", _t(31 + i), float(25 * (i % 3))))
    # "onesided": all rows early -> NULL
    rows += [(200 + i, "onesided", _t(i), 5.0) for i in range(5)]
    out = {
        r.event_type: r
        for r in distribution_drift(
            _events(spark, rows), split, bin_width=25.0
        ).collect()
    }
    assert out["shifted"].tv_distance == 1.0
    assert out["stable"].tv_distance == 0.0
    assert out["onesided"].tv_distance is None
    assert out["shifted"].n_early == 10 and out["shifted"].n_late == 10


def test_lag_estimate_finds_follower_delay(spark):
    from etsd_time_series_database_spark.operators.trends import lag_estimate

    pat = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0, 8.0]
    rows = []
    for j, v in enumerate(pat):
        rows.append((2 * j + 1, "a", _t(0, 0) + dt.timedelta(seconds=j * 10), v))
        if j >= 2:
            # b copies a two buckets later
            rows.append(
                (2 * j + 2, "b", _t(0, 0) + dt.timedelta(seconds=j * 10),
                 pat[j - 2])
            )
    out = {
        (r.ch_a, r.ch_b): r
        for r in lag_estimate(
            _events(spark, rows), lags=(0, 1, 2, 3), width_s=10
        ).collect()
    }
    r = out[("a", "b")]
    assert r.best_lag == 2
    assert r.peak_pearson == pytest.approx(1.0, abs=1e-6)


def test_lag_estimate_close_pearsons_pick_true_peak(spark):
    """Round-7 ADVICE regression: when pearsons at two lags differ by
    less than 1e-4 (routine for smooth CCFs at adjacent lags), the
    packed argmax must still follow the pearson ordering — the old
    10^4 shift let the lag tiebreak override it, returning a best_lag
    whose pearson was NOT peak_pearson."""
    import math

    from etsd_time_series_database_spark.operators.trends import (
        cross_correlation,
        lag_estimate,
    )

    # smooth sinusoid, period 600 buckets; b copies a ONE bucket later
    # -> pearson@lag1 = 1.0 exactly, pearson@lag0 = cos(2*pi/600)
    # ~= 0.999945: a 5.5e-5 gap, far below the old 1e-4 resolution.
    n = 610
    pat = [math.sin(2 * math.pi * j / 600.0) for j in range(n)]
    rows = []
    for j in range(n):
        t = _t(0, 0) + dt.timedelta(seconds=j * 10)
        rows.append((2 * j + 1, "a", t, pat[j]))
        if j >= 1:
            rows.append((2 * j + 2, "b", t, pat[j - 1]))
    df = _events(spark, rows)
    out = {
        (r.ch_a, r.ch_b): r
        for r in lag_estimate(df, lags=(0, 1, 2, 3), width_s=10).collect()
    }
    r = out[("a", "b")]
    ccf = {
        row.lag_k: row.pearson
        for row in cross_correlation(df, (0, 1, 2, 3), 10)
        .filter("ch_a = 'a' AND ch_b = 'b'")
        .collect()
    }
    # the scenario is only meaningful if the gap is truly sub-1e-4
    assert 0 < ccf[1] - ccf[0] < 1e-4
    # internal consistency: best_lag is the argmax of the CCF
    assert r.best_lag == 1
    assert r.peak_pearson == pytest.approx(ccf[1], abs=1e-9)


def test_value_heatmap_counts_cells(spark):
    """q69: (channel, time bucket, value bin) counts — two readings in
    the same cell aggregate, a reading past the bucket edge and one in
    a different bin land in their own cells; empty cells absent."""
    from etsd_time_series_database_spark.operators.trends import (
        value_heatmap,
    )

    df = _events(
        spark,
        [
            (1, "a", _t(0, 10), 10.0),   # bucket 0, bin 0
            (2, "a", _t(0, 20), 20.0),   # bucket 0, bin 0 (same cell)
            (3, "a", _t(0, 30), 30.0),   # bucket 0, bin 1
            (4, "a", _t(2, 0), 10.0),    # bucket 2, bin 0 (60s buckets)
        ],
    )
    out = value_heatmap(df, bucket_s=60, bin_width=25.0)
    base_us = int(
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    ) * 1_000_000
    rows = {
        ((r.bucket_us - base_us) // 60_000_000, r.bin_idx): (r.n, r.bin_lo)
        for r in out.collect()
    }
    assert rows == {
        (0, 0): (2, 0.0),
        (0, 1): (1, 25.0),
        (2, 0): (1, 0.0),
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    # pure hash-agg pipeline: no window, no join anywhere in the plan
    # (AQE renders the plan twice, so counting operators is unstable)
    assert "HashAggregate" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan


def test_json_props_profile_null_degradation(spark):
    """q70: missing key, malformed JSON, and NULL props all degrade to
    NULL k — counted in n, excluded from n_with_k and the stats."""
    from etsd_time_series_database_spark.plans import catalog
    import pyspark.sql.functions as F

    rows = [
        (1, "a", '{"k": 7}'),
        (2, "a", '{"k": 13}'),
        (3, "a", '{"other": 1}'),   # missing key
        (4, "a", "not json"),       # malformed
        (5, "a", None),             # NULL props
        (6, "a", '{"k": 7.9}'),     # non-integer k (guard -> NULL,
                                    # never a rounded 8 or ANSI throw)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, props string"
    )
    # the q70 engine expression verbatim (integer-format guard)
    raw = F.get_json_object("props", "$.k")
    k = F.when(raw.rlike("^-?[0-9]+$"), raw.cast("bigint"))
    got = (
        df.select("event_type", k.alias("k"))
        .withColumn("k_decade", F.expr("k div 10"))
        .groupBy("event_type", "k_decade")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
        )
        .collect()
    )
    by_dec = {r.k_decade: (r.n, r.n_with_k, r.sum_k) for r in got}
    assert by_dec[0] == (1, 1, 7)
    assert by_dec[1] == (1, 1, 13)
    assert by_dec[None] == (4, 0, None)


def test_route_range_query_routes_and_composes_exactly(spark):
    """q79's operator: for every servable width the tier-routed answer
    equals aggregating raw directly at that width (n/min/max compose;
    avg re-derives from exact DECIMAL sums), the routed tier is the
    COARSEST divisor, and an un-servable width raises instead of
    silently falling back to a raw scan."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.trends import (
        route_range_query,
    )

    # 2 channels x 3 days, minute cadence with drifting values
    df = spark.range(0, 3 * 1440).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("id").cast("int"))
        ).alias("ts"),
        (F.col("id") % 2).cast("string").alias("event_type"),
        ((F.col("id") * 7 % 1000) / 8.0 - 31.25).alias("value"),
    )
    tiers = (3600, 21600, 86400)

    def direct(width_s):
        w = width_s * 1_000_000
        return (
            df.groupBy(
                "event_type",
                (F.expr(f"unix_micros(ts) div {w}") * w).alias(
                    "bucket_us"
                ),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("avg_v"),
                F.min("value").alias("min_v"),
                F.max("value").alias("max_v"),
            )
        )

    for width, want_tier in (
        (3600, 3600),       # equal: no compose step
        (7200, 3600),       # 2 h <- 1 h tier
        (43200, 21600),     # 12 h <- 6 h tier
        (86400, 86400),
        (172800, 86400),    # 2 d <- 1 d tier
    ):
        got = route_range_query(df, width_s=width, tiers_s=tiers)
        assert {int(r.tier_s) for r in got.select("tier_s").distinct().collect()} \
            == {want_tier}, (width, want_tier)
        g = sorted(map(tuple, got.drop("tier_s").collect()))
        d = sorted(map(tuple, direct(width).collect()))
        assert g == d, f"width={width}"

    with _pytest.raises(ValueError, match="no tier"):
        route_range_query(df, width_s=5400, tiers_s=tiers)


def test_fetch_from_tier_routes_and_composes_exactly(spark, tmp_path):
    """q80's operator (round-13 verdict #1): fetch against MATERIALIZED
    sinks — routing picks the coarsest sink whose sidecar width
    divides the request, the composed answer is bit-identical to
    aggregating raw directly (exact DECIMAL sum_value carried in the
    sink), time bounds subset correctly, and the error paths (no
    dividing tier, missing sidecar, pre-sum_value sink) raise instead
    of degrading to a raw scan or a float-composed average."""
    import json
    import os

    import pyspark.sql.functions as F
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.trends import (
        fetch_from_tier,
        route_tier,
    )
    from etsd_time_series_database_spark.sources.store import (
        create_events_table,
    )
    from etsd_time_series_database_spark.streaming.ingest import (
        refresh_downsample,
    )

    df = spark.range(0, 3 * 1440).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("id").cast("int"))
        ).alias("ts"),
        (F.col("id") % 2).cast("string").alias("event_type"),
        ((F.col("id") * 7 % 1000) / 8.0 - 31.25).alias("value"),
    )
    raw = str(tmp_path / "raw")
    create_events_table(df, raw, mode="overwrite")
    ladder = [str(tmp_path / "w3600"), str(tmp_path / "w21600")]
    refresh_downsample(spark, raw, ladder[0], width_s=3600)
    refresh_downsample(spark, raw, ladder[1], width_s=21600)

    def direct(width_s, lo=None, hi=None):
        w = width_s * 1_000_000
        d = df
        if lo is not None:
            d = d.filter(F.unix_micros("ts") >= lo)
        if hi is not None:
            d = d.filter(F.unix_micros("ts") < hi)
        return (
            d.groupBy(
                "event_type",
                (F.expr(f"unix_micros(ts) div {w}") * w).alias("bucket_us"),
            )
            .agg(
                F.count("value").cast("bigint").alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    )
                    / F.count("value"),
                    6,
                ).alias("avg_v"),
                F.min("value").alias("min_v"),
                F.max("value").alias("max_v"),
            )
        )

    for width, want_tier in (
        (3600, 3600),
        (7200, 3600),
        (43200, 21600),
        (86400, 21600),
    ):
        path, w = route_tier(spark, ladder, width)
        assert w == want_tier and path.endswith(f"w{want_tier}")
        got = fetch_from_tier(spark, ladder, width)
        g = sorted(map(tuple, got.drop("tier_s").collect()))
        d = sorted(map(tuple, direct(width).collect()))
        assert g == d, f"width={width}"

    # time-bounded fetch: one 6 h bucket on day 2
    lo = 1_704_153_600_000_000  # 2024-01-02 00:00 UTC
    hi = lo + 21600 * 1_000_000
    sub = fetch_from_tier(spark, ladder, 21600, start_us=lo, end_us=hi)
    g = sorted(map(tuple, sub.drop("tier_s").collect()))
    d = sorted(map(tuple, direct(21600, lo, hi).collect()))
    assert g == d and len(g) == 2  # 2 channels x 1 bucket

    with _pytest.raises(ValueError, match="no tier"):
        fetch_from_tier(spark, ladder, 5400)
    with _pytest.raises(ValueError, match="sidecar"):
        fetch_from_tier(spark, [str(tmp_path / "nope")], 3600)

    # a sink stripped of sum_value (pre-round-14 build): exact compose
    # impossible -> rebuild hint, not a silently float-composed answer
    legacy = str(tmp_path / "legacy")
    spark.read.parquet(ladder[0]).drop("sum_value").write.partitionBy(
        "dt"
    ).parquet(legacy)
    with open(os.path.join(legacy, "_downsample_meta.json"), "w") as fh:
        json.dump({"width_s": 3600}, fh)
    with _pytest.raises(ValueError, match="sum_value"):
        fetch_from_tier(spark, [legacy], 7200)


def test_materialize_tier_ladder_fetch_routes_and_composes(spark, tmp_path):
    """The single-table ladder (materialize_tier_ladder — q75's
    cascade persisted with exact sums, tier_s-partitioned): fetch
    routes INTO the table (coarsest dividing tier wins across ladder
    AND sink sources in one list), composes bit-identically to raw,
    and un-servable widths still raise."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.trends import (
        fetch_from_tier,
        materialize_tier_ladder,
        route_tier,
    )
    from etsd_time_series_database_spark.streaming.ingest import (
        refresh_downsample,
    )
    from etsd_time_series_database_spark.sources.store import (
        create_events_table,
    )

    df = spark.range(0, 2 * 1440).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-03-01 00:00:00"))
            + F.make_interval(mins=F.col("id").cast("int"))
        ).alias("ts"),
        (F.col("id") % 3).cast("string").alias("event_type"),
        ((F.col("id") * 13 % 997) / 4.0 - 100.0).alias("value"),
    )
    lad = str(tmp_path / "ladder")
    stats = materialize_tier_ladder(df, lad, tiers_s=(3600, 21600, 86400))
    assert set(stats) == {3600, 21600, 86400} and all(
        v > 0 for v in stats.values()
    )

    def direct(width_s, tier):
        w = width_s * 1_000_000
        return (
            df.groupBy(
                "event_type",
                (F.expr(f"unix_micros(ts) div {w}") * w).alias("bucket_us"),
            )
            .agg(
                F.count("value").cast("bigint").alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast(
                        "double"
                    ) / F.count("value"),
                    6,
                ).alias("avg_v"),
                F.min("value").alias("min_v"),
                F.max("value").alias("max_v"),
            )
            .select(
                F.lit(tier).cast("bigint").alias("tier_s"),
                "event_type", "bucket_us", "n", "avg_v", "min_v", "max_v",
            )
            .orderBy("event_type", "bucket_us")
        )

    for width, want_tier in (
        (3600, 3600), (43200, 21600), (86400, 86400), (172800, 86400),
    ):
        path, w = route_tier(spark, [lad], width)
        assert (path, w) == (lad, want_tier), width
        got = fetch_from_tier(spark, lad, width)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, direct(width, want_tier).collect())
        ), width

    # mixed list: a sink finer than any useful ladder tier loses to
    # the ladder's coarsest divisor; a sink COARSER than the ladder's
    # best wins
    raw = str(tmp_path / "raw_mix")
    create_events_table(df, raw, mode="overwrite")
    s60 = str(tmp_path / "mix_w60")
    refresh_downsample(spark, raw, s60, width_s=60)
    path, w = route_tier(spark, [s60, lad], 43200)
    assert (path, w) == (lad, 21600)
    s43200 = str(tmp_path / "mix_w43200")
    refresh_downsample(spark, raw, s43200, width_s=43200)
    # 1.5 d: 86400 does not divide it, so the ladder's best divisor is
    # 21600 and the 12 h sink out-coarsens it
    path, w = route_tier(spark, [s43200, lad], 129600)
    assert (path, w) == (s43200, 43200)
    got = fetch_from_tier(spark, [s43200, lad], 129600)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct(129600, 43200).collect())
    )

    with _pytest.raises(ValueError, match="no tier"):
        fetch_from_tier(spark, [lad], 5400)


def test_ladder_n_counts_non_null_values_like_the_sinks(spark, tmp_path):
    """Review fixes, round 14: materialize_tier_ladder counts
    NON-NULL values (the sinks' F.count('value') convention) — with
    nulls present, fetch's n/avg_v must not depend on which tier kind
    wins the route, and q81's count(value) oracle stays exact."""
    import pyspark.sql.functions as F

    from etsd_time_series_database_spark.operators.trends import (
        fetch_from_tier,
        materialize_tier_ladder,
    )

    df = spark.range(0, 200).select(
        (
            F.to_timestamp(F.lit("2024-05-01 00:00:00"))
            + F.make_interval(mins=F.col("id").cast("int"))
        ).alias("ts"),
        F.lit("c").alias("event_type"),
        F.when(F.col("id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("id").cast("double")).alias("value"),
    )
    lad = str(tmp_path / "null_ladder")
    materialize_tier_ladder(df, lad, tiers_s=(3600,))
    got = fetch_from_tier(spark, lad, 3600).collect()
    w = 3600 * 1_000_000
    want = {
        (r.bucket_us, r.n)
        for r in df.groupBy(
            (F.expr(f"unix_micros(ts) div {w}") * w).alias("bucket_us")
        ).agg(F.count("value").cast("bigint").alias("n")).collect()
    }
    assert {(r.bucket_us, r.n) for r in got} == want
    # avg over non-null values only
    row0 = sorted(got, key=lambda r: r.bucket_us)[0]
    vals = [i for i in range(60) if i % 5 != 0]
    assert row0.n == len(vals)
    assert abs(row0.avg_v - round(sum(vals) / len(vals), 6)) < 1e-9


def test_fetch_from_tier_xff_mode_matches_direct_rule(spark, tmp_path):
    """Review-round completion: fetch with step_s applies q82's
    xfiles-factor rule at the REQUEST width — is_valid/expected match
    xff_consolidate computed directly on raw at that width, invalid
    buckets NULL their aggregates, and a non-dividing step raises."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from etsd_time_series_database_spark.operators.range_stats import (
        xff_consolidate,
    )
    from etsd_time_series_database_spark.operators.trends import (
        fetch_from_tier,
    )
    from etsd_time_series_database_spark.sources.store import (
        create_events_table,
    )
    from etsd_time_series_database_spark.streaming.ingest import (
        refresh_downsample,
    )

    # sparse, uneven cadence: some hours hold >= 3 readings, some fewer
    df = spark.range(0, 140).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-06-01 00:00:00"))
            + F.make_interval(mins=(F.col("id") * 401 % 2880).cast("int"))
        ).alias("ts"),
        F.lit("c").alias("event_type"),
        (F.col("id") % 89).cast("double").alias("value"),
    )
    raw = str(tmp_path / "xff_raw")
    create_events_table(df, raw, mode="overwrite")
    sink = str(tmp_path / "xff_sink")
    refresh_downsample(spark, raw, sink, width_s=60)

    got = fetch_from_tier(
        spark, sink, 3600, step_s=600, xff_pct=50
    ).drop("tier_s")
    want = xff_consolidate(
        df, width_s=3600, step_s=600, xff_pct=50
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    rows = got.collect()
    assert any(r.is_valid for r in rows) and any(
        not r.is_valid for r in rows
    )
    assert all(
        r.avg_v is None and r.min_v is None and r.max_v is None
        for r in rows if not r.is_valid
    )
    with _pytest.raises(ValueError, match="whole steps"):
        fetch_from_tier(spark, sink, 3600, step_s=700)


def test_avg_v_rounds_like_the_duckdb_oracle(spark, duck, tmp_path):
    """One bucket holding 267.0 and 268.073821 (twice each, so q82's
    xff rule counts it valid): the exact mean 267.5369105 is a double
    just below the tie at the 7th decimal. Rounding the shortest
    decimal repr half-up gives 267.536911; DuckDB's oracle rounds
    ``x * 1e6`` in floating point and gives 267.53691. q75, q79 and
    q82 must each equal their catalog oracle on that bucket."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etsd_time_series_database_spark.plans import catalog
    from tests.oracle import diff_report, run_pair

    t0 = dt.datetime(2024, 1, 1)
    values = [267.0, 268.073821, 267.0, 268.073821]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(values)), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(minutes=10 * i)
                 for i in range(len(values))],
                pa.timestamp("us"),
            ),
            "event_type": ["a"] * len(values),
            "value": values,
        }),
        str(tmp_path / "events.parquet"),
    )
    for name in (
        "q75_tiered_rollup", "q79_tier_routed_range",
        "q82_xff_consolidation",
    ):
        s, d = run_pair(spark, duck, catalog()[name], str(tmp_path))
        assert 267.53691 in {r[0] for r in d[1]}, name  # avg_v sorts first
        assert s == d, diff_report(name, s, d)
