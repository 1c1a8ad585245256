"""Property tests (SURVEY.md §5 layer 3): randomized-but-seeded series
through the encode/reconstruct round trip and the rollover correction.

Each example builds one small DataFrame; example counts are kept low
because a Spark job per example is expensive — hypothesis still
explores boundary structures (empty-ish, constant, adversarial drops).
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import importlib

ops = importlib.import_module("etsd_time_series_database_spark.operators.range_stats")

_few = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, values):
    rows = [
        (f"2026-01-01 00:{i // 60:02d}:{i % 60:02d}", "ch", float(v), i)
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(
        rows, "ts string, event_type string, value double, event_id bigint"
    ).withColumn("ts", F.to_timestamp("ts"))


@_few
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=40))
def test_delta_reconstruct_is_lossless(spark, values):
    """delta-encode -> cumsum-reconstruct == identity for any series
    (reference encode code/etsdSave.c:396-398 / decode code/etsdRead.c:274)."""
    out = ops.reconstruct_from_deltas(_df(spark, values)).collect()[0]
    assert out.n_mismatch == 0 and out.n_rows == len(values)


@_few
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=2, max_size=40))
def test_rollover_correction_is_monotone_and_congruent(spark, values):
    """After correction: (a) the series never decreases, (b) every
    corrected value is congruent to the raw value mod 2^32 (the bump
    only ever adds whole spans, code/etsdQuery.c:332-336)."""
    rows = ops.rollover_corrected(_df(spark, values)).orderBy("event_id").collect()
    corrected = [r.corrected_value for r in rows]
    assert all(b >= a for a, b in zip(corrected, corrected[1:]))
    for raw, corr in zip(values, corrected):
        assert (int(corr) - raw) % 2**32 == 0


@_few
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=40
    )
)
def test_range_stats_matches_python_fold(spark, values):
    """min/max/count agree with a plain Python fold over the same data."""
    r = ops.range_stats(
        _df(spark, values), "2026-01-01 00:00:00", "2026-01-01 01:00:00"
    ).collect()[0]
    assert r.n == len(values)
    assert r.min_value == min(values) and r.max_value == max(values)


sw = importlib.import_module(
    "etsd_time_series_database_spark.operators.scalable_window"
)


@_few
@given(
    st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=2, max_size=40),
    st.sampled_from([1, 7, 60, 3600]),
)
def test_rate_scalable_equals_rate_for_any_bucket(spark, values, bucket_s):
    """The stitched (channel, bucket) lag must equal the global window
    lag for ANY bucket width — boundaries land arbitrarily relative to
    the 1-second sample grid."""
    df = _df(spark, values)
    got = sorted(map(tuple, sw.rate_scalable(df, bucket_s=bucket_s).collect()))
    want = sorted(map(tuple, ops.rate(df).collect()))
    assert got == want


trends = importlib.import_module("etsd_time_series_database_spark.operators.trends")


@_few
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # channel
            st.integers(min_value=0, max_value=3000),  # t offset (s)
            st.integers(min_value=-1000, max_value=1000),  # value
        ),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from([3, 17, 200]),  # tiny buckets: most hold 0-1 rows
)
def test_ewma_carry_margin_any_bucket_layout(spark, samples, bucket_s):
    """The (k-1)-row EWMA carry rebuild must be exact for ANY bucket
    layout: channels with fewer than k rows total, duplicate
    timestamps (tie-broken by event_id), and margins that span many
    empty buckets. Oracle = the operator's own channel-global form
    (mode='global'), where no carry machinery runs at all."""
    rows = [
        (f"2026-01-01 {t // 3600:02d}:{t % 3600 // 60:02d}:{t % 60:02d}",
         f"ch{c}", float(v), i)
        for i, (c, t, v) in enumerate(samples)
    ]
    df = spark.createDataFrame(
        rows, "ts string, event_type string, value double, event_id bigint"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = sorted(
        map(tuple, trends.ewma_truncated(df, bucket_s=bucket_s, mode="stitched").collect())
    )
    want = sorted(
        map(tuple, trends.ewma_truncated(df, mode="global").collect())
    )
    assert got == want


# a small example budget in the default gate, the full one under slow
@pytest.mark.parametrize(
    "n", [2, pytest.param(8, marks=pytest.mark.slow)], ids=["fast", "full"]
)
def test_segment_dedup_fingerprint_equals_raw(spark, n):
    """The xxhash64-keyed segment-count path (the scale default) must
    be row-identical to the exact raw-string form for both the
    accounting (segment_dedup) and the rewrite (segment_rewrite) —
    seeded corpora with heavy cross-document span sharing."""
    from etsd_time_series_database_spark.operators.dedup import (
        segment_dedup,
        segment_rewrite,
    )

    from etsd_time_series_database_spark.operators.dedup import exact_dedup
    from etsd_time_series_database_spark.operators.textstats import (
        ngram_novelty,
    )

    @settings(max_examples=n, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
                min_size=0,
                max_size=20,
            ),
            min_size=1,
            max_size=10,
        ),
        st.sampled_from([2, 4]),
    )
    def prop(docs, seg_tokens):
        rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        for op in (exact_dedup, ngram_novelty):
            fp = sorted(map(tuple, op(df, fingerprint=True).collect()))
            raw = sorted(map(tuple, op(df, fingerprint=False).collect()))
            assert fp == raw
        for op in (segment_dedup, segment_rewrite):
            fp = sorted(map(tuple, op(df, seg_tokens=seg_tokens, fingerprint=True).collect()))
            raw = sorted(map(tuple, op(df, seg_tokens=seg_tokens, fingerprint=False).collect()))
            assert fp == raw

    prop()


@_few
@given(
    st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=2,
        max_size=60,
    ),
    st.sampled_from([30, 60, 300]),
)
def test_lttb_selects_real_points_and_keeps_endpoints(spark, values, width_s):
    """LTTB output must be a subset of the input points (us, value both
    real), include the channel's first and last sample, and emit at
    most one row per (bucket, role)."""
    import datetime as dt

    from etsd_time_series_database_spark.operators.trends import (
        lttb_downsample,
    )
    from pyspark.sql import Row

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            event_type="ch",
            ts=base + dt.timedelta(seconds=17 * i),
            value=float(v),
        )
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows)
    out = lttb_downsample(df, width_s=width_s).collect()
    inp = {
        (int((r.ts - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000), r.value)
        for r in rows
    }
    assert all((r.us, r.value) in inp for r in out)
    first_us = min(p[0] for p in inp)
    last_us = max(p[0] for p in inp)
    assert any(r.role == "first" and r.us == first_us for r in out)
    assert any(r.role == "last" and r.us == last_us for r in out)
    seen = [(r.bucket, r.role) for r in out]
    assert len(seen) == len(set(seen))


@_few
@given(
    st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=2,
        max_size=40,
    ),
    st.integers(min_value=-3600, max_value=3600),
)
def test_linear_trend_slope_invariant_under_time_shift(spark, values, shift_s):
    """Shifting the origin must not change the fitted slope or R² (the
    intercept moves by slope·shift): the regression is affine-
    equivariant, and the decimal sums must not overflow or drift."""
    import datetime as dt

    from etsd_time_series_database_spark.operators.trends import linear_trend
    from pyspark.sql import Row

    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(
            event_id=i,
            event_type="ch",
            ts=base + dt.timedelta(seconds=60 * i),
            value=float(v),
        )
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows)
    origin = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    a = linear_trend(df, origin_s=origin).collect()[0]
    b = linear_trend(df, origin_s=origin + shift_s).collect()[0]
    if a.slope_per_day is None:
        assert b.slope_per_day is None
    else:
        # Exactness model, not a guessed band: S_x/S_xx are integer-
        # exact; S_y and S_xy are DECIMAL sums of values quantized at
        # q = 1e-6, so each carries error <= 0.5e-6·n, and the slope
        # numerator n·S_xy − S_x·S_y inherits <= 0.5e-6·n·(n + |S_x|)
        # (denominator vx is exact and shift-invariant). Hypothesis
        # shrinks straight to this bound's edge (2 points, |y| < 0.01,
        # large shift), so derive it from the actual x grids instead
        # of hand-tuning a constant.
        n = len(values)

        def slope_err_bound(xs):
            sx = abs(sum(xs))
            vx = n * sum(x * x for x in xs) - sum(xs) ** 2
            return 0.5e-6 * n * (n + sx) / vx if vx else 0.0

        xs_a = [60 * i for i in range(n)]
        xs_b = [60 * i - shift_s for i in range(n)]
        tol = 86400.0 * (slope_err_bound(xs_a) + slope_err_bound(xs_b)) + 1e-6
        assert abs(a.slope_per_day - b.slope_per_day) < tol
        if a.r_squared is not None:
            # r² inherits the same quantization through cov²/(vx·vy);
            # a qualitative invariance band suffices here — the bug
            # classes this property exists for (origin leakage into
            # the fit) move r² by O(1), not O(quantum)
            assert abs(a.r_squared - b.r_squared) < 0.02


@given(
    qs=st.lists(st.integers(min_value=-10_000, max_value=10_000),
                min_size=4, max_size=60),
)
@settings(max_examples=300, deadline=None)
def test_running_zscore_integer_test_equals_float_sigma(qs):
    """s12's cross-multiplied all-integer inequality
    (q*n - s1)^2 * (n-1) > z^2 * n * (n*s2 - s1^2)
    must agree with the textbook two-sided sample z-test
    |q - mean| > z * stddev at every prefix, away from exact-boundary
    ties (where the integer form is the spec). Pure-Python property —
    no Spark job per example, so hypothesis can explore widely."""
    import math

    z = 3
    n = s1 = s2 = 0
    for q in qs:
        if n >= 2:
            d = q * n - s1
            int_flag = d * d * (n - 1) > z * z * n * (n * s2 - s1 * s1)
            mean = s1 / n
            var = (s2 - s1 * s1 / n) / (n - 1)
            var = max(var, 0.0)
            lhs, rhs = abs(q - mean), z * math.sqrt(var)
            if abs(lhs - rhs) > 1e-9 * max(1.0, rhs):
                assert int_flag == (lhs > rhs), (q, n, s1, s2)
        n += 1
        s1 += q
        s2 += q * q
