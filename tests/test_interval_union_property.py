"""Property-based check of the distributed interval union (q57/q66's
shared machinery): on RANDOM episode sets, the bucket-split +
boundary-stitch form must equal the one-level global union at any
bucket width — including adversarial shapes hypothesis finds that
hand-written cases miss (nested intervals, exact-touch chains, point
episodes on boundaries, duplicate intervals across channels)."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.plain_windows import channel_global, range_stats

episode = st.tuples(
    st.integers(min_value=0, max_value=500),   # start (scaled to us)
    st.integers(min_value=0, max_value=120),   # span
    st.sampled_from(["a", "b", "c"]),
)


def _run_union(spark, eps_rows, bucket_s):
    eps = spark.createDataFrame(
        [(ch, i, s * 1_000_000, (s + d) * 1_000_000)
         for i, (s, d, ch) in enumerate(eps_rows)],
        "event_type string, __island bigint, start_us bigint, end_us bigint",
    )
    merged = range_stats._interval_union_stitched(eps, "event_type", bucket_s)
    return sorted(
        (r.i_start, r.i_end, r.i_eps) for r in merged.collect()
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    eps=st.lists(episode, min_size=1, max_size=25),
    bucket_s=st.sampled_from([7, 60, 97, 250]),
)
def test_stitched_union_equals_global_union(spark, eps, bucket_s):
    got = _run_union(spark, eps, bucket_s)
    with channel_global():
        want = _run_union(spark, eps, bucket_s)
    assert got == want


def _events_for(spark, eps_rows):
    """Events that produce exactly these episodes: one sample at start
    and one at end of each episode (values above threshold), separated
    by below-threshold samples."""
    rows, seq = [], 0
    for s, d, ch in eps_rows:
        # an above sample at start and end; a below sample right after
        # the end closes the island
        rows.append((s * 1_000_000, ch, 99.0, seq)); seq += 1
        rows.append(((s + d) * 1_000_000, ch, 99.0, seq)); seq += 1
        rows.append(((s + d) * 1_000_000 + 1, ch, 1.0, seq)); seq += 1
    return spark.createDataFrame(
        rows,
        "us bigint, event_type string, value double, event_id bigint",
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )


def _co_alarm(df, **kw):
    return sorted(
        tuple(r) for r in range_stats.co_alarm_matrix(df, 20.0, **kw).collect()
    )


# Each co-alarm property runs a small example budget in the default
# gate and its full budget under ``slow``.
def _budgets(full):
    return pytest.mark.parametrize(
        "n", [2, pytest.param(full, marks=pytest.mark.slow)],
        ids=["fast", "full"],
    )


_EPISODES = st.lists(episode, min_size=1, max_size=15)


@_budgets(8)
def test_co_alarm_stitched_equals_plain(spark, n):
    @settings(max_examples=n, deadline=None)
    @given(eps=_EPISODES, bucket_s=st.sampled_from([7, 60, 250]))
    def prop(eps, bucket_s):
        df = _events_for(spark, eps)
        with channel_global():
            want = _co_alarm(df, bucket_s=bucket_s)
        assert _co_alarm(df, bucket_s=bucket_s) == want

    prop()


@_budgets(6)
def test_co_alarm_auto_bucket_equals_plain(spark, n):
    """bucket_s='auto' (density-derived join bucket) must be a pure
    physical choice: identical output to the plain theta-join on
    random episode sets, including point episodes and touch chains."""
    @settings(max_examples=n, deadline=None)
    @given(eps=_EPISODES)
    def prop(eps):
        df = _events_for(spark, eps)
        with channel_global():
            want = _co_alarm(df, bucket_s=60)
        assert _co_alarm(df, bucket_s="auto") == want

    prop()


@_budgets(6)
def test_co_alarm_salted_join_equals_plain(spark, n):
    """A forced salt factor (the hot-bucket sub-split) must be a pure
    physical choice: every episode pair meets exactly once (side b
    keyed by hash(island)%S, side a replicated over all S salts), so
    output is identical to the plain theta-join."""
    @settings(max_examples=n, deadline=None)
    @given(eps=_EPISODES, salt=st.sampled_from([2, 3, 7]))
    def prop(eps, salt):
        df = _events_for(spark, eps)
        with channel_global():
            want = _co_alarm(df)
        assert _co_alarm(df, bucket_s=60, salt=salt) == want

    prop()


def test_co_alarm_forced_hot_bucket_auto_salts(spark):
    """A pathological instant — hundreds of point episodes from many
    channels inside ONE second — lands in one join bucket no matter
    how narrow the auto width gets (clamped at 1 s). With auto_target
    lowered so the sandbox-sized data crosses the 4*auto_target
    trigger, the auto-salt path must engage AND reproduce the plain
    theta-join exactly."""
    rows, seq = [], 0
    base = 1_700_000_000 * 1_000_000
    for ch_i in range(6):
        ch = f"c{ch_i}"
        for k in range(40):
            us = base + (k * 20_000) + ch_i  # all inside one second
            rows.append((us, ch, 99.0, seq)); seq += 1
            rows.append((us + 5_000, ch, 99.0, seq)); seq += 1
            rows.append((us + 5_001, ch, 1.0, seq)); seq += 1
    df = spark.createDataFrame(
        rows,
        "us bigint, event_type string, value double, event_id bigint",
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )
    got = _co_alarm(df, bucket_s="auto", auto_target=2, salt="auto")
    with channel_global():
        want = _co_alarm(df)
    assert got == want
    assert got  # the hot second really produces co-alarm pairs


def test_co_alarm_auto_bucket_no_episodes(spark):
    """auto mode on data that never crosses the threshold: no episodes,
    empty matrix, no division-by-zero in the density rollup."""
    from etsd_time_series_database_spark.operators.range_stats import (
        co_alarm_matrix,
    )

    df = spark.createDataFrame(
        [(i * 1_000_000, "a", 1.0, i) for i in range(5)],
        "us bigint, event_type string, value double, event_id bigint",
    ).selectExpr(
        "timestamp_micros(us) AS ts", "event_type", "value", "event_id"
    )
    assert co_alarm_matrix(df, 20.0, bucket_s="auto").count() == 0
