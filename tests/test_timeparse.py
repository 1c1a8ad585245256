"""Unit tests for the time-literal grammar (reference etsdParseTime /
parseT, code/etsdQuery.c:41-182, and the s=/e= cross-reference
resolution of code/etsdCmd.c:362-428)."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from etsd_time_series_database_spark.timeparse import (
    parse_span,
    parse_time,
    resolve_range,
)

NOW = datetime(2026, 8, 13, 15, 30, 45, tzinfo=timezone.utc)
BEGIN = datetime(2026, 1, 1, tzinfo=timezone.utc)


def test_spans():
    assert parse_span("10s") == timedelta(seconds=10)
    assert parse_span("3m") == timedelta(minutes=3)
    assert parse_span("4h") == timedelta(hours=4)
    assert parse_span("2d") == timedelta(days=2)
    assert parse_span("1y") == timedelta(days=365)
    with pytest.raises(ValueError):
        parse_span("10x")


def test_keywords():
    assert parse_time("now", NOW) == NOW
    assert parse_time("mid", NOW) == NOW.replace(hour=0, minute=0, second=0)
    assert parse_time("midnight", NOW) == NOW.replace(hour=0, minute=0, second=0)
    assert parse_time("begin", NOW, BEGIN) == BEGIN
    with pytest.raises(ValueError):
        parse_time("begin", NOW)  # begin unavailable


def test_bare_span_means_now_minus():
    assert parse_time("4h", NOW) == NOW - timedelta(hours=4)


def test_absolutes():
    assert parse_time("2026-03-04 05:06:07", NOW) == datetime(
        2026, 3, 4, 5, 6, 7, tzinfo=timezone.utc
    )
    assert parse_time("2026-03-04", NOW) == datetime(2026, 3, 4, tzinfo=timezone.utc)
    assert parse_time("3/4/2026 05:06", NOW) == datetime(
        2026, 3, 4, 5, 6, tzinfo=timezone.utc
    )
    assert parse_time("3/4/26", NOW) == datetime(2026, 3, 4, tzinfo=timezone.utc)
    # bare hh:mm:ss -> today
    assert parse_time("05:06:07", NOW) == NOW.replace(
        hour=5, minute=6, second=7, microsecond=0
    )


def test_arithmetic():
    assert parse_time("now-4h", NOW) == NOW - timedelta(hours=4)
    assert parse_time("mid+90m", NOW) == NOW.replace(
        hour=1, minute=30, second=0
    )
    assert parse_time("2026-03-04+1d", NOW) == datetime(
        2026, 3, 5, tzinfo=timezone.utc
    )


def test_resolve_range_defaults():
    s, e = resolve_range(None, None, NOW, BEGIN)
    assert (s, e) == (BEGIN, NOW)


def test_resolve_range_cross_refs():
    s, e = resolve_range("end-2h", "now", NOW, BEGIN)
    assert e == NOW and s == NOW - timedelta(hours=2)
    s, e = resolve_range("now-4h", "start+1h", NOW, BEGIN)
    assert s == NOW - timedelta(hours=4) and e == s + timedelta(hours=1)


def test_resolve_range_rejects_inverted():
    with pytest.raises(ValueError):
        resolve_range("now", "now-4h", NOW, BEGIN)


class _Begin:
    """A ``begin`` callable that counts its calls (a min(ts) scan)."""

    def __init__(self, value=BEGIN):
        self.value, self.calls = value, 0

    def __call__(self):
        self.calls += 1
        return self.value


@pytest.mark.parametrize(
    "start, end, calls",
    [
        ("2026-03-04", "2026-03-05", 0),
        ("now-4h", "start+1h", 0),
        ("end-2h", "now", 0),
        ("begin", "begin+2d", 1),
        (None, "now", 1),
        ("end-1d", "begin+2d", 1),
    ],
)
def test_callable_begin_runs_once_and_only_when_needed(start, end, calls):
    begin = _Begin()
    got = resolve_range(start, end, NOW, begin)
    assert begin.calls == calls
    assert got == resolve_range(start, end, NOW, BEGIN)


def test_callable_begin_without_a_value():
    # an empty table has no min(ts): an empty start falls back to now,
    # an explicit 'begin' still raises
    assert resolve_range(None, None, NOW, _Begin(None)) == (NOW, NOW)
    with pytest.raises(ValueError, match="min\\(ts\\)"):
        parse_time("begin", NOW, _Begin(None))
