"""Time-literal parsing and relative start/end resolution.

Re-implements the reference CLI's time grammar (reference
code/etsdQuery.c:41-93 ``parseT`` spans, :97-182 ``etsdParseTime``
absolute forms; relative s=/e= cross-references in
code/etsdCmd.c:362-428). This is driver-side parameter resolution:
it happens in Python *before* any DataFrame plan is built, so it has
zero effect on distributed execution.

Grammar:
  spans      : ``10s 4h 3m 2d 1y`` (seconds/hours/minutes/days/years)
  keywords   : ``now``, ``mid``/``midnight`` (last midnight), ``begin``
  absolutes  : ``mm/dd/yy[yy] [hh:mm[:ss]]``, ``yyyy-mm-dd [hh:mm[:ss]]``,
               bare ``hh:mm[:ss]`` (today)
  arithmetic : ``<base>+<span>`` / ``<base>-<span>`` (e.g. ``now-4h``)
  relative   : ``start±span`` / ``end±span`` cross-references resolved by
               :func:`resolve_range`.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Callable
from datetime import datetime, timedelta, timezone

_SPAN_RE = re.compile(r"^(\d+)([smhdy])$")
_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "y": 31536000}


def parse_span(text: str) -> timedelta:
    """``4h`` -> timedelta(hours=4). Reference parseT, code/etsdQuery.c:41-93
    (same units; 'm' = minutes as there, 'y' = 365 days)."""
    m = _SPAN_RE.match(text.strip())
    if not m:
        raise ValueError(f"bad time span: {text!r}")
    return timedelta(seconds=int(m.group(1)) * _UNIT_SECONDS[m.group(2)])


def _parse_absolute(text: str, now: datetime) -> datetime:
    t = text.strip()
    fmts = [
        "%Y-%m-%d %H:%M:%S",
        "%Y-%m-%d %H:%M",
        "%Y-%m-%d",
        "%m/%d/%Y %H:%M:%S",
        "%m/%d/%Y %H:%M",
        "%m/%d/%Y",
        "%m/%d/%y %H:%M:%S",
        "%m/%d/%y %H:%M",
        "%m/%d/%y",
    ]
    for f in fmts:
        try:
            return datetime.strptime(t, f).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
    # bare hh:mm[:ss] -> today (reference code/etsdQuery.c:121-142)
    for f in ("%H:%M:%S", "%H:%M"):
        try:
            tm = datetime.strptime(t, f)
            return now.replace(
                hour=tm.hour, minute=tm.minute, second=tm.second, microsecond=0
            )
        except ValueError:
            continue
    raise ValueError(f"unparseable time literal: {text!r}")


Begin = datetime | Callable[[], datetime | None] | None


def _begin_getter(begin: Begin) -> Callable[[], datetime | None]:
    """``begin`` as a zero-argument getter that computes it at most
    once: a callable (e.g. a min(ts) scan) runs on first use only."""
    return functools.cache(begin) if callable(begin) else lambda: begin


def parse_time(
    text: str, now: datetime | None = None, begin: Begin = None
) -> datetime:
    """Parse one time literal (reference etsdParseTime,
    code/etsdQuery.c:97-182). ``begin`` is the earliest stored
    timestamp (the reference's block-1 time, code/etsdCmd.c:449-454),
    or a zero-argument callable returning it, called only when the
    literal's base is ``begin``.
    """
    now = now or datetime.now(timezone.utc)
    t = text.strip().lower()
    # split base ± span (rightmost +/- that is followed by a span literal)
    m = re.match(r"^(.*?)([+-])(\d+[smhdy])$", t)
    base_s, op, span_s = (m.group(1), m.group(2), m.group(3)) if m else (t, None, None)
    base_s = base_s.strip()
    if base_s in ("now", ""):
        base = now
    elif base_s in ("mid", "midnight"):
        base = now.replace(hour=0, minute=0, second=0, microsecond=0)
    elif base_s == "begin":
        base = _begin_getter(begin)()
        if base is None:
            raise ValueError("'begin' needs the table's min(ts)")
    elif _SPAN_RE.match(base_s):
        # a bare span means "now - span" (reference code/etsdQuery.c:100-104)
        return now - parse_span(base_s)
    else:
        base = _parse_absolute(base_s, now)
    if op:
        delta = parse_span(span_s)
        base = base + delta if op == "+" else base - delta
    return base


def resolve_range(
    start: str | None,
    end: str | None,
    now: datetime | None = None,
    begin: Begin = None,
) -> tuple[datetime, datetime]:
    """Resolve s=/e= with ``start``/``end`` cross-references (reference
    code/etsdCmd.c:362-428). Defaults: start=begin, end=now
    (code/etsdCmd.c:449-454). A callable ``begin`` is called at most
    once, and only when a side's base is ``begin`` or ``start`` is
    empty."""
    now = now or datetime.now(timezone.utc)
    begin = _begin_getter(begin)

    def _xref(text: str, other: datetime | None, kw: str) -> datetime | None:
        m = re.match(rf"^{kw}([+-])(\d+[smhdy])$", text.strip().lower())
        if not m:
            return None
        if other is None:
            raise ValueError(f"{kw}± used but {kw} not resolvable yet")
        d = parse_span(m.group(2))
        return other + d if m.group(1) == "+" else other - d

    s_txt = (start or "").strip().lower()
    e_txt = (end or "").strip().lower()
    s_dt = e_dt = None
    # resolve non-cross-referencing sides first, then the xrefs
    if s_txt and not s_txt.startswith("end"):
        s_dt = parse_time(s_txt, now, begin)
    if e_txt and not e_txt.startswith("start"):
        e_dt = parse_time(e_txt, now, begin)
    if s_dt is None:
        s_dt = _xref(s_txt, e_dt, "end") if s_txt else (begin() or now)
    if e_dt is None:
        e_dt = _xref(e_txt, s_dt, "start") if e_txt else now
    if s_dt is None or e_dt is None:
        raise ValueError(f"unresolvable range: s={start!r} e={end!r}")
    if e_dt < s_dt:
        raise ValueError(f"end {e_dt} before start {s_dt}")
    return s_dt, e_dt
