"""Time predicates + calendar bucketing.

Re-expresses the reference's predicate compiler and tz-aware calendar
functions (analysis_utils.py:31-307, 319-395) as:

- :func:`column_range` — driver-side compile of user params to a
  ``TimeRange(lo, hi, limit)`` (the reference's Cassandra column-slice dict,
  au:60-160) which then becomes a pushed-down ``epoch BETWEEN`` predicate.
- :func:`bucket_epoch_expr` — pure Column expression for calendar-period
  beginnings with the reference's minute-0 shift quirk (au:182-237,
  au:259-307): no UDF, stays inside whole-stage codegen.
- :func:`time_interval_beginning` / :func:`time_interval_end` — exact scalar
  ports (used for query-boundary resolution and as the test oracle).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

from pyspark.sql import Column
from pyspark.sql import functions as F

from tsengine.core import TsError

DEFAULT_TZ = "Europe/Madrid"

HOUR = 3600
DAY = 86400
WEEK = 604800
MONTH = 2592000  # 30 days, matches reference common.constants.TimeInSeconds
YEAR = 31536000  # 365 days

_RANGE_SECONDS = {
    "last_hour": HOUR,
    "last_day": DAY,
    "last_week": WEEK,
    "last_month": MONTH,
    "last_year": YEAR,
}

_THIS_RANGES = {
    "this_hour": ("hour", HOUR),
    "today": ("day", DAY),
    "this_week": ("week", WEEK),
    "this_month": ("month", MONTH),
    # reference quirk au:126-128: this_year's upper bound is the month end,
    # documented divergence — we implement the intent (year end).
    "this_year": ("year", YEAR),
}

_INT_TYPES = {
    "closed": (0, 0),
    "right_open": (0, 1),
    "left_open": (1, 0),
    "open": (1, 1),
}


# ---------------------------------------------------------------- scalar tz math
def _shifted_local(epoch_ref: int, tz_name: str) -> datetime:
    """Minute-truncate then apply the minute-0 shift (au:190, au:285-307).

    The reference truncates the epoch to minutes and, when the minute is 0,
    rebuilds the tuple as minute 60 of the *previous* hour (borrowing through
    hour/day/month/year).  Field-wise that tuple is identical to the local
    datetime at ``epoch - 60`` (same y/m/d/h, minute 59 vs 60 — the period
    truncations below only read y/m/d/weekday/h), so we use epoch-60.
    """
    epoch_m = 60 * (epoch_ref // 60)
    if epoch_m % HOUR == 0:
        epoch_m -= 60
    return datetime.fromtimestamp(epoch_m, ZoneInfo(tz_name))


def time_interval_beginning(time_int: str, tz_name: str = DEFAULT_TZ, epoch_ref: int | None = None) -> int:
    """Beginning epoch of the year/month/week/day/hour containing epoch_ref
    (au:182-237), with minute-0 counted in the previous period."""
    if epoch_ref is None:
        raise TsError("epoch_ref is required (no wall clock in the engine)")
    epoch_m = 60 * (epoch_ref // 60)
    if time_int == "hour":
        # au:224-227: exact hour belongs to the previous hour.
        if epoch_m % HOUR == 0:
            return HOUR * (epoch_m // HOUR - 1)
        return HOUR * (epoch_m // HOUR)
    tz = ZoneInfo(tz_name)
    dt = _shifted_local(epoch_ref, tz_name)
    if time_int == "year":
        start = datetime(dt.year, 1, 1, tzinfo=tz)
    elif time_int == "month":
        start = datetime(dt.year, dt.month, 1, tzinfo=tz)
    elif time_int == "week":
        start = datetime(dt.year, dt.month, dt.day, tzinfo=tz) - timedelta(days=dt.weekday())
    elif time_int == "day":
        start = datetime(dt.year, dt.month, dt.day, tzinfo=tz)
    else:
        raise TsError(f"Invalid time interval given: {time_int}")
    return int(start.timestamp())


def time_interval_end(time_int: str, tz_name: str = DEFAULT_TZ, epoch_ref: int | None = None) -> int:
    """End epoch of the period containing epoch_ref (au:319-395)."""
    if epoch_ref is None:
        raise TsError("epoch_ref is required (no wall clock in the engine)")
    epoch_m = 60 * (epoch_ref // 60)
    if time_int == "hour":
        if epoch_m % HOUR == 0:
            return HOUR * (epoch_m // HOUR)
        return HOUR * (epoch_m // HOUR + 1)
    tz = ZoneInfo(tz_name)
    dt = _shifted_local(epoch_ref, tz_name)
    if time_int == "year":
        end = datetime(dt.year + 1, 1, 1, tzinfo=tz)
    elif time_int == "month":
        y, m = (dt.year + 1, 1) if dt.month == 12 else (dt.year, dt.month + 1)
        end = datetime(y, m, 1, tzinfo=tz)
    elif time_int == "week":
        end = datetime(dt.year, dt.month, dt.day, tzinfo=tz) + timedelta(days=7 - dt.weekday())
    elif time_int == "day":
        end = datetime(dt.year, dt.month, dt.day, tzinfo=tz) + timedelta(days=1)
    else:
        raise TsError(f"Invalid time interval given: {time_int}")
    return int(end.timestamp())


# ---------------------------------------------------------------- predicate compile
@dataclass(frozen=True)
class TimeRange:
    """Compiled time predicate: [lo, hi] inclusive bounds + row limit.

    Mirrors the reference's {'column_start': hi, 'column_finish': lo,
    'column_count': n} dict (au:60-160); interval openness is realized by
    the same +/-1s integer-bound adjustment (au:67-80).
    """

    lo: int | None
    hi: int | None
    limit: int | None

    def predicate(self) -> Column:
        """``epoch`` within [lo, hi], one SQL expression (TRUE unbounded)."""
        pred = ["TRUE"]
        if self.lo is not None:
            pred.append(f"epoch >= {int(self.lo)}")
        if self.hi is not None:
            pred.append(f"epoch <= {int(self.hi)}")
        return F.expr(" AND ".join(pred))


def get_column_range(
    data: dict,
    tz_name: str = DEFAULT_TZ,
    now: int | None = None,
    int_type: str = "left_open",
) -> TimeRange:
    """Reference F2 shim (analysis_utils.py:31-57): keep only the
    ``data.``-prefixed request params, strip the prefix, and compile with
    :func:`column_range`.  The reference returns an error dict when no
    ``data.*`` param is present; this engine's error-as-exception convention
    raises :class:`TsError` with the same message."""
    params = {
        k[len("data."):]: v for k, v in data.items() if k.startswith("data.")
    }
    if not params:
        raise TsError("Invalid data range defined")
    return column_range(params, tz_name=tz_name, now=now, int_type=int_type)


def column_range(
    params: dict,
    tz_name: str = DEFAULT_TZ,
    now: int | None = None,
    int_type: str = "left_open",
) -> TimeRange:
    """Compile user time params to a TimeRange (au:60-160).

    Supported params: range=last_one|last_hour|last_day|last_week|last_month|
    last_year|this_hour|today|this_week|this_month|this_year, from, to, count.
    Defaults pinned by the reference: only-`to` -> one week back (au:148-152);
    nothing -> last 1 value (au:158-159).
    """
    if now is None:
        raise TsError("now is required (no wall clock in the engine)")
    if int_type not in _INT_TYPES:
        raise TsError(f"Unknown interval type: {int_type}")
    exc_l, exc_r = _INT_TYPES[int_type]

    q_count = params.get("count", math.inf)
    q_range = params.get("range")

    if q_range == "last_one":
        return TimeRange(lo=None, hi=now, limit=int(min(1, q_count)))
    if q_range in _RANGE_SECONDS:
        span = _RANGE_SECONDS[q_range]
        return TimeRange(lo=now - span, hi=now, limit=int(min(span, q_count)))
    if q_range in _THIS_RANGES:
        period, span = _THIS_RANGES[q_range]
        return TimeRange(
            lo=time_interval_beginning(period, tz_name, now) + exc_l,
            hi=time_interval_end(period, tz_name, now) - exc_r,
            limit=int(min(span, q_count)),
        )
    if q_range:
        raise TsError(f"unknown parameter range: {q_range}")

    q_from = params.get("from")
    q_to = params.get("to")
    if q_from is not None and q_to is not None:
        return TimeRange(lo=int(q_from) + exc_l, hi=int(q_to) - exc_r, limit=int(min(YEAR, q_count)))
    if q_from is not None:
        return TimeRange(lo=int(q_from) + exc_l, hi=now, limit=int(min(YEAR, q_count)))
    if q_to is not None:
        hi = int(q_to) - exc_r
        return TimeRange(lo=hi - WEEK, hi=hi, limit=int(min(WEEK, q_count)))
    if not math.isinf(q_count):
        return TimeRange(lo=None, hi=now, limit=int(q_count))
    return TimeRange(lo=None, hi=now, limit=1)


# ---------------------------------------------------------------- column bucketing
VALID_PERIODS = ("year", "month", "week", "day", "hour")


def bucket_epoch_expr(
    epoch_col: str, period: str, tz_name: str = DEFAULT_TZ, shift: bool = True
) -> Column:
    """Column expression: epoch column ``epoch_col`` -> beginning-epoch of
    its calendar period.

    Pure built-in composition (no UDF): minute-truncate, minute-0 shift
    (au:190 + au:285-307), tz-localize via from_utc_timestamp, date_trunc,
    back to epoch via to_utc_timestamp.  'hour' is pure integer arithmetic
    (au:224-227).  DST is handled by the JVM tz database, same offsets the
    reference takes from pytz (au:232-237).  ``shift=False`` gives the plain
    period beginning (no minute-0-belongs-to-previous-period quirk).

    The integer arithmetic is one SQL expression; the zone and the period
    stay Column arguments, never SQL text."""
    if period not in VALID_PERIODS:
        raise TsError(f"Invalid period given: {period}")
    em = f"CAST(60 * FLOOR(`{epoch_col}` / 60) AS BIGINT)"
    if period == "hour":
        h = f"CAST(FLOOR({em} / {HOUR}) AS BIGINT)"
        if not shift:
            return F.expr(f"CAST({h} * {HOUR} AS BIGINT)")
        return F.expr(
            f"CAST(CASE WHEN {em} % {HOUR} = 0 THEN ({h} - 1) * {HOUR}"
            f" ELSE {h} * {HOUR} END AS BIGINT)"
        )
    if shift:
        em = f"CASE WHEN {em} % {HOUR} = 0 THEN {em} - 60 ELSE {em} END"
    local = F.from_utc_timestamp(F.expr(f"timestamp_seconds({em})"), tz_name)
    return F.to_utc_timestamp(F.date_trunc(period, local), tz_name).cast("long")
