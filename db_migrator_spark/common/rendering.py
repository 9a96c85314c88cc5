"""SQL-literal rendering spec + TDS wire-format decode helpers.

This is the reference's "expression layer" (SURVEY.md §2.2, V1-V15;
``/root/reference/src/extract/format.rs``). On the Spark engine the hot data
path never renders values — DataFrames stay natively typed and the JDBC
writer binds parameters — so these pure functions exist for:

- the optional byte-budget sink (``sinks/byte_budget.py``), which needs SQL
  literals to assemble multi-row INSERT packets exactly like the reference.
  ``render_literal`` is the one spec of a literal there: the sink renders
  whole Arrow columns at once where a test pins that form equal to it, and
  calls it per value for the other types;
- wire-semantic parity: MSSQL ``datetime`` stores 1/300-second fragments,
  ``time``/``datetime2`` store scaled increments, ``datetimeoffset`` is
  UTC-normalized with the offset *discarded* — the decode math here
  reproduces format.rs:72-218 digit-for-digit and is pinned by the
  reference's own test vectors in tests/test_rendering.py.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

# ---------------------------------------------------------------------------
# SQL-literal rendering (format.rs:11-61)
# ---------------------------------------------------------------------------

NULL = "NULL"


def render_binary(value: bytes | None) -> str:
    """V1: 0x-prefixed lowercase hex, e.g. ``0xffab``."""
    if value is None:
        return NULL
    return "0x" + value.hex()


def render_bool(value: bool | None) -> str:
    """V2: bit -> 1/0."""
    if value is None:
        return NULL
    return "1" if value else "0"


def render_number(value: int | float | None) -> str:
    """V3/V4: integers and floats rendered bare (shortest round-trip)."""
    if value is None:
        return NULL
    if isinstance(value, float):
        return repr(value)  # shortest round-trip, like Rust Display
    return str(value)


def render_string(value: object | None) -> str:
    """V5/V7/V15: single-quoted with '' doubling (uuid/xml/str)."""
    if value is None:
        return NULL
    return "'" + str(value).replace("'", "''") + "'"


def render_decimal(value: Decimal | None) -> str:
    """V6: exact decimal quoted as a string literal, zero-padded to scale
    (the reference renders via int/dec parts to dodge float round-trip).
    ``str`` keeps the value's own scale and every digit; decimal context
    arithmetic would raise past its 28-digit precision (decimal(38,s))."""
    if value is None:
        return NULL
    return f"'{value}'"


def render_literal(value: object | None) -> str:
    """Dispatch over Python-typed cell values (format.rs:15-40)."""
    if value is None:
        return NULL
    if isinstance(value, bool):
        return render_bool(value)
    if isinstance(value, (bytes, bytearray)):
        return render_binary(bytes(value))
    if isinstance(value, (int, float)):
        return render_number(value)
    if isinstance(value, Decimal):
        return render_decimal(value)
    if isinstance(value, dt.datetime):
        return f"'{value.date().isoformat()} {_fmt_hmsf(value.time())}'"
    if isinstance(value, dt.date):
        return f"'{value.isoformat()}'"
    if isinstance(value, dt.time):
        return "'" + value.isoformat() + "'"
    return render_string(value)


# ---------------------------------------------------------------------------
# TDS wire decode (format.rs:72-218)
# ---------------------------------------------------------------------------


class InvalidDateTimeValue(ValueError):
    pass


def from_days(days: int, base_year: int) -> dt.date:
    """Days since Jan 1 of ``base_year`` (1 for date/datetime2, 1900 for
    datetime/smalldatetime)."""
    try:
        return dt.date(base_year, 1, 1) + dt.timedelta(days=days)
    except (OverflowError, ValueError):
        raise InvalidDateTimeValue(
            f"date overflow: {days} days from base year {base_year}"
        ) from None


def from_minutes(minutes: int) -> dt.time:
    """smalldatetime time part: whole minutes since midnight."""
    hours, rem = divmod(minutes, 60)
    if not 0 <= hours < 24:
        raise InvalidDateTimeValue(f"invalid time from {minutes} minutes ({hours}h {rem}m)")
    return dt.time(hours, rem, 0)


def from_sec_fragments(seconds_fragments: int) -> dt.time:
    """datetime time part: 1/300-second fragments since midnight.
    ms = fragments * 1000 / 300 (integer division — 3.33 ms resolution)."""
    milliseconds = seconds_fragments * 1000 // 300
    seconds, ms = divmod(milliseconds, 1000)
    minutes, sec = divmod(seconds, 60)
    hours, mins = divmod(minutes, 60)
    if not 0 <= hours < 24:
        raise InvalidDateTimeValue(
            f"invalid time from seconds_fragments {seconds_fragments}"
        )
    return dt.time(hours, mins, sec, ms * 1000)


def time_from_increments(increments: int, scale: int) -> dt.time:
    """time/datetime2 time part: ``increments * 10^(9-scale)`` ns since
    midnight."""
    ns = increments * 10 ** (9 - scale)
    us, _ = divmod(ns, 1000)
    seconds, us_rem = divmod(us, 1_000_000)
    minutes, sec = divmod(seconds, 60)
    hours, mins = divmod(minutes, 60)
    if not 0 <= hours < 24:
        raise InvalidDateTimeValue(f"invalid time from increments {increments}")
    return dt.time(hours, mins, sec, us_rem)


def decode_time(increments: int | None, scale: int) -> str:
    """V9: ``'%H:%M:%S%.f'`` literal."""
    if increments is None:
        return NULL
    return "'" + _fmt_hmsf(time_from_increments(increments, scale)) + "'"


def decode_date(days: int | None) -> str:
    """V10: days since year 1 -> ``'%Y-%m-%d'``."""
    if days is None:
        return NULL
    return f"'{from_days(days, 1).isoformat()}'"


def decode_datetime(days: int | None, seconds_fragments: int) -> str:
    """V11: days since 1900 + 1/300-s fragments -> ``'%Y-%m-%d %H:%M:%S'``
    (second precision in the literal, like the reference)."""
    if days is None:
        return NULL
    d = from_days(days, 1900)
    t = from_sec_fragments(seconds_fragments)
    return f"'{d.isoformat()} {t.strftime('%H:%M:%S')}'"


def decode_datetime2(days: int | None, increments: int, scale: int) -> str:
    """V12: days since year 1 + scaled increments, fractional seconds kept."""
    if days is None:
        return NULL
    d = from_days(days, 1)
    t = time_from_increments(increments, scale)
    return f"'{d.isoformat()} {_fmt_hmsf(t)}'"


def decode_smalldatetime(days: int | None, minutes: int) -> str:
    """V13: days since 1900 + whole minutes."""
    if days is None:
        return NULL
    d = from_days(days, 1900)
    t = from_minutes(minutes)
    return f"'{d.isoformat()} {t.strftime('%H:%M:%S')}'"


def decode_datetimeoffset(
    days: int | None, increments: int, scale: int, offset_minutes: int
) -> str:
    """V14: decode the datetime2 part, SUBTRACT the offset, emit UTC naive —
    the offset is intentionally discarded (format.rs:140-161).

    Deliberate divergence from the reference: when the subtraction crosses
    midnight we carry into the date (2023-01-01 00:30 +01:00 ->
    2022-12-31 23:30 UTC). The reference's chrono ``NaiveTime`` arithmetic
    wraps within the day and keeps the original date (format.rs:152-156),
    producing a UTC timestamp that is off by a day for such values — a
    wall-clock bug we fix rather than reproduce (same policy as the CHECK
    parse in constraints.py)."""
    if days is None:
        return NULL
    d = from_days(days, 1)
    t = time_from_increments(increments, scale)
    naive = dt.datetime.combine(d, t) - dt.timedelta(minutes=offset_minutes)
    return f"'{naive.date().isoformat()} {_fmt_hmsf(naive.time())}'"


def _fmt_hmsf(t: dt.time) -> str:
    """chrono's ``%.f``: fractional part omitted when zero, else dot plus
    up-to-9 digits with trailing zeros trimmed (µs precision here)."""
    base = t.strftime("%H:%M:%S")
    if t.microsecond == 0:
        return base
    frac = f"{t.microsecond:06d}".rstrip("0")
    return f"{base}.{frac}"
