"""Timestamp & duration parsing with reference parity.

Reference behavior (all timestamps are Unix **milliseconds** as i64):

- explicit strptime-format parse, chrono semantics: naive datetimes are
  treated as UTC; ``%z`` formats carry their own offset
  (reference: src/utils/time.rs:38-48).
- format guessing cascade: RFC3339, RFC2822, nginx ``%d/%b/%Y:%H:%M:%S %z``,
  ISO with/without ``T`` and optional fraction, ISO + offset, unix
  seconds (10 digits) / millis (13 digits) (src/utils/time.rs:50-88).
- Go-like duration literals ``1y2w3d4h5m6s7ms``: units strictly descending,
  positive totals only (src/utils/parse/duration.rs:21-132).

Spark-side parsing uses JVM ``to_timestamp`` with a translated Java pattern
when the strptime format is translatable (the fast, codegen'd path). The
guess cascade runs in the JVM for every reference shape (RFC2822's common
``Www, d Mmm yyyy HH:mm:ss ±hhmm`` included); ``try_parse_time`` is its
reference and the kernel of the vectorized pandas fallback (Arrow-batched,
masked to the rows the JVM leaves NULL) defined in
``pq_spark.engine.ingest``, which a regex-decoded program plans only when
one of its lines needs it.
"""

from __future__ import annotations

import email.utils
import re
from datetime import datetime, timezone

from .errors import ParseError

# ---------------------------------------------------------------------------
# strptime -> Java (java.time) pattern translation
# ---------------------------------------------------------------------------

_STRPTIME_TO_JAVA = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%e": "d",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%b": "MMM",
    "%B": "MMMM",
    "%a": "EEE",
    "%A": "EEEE",
    "%j": "DDD",
    "%p": "a",
    "%z": "Z",      # +0000 style zone offset
    "%:z": "XXX",   # +00:00 style
    "%%": "%",
    "%T": "HH:mm:ss",
    "%F": "yyyy-MM-dd",
    "%3f": "SSS",
    "%6f": "SSSSSS",
    "%9f": "SSSSSSSSS",
}

_JAVA_LETTERS = re.compile(r"[a-zA-Z]+")


def strptime_to_java(fmt: str) -> str | None:
    """Translate a chrono/strptime format to a java.time pattern.

    Returns None when the format contains a directive we can't translate
    (callers then fall back to the Python/pandas parser).
    """
    out: list[str] = []
    i = 0
    n = len(fmt)
    while i < n:
        c = fmt[i]
        if c == "%":
            for key in ("%:z", "%3f", "%6f", "%9f"):
                if fmt.startswith(key, i):
                    out.append(_STRPTIME_TO_JAVA[key])
                    i += len(key)
                    break
            else:
                directive = fmt[i : i + 2]
                if directive == "%.":
                    # %.f — optional fraction; java.time optional section.
                    if fmt.startswith("%.f", i):
                        out.append("[.SSSSSSSSS]")
                        i += 3
                        continue
                    return None
                java = _STRPTIME_TO_JAVA.get(directive)
                if java is None:
                    return None
                out.append(java)
                i += 2
            continue
        if c.isalpha():
            out.append(f"'{c}'")
        elif c == "'":
            out.append("''")
        else:
            out.append(c)
        i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# Python-side parsing (CLI options + pandas-UDF fallback kernel)
# ---------------------------------------------------------------------------

# chrono %-directives → Python strptime (they mostly coincide)
_STRPTIME_PASSTHROUGH = set("YymdeHIMSbBaAjpzZ%")


def _strptime_to_python(fmt: str) -> str | None:
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i + 1]
            if d in _STRPTIME_PASSTHROUGH:
                out.append(fmt[i : i + 2])
                i += 2
                continue
            if fmt.startswith("%.f", i):
                out.append("%f_OPT")  # handled specially below
                i += 3
                continue
            return None
        out.append(fmt[i])
        i += 1
    return "".join(out)


def parse_time(s: str, fmt: str) -> int:
    """Explicit-format parse → Unix ms. chrono semantics: naive == UTC."""
    pyfmt = _strptime_to_python(fmt)
    if pyfmt is None:
        raise ParseError(f"unsupported timestamp format: {fmt}")
    candidates = (
        [pyfmt.replace("%f_OPT", "%f"), pyfmt.replace(".%f_OPT", ""), pyfmt.replace("%f_OPT", "")]
        if "%f_OPT" in pyfmt
        else [pyfmt]
    )
    last_err: Exception | None = None
    for cand in candidates:
        try:
            dt = datetime.strptime(s, cand)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)
        except ValueError as e:  # try next candidate
            last_err = e
    raise ParseError(f"couldn't parse timestamp {s!r} with format {fmt!r}: {last_err}")


_ISO_FRACTION = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})([T ])(\d{2}):(\d{2}):(\d{2})(\.\d+)?$"
)
_ISO_OFFSET = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2}) (\d{2}):(\d{2}):(\d{2})(\.\d+)? ([+-]\d{4})$"
)
_RFC3339 = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(\.\d+)?(Z|z|[+-]\d{2}:\d{2})$"
)
_NGINX = re.compile(r"^(\d{2})/([A-Za-z]{3})/(\d{4}):(\d{2}):(\d{2}):(\d{2}) ([+-]\d{4})$")
_MONTHS = {
    m: i + 1
    for i, m in enumerate(
        ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
    )
}


def _offset_ms(off: str) -> int:
    sign = 1 if off[0] == "+" else -1
    return sign * (int(off[1:3]) * 3600 + int(off[3:5]) * 60) * 1000


def _frac_ms(frac: str | None) -> int:
    if not frac:
        return 0
    return int(round(float(frac) * 1000))


def _to_ms(y: int, mo: int, d: int, h: int, mi: int, s: int) -> int:
    return int(datetime(y, mo, d, h, mi, s, tzinfo=timezone.utc).timestamp() * 1000)


def try_parse_time(s: str) -> int | None:
    """Format-guess cascade → Unix ms (reference: src/utils/time.rs:50-88).

    Order matters and is preserved: RFC3339, RFC2822, nginx, ISO space,
    ISO 'T', ISO space + offset, unix s/ms digits.
    """
    m = _RFC3339.match(s)
    if m:
        y, mo, d, h, mi, sec = (int(m.group(i)) for i in range(1, 7))
        base = _to_ms(y, mo, d, h, mi, sec) + _frac_ms(m.group(7))
        off = m.group(8)
        if off in ("Z", "z"):
            return base
        return base - _offset_ms(off.replace(":", ""))

    try:
        dt = email.utils.parsedate_to_datetime(s)
        if dt is not None:
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)
    except (ValueError, TypeError, IndexError):
        pass

    m = _NGINX.match(s)
    if m and m.group(2) in _MONTHS:
        base = _to_ms(
            int(m.group(3)), _MONTHS[m.group(2)], int(m.group(1)),
            int(m.group(4)), int(m.group(5)), int(m.group(6)),
        )
        return base - _offset_ms(m.group(7))

    m = _ISO_FRACTION.match(s)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        h, mi, sec = int(m.group(5)), int(m.group(6)), int(m.group(7))
        return _to_ms(y, mo, d, h, mi, sec) + _frac_ms(m.group(8))

    m = _ISO_OFFSET.match(s)
    if m:
        base = _to_ms(
            int(m.group(1)), int(m.group(2)), int(m.group(3)),
            int(m.group(4)), int(m.group(5)), int(m.group(6)),
        ) + _frac_ms(m.group(7))
        return base - _offset_ms(m.group(8))

    if s.isdigit():
        if len(s) == 10:
            return int(s) * 1000
        if len(s) == 13:
            return int(s)
        return None

    return None


# ---------------------------------------------------------------------------
# Durations (Go-like literals)
# ---------------------------------------------------------------------------

_UNIT_MS = {
    "ms": 1,
    "s": 1000,
    "m": 60_000,
    "h": 3_600_000,
    "d": 86_400_000,
    "w": 7 * 86_400_000,
    "y": 365 * 86_400_000,
}
_UNIT_RE = re.compile(r"(\d+)(ms|s|m|h|d|w|y)")


def parse_duration_prefix(s: str) -> tuple[int, int]:
    """Parse a duration literal prefix; returns (millis, chars_consumed).

    Units must be strictly descending (``10m2h`` invalid; ``1s1s`` invalid);
    total must be > 0 (reference: src/utils/parse/duration.rs:21-132).
    """
    order = ["y", "w", "d", "h", "m", "s", "ms"]
    pos = 0
    total = 0
    max_unit_ms = _UNIT_MS["y"]
    first = True
    while True:
        m = _UNIT_RE.match(s, pos)
        if not m:
            if first:
                raise ParseError("invalid duration literal", pos)
            break
        unit = m.group(2)
        unit_ms = _UNIT_MS[unit]
        if unit_ms > max_unit_ms:
            raise ParseError("invalid duration literal", pos)
        total += int(m.group(1)) * unit_ms
        # the reference's descendant chain: the next unit must be at most
        # the immediately-smaller one (strictly descending units).
        idx = order.index(unit)
        max_unit_ms = _UNIT_MS[order[idx + 1]] if idx + 1 < len(order) else 0
        pos = m.end()
        first = False
    if total <= 0:
        raise ParseError("duration must be greater than 0")
    return total, pos


def parse_duration(s: str) -> int:
    """Parse a full duration string → milliseconds."""
    total, pos = parse_duration_prefix(s)
    if pos != len(s):
        raise ParseError("invalid duration literal", pos)
    return total
