"""How a Python value or a column name is written as Spark SQL text.

Operators that build plans from ``F.expr``/``selectExpr`` strings (one
JVM parse instead of a py4j round trip per Column node) spell every
Python value and caller-supplied column name through this module, so the
quoting rules live in one place:

- strings: ``'...'`` with every ``\\`` doubled (so no other backslash
  escape can form) and ``'`` doubled — any text (newlines, backticks,
  non-BMP characters) round-trips;
- doubles: ``repr(x)`` + ``D``. ``repr`` is the shortest string that reads
  back to the same double and ``Double.parseDouble`` rounds correctly, so
  the literal is bit-exact; the ``D`` suffix pins DOUBLE (a bare decimal
  literal would parse as DECIMAL). NaN and the infinities have no literal
  form: ``double('NaN')`` / ``double('Infinity')`` / ``double('-Infinity')``
  parse under ANSI and constant-fold, and the ``coalesce(…, 0D)`` around
  them makes the value non-nullable like ``F.lit``'s (an array holding a
  bare cast would otherwise be typed ``containsNull``);
- integers: INT when the value fits 32 bits, otherwise ``L`` (BIGINT) —
  the same types ``F.lit`` gives;
- lists: ``array(...)`` of the spelled elements, nested lists nest;
- identifiers: backtick-quoted with embedded backticks doubled;
- intervals: only ``<n> <unit>`` (or a bare ``<unit>``) with a whole
  ``n`` and a unit from :data:`INTERVAL_UNITS` — anything else raises
  before it reaches SQL.

Kept at the package top level so importing it does not pull in the
QuestDB dialect front end.
"""

from __future__ import annotations

import math
import numbers
import re

_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1

#: Interval units → microseconds per unit (``None``: calendar units with
#: no fixed width — spellable as SQL, but not convertible to µs).
INTERVAL_UNITS: dict[str, int | None] = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
    "month": None,
    "year": None,
}

_INTERVAL_RE = re.compile(r"\s*(?:(\d+)\s+)?([a-z]+?)s?\s*")


def literal(value) -> str:
    """SQL text for a str, int, float or (nested) list of them."""
    if isinstance(value, bool):
        raise TypeError("bool literals are not supported")
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"
    if isinstance(value, numbers.Integral):
        n = int(value)
        if _INT_MIN <= n <= _INT_MAX:
            return str(n)
        if _LONG_MIN <= n <= _LONG_MAX:
            return f"{n}L"
        raise ValueError(f"integer {n} does not fit a BIGINT")
    if isinstance(value, numbers.Real):
        x = float(value)
        if math.isfinite(x):
            return f"{x!r}D"
        word = "NaN" if math.isnan(x) else "Infinity" if x > 0 else "-Infinity"
        return f"coalesce(double('{word}'), 0D)"
    if isinstance(value, (list, tuple)):
        return "array({})".format(", ".join(literal(v) for v in value))
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def ident(name: str) -> str:
    """A column name as a backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def parse_interval(text: str) -> tuple[int, str]:
    """``(n, unit)`` of a ``"<n> <unit>"`` interval (``"<unit>"``: n = 1);
    units are the singular or plural lower-case :data:`INTERVAL_UNITS`."""
    m = _INTERVAL_RE.fullmatch(text)
    if not m or m.group(2) not in INTERVAL_UNITS:
        raise ValueError(
            f"interval must be '<n> <unit>' with unit one of "
            f"{', '.join(INTERVAL_UNITS)}; got {text!r}"
        )
    return int(m.group(1) or 1), m.group(2)


def interval(text: str) -> str:
    """``INTERVAL <n> <unit>`` for a validated interval string."""
    n, unit = parse_interval(text)
    return f"INTERVAL {n} {unit}"


def interval_us(text: str) -> int:
    """Microseconds in a fixed-width interval string."""
    n, unit = parse_interval(text)
    if INTERVAL_UNITS[unit] is None:
        raise ValueError(f"{unit} intervals have no fixed width: {text!r}")
    return n * INTERVAL_UNITS[unit]
