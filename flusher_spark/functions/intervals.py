"""Human-readable refresh-interval parsing.

Same accepted language as the reference (refresh_interval.py:6-27), verified
behavior preserved:
  - units: minutes, hours, days only (singular or plural, any case,
    punctuation between terms tolerated: "1 hour, 30 minutes")
  - seconds / microseconds / weeks / months are rejected (reference
    refresh_interval.py:16-19 rejects sub-minute and unknown units)
  - a string with no recognized unit is rejected
Returns datetime.timedelta, so schedule arithmetic (the due predicate in
control/scheduler.py) stays in pure Python.
"""

from __future__ import annotations

import re
from datetime import timedelta

_ALLOWED = {"minute": "minutes", "hour": "hours", "day": "days"}
_REJECTED = {"second", "microsecond", "millisecond", "week", "month", "year"}
#: One "<amount> <unit>" term plus its trailing separators (comma/semicolon/
#: "and", in any combination — "1 hour, and 30 minutes" is fine; r9's
#: single-separator rule rejected it, a needless tightening). Terms are
#: matched POSITIONALLY over the whole string — a findall scan would skip
#: unparsable stretches, silently turning "1,000 minutes" into 0 minutes
#: ("1," dropped) and "1.5 hours" into 5 hours; repeated separators between
#: terms are harmless because digits can never be dropped by them.
_TERM_RE = re.compile(r"\s*(\d+)\s*([a-z]+)\s*(?:(?:[,;]|\band\b)\s*)*")


def from_human(text: str) -> timedelta:
    """Parse "90 minutes" / "1 day 6 hours" / "1 hour, 30 minutes" → timedelta.
    The WHOLE string must be interval terms: decimals, digit group
    separators, and any other unconsumed text are errors, never silently
    dropped digits."""
    if not text or not text.strip():
        raise ValueError("empty interval")
    cleaned = text.lower()
    kwargs: dict[str, int] = {}
    pos = 0
    while pos < len(cleaned):
        m = _TERM_RE.match(cleaned, pos)
        if not m:
            raise ValueError(f"unparsable interval text {cleaned[pos:].strip()!r} in {text!r}")
        pos = m.end()
        amount, unit = m.groups()
        # A dangling separator at the very end ("1 hour and", "1 hour,,,")
        # is unconsumed intent — a truncated cell must fail loudly, per the
        # whole-string contract above (r13 review).
        if pos >= len(cleaned) and cleaned[m.end(2) : pos].strip():
            raise ValueError(
                f"dangling separator after {unit!r} in {text!r}"
            )
        # Strip ONE plural 's', not rstrip: 'hourss' must stay misspelled
        # and be rejected below, not silently collapse to 'hour' (r13
        # review).
        singular = unit[:-1] if len(unit) > 1 and unit.endswith("s") else unit
        if singular in _REJECTED:
            raise ValueError(f"unsupported interval granularity: {unit!r} in {text!r}")
        if singular not in _ALLOWED:
            raise ValueError(f"unknown interval unit: {unit!r} in {text!r}")
        key = _ALLOWED[singular]
        kwargs[key] = kwargs.get(key, 0) + int(amount)
    if not kwargs:
        raise ValueError(f"no interval terms found in {text!r}")
    try:
        return timedelta(**kwargs)
    except OverflowError as exc:
        # timedelta(days=1e14) raises OverflowError, which callers that
        # catch ValueError (the documented contract — scheduler
        # parse_intervals feeds fail-and-disable) would NOT see: one absurd
        # user-typed cell would then crash every scheduler tick forever
        # instead of disabling that one job (r11 review).
        raise ValueError(f"interval out of range: {text!r} ({exc})") from exc

