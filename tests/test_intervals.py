"""from_human interval parser — verified against the reference's behavior
(refresh_interval.py:14-27): "90 minutes"→1:30:00, "1 hour, 30 minutes"→1:30:00,
"30 seconds"/"2 weeks" raise."""

from datetime import timedelta

import pytest
from hypothesis import given
from hypothesis import strategies as st

from flusher_spark.functions import from_human


@pytest.mark.parametrize(
    "text,expected",
    [
        ("90 minutes", timedelta(minutes=90)),
        ("2 minutes", timedelta(minutes=2)),
        ("1 minute", timedelta(minutes=1)),
        ("1 hour, 30 minutes", timedelta(hours=1, minutes=30)),
        ("1 day 6 hours", timedelta(days=1, hours=6)),
        ("3 DAYS", timedelta(days=3)),
        ("1 day; 1 hour; 1 minute", timedelta(days=1, hours=1, minutes=1)),
    ],
)
def test_accepts(text, expected):
    assert from_human(text) == expected


@pytest.mark.parametrize(
    "bad", ["30 seconds", "2 weeks", "1 month", "500 microseconds", "often", "", "  ", "5 parsecs"]
)
def test_rejects(bad):
    with pytest.raises(ValueError):
        from_human(bad)


@pytest.mark.parametrize("bad", ["1,000 minutes", "1.5 hours", "1 hour extra", "x 5 minutes"])
def test_rejects_partial_parses(bad):
    """Digit separators/decimals/trailing junk must ERROR, never silently
    drop digits: '1,000 minutes' used to parse as 0 minutes (a runaway
    every-tick schedule) and '1.5 hours' as 5 hours."""
    with pytest.raises(ValueError):
        from_human(bad)


def test_accepts_and_separator():
    assert from_human("1 hour and 30 minutes") == timedelta(hours=1, minutes=30)


@given(st.integers(1, 10_000), st.sampled_from(["minute", "hour", "day"]), st.booleans())
def test_property_single_term(n, unit, plural):
    text = f"{n} {unit}{'s' if plural else ''}"
    assert from_human(text) == timedelta(**{unit + "s": n})


def test_accepts_stacked_separators():
    """'1 hour, and 30 minutes' is idiomatic English; the strict positional
    parser must treat any RUN of separators between terms as one gap
    (stripping separators can never hide dropped digits — the partial-parse
    cases above still all raise)."""
    expect = timedelta(hours=1, minutes=30)
    assert from_human("1 hour, and 30 minutes") == expect
    assert from_human("1 hour; and, 30 minutes") == expect

    from flusher_spark.operators.rangejoin import _width_seconds

    assert _width_seconds("1 hour, and 30 minutes") == 5400
    with pytest.raises(ValueError):
        _width_seconds("1,000 minutes")  # orphaned digit group still errors


@pytest.mark.parametrize("bad", ["2 hourss", "1 minutess", "1 hour and", "1 hour,,,", "1 hour; "])
def test_rejects_misspelled_plurals_and_dangling_separators(bad):
    """r13 review: rstrip('s') collapsed 'hourss' to 'hour' (misspellings
    silently accepted), and a dangling trailing separator ('1 hour and' —
    a truncated cell) parsed as 1 hour instead of failing loudly per the
    whole-string contract."""
    with pytest.raises(ValueError):
        from_human(bad)
