"""Date parser table tests — 1:1 with reference DateFieldParserTests.cs:7-44,
run through the fold's column-expression parser ``parse_ocr_date`` — and a
hypothesis property test of that parser against a plain-Python
``DateFieldParser`` (``strptime`` names the months and checks the
calendar)."""

import re
import string
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.aggregation import (
    _COMPACT_PAT,
    _LONG_PAT,
    parse_ocr_date,
)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

COMPACT = [
    ("1985JAN12", "1985-01-12"),
    ("2026MAY03", "2026-05-03"),
    ("  2000DEC31  ", "2000-12-31"),
    ("1999feb05", "1999-02-05"),
    # Java's $ matches before a final line terminator; .NET's \s takes it
    # (it counts U+0085/U+2028/U+2029 as whitespace), so both parse these
    ("1985JAN12\x85", "1985-01-12"),
    ("1985JAN12\u2028", "1985-01-12"),
    ("1985JAN12\u2029", "1985-01-12"),
]
LONG = [
    ("3rd day of January, 2026", "2026-01-03"),
    ("1st DAY OF MARCH, 1990", "1990-03-01"),
    ("22ND DAY OF DECEMBER 2010", "2010-12-22"),
    (" 7  TH  DAY  OF  JULY ,  1976 ", "1976-07-07"),
]
INVALID = [
    None,
    "",
    "   ",
    "not a date",
    "2026FEB30",                    # calendar invalid
    "31st DAY OF FEBRUARY, 2026",   # calendar invalid
    "2026XYZ12",                     # unknown month
    "2026-05-03",                    # ISO not supported
]
LEAP = ["2024FEB29", "2023FEB29", "1900FEB29", "2000FEB29"]


@pytest.fixture(scope="module")
def parse_date(spark):
    """Every raw of the table parsed in one Spark job; returns a lookup."""
    raws = [r for r, _ in COMPACT + LONG] + INVALID + LEAP
    df = spark.createDataFrame([(r,) for r in raws], "raw string")
    got = {
        r.raw: r.iso
        for r in df.select("raw", parse_ocr_date(F.col("raw")).alias("iso"))
        .collect()
    }
    return lambda raw: got[raw]


@pytest.mark.parametrize(("raw", "expected"), COMPACT)
def test_compact_form(parse_date, raw, expected):
    assert parse_date(raw) == expected


@pytest.mark.parametrize(("raw", "expected"), LONG)
def test_long_form(parse_date, raw, expected):
    assert parse_date(raw) == expected


@pytest.mark.parametrize("raw", INVALID)
def test_invalid_inputs(parse_date, raw):
    assert parse_date(raw) is None


def test_leap_year(parse_date):
    assert parse_date("2024FEB29") == "2024-02-29"
    assert parse_date("2023FEB29") is None
    assert parse_date("1900FEB29") is None  # century non-leap
    assert parse_date("2000FEB29") == "2000-02-29"


def test_month_patterns_match_ascii_case_variants_only(spark):
    """The fold upper-cases the month group with ASCII ``translate``, exact
    only while ``(?i)`` matches ASCII case variants alone. Unicode case
    folding (``UNICODE_CASE``, implied by ``(?U)``) would also match ``ſ``,
    ``ı``, ``İ`` or U+212A for an ASCII letter; no month word may match
    with one of them, or a fullwidth letter, in any position."""
    months = [datetime(2000, m, 1).strftime("%B").upper()
              for m in range(1, 13)]
    forms = [(lambda w: f"1985{w}12", m[:3]) for m in months]
    forms += [(lambda w: f"12th DAY OF {w}, 1985", m) for m in months]
    plain, alike = [], []
    for form, word in forms:
        plain += [form(word), form(word.lower())]
        for i, c in enumerate(word):
            for look in ("\u017f", "\u0131", "\u0130", "\u212a",
                         chr(ord(c) + 0xFEE0)):  # fullwidth c
                alike.append(form(word[:i] + look + word[i + 1:]))
    df = spark.createDataFrame([(r,) for r in plain + alike], "raw string")
    hits = {
        r.raw
        for r in df.filter(
            F.col("raw").rlike(_COMPACT_PAT) | F.col("raw").rlike(_LONG_PAT)
        ).collect()
    }
    assert hits == set(plain)


# --- property test: parse_ocr_date vs a plain-Python DateFieldParser -------

#: what Java's ``\s`` matches (the parser's patterns run on the JVM)
_WS = " \t\n\x0b\f\r"
_PY_FORMS = (
    # (pattern over the stripped raw, strptime format, group order y m d)
    (re.compile(r"(\d{4})([a-z]{3})(\d{1,2})", re.I | re.A), "%Y %b %d",
     (1, 2, 3)),
    (re.compile(r"(\d{1,2})\s*(?:st|nd|rd|th)?\s*day\s*of\s*([a-z]+)"
                r"\s*,?\s*(\d{4})", re.I | re.A), "%Y %B %d", (3, 2, 1)),
)


def _py_parse_date(raw):
    """Compact ``YYYYMMMDD`` or long ``Nth DAY OF MONTH[,] YYYY``, any case,
    surrounding whitespace ignored; ISO ``yyyy-MM-dd`` or None. Month names,
    day ranges, leap years and the year range 1-9999 are ``strptime``'s."""
    if raw is None:
        return None
    for pat, fmt, order in _PY_FORMS:
        m = pat.fullmatch(raw.strip(_WS))
        if m:
            try:
                parsed = datetime.strptime(
                    " ".join(m.group(i) for i in order), fmt
                )
            except ValueError:
                return None
            return parsed.date().isoformat()
    return None


if _HYP:
    _MONTH_NAMES = [datetime(2000, m, 1).strftime("%B") for m in range(1, 13)]

    def _any_case(word):
        return st.lists(
            st.booleans(), min_size=len(word), max_size=len(word)
        ).map(lambda up: "".join(
            c.upper() if u else c.lower() for c, u in zip(word, up)))

    _ws = st.text(alphabet=_WS, max_size=2)
    _year = st.integers(0, 9999).map("{:04d}".format)
    _day = st.integers(0, 40).flatmap(
        lambda d: st.sampled_from([str(d), f"{d:02d}"]))
    _month = st.sampled_from(_MONTH_NAMES)
    _compact = st.tuples(
        _ws, _year,
        _month.flatmap(lambda m: _any_case(m[:3]))
        | st.text(string.ascii_letters, min_size=3, max_size=3),
        _day, _ws,
    ).map("".join)
    _long = st.tuples(
        _ws, _day, _ws,
        st.sampled_from(["", "st", "nd", "rd", "th"]).flatmap(_any_case),
        _ws, _any_case("day"), _ws, _any_case("of"), _ws,
        _month.flatmap(_any_case), _ws, st.sampled_from(["", ","]), _ws,
        _year, _ws,
    ).map("".join)
    _junk = st.text(string.printable, max_size=30)
    _raw = st.one_of(
        _compact, _long, _junk, st.none(),
        st.tuples(_compact | _long, _junk).map("".join),
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(_raw, min_size=1, max_size=100))
    def test_parse_ocr_date_matches_python_parser(spark, raws):
        """Both forms, every month name in any case, ordinal suffixes,
        whitespace, junk, years 0-9999 and days 0-40: every raw of a drawn
        batch parses (in one Spark job) as the plain-Python parser does."""
        df = spark.createDataFrame([(r,) for r in raws], "raw string")
        got = df.select(parse_ocr_date(F.col("raw")).alias("iso")).collect()
        assert [r.iso for r in got] == [_py_parse_date(r) for r in raws]
