"""Date parser table tests — 1:1 with reference DateFieldParserTests.cs:7-44,
run through the fold's column-expression parser ``parse_ocr_date``."""

import pytest
from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.aggregation import parse_ocr_date

COMPACT = [
    ("1985JAN12", "1985-01-12"),
    ("2026MAY03", "2026-05-03"),
    ("  2000DEC31  ", "2000-12-31"),
    ("1999feb05", "1999-02-05"),
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
