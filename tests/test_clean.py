"""PHP-parity tests for the cleaning expressions (SURVEY.md §2.3, §7.4.2-3).

Expected values derive from the reference implementations:
`src/Service/Mapper/Mapper.php:19-50` (asinValidate, cleanString, cleanUpc,
cleanInteger, cleanFloat) — PHP intval/floatval quirks included.
"""

import pytest

from etl_edi_data_scrapper_spark.functions import clean


def _run(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    return [r.y for r in df.selectExpr(f"{fn('x')} AS y").collect()]


CLEAN_STRING_CASES = [
    ("abc-123.x", "abc123.x"),
    ("Привет, мир!", "Приветмир"),  # Cyrillic survives (both cases), punct dies
    ("  UPC: 0042#323 ", "UPC0042323"),
    ("", ""),
    (None, None),
]


def test_clean_string(spark):
    got = _run(spark, clean.clean_string, [c[0] for c in CLEAN_STRING_CASES])
    assert got == [c[1] for c in CLEAN_STRING_CASES]


UPC_CASES = [
    ("0042323456789", "0042323456789"),
    ("00423234567891234", "0042323456789"),  # truncate to 13
    ("  42-32.3 ", "4232.3"),
    ("", ""),
]


def test_clean_upc(spark):
    got = _run(spark, clean.clean_upc, [c[0] for c in UPC_CASES])
    assert got == [c[1] for c in UPC_CASES]


INT_CASES = [
    ("1,200", 1200),
    (" 15 ", 15),
    ("", 0),          # PHP intval('') == 0
    ("abc", 0),
    ("12.7", 127),    # strips the dot, concatenates digits (reference behavior)
    (None, 0),
]


def test_clean_integer(spark):
    got = _run(spark, clean.clean_integer, [c[0] for c in INT_CASES])
    assert got == [c[1] for c in INT_CASES]


FLOAT_CASES = [
    ("12,99", 12.99),
    ("$ 10.50", 10.50),
    ("1.2.3", 1.2),    # PHP floatval takes the leading float
    ("", 0.0),
    ("..5", 0.0),      # floatval('..5') == 0.0
    (".5", 0.5),
    ("abc", 0.0),
    (None, 0.0),
]


def test_clean_float(spark):
    got = _run(spark, clean.clean_float, [c[0] for c in FLOAT_CASES])
    assert got == pytest.approx([c[1] for c in FLOAT_CASES])


ASIN_CASES = [
    ("b01abcde12", "B01ABCDE12"),   # upper+trim then valid
    (" B01ABCDE12 ", "B01ABCDE12"),
    ("B01ABCDE1", None),            # 9 chars
    ("B01ABCDE123", None),          # 11 chars
    ("B01-BCDE12", None),           # bad char
    ("", None),
    (None, None),
]


def test_asin_validate(spark):
    got = _run(spark, clean.asin_validate, [c[0] for c in ASIN_CASES])
    assert got == [c[1] for c in ASIN_CASES]


def test_name_dispatch_passthrough(spark):
    df = spark.createDataFrame([("keep me!",)], "x string")
    got = df.selectExpr(f"{clean.clean_for_target('other', 'x')} AS y").collect()
    assert got[0].y == "keep me!"
