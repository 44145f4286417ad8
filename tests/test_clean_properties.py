"""Property tests: the Spark cleaning exprs vs an independent pure-Python
model of the PHP reference semantics (`Mapper.php:19-50`), over
hypothesis-generated corpora (Latin, Cyrillic, punctuation, digits).

One batched Spark collect per property keeps runtime sane.
"""

import re

from hypothesis import given, settings, strategies as st

from etl_edi_data_scrapper_spark.functions import clean

ALPHABET = st.sampled_from(
    list("abcXYZ 0123456789.,$-#яЯПривет!\t%1.2.3") + ["", "..", "10,5"]
)
TEXT = st.lists(ALPHABET, min_size=0, max_size=12).map("".join)

_KEEP = re.compile(r"[^a-zA-Zа-яА-Я0-9.]")
_LEAD_FLOAT = re.compile(r"^([0-9]*\.?[0-9]*)")


def php_clean_string(s: str) -> str:
    return _KEEP.sub("", s)


def php_clean_upc(s: str) -> str:
    return php_clean_string(s)[:13]


def php_clean_integer(s: str) -> int:
    digits = re.sub(r"[^0-9]", "", s)
    if not digits:
        return 0
    v = int(digits)
    return v if -(2**63) <= v < 2**63 else 0  # long overflow → 0 (engine contract)


def php_clean_float(s: str) -> float:
    t = re.sub(r"[^0-9.]", "", php_clean_string(s.replace(",", ".")))
    lead = _LEAD_FLOAT.match(t).group(1)
    try:
        return float(lead)
    except ValueError:
        return 0.0


def php_asin(s: str) -> str | None:
    t = s.strip().upper()
    return t if re.fullmatch(r"[A-Z0-9]{10}", t) else None


def _batch(spark, values, fn):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    return [r.y for r in df.selectExpr(f"{fn('x')} AS y").collect()]


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=80, max_size=80))
def test_cleaning_matches_php_model(spark, corpus):
    # asin needs 10-char-ish candidates too
    corpus = corpus + ["b01abcde12", " B01ABCDE12 ", "B01-BCDE12", "ПРИВЕТ1234"]
    got_s = _batch(spark, corpus, clean.clean_string)
    got_u = _batch(spark, corpus, clean.clean_upc)
    got_i = _batch(spark, corpus, clean.clean_integer)
    got_f = _batch(spark, corpus, clean.clean_float)
    got_a = _batch(spark, corpus, clean.asin_validate)
    for v, s, u, i, f, a in zip(corpus, got_s, got_u, got_i, got_f, got_a):
        assert s == php_clean_string(v), f"clean_string({v!r})"
        assert u == php_clean_upc(v), f"clean_upc({v!r})"
        assert i == php_clean_integer(v), f"clean_integer({v!r})"
        assert f == php_clean_float(v), f"clean_float({v!r})"
        assert a == php_asin(v), f"asin({v!r})"


# clean_float's edge cases, pinned: multi-dot and dot-only strings, comma
# decimals and thousands, no digits at all, Cyrillic around a number, the
# empty string and NULL (PHP floatval of null is 0.0, like '').
FLOAT_CASES = ["1.2.3", "..5", "1..2", ".", "5.", ",5", "1,200", "12,99", "n/a",
               "Цена 3.5", "", None]


def test_clean_float_edge_cases_match_php_model(spark):
    got = _batch(spark, FLOAT_CASES, clean.clean_float)
    want = [php_clean_float(v or "") for v in FLOAT_CASES]
    assert got == want
    assert want == [1.2, 0.0, 1.0, 0.0, 5.0, 0.5, 1.2, 12.99, 0.0, 3.5, 0.0, 0.0]
