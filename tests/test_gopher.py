"""Gopher repetition filters (functions/gopher.py): pure-Python model
parity on handcrafted and randomized small-vocab corpora, tiebreak
determinism, published-threshold verdict, and the zero-shuffle plan
contract (including the no-per-element-recompute regression guard)."""

import random
import time
from collections import Counter

from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.gopher import (
    DUP_NGRAM_MAX_MICRO,
    TOP_NGRAM_MAX_MICRO,
    add_gopher_features,
)


def model_top(text: str, n: int) -> int:
    t = text.split(" ")
    chars = max(len(text), 1)
    if len(t) < n:
        return 0
    grams = [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
    cnt, gram = sorted(((c, g) for g, c in Counter(grams).items()), key=lambda x: (-x[0], x[1]))[0]
    if cnt < 2:
        return 0
    return cnt * len(gram) * 1_000_000 // chars


def model_dup(text: str, n: int) -> int:
    # char-space union: an occurrence at token i covers the chars of
    # tokens i..i+n-1 INCLUDING the spaces between them (the occurrence's
    # contiguous substring of text); abutting occurrences do not cover
    # the space separating them
    t = text.split(" ")
    if len(t) < max(n, 2):
        return 0
    grams = [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]
    dup = {g for g, c in Counter(grams).items() if c >= 2}
    cs = []
    off = 0
    for tok in t:
        cs.append(off)
        off += len(tok) + 1
    covered: set[int] = set()
    for i, g in enumerate(grams):
        if g in dup:
            covered.update(range(cs[i], cs[i + n - 1] + len(t[i + n - 1])))
    return len(covered) * 1_000_000 // max(len(text), 1)


def _spark_feats(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    return {r["doc_id"]: r for r in add_gopher_features(df).collect()}


HANDCRAFTED = [
    "a b a b a b a b",  # one 2-gram dominates; dup5 covers everything
    "x y z w q r s t u v",  # all unique: every signal 0 under the count>=2 rule
    "one two three four five one two three four five tail",  # repeated 5-gram
    "solo",  # shorter than every n
    "p q",  # exactly 2 tokens, unique
    "",  # empty text
    "w w w w w w w w w w w w",  # degenerate single-token repetition
    "a b c a b c a b c d e f d e f",  # two distinct repeated 3-gram families
]


def test_model_parity_handcrafted(spark):
    rows = _spark_feats(spark, HANDCRAFTED)
    for i, text in enumerate(HANDCRAFTED):
        r = rows[i]
        for n in (2, 3, 4):
            assert r[f"top{n}_frac_micro"] == model_top(text, n), (i, n, text)
        for n in (5, 10):
            assert r[f"dup{n}_cov_micro"] == model_dup(text, n), (i, n, text)


def test_model_parity_randomized_small_vocab(spark):
    rng = random.Random(7)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))) for _ in range(60)
    ]
    rows = _spark_feats(spark, texts)
    for i, text in enumerate(texts):
        r = rows[i]
        for n in (2, 3, 4):
            assert r[f"top{n}_frac_micro"] == model_top(text, n), (i, n, text)
        for n in (5, 10):
            assert r[f"dup{n}_cov_micro"] == model_dup(text, n), (i, n, text)


def test_top_gram_tiebreak_is_lexicographic(spark):
    # ties on count must resolve to the lexicographically smallest gram on
    # both engines — the contract matters when tied grams differ in length
    for text in ("a b a b a", "xx y xx y xx"):
        rows = _spark_feats(spark, [text])
        assert rows[0]["top2_frac_micro"] == model_top(text, 2), text


def test_gopher_keep_thresholds(spark):
    # heavily repeated doc fails; a diverse doc passes every rule
    diverse = " ".join(f"w{i}" for i in range(40))
    rows = _spark_feats(spark, ["spam spam spam spam spam spam", diverse])
    assert not rows[0]["gopher_keep"]
    assert rows[1]["gopher_keep"]
    # thresholds are the published Gopher table values
    assert TOP_NGRAM_MAX_MICRO == {2: 200_000, 3: 180_000, 4: 160_000}
    assert DUP_NGRAM_MAX_MICRO[5] == 150_000 and DUP_NGRAM_MAX_MICRO[10] == 100_000


def test_features_compile_to_zero_shuffle_projection(spark):
    df = spark.createDataFrame([(1, "a b c a b c")], ["doc_id", "text"])
    out = add_gopher_features(df)
    assert list(out.columns) == [
        "doc_id",
        "text",
        "top2_frac_micro",
        "top3_frac_micro",
        "top4_frac_micro",
        "dup5_cov_micro",
        "dup10_cov_micro",
        "gopher_keep",
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_dup_coverage_counts_overlap_once(spark):
    # 'a a a a a a' : every 5-gram is 'a a a a a' (x2) — overlapping
    # occurrences cover the whole text, chars counted once
    rows = _spark_feats(spark, ["a a a a a a"])
    assert rows[0]["dup5_cov_micro"] == 1_000_000


def test_dup_coverage_abutting_occurrences_skip_the_separating_space(spark):
    # 'a b c d e a b c d e': the repeated 5-gram occurs at tokens 0 and 5 —
    # the two occurrences abut, and the space between token 4 and token 5
    # belongs to NEITHER occurrence's substring: 18 of 19 chars covered
    text = "a b c d e a b c d e"
    rows = _spark_feats(spark, [text])
    assert rows[0]["dup5_cov_micro"] == 18 * 1_000_000 // 19
    assert rows[0]["dup5_cov_micro"] == model_dup(text, 5)


def test_long_documents_stay_linear(spark):
    # regression guard for the HOF trap this module is built around: an
    # expression referenced inside a lambda body is re-evaluated per array
    # element (HOFs are CodegenFallback — no subexpression elimination), so
    # a membership probe against an inline sorted array turns quadratic.
    # 200 docs x 2000 tokens must evaluate in seconds, not minutes.
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(50)]
    texts = [" ".join(rng.choice(vocab) for _ in range(2000)) for _ in range(200)]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    start = time.time()
    n = add_gopher_features(df).count()
    assert n == 200
    assert time.time() - start < 60, "gopher features went super-linear per row"


# --- line/paragraph duplicate rules (r8) ------------------------------------


def model_line_para(text: str):
    """Pure-Python DataTrove-style model of add_gopher_line_features."""
    import re

    def find_dups(segs):
        seen, de, dc = set(), 0, 0
        for s in segs:
            if s in seen:
                de += 1
                dc += len(s)
            else:
                seen.add(s)
        return de, dc

    out = {}
    for kind, pat in (("line", r"\n"), ("para", r"\n{2,}")):
        segs = [s for s in re.split(pat, text) if s != ""]
        de, dc = find_dups(segs)
        out[f"dup_{kind}_frac_micro"] = de * 1_000_000 // max(len(segs), 1)
        out[f"dup_{kind}_char_micro"] = dc * 1_000_000 // max(len(text), 1)
    out["gopher_line_keep"] = (
        out["dup_line_frac_micro"] <= 300_000
        and out["dup_para_frac_micro"] <= 300_000
        and out["dup_line_char_micro"] <= 200_000
        and out["dup_para_char_micro"] <= 200_000
    )
    return out


def _spark_line_feats(spark, texts):
    from etl_edi_data_scrapper_spark.functions.gopher import (
        GOPHER_LINE_FEATURE_COLS,
        add_gopher_line_features,
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    return {
        r["doc_id"]: {c: r[c] for c in GOPHER_LINE_FEATURE_COLS}
        for r in add_gopher_line_features(df).collect()
    }


def test_line_para_model_parity_handcrafted(spark):
    texts = [
        "one line only",
        "dup\ndup\nunique",                        # 2/3 lines are 'dup' -> 1 dup
        "para a\n\npara a\n\npara b",              # duplicate paragraph
        "a\nb\n\n\na\nb",                          # 3+ newlines = one para break
        "",                                        # empty doc: all zeros
        "\n\n\n",                                  # only separators: no segments
        "x\ny\nx\ny\nx",                           # heavy line dup -> keep False
        "tail\n",                                  # trailing newline: empty seg dropped
    ]
    got = _spark_line_feats(spark, texts)
    for i, t in enumerate(texts):
        assert got[i] == model_line_para(t), f"doc {i}: {t!r}"
    assert got[6]["gopher_line_keep"] is False
    assert got[0]["gopher_line_keep"] is True


def test_line_para_model_parity_randomized(spark):
    rng = random.Random(13)
    vocab = ["aa", "bb", "cc"]
    texts = []
    for _ in range(150):
        n = rng.randint(0, 12)
        segs = [rng.choice(vocab) for _ in range(n)]
        seps = [rng.choice(["\n", "\n\n", "\n\n\n", " "]) for _ in range(max(n - 1, 0))]
        t = "".join(
            s + (seps[i] if i < len(seps) else "") for i, s in enumerate(segs)
        )
        texts.append(t)
    got = _spark_line_feats(spark, texts)
    for i, t in enumerate(texts):
        assert got[i] == model_line_para(t), f"doc {i}: {t!r}"


def test_line_para_zero_shuffle(spark):
    from etl_edi_data_scrapper_spark.functions.gopher import add_gopher_line_features

    df = spark.createDataFrame([(1, "a\nb\n\nc")], ["doc_id", "text"])
    plan = add_gopher_line_features(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
