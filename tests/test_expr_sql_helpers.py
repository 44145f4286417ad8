"""r14 optimization: SQL-text builders replace per-element py4j Column-DSL
construction (one round trip per literal). These pin the parsed expressions
against their DSL reference forms — values must match exactly, including
adversarial string content and the hex-word integer fold."""

from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.hashing import (
    hex_val,
    hex_val_sql,
    hex_word,
    hex_word_sql,
    str_array_sql,
)


def test_str_array_sql_escaping_and_unicode(spark):
    words = ("it's", 'a "b"', "back\\slash", "的", "plain", "semi;colon")
    row = (
        spark.range(1)
        .select(
            F.expr(str_array_sql(words)).alias("n"),
            F.array(*[F.lit(w) for w in words]).alias("o"),
        )
        .first()
    )
    assert list(row.n) == list(row.o) == list(words)


def test_hex_word_sql_matches_dsl_fold(spark):
    df = spark.range(200).select(
        F.md5(F.col("id").cast("string")).alias("h")
    )
    got = df.select(
        hex_word(F.col("h"), 1).alias("o1"),
        F.expr(hex_word_sql("h", 1)).alias("n1"),
        hex_word(F.col("h"), 9).alias("o9"),
        F.expr(hex_word_sql("h", 9)).alias("n9"),
        hex_val(F.substring("h", 3, 1)).alias("ov"),
        F.expr(hex_val_sql("substring(h, 3, 1)")).alias("nv"),
    ).collect()
    for r in got:
        assert r.o1 == r.n1 and r.o9 == r.n9 and r.ov == r.nv
        assert 0 <= r.n1 < 2**32


def test_text_helpers_sql_match_python_reference_bitexact(spark):
    """r15: lang_id / quality_features / quality_score (one parsed
    expression each) equal a pure-Python reference — split on ' ',
    integer counts, float division in the same order — with doubles
    compared bit-exactly, on adversarial texts (empty, single token,
    unicode stopwords, ties between language scores)."""
    import struct

    from etl_edi_data_scrapper_spark.functions.text import (
        EN_STOPWORDS,
        LANG_STOPWORDS,
        lang_id,
        quality_features,
        quality_score,
    )

    texts = [
        "the quick brown fox and the lazy dog is in it",
        "der la le 的 el the und est y",  # cross-language tie bait
        "one",
        "",
        "a a a a a a a a",
        "el la los las y es en un",
        "的 是 在 了 和 有 我 不",
        "x " * 500,
    ]

    def py_features(text):
        t = text.split(" ")
        n = len(t)
        stop = sum(1 for w in t if w in EN_STOPWORDS)
        return {
            "n_chars": len(text),
            "n_tokens": n,
            "avg_token_len": float(len(text) - (n - 1)) / float(n),
            "stopword_ratio": float(stop) / float(n),
            "uniq_ratio": float(len(set(t))) / float(n),
        }

    def py_score(text):
        f = py_features(text)
        return (
            0.4 * min(float(f["n_tokens"]) / 100.0, 1.0)
            + 0.3 * min(f["stopword_ratio"] * 4, 1.0)
            + 0.3 * f["uniq_ratio"]
        )

    def py_lang(text):
        t = text.split(" ")
        langs = sorted(LANG_STOPWORDS)
        s = {lg: sum(1 for w in t if w in LANG_STOPWORDS[lg]) for lg in langs}
        mx = max(s.values())
        return "und" if mx == 0 else next(lg for lg in langs if s[lg] == mx)

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    fs = quality_features("text")
    rows = df.select(
        "text",
        lang_id("text").alias("lang"),
        quality_score("text").alias("score"),
        *[fs[k].alias(k) for k in fs],
    ).collect()

    def bits(x):
        return struct.pack("<d", x) if isinstance(x, float) else x

    assert sorted(r.text for r in rows) == sorted(texts)
    for r in rows:
        assert r.lang == py_lang(r.text), r.text
        assert bits(r.score) == bits(py_score(r.text)), r.text
        want = py_features(r.text)
        assert set(fs) == set(want)
        for k in fs:
            assert bits(r[k]) == bits(want[k]), (k, r.text)
