"""functions/lang_classifier.py — trained language ID (r13 verdict #4).

Covers: bit-exact parity of the Spark featurization, the numpy
multiclass-perceptron fit and the grouped scorer against an independent
pure-Python reference (same algorithm, no Spark), the
confusable-language case the stopword-dictionary argmax provably
mislabels (pt vs es — 'pt' has no dictionary and shares 'la'/'un'/'en'
hits, so `text.lang_id` calls every Portuguese doc Spanish; the trained
char-trigram model separates them on held-out docs), and the degenerate
text edges (empty/short/NULL texts still get feature rows and verdicts).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.lang_classifier import (
    _score_corpus_grouped,
    char_trigram_bucket_counts,
    classify_lang_corpus,
    fit_lang_classifier,
    np_multiclass_fit,
)

N_BUCKETS = 64


def _py_bucket(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % N_BUCKETS


def _py_features(text: str | None) -> list[int]:
    t = text or ""
    grams = (
        [t[i : i + 3] for i in range(max(len(t) - 2, 1))] if len(t) >= 3
        else [t]
    )
    f = [0] * N_BUCKETS
    for g in grams:
        f[_py_bucket(g)] += 1
    return f


def _py_fit(rows, langs, n_epochs=2):
    """Independent reference: multiclass perceptron, argmax ties break
    (score desc, language asc)."""
    w = {lg: [0] * N_BUCKETS for lg in langs}
    b = {lg: 0 for lg in langs}

    def pred(f):
        best = max(
            sorted(langs),
            key=lambda lg: (sum(c * wv for c, wv in zip(f, w[lg])) + b[lg],),
        )
        # max() keeps the FIRST of equal keys when iterating sorted langs
        scores = {
            lg: sum(c * wv for c, wv in zip(f, w[lg])) + b[lg] for lg in langs
        }
        mx = max(scores.values())
        return min(lg for lg in langs if scores[lg] == mx), mx

    for _ in range(n_epochs):
        # BATCH update: all docs scored with the epoch's frozen weights
        updates = []
        for y, f in rows:
            p, _ = pred(f)
            if p != y:
                updates.append((y, p, f))
        for y, p, f in updates:
            for i, c in enumerate(f):
                w[y][i] += c
                w[p][i] -= c
            b[y] += 1
            b[p] -= 1
    return w, b, pred


def _np_fit(feats, labels, langs, n_epochs=2):
    """`np_multiclass_fit` over dense features (bias column appended)."""
    x = np.asarray([f + [1] for f in feats], dtype=np.int64)
    y = np.asarray([langs.index(lg) for lg in labels], dtype=np.int64)
    return np_multiclass_fit(x, y, langs, n_epochs=n_epochs)


# pt-flavored docs carry the es dictionary's stopwords ('la', 'un', 'en')
# but pt-characteristic trigrams (ção/ões/ã); es docs carry ción/ón.
_ES = [
    "la administración organiza la región con atención y un plan en la nación {}",
    "un corazón en la canción la población con atención y un camión en acción {}",
    "la situación y un avión en la región la decisión con un montón de atención {}",
]
_PT = [
    "la administração organiza la região com atenção e un plano en la nação {}",
    "un coração en la canção la população com atenção e un caminhão en ação {}",
    "la situação e un avião en la região la decisão com un montão de atenção {}",
]


def _confusable_docs():
    docs = []
    i = 0
    for k in range(12):
        docs.append((i, _ES[k % 3].format(k), "es")); i += 1
        docs.append((i, _PT[k % 3].format(k), "pt")); i += 1
    return docs


def test_fit_matches_pure_python_reference(spark):
    docs = _confusable_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    langs = ["es", "pt"]
    w, b = _np_fit([_py_features(t) for _, t, _ in docs], [lg for *_, lg in docs], langs)
    rows = [(lang, _py_features(text)) for _, text, lang in docs]
    w_ref, b_ref, pred_ref = _py_fit(rows, langs, n_epochs=2)
    assert w == w_ref and b == b_ref
    # and the grouped scorer agrees with the reference argmax per doc
    got = {
        r.doc_id: (r.lang_clf_pred, r.lang_clf_score)
        for r in _score_corpus_grouped(df, w, b).collect()
    }
    for doc_id, text, _lang in docs:
        p, s = pred_ref(_py_features(text))
        assert got[doc_id] == (p, s)


def test_confusable_pair_dictionary_fails_classifier_succeeds(spark):
    """The verdict's acceptance case: a language pair the dictionary
    argmax provably mislabels. Every pt doc hits the es stopword list
    ('la'/'un'/'en') and no other, so `text.lang_id` says 'es' for ALL
    of them; the trained model, fit only on EVEN doc_ids, labels the
    held-out odd ids correctly for both languages."""
    from etl_edi_data_scrapper_spark.functions.text import lang_id

    docs = _confusable_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")

    dict_pred = {
        r.doc_id: r.p
        for r in df.select("doc_id", lang_id("text").alias("p")).collect()
    }
    truth = {doc_id: lang for doc_id, _, lang in docs}
    pt_ids = [d for d in truth if truth[d] == "pt"]
    assert pt_ids and all(dict_pred[d] == "es" for d in pt_ids)

    # ids interleave es (even) / pt (odd), so split by RANGE: the first
    # 16 ids (8 of each class) train, the last 8 are held out
    _, (w, b) = fit_lang_classifier(
        df.filter(F.col("doc_id") < 16), ["es", "pt"], n_epochs=3, return_model=True
    )
    got = {
        r.doc_id: r.lang_clf_pred
        for r in classify_lang_corpus(df, w, b, N_BUCKETS).collect()
    }
    held_out = [d for d in truth if d >= 16]
    assert held_out and all(got[d] == truth[d] for d in held_out)
    assert {truth[d] for d in held_out} == {"es", "pt"}  # both classes unseen


def test_degenerate_texts_get_rows_and_verdicts(spark):
    df = spark.createDataFrame(
        [(0, "abc", "aa"), (1, "", "bb"), (2, None, "aa"), (3, "xy", "bb")],
        "doc_id long, text string, lang string",
    )
    fmap: dict[int, dict[int, int]] = {}
    for r in char_trigram_bucket_counts(df).collect():
        fmap.setdefault(r.doc_id, {})[r.bucket] = r.tf
    assert sorted(fmap) == [0, 1, 2, 3]
    assert sum(fmap[0].values()) == 1  # 'abc' -> one trigram
    assert sum(fmap[1].values()) == 1  # '' -> the '' gram
    assert fmap[1] == fmap[2]  # NULL coalesces to ''
    assert sum(fmap[3].values()) == 1  # short text -> itself
    out = fit_lang_classifier(df, langs=["aa", "bb"])
    assert out.count() == 4 and {c for c in out.columns} == {
        "doc_id", "lang_clf_pred", "lang_clf_score",
    }


def test_driver_numpy_fit_equals_pure_python_fit():
    """`fit_lang_classifier` fits driver-resident (np_multiclass_fit on
    the bounded sample): integer matmul, first-maximum argmax. Over
    epochs, with all-zero first-epoch ties and a three-class model, it
    must produce the reference perceptron's model bit for bit."""
    docs = _confusable_docs() + [(100, "xyz xyz xyz", "zz"), (101, "", "zz")]
    langs = ["es", "pt", "zz"]
    for n_epochs in (1, 2, 4):
        w_n, b_n = _np_fit(
            [_py_features(t) for _, t, _ in docs], [lg for *_, lg in docs],
            langs, n_epochs,
        )
        rows = [(lang, _py_features(text)) for _, text, lang in docs]
        w_ref, b_ref, _ = _py_fit(rows, langs, n_epochs=n_epochs)
        assert w_n == w_ref and b_n == b_ref


def test_lang_model_persistence_roundtrip_bit_exact(spark, tmp_path):
    """r14: save_lang_model/load_lang_model round-trip the multiclass
    integer model and its featurization geometry exactly;
    classify_lang_corpus under the loaded model reproduces the training
    run's predictions bit-for-bit."""
    from etl_edi_data_scrapper_spark.functions.lang_classifier import (
        classify_lang_corpus,
        fit_lang_classifier,
        load_lang_model,
        save_lang_model,
    )

    rows = [
        (1, "the cat sat on the mat with the dog", "en"),
        (2, "the dog and the cat are friends there", "en"),
        (3, "el gato y el perro son amigos aqui", "es"),
        (4, "la casa es grande y el sol brilla", "es"),
        (5, "the house is big and the sun shines", "en"),
        (6, "el sol y la luna brillan en el cielo", "es"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    scored, (w, b) = fit_lang_classifier(
        docs, langs=["en", "es"], n_epochs=3, return_model=True
    )
    want = {r.doc_id: (r.lang_clf_pred, r.lang_clf_score)
            for r in scored.collect()}

    path = str(tmp_path / "lang_model.json")
    save_lang_model(spark, path, w, b, n_buckets=64)
    w2, b2, nb, n = load_lang_model(spark, path)
    assert (w2, b2, nb, n) == (w, b, 64, 3)
    got = {
        r.doc_id: (r.lang_clf_pred, r.lang_clf_score)
        for r in classify_lang_corpus(
            docs.select("doc_id", "text"), w2, b2, nb, n=n
        ).collect()
    }
    assert got == want


def test_cli_fit_langid_and_score(spark, tmp_path, capsys):
    """r14 operational surface: `fit-langid` trains + persists on a
    labeled corpus (classes auto-derived from the label column when not
    given), `langid` scores any corpus under the model with zero
    training jobs — predictions equal the library fit bit-for-bit."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.functions.lang_classifier import (
        fit_lang_classifier,
    )

    rows = [
        (1, "the cat sat on the mat with the dog", "en"),
        (2, "the dog and the cat are friends there", "en"),
        (3, "el gato y el perro son amigos aqui", "es"),
        (4, "la casa es grande y el sol brilla", "es"),
        (5, "the house is big and the sun shines", "en"),
        (6, "el sol y la luna brillan en el cielo", "es"),
    ]
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(docs_path)

    model = str(tmp_path / "langid.json")
    eng = Engine(spark=spark)
    assert main(
        ["fit-langid", "--docs", docs_path, "--output", model,
         "--epochs", "3"],
        engine=eng,
    ) == 0
    printed = capsys.readouterr().out
    assert "Classes: 2 (en,es)" in printed  # auto-derived, sorted

    out = str(tmp_path / "scored")
    assert main(
        ["langid", "--docs", docs_path, "--model", model, "--output", out],
        engine=eng,
    ) == 0
    assert "SUCCESS: Language ID scored | Docs: 6" in capsys.readouterr().out

    docs = spark.read.parquet(docs_path)
    want = {
        r.doc_id: (r.lang_clf_pred, r.lang_clf_score)
        for r in fit_lang_classifier(docs, langs=["en", "es"],
                                     n_epochs=3).collect()
    }
    got = {
        r.doc_id: (r.lang_clf_pred, r.lang_clf_score)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want


def test_sparse_fit_and_grouped_scoring_match_dense_path(spark):
    """r14 optimization parity: `fit_lang_classifier` featurizes the fit
    sample as sparse (id, bucket, tf) triplets and scores with
    `_score_corpus_grouped`'s single hash aggregate. Both must be
    result-identical to the dense pure-Python path (`_py_features` +
    the reference argmax) — same model, same predictions, same scores."""
    docs = _confusable_docs() + [(100, "", "es"), (101, None, "pt")]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    scored, (w, b) = fit_lang_classifier(
        df, langs=["es", "pt"], n_epochs=2, return_model=True
    )
    # the sparse triplets are exactly the dense features' nonzero entries
    dense = {d: _py_features(t) for d, t, _ in docs}
    sparse: dict[int, list[int]] = {d: [0] * N_BUCKETS for d in dense}
    for r in char_trigram_bucket_counts(df).collect():
        sparse[r[0]][r[1]] = r[2]
    assert sparse == dense
    # the model equals the reference fit over the same (uncapped) sample
    rows = [(lg, dense[d]) for d, _, lg in docs]
    w_ref, b_ref, pred_ref = _py_fit(rows, ["es", "pt"], n_epochs=2)
    assert w == w_ref and b == b_ref
    # and the grouped scorer equals the reference argmax under that model
    got = {
        r.doc_id: (r.lang_clf_pred, r.lang_clf_score)
        for r in scored.collect()
    }
    assert got == {d: pred_ref(f) for d, f in dense.items()}
