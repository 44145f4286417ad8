"""store-info (store_info.describe_store + the CLI subcommand): one
audit surface over the sidecar-bearing store layouts — r12 verdict #7.
Each store family is built through its OWN write path (never by
hand-crafting files), then described; unknown layouts must refuse."""

from __future__ import annotations

import json


def _cli(spark, argv, capsys):
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    rc = main(argv, engine=Engine(spark=spark))
    return rc, capsys.readouterr().out


def test_store_info_ivfpq_index(spark, tmp_path, capsys):
    from etl_edi_data_scrapper_spark.functions.similarity import (
        ivfpq_residual_index,
        save_ivfpq_index,
    )

    vecs = [[float(i == j) * 5 for j in range(8)] for i in range(8)]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    centroids, enc, cbs = ivfpq_residual_index(
        corpus, n_centroids=2, m_sub=2, n_codes=2, dim=8
    )
    idx = str(tmp_path / "idx")
    save_ivfpq_index(centroids, enc, cbs, idx,
                     meta={"residual": True, "id_col": "vec_id"})
    rc, out = _cli(spark, ["store-info", "--store", idx], capsys)
    assert rc == 0
    info = json.loads(out)
    assert info["type"] == "ivfpq-index"
    assert info["meta"]["residual"] is True
    assert info["rows"] == 8 and info["cells"] == 2
    assert info["codebook_geometry"] == {"m_sub": 2, "n_codes": 2}
    assert "crashed_compaction_dirs" not in info

    # a crashed compaction must be loudly visible
    import shutil

    shutil.copytree(f"{idx}/codes", f"{idx}/codes__precompact")
    rc, out = _cli(spark, ["store-info", "--store", idx], capsys)
    assert rc == 0
    assert json.loads(out)["crashed_compaction_dirs"] == ["codes__precompact"]


def test_store_info_neardup_store(spark, tmp_path, capsys):
    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "nd")
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "an entirely different document about spark shuffles")],
        "doc_id long, text string",
    )
    dedup_batch_against_store(spark, batch, store).collect()
    rc, out = _cli(spark, ["store-info", "--store", store], capsys)
    assert rc == 0
    info = json.loads(out)
    assert info["type"] == "neardup-store"
    assert info["docs"] == 2 and info["bands"] >= 1

    # a compaction that died mid-swap is named, not reported as unknown
    import shutil

    shutil.move(store, store + "__precompact")
    rc, out = _cli(spark, ["store-info", "--store", store], capsys)
    assert rc == 1 and "nd__precompact" in out and "rename it back" in out


def test_store_info_unknown_and_absent_refusal(spark, tmp_path, capsys):
    # unknown parquet layout refuses rather than guesses
    other = str(tmp_path / "other")
    spark.range(3).write.parquet(other)
    rc, out = _cli(spark, ["store-info", "--store", other], capsys)
    assert rc == 1 and "no known store" in out

    # and so does an empty/absent path
    rc, out = _cli(
        spark, ["store-info", "--store", str(tmp_path / "absent")], capsys
    )
    assert rc == 1


def test_store_info_fit_artifacts(spark, tmp_path, capsys):
    """r14: the fit artifacts are store-info-auditable — classifier and
    language models (kind-carrying JSON files), unigram and bigram
    reference LMs — each built through its OWN write path, never
    hand-crafted."""
    from etl_edi_data_scrapper_spark.functions.lang_classifier import (
        save_lang_model,
    )
    from etl_edi_data_scrapper_spark.functions.quality_classifier import (
        save_model,
    )
    from etl_edi_data_scrapper_spark.functions.text import (
        fit_bigram_lm,
        fit_unigram_lm,
        save_bigram_lm,
        save_unigram_lm,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta %d" % (i % 3)) for i in range(12)],
        "doc_id long, text string",
    )

    clf = str(tmp_path / "clf.json")
    save_model(spark, clf, [1, -2, 3], 4, 3)
    rc, out = _cli(spark, ["store-info", "--store", clf], capsys)
    info = json.loads(out)
    assert rc == 0 and info["type"] == "classifier-model"
    assert info["n_buckets"] == 3

    lang = str(tmp_path / "lang.json")
    save_lang_model(spark, lang, {"en": [1, 2], "es": [3, 4]},
                    {"en": 0, "es": 1}, n_buckets=2)
    rc, out = _cli(spark, ["store-info", "--store", lang], capsys)
    info = json.loads(out)
    assert rc == 0 and info["type"] == "lang-classifier-model"
    assert info["classes"] == ["en", "es"]

    ulm = str(tmp_path / "ulm")
    save_unigram_lm(fit_unigram_lm(docs), ulm)
    rc, out = _cli(spark, ["store-info", "--store", ulm], capsys)
    info = json.loads(out)
    assert rc == 0 and info["type"] == "unigram-lm"
    assert info["terms"] == 7 and info["total_tokens"] == 60

    blm = str(tmp_path / "blm")
    save_bigram_lm(fit_bigram_lm(docs), blm)
    rc, out = _cli(spark, ["store-info", "--store", blm], capsys)
    info = json.loads(out)
    assert rc == 0 and info["type"] == "bigram-lm"
    assert info["terms"] == 7 and info["bigrams"] > 0
    assert info["total_tokens"] == 60
