"""Stage-checkpointed curate (plans/curate.py stage_dir=): a run that
dies mid-pipeline resumes past completed stages with byte-identical
verdicts and without re-executing the completed stages' jobs."""

import os

import pytest
from pyspark.sql import functions as F


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def _collect(df):
    rows = df.orderBy("doc_id").collect()
    return [tuple(r) for r in rows]


def test_crash_between_stages_resumes_byte_identical(spark, sf_dir, tmp_path, monkeypatch):
    """Kill the run between stages (the exact stage's fingerprint raises
    after quality persisted), rerun, and the verdicts equal a fresh
    unstaged run row for row — with the quality stage's parquet untouched
    (mtime proof it was read, not recomputed)."""
    _crash_then_resume(spark, sf_dir, tmp_path, monkeypatch, scheme="")


def test_crash_between_stages_resumes_from_file_uri_stage_dir(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The same crash and resume with a ``file://`` stage dir: its
    ``_config.json`` and ``_SUCCESS`` checks go through the Hadoop
    FileSystem, so it resumes, and nothing lands in a driver-local
    directory named after the URI."""
    _crash_then_resume(spark, sf_dir, tmp_path, monkeypatch, scheme="file://")


def _crash_then_resume(spark, sf_dir, tmp_path, monkeypatch, scheme):
    from etl_edi_data_scrapper_spark.functions import text as text_mod
    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    local_dir = str(tmp_path / "stages")
    stage_dir = scheme + local_dir
    monkeypatch.chdir(tmp_path)  # a path misread as relative lands here
    docs = _docs(spark, sf_dir)
    stages = ("quality", "exact")

    real_fp = text_mod.fingerprint

    def boom(*a, **k):
        raise RuntimeError("simulated crash between stages")

    monkeypatch.setattr(text_mod, "fingerprint", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        curate_corpus(spark, docs, stages=stages, stage_dir=stage_dir).collect()
    # stage 1 completed and persisted before the crash
    q_success = os.path.join(local_dir, "quality.parquet", "_SUCCESS")
    assert os.path.exists(q_success)
    assert not os.path.exists(os.path.join(local_dir, "exact.parquet", "_SUCCESS"))
    assert os.path.exists(os.path.join(local_dir, "_config.json"))
    assert sorted(os.listdir(tmp_path)) == ["stages"]
    mtime_before = os.path.getmtime(q_success)

    monkeypatch.setattr(text_mod, "fingerprint", real_fp)
    resumed = curate_corpus(spark, docs, stages=stages, stage_dir=stage_dir)
    fresh = curate_corpus(spark, docs, stages=stages)
    assert _collect(resumed) == _collect(fresh)
    # the completed stage was READ, not re-executed
    assert os.path.getmtime(q_success) == mtime_before


def test_completed_run_rerun_recomputes_nothing(spark, sf_dir, tmp_path):
    """A second invocation over a fully-staged dir rewrites no stage
    parquet at all (every stage resumes) and returns identical rows."""
    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    stage_dir = str(tmp_path / "stages")
    docs = _docs(spark, sf_dir)
    stages = ("quality", "gopher", "exact")
    first = _collect(curate_corpus(spark, docs, stages=stages, stage_dir=stage_dir))
    marks = {
        s: os.path.getmtime(os.path.join(stage_dir, f"{s}.parquet", "_SUCCESS"))
        for s in stages
    }
    second = _collect(curate_corpus(spark, docs, stages=stages, stage_dir=stage_dir))
    assert first == second
    for s in stages:
        assert (
            os.path.getmtime(os.path.join(stage_dir, f"{s}.parquet", "_SUCCESS"))
            == marks[s]
        ), f"stage {s} was re-executed"


def test_stage_dir_config_mismatch_raises(spark, sf_dir, tmp_path):
    """Resuming into a stage dir built under different parameters mixes
    verdict regimes — it must refuse loudly."""
    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    stage_dir = str(tmp_path / "stages")
    docs = _docs(spark, sf_dir)
    curate_corpus(spark, docs, stages=("quality",), stage_dir=stage_dir).collect()
    with pytest.raises(ValueError, match="different parameters"):
        curate_corpus(
            spark, docs, stages=("quality",), quality_min=0.9, stage_dir=stage_dir
        )


def test_two_tier_decon_resumes_from_staged_bloom(spark, sf_dir, tmp_path):
    """The bloom screen's staged parquet feeds the decon gate on resume:
    crash after bloom, rerun, decon verdicts match the unstaged run."""
    from etl_edi_data_scrapper_spark.functions import span_dedup as sd_mod
    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    docs = _docs(spark, sf_dir).limit(60)
    bench = docs.filter(F.col("doc_id") < 3).select("text")
    stage_dir = str(tmp_path / "stages")
    kw = dict(stages=("bloom", "decon"), benchmark=bench)

    real = sd_mod.scrub_benchmark_spans
    try:
        def boom(*a, **k):
            raise RuntimeError("simulated crash after bloom")

        sd_mod.scrub_benchmark_spans = boom
        with pytest.raises(RuntimeError):
            curate_corpus(spark, docs, stage_dir=stage_dir, **kw).collect()
        assert os.path.exists(
            os.path.join(stage_dir, "bloom.parquet", "_SUCCESS")
        )
    finally:
        sd_mod.scrub_benchmark_spans = real
    resumed = curate_corpus(spark, docs, stage_dir=stage_dir, **kw)
    fresh = curate_corpus(spark, docs, **kw)
    assert _collect(resumed) == _collect(fresh)


def test_stage_dir_refuses_changed_text_col_and_psl_rules(spark, sf_dir, tmp_path):
    """text_col and the CONTENT of an inline PSL dict are verdict-defining:
    resuming under either change must refuse, not silently mix regimes
    (r11 review — the old fingerprint omitted text_col and collapsed any
    dict PSL to '<dict>')."""
    import pytest

    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(20)
        .withColumn("text2", F.col("text"))
    )
    d = str(tmp_path / "stage")
    curate_corpus(spark, docs, stages=("quality",), stage_dir=d).collect()
    with pytest.raises(ValueError, match="different"):
        curate_corpus(
            spark, docs, stages=("quality",), text_col="text2", stage_dir=d
        )

    d2 = str(tmp_path / "stage_psl")
    url_docs = docs.withColumn(
        "url", F.concat(F.lit("https://a.example.com/"), F.col("doc_id"))
    )
    curate_corpus(
        spark, url_docs, stages=("urls",), url_col="url",
        psl={"exact": ("com",), "wild": (), "exc": ()}, stage_dir=d2,
    ).collect()
    with pytest.raises(ValueError, match="different"):
        curate_corpus(
            spark, url_docs, stages=("urls",), url_col="url",
            psl={"exact": ("com", "co.uk"), "wild": (), "exc": ()}, stage_dir=d2,
        )


def test_psl_fingerprint_normalizes_unsortable_values():
    """r12 (ADVICE r11): a PSL dict containing sets — including mixed-type
    sets, unsortable — must fingerprint stably (same content → same hash,
    order-independent) instead of raising TypeError from inside
    json.dumps(default=sorted); a truly unserializable value raises a
    ValueError naming the psl argument, not a bare TypeError."""
    from etl_edi_data_scrapper_spark.plans.curate import _psl_fingerprint

    a = _psl_fingerprint({"rules": {"com", "org", 3}})
    b = _psl_fingerprint({"rules": {3, "org", "com"}})
    assert a == b and a.startswith("dict:")
    assert _psl_fingerprint("path/to/psl.dat") == "path/to/psl.dat"
    assert _psl_fingerprint(None) is None
    # distinct content → distinct hash
    assert _psl_fingerprint({"rules": {"com"}}) != a


def test_minhash_bands_auto_equals_planned_explicit(spark, sf_dir):
    """r14: curate's minhash stage plans (b, r) from the verify
    threshold when minhash_bands="auto" — verdicts equal the explicitly
    planned banding, and differ from a deliberately mis-sized one only
    through candidate coverage (subset property not asserted; equality
    to the plan is)."""
    from etl_edi_data_scrapper_spark.functions.dedup import plan_lsh_bands
    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    docs = _docs(spark, sf_dir)
    planned = plan_lsh_bands(12, 0.7)["bands"]
    auto = _collect(curate_corpus(
        spark, docs, stages=("minhash",), minhash_bands="auto",
        minhash_threshold=0.7,
    ))
    explicit = _collect(curate_corpus(
        spark, docs, stages=("minhash",), minhash_bands=planned,
        minhash_threshold=0.7,
    ))
    assert auto == explicit and len(auto) == 500


def test_xent_reference_lm_stage(spark, sf_dir, tmp_path):
    """r14: curate's xent stage under a reference LM (fit on the same
    corpus) produces identical verdicts to self-fit; the LM path joins
    the stage-dir fingerprint."""
    from etl_edi_data_scrapper_spark.functions.text import (
        fit_unigram_lm,
        save_unigram_lm,
        load_unigram_lm,
    )
    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "lm")
    save_unigram_lm(fit_unigram_lm(docs), path)
    with_lm = _collect(curate_corpus(
        spark, docs, stages=("xent",),
        xent_lm=load_unigram_lm(spark, path), xent_lm_fingerprint=path,
    ))
    self_fit = _collect(curate_corpus(spark, docs, stages=("xent",)))
    assert with_lm == self_fit and len(with_lm) == 500


def test_clf_model_export_and_reuse(spark, sf_dir, tmp_path, capsys):
    """r14 deploy loop: curate trains + exports the classifier
    (--clf-model-out), a later curate run scores under the persisted
    model (--clf-model) with identical clf verdicts and zero training
    jobs; mixing the two modes errors."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    eng = Engine(spark=spark)
    docs = f"{sf_dir}/documents.parquet"
    model = str(tmp_path / "clf.json")
    out1, out2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    assert main(
        ["curate", "--docs", docs, "--output", out1,
         "--stages", "quality",
         "--clf-reference-col", "source", "--clf-reference-value", "src0",
         "--clf-model-out", model],
        engine=eng,
    ) == 0
    capsys.readouterr()
    assert main(
        ["curate", "--docs", docs, "--output", out2,
         "--stages", "quality", "--clf-model", model],
        engine=eng,
    ) == 0
    capsys.readouterr()
    a = {r.doc_id: (r.clf_score, r.clf_keep)
         for r in spark.read.parquet(out1).collect()}
    b = {r.doc_id: (r.clf_score, r.clf_keep)
         for r in spark.read.parquet(out2).collect()}
    assert a == b and len(a) == 500

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(
            ["curate", "--docs", docs, "--output", str(tmp_path / "v3"),
             "--stages", "quality", "--clf-model", model,
             "--clf-reference-col", "source",
             "--clf-reference-value", "src0"],
            engine=eng,
        )
