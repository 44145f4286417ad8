"""Incremental near-dup (streaming MinHash/LSH against an accumulated
store): batch-2 near-copies of batch-1 docs must be flagged with the
original's id; fresh docs must be admitted and extend the store."""

DOC_A = "the quick brown fox jumps over the lazy dog again and again today"
DOC_A_NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
DOC_B = "completely different content about training data pipelines at scale"
DOC_C = "yet another unrelated document mentioning spark catalyst and tungsten"


def test_batch_function_intra_and_store(spark, tmp_path):
    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    b1 = spark.createDataFrame(
        [(1, DOC_A), (2, DOC_A_NEAR), (3, DOC_B)], "doc_id long, text string"
    )
    v1 = {r.doc_id: r.dup_of for r in dedup_batch_against_store(spark, b1, store).collect()}
    assert v1[1] is None and v1[3] is None
    assert v1[2] == 1  # intra-batch near-dup, earliest id wins

    # second increment: a near-copy of doc 1 (in store) and a fresh doc
    b2 = spark.createDataFrame(
        [(10, DOC_A_NEAR), (11, DOC_C)], "doc_id long, text string"
    )
    v2 = {r.doc_id: r.dup_of for r in dedup_batch_against_store(spark, b2, store).collect()}
    assert v2[10] == 1  # flagged against the ACCUMULATED store
    assert v2[11] is None

    # third increment: near-copy of doc 11 — the store grew in increment 2
    b3 = spark.createDataFrame([(20, DOC_C)], "doc_id long, text string")
    v3 = {r.doc_id: r.dup_of for r in dedup_batch_against_store(spark, b3, store).collect()}
    assert v3[20] == 11


def test_replayed_batch_never_self_dups(spark, tmp_path):
    # at-least-once delivery: re-processing a batch whose keys already
    # landed in the store must not flag docs as duplicates of themselves
    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    b = spark.createDataFrame([(1, DOC_A), (2, DOC_B)], "doc_id long, text string")
    first = {r.doc_id: r.dup_of for r in dedup_batch_against_store(spark, b, store).collect()}
    assert first == {1: None, 2: None}
    replay = {r.doc_id: r.dup_of for r in dedup_batch_against_store(spark, b, store).collect()}
    assert replay == {1: None, 2: None}


def test_chain_collapses_to_admitted_canonical(spark, tmp_path):
    # C≈B≈A but C is not near A directly: connected components must point
    # BOTH B and C at the admitted canonical A — never at a rejected doc
    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    near1 = base.replace("mu", "nu")        # ≈ base
    near2 = near1.replace("alpha", "omega")  # ≈ near1, farther from base
    b = spark.createDataFrame(
        [(1, base), (2, near1), (3, near2)], "doc_id long, text string"
    )
    v = {
        r.doc_id: r.dup_of
        for r in dedup_batch_against_store(
            spark, b, str(tmp_path / "store"), threshold=0.4
        ).collect()
    }
    assert v[1] is None
    assert v[2] == 1 and v[3] == 1  # cluster canonical, not a phantom


def test_empty_first_batch_does_not_wedge_store(spark, tmp_path):
    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_batch_against_store(spark, empty, store).count() == 0
    # the store dir now exists but holds no rows — the next increment must
    # read it as empty, not crash on schema inference
    b = spark.createDataFrame([(1, DOC_A)], "doc_id long, text string")
    v = {r.doc_id: r.dup_of for r in dedup_batch_against_store(spark, b, store).collect()}
    assert v == {1: None}


def test_member_inherits_representative_store_verdict(spark, tmp_path):
    # store holds X; batch has A≈X and B≈A: BOTH must point at the
    # ADMITTED doc (X) — dup_of never dangles at the rejected A
    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    near1 = base.replace("mu", "nu")
    near2 = near1.replace("alpha", "omega")
    first = spark.createDataFrame([(7, base)], "doc_id long, text string")
    assert dedup_batch_against_store(spark, first, store, threshold=0.4).collect()[0].dup_of is None
    b = spark.createDataFrame([(5, near1), (6, near2)], "doc_id long, text string")
    v = {r.doc_id: r.dup_of for r in dedup_batch_against_store(spark, b, store, threshold=0.4).collect()}
    assert v[5] == 7
    assert v[6] == 7  # inherited the representative's store verdict


def test_store_schema_drift_fails_loudly(spark, tmp_path):
    # a store written under different n_hashes/bands has a different column
    # set — the next increment must refuse it, not null-fill signatures and
    # silently miss matches
    import pytest

    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    b = spark.createDataFrame([(1, DOC_A)], "doc_id long, text string")
    dedup_batch_against_store(spark, b, store, n_hashes=12, bands=6)
    b2 = spark.createDataFrame([(2, DOC_B)], "doc_id long, text string")
    with pytest.raises(ValueError, match="drift"):
        dedup_batch_against_store(spark, b2, store, n_hashes=8, bands=4)


def test_compacted_store_yields_identical_verdicts(spark, tmp_path):
    # at-least-once replay appends duplicate store rows; compaction must
    # (a) shrink the store to its distinct rows and files, (b) change NO
    # verdict: the same probe batch returns byte-identical results against
    # the compacted and uncompacted store
    import glob
    import shutil

    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        compact_neardup_store,
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    b1 = spark.createDataFrame([(1, DOC_A), (2, DOC_B)], "doc_id long, text string")
    dedup_batch_against_store(spark, b1, store)
    dedup_batch_against_store(spark, b1, store)  # replay: duplicate rows
    b2 = spark.createDataFrame([(3, DOC_C)], "doc_id long, text string")
    dedup_batch_against_store(spark, b2, store)  # second append: more files

    frozen = str(tmp_path / "store_uncompacted")
    shutil.copytree(store, frozen)

    files_before = len(glob.glob(store + "/band=*/*.parquet"))
    before, after = compact_neardup_store(spark, store)
    files_after = len(glob.glob(store + "/band=*/*.parquet"))
    assert before > after            # replay duplicates dropped
    assert files_after < files_before  # small files coalesced
    bands = {p.split("band=")[1].split("/")[0] for p in glob.glob(store + "/band=*")}
    assert files_after == len(bands)   # exactly one file per band

    probe = spark.createDataFrame(
        [(10, DOC_A_NEAR), (11, DOC_C), (12, "totally novel words here")],
        "doc_id long, text string",
    )
    def run(st):
        return sorted(
            (r.doc_id, r.dup_of)
            for r in dedup_batch_against_store(spark, probe, st).collect()
        )

    assert run(store) == run(frozen) == [(10, 1), (11, 3), (12, None)]


def test_store_missing_after_crashed_compaction_raises(spark, tmp_path):
    # a compaction that died mid-swap leaves the store at <store>__precompact
    # (or only the rewrite at <store>__compacting): reading that as "no
    # store yet" would admit every document again — it must refuse and
    # name the survivor instead
    import shutil

    import pytest

    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    b1 = spark.createDataFrame([(1, DOC_A), (2, DOC_B)], "doc_id long, text string")
    dedup_batch_against_store(spark, b1, store)
    probe = spark.createDataFrame([(10, DOC_A_NEAR)], "doc_id long, text string")
    for suffix in ("__precompact", "__compacting"):
        shutil.move(store, store + suffix)
        with pytest.raises(IOError, match=f"store{suffix}"):
            dedup_batch_against_store(spark, probe, store)
        assert not (tmp_path / "store").exists()  # nothing started afresh
        shutil.move(store + suffix, store)
    got = {r.doc_id: r.dup_of for r in dedup_batch_against_store(spark, probe, store).collect()}
    assert got == {10: 1}  # renamed back: the history is intact
