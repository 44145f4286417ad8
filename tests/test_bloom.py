"""Bloom-filter-as-a-relation (functions/bloom.py): the no-false-negative
guarantee, the bounded-table contract, the textbook FPR, plan shape, and
a pure-Python model parity check on the position arithmetic."""

import hashlib
import random

from pyspark.sql import functions as F


def _model_positions(key: str, m: int, k: int):
    h = hashlib.md5(key.encode()).hexdigest()
    w1, w2 = int(h[:8], 16), int(h[8:16], 16)
    return [((w1 + j * w2) % 2**32) % m for j in range(1, k + 1)]


def _flag(df, bloom, m, k):
    """The probe `bloom_span_contamination` runs: materialize the bounded
    table once, hash each key once with `bloom_words`, then the k-join
    chain of `_flag_from_words` over the two words."""
    from etl_edi_data_scrapper_spark.functions.bloom import (
        _flag_from_words,
        bloom_words,
    )

    w1, w2 = bloom_words(F.col("key"))
    words = df.withColumn("__w1", w1).withColumn("__w2", w2)
    bloom = bloom.localCheckpoint(eager=False)
    return _flag_from_words(words, bloom, "__w1", "__w2", m, k)


def test_positions_match_python_model(spark):
    from etl_edi_data_scrapper_spark.functions.bloom import bloom_positions

    keys = ["alpha", "beta gamma", "", "x" * 50, "Ünïcode"]
    df = spark.createDataFrame([(s,) for s in keys], ["key"])
    rows = df.select("key", *bloom_positions(F.col("key"), 997, 5)).collect()
    for r in rows:
        assert [r[f"pos_{j}"] for j in range(1, 6)] == _model_positions(
            r["key"], 997, 5
        )


def test_no_false_negatives_and_bounded_table(spark):
    from etl_edi_data_scrapper_spark.functions.bloom import bloom_table

    m, k = 512, 3  # deliberately tiny: the table bound must bind
    rng = random.Random(3)
    inserted = [(f"key-{i}-{rng.random()}",) for i in range(2000)]
    keys = spark.createDataFrame(inserted, ["key"])
    bloom = bloom_table(keys, "key", m, k)
    assert bloom.count() <= m  # the whole point: bounded however many keys
    flagged = _flag(keys, bloom, m, k)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0  # FN impossible


def test_false_positive_rate_near_textbook(spark):
    from etl_edi_data_scrapper_spark.functions.bloom import bloom_table
    import math

    m, k, n = 1 << 14, 5, 1000
    ins = spark.createDataFrame([(f"in-{i}",) for i in range(n)], ["key"])
    probe = spark.createDataFrame([(f"out-{i}",) for i in range(4000)], ["key"])
    bloom = bloom_table(ins, "key", m, k)
    fp = (
        _flag(probe, bloom, m, k)
        .filter(F.col("maybe_seen"))
        .count()
    )
    expect = (1 - math.exp(-k * n / m)) ** k  # ~0.0043 at these params
    assert fp / 4000 < 5 * expect + 0.01  # generous bound, no flakiness


def test_flag_plan_is_broadcast_joins_no_shuffle_of_probe(spark):
    from etl_edi_data_scrapper_spark.functions.bloom import bloom_table

    keys = spark.createDataFrame([(f"k{i}",) for i in range(50)], ["key"])
    bloom = bloom_table(keys, "key", 256, 3)
    plan = (
        _flag(keys, bloom, 256, 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the probe side must not hash-exchange; only broadcast exchanges allowed
    import re

    assert not re.search(r"Exchange hashpartitioning", plan)


def test_span_contamination_catches_leak_misses_clean(spark):
    from etl_edi_data_scrapper_spark.functions.bloom import (
        bloom_span_contamination,
    )

    leak = "leakmark alpha beta gamma delta epsilon zeta eta theta iota"
    bench = spark.createDataFrame([(0, f"prefix words {leak} suffix words")],
                                  "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (10, f"lead-in tokens {leak} trailing stuff"),   # shifted leak
            (11, "completely clean document with its own words here only"),
            (12, ""),                                        # empty doc
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_spans, r.n_spans_maybe_seen, r.bloom_contaminated)
        for r in bloom_span_contamination(docs, bench, width=8).collect()
    }
    assert got[10][2] is True and got[10][1] >= 1
    assert got[11] == (2, 0, False)  # 9 tokens -> 2 windows, none seen
    assert got[12] == (0, 0, False)  # empty doc: no windows, never flagged
