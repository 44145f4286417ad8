"""Round-6 training-data ops: cross-document span dedup
(`functions/span_dedup.py`) and the leakage-safe cluster-aware split
(`functions/splits.py`).

Span dedup is checked against an independent pure-Python model over a
hand-built corpus hitting the edge cases (whole-doc boilerplate, trailing
short span, the same span repeated WITHIN one document, a doc whose every
span is dropped); the split is checked for its one defining property —
no near-dup cluster ever straddles train/test — plus determinism under
repartitioning and stability when a document joins an existing cluster.
"""

import pytest
from pyspark.sql import functions as F


# --- pure-Python model of dedup_spans -------------------------------------


def _model_spans(text: str, width: int) -> list[str]:
    t = text.split(" ")
    n = max(len(t) - 1, 0) // width
    return [" ".join(t[i * width : i * width + width]) for i in range(n + 1)]


def _model_dedup(docs: list[tuple[int, str]], width: int) -> dict[int, tuple]:
    first: dict[str, tuple] = {}
    counts: dict[str, int] = {}
    for doc_id, text in sorted(docs):
        for pos, span in enumerate(_model_spans(text, width)):
            counts[span] = counts.get(span, 0) + 1
            first.setdefault(span, (doc_id, pos))
    out = {}
    for doc_id, text in docs:
        spans = _model_spans(text, width)
        kept = [
            s
            for pos, s in enumerate(spans)
            if counts[s] == 1 or first[s] == (doc_id, pos)
        ]
        dropped = len(spans) - len(kept)
        out[doc_id] = (len(spans), dropped, " ".join(kept))
    return out


CORPUS = [
    # 0: clean doc, no dups anywhere — must round-trip byte-identical
    (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    # 1/2: identical boilerplate prefix of exactly 2*4 words (width=4)
    (1, "one two three four five six seven eight body of document one here"),
    (2, "one two three four five six seven eight totally different tail words"),
    # 3: every span duplicated elsewhere -> clean_text becomes ''
    (3, "one two three four five six seven eight"),
    # 4: the same span repeated WITHIN one doc (second occurrence drops)
    (4, "red blue green white red blue green white trailing bit"),
    # 5: trailing short span (< width) that collides with doc 4's tail? no —
    #    unique tail, must be kept
    (5, "solo unique words only here plus tail"),
]


def test_dedup_spans_matches_python_model(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import dedup_spans

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_spans_dropped, r.clean_text)
        for r in dedup_spans(df, width=4).collect()
    }
    want = _model_dedup(CORPUS, width=4)
    assert got == want
    # spot-check the semantics the model encodes:
    assert got[0][2] == CORPUS[0][1]          # untouched doc round-trips
    assert got[1][1] == 0                      # first occurrence keeps all
    assert got[2][1] == 2                      # boilerplate prefix cut
    assert got[2][2] == "totally different tail words"
    assert got[3] == (2, 2, "")               # fully-duplicated doc emptied
    assert got[4][1] == 1                      # within-doc repeat drops once
    assert got[4][2] == "red blue green white trailing bit"
    assert got[5][1] == 0


def test_dedup_spans_oracle_sql_agrees(spark):
    """The DuckDB oracle fragment must equal the Spark operator on the
    same corpus — the parity the absorbed pii_scrub leg relies on."""
    duckdb = pytest.importorskip("duckdb")

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans,
        span_dedup_oracle_sql,
    )

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_spans_dropped, r.clean_text)
        for r in dedup_spans(df, width=4).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", CORPUS)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(span_dedup_oracle_sql(width=4)).fetchall()
    }
    assert got == want


def test_dedup_spans_is_repartition_stable(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import dedup_spans

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    a = {tuple(r) for r in dedup_spans(df, width=4).collect()}
    b = {tuple(r) for r in dedup_spans(df.repartition(7), width=4).collect()}
    assert a == b


# --- cluster-aware split ---------------------------------------------------


def _clusters_df(spark, pairs):
    from etl_edi_data_scrapper_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(pairs, "a long, b long")
    return connected_components(edges)


def test_cluster_aware_split_never_straddles_a_cluster(spark):
    from etl_edi_data_scrapper_spark.functions.splits import cluster_aware_split

    docs = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    # 40 docs in 20 two-doc clusters + one 10-doc chain cluster
    pairs = [(i, i + 100) for i in range(20)] + [(50 + i, 51 + i) for i in range(9)]
    out = cluster_aware_split(docs, _clusters_df(spark, pairs))
    assert out.count() == 200
    straddle = (
        out.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter("n_splits > 1")
        .count()
    )
    assert straddle == 0
    # both splits are actually populated at the 90/10 rate, roughly
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["train"] > counts.get("test", 0) > 0


def test_cluster_aware_split_is_deterministic_and_stable(spark):
    """Same seed → identical assignment under repartitioning; a document
    JOINING an existing cluster adopts the cluster's split and never
    re-rolls anyone else's."""
    from etl_edi_data_scrapper_spark.functions.splits import cluster_aware_split

    docs = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    pairs = [(3, 7), (7, 11)]
    base = {
        r.doc_id: r.split
        for r in cluster_aware_split(docs, _clusters_df(spark, pairs)).collect()
    }
    again = {
        r.doc_id: r.split
        for r in cluster_aware_split(
            docs.repartition(13), _clusters_df(spark, pairs)
        ).collect()
    }
    assert base == again
    assert base[3] == base[7] == base[11]

    # doc 42 discovered to be a near-dup of 3: it ADOPTS cluster 3's split
    grown = {
        r.doc_id: r.split
        for r in cluster_aware_split(
            docs, _clusters_df(spark, pairs + [(3, 42)])
        ).collect()
    }
    assert grown[42] == base[3]
    assert {k: v for k, v in grown.items() if k != 42} == {
        k: v for k, v in base.items() if k != 42
    }


def test_cluster_aware_split_seed_gives_new_assignment(spark):
    from etl_edi_data_scrapper_spark.functions.splits import cluster_aware_split

    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    empty = _clusters_df(spark, [(0, 1)])
    a = {r.doc_id: r.split for r in cluster_aware_split(docs, empty, seed=0).collect()}
    b = {r.doc_id: r.split for r in cluster_aware_split(docs, empty, seed=1).collect()}
    assert a != b  # a new seed re-rolls the split (new fold)
    assert set(a) == set(b)


# --- multi-offset (r7): shifted boilerplate --------------------------------


def _model_spans_off(text: str, width: int, offset: int) -> list[str]:
    t = text.split(" ")
    n = max(len(t) - offset - 1, 0) // width
    return [
        " ".join(t[offset + i * width : offset + i * width + width])
        for i in range(n + 1)
    ]


def _model_dedup_off(docs, width: int, offset: int):
    """dedup_spans with a grid offset: leading `offset` tokens preserved,
    empty spans inert."""
    first, counts = {}, {}
    for doc_id, text in sorted(docs):
        for pos, span in enumerate(_model_spans_off(text, width, offset)):
            if span == "":
                continue
            counts[span] = counts.get(span, 0) + 1
            first.setdefault(span, (doc_id, pos))
    out = {}
    for doc_id, text in docs:
        spans = _model_spans_off(text, width, offset)
        kept = [
            s for pos, s in enumerate(spans)
            if s != "" and (counts[s] == 1 or first[s] == (doc_id, pos))
        ]
        dropped = sum(
            1 for pos, s in enumerate(spans)
            if s != "" and not (counts[s] == 1 or first[s] == (doc_id, pos))
        )
        prefix = " ".join(text.split(" ")[:offset])
        body = " ".join(kept)
        if dropped == 0:
            clean = text
        elif prefix and body:
            clean = prefix + " " + body
        else:
            clean = prefix or body
        out[doc_id] = (len(spans), dropped, clean)
    return out


def _model_dedup_multi(docs, width: int, offsets):
    cur = dict(docs)
    n_spans_first, total_drop = {}, {k: 0 for k, _ in docs}
    for j, off in enumerate(offsets):
        res = _model_dedup_off(sorted(cur.items()), width, off)
        for k, (ns, d, clean) in res.items():
            if j == 0:
                n_spans_first[k] = ns
            total_drop[k] += d
            cur[k] = clean
    return {k: (n_spans_first[k], total_drop[k], cur[k]) for k in cur}


# docs 10 and 11 both carry the same 4-word boilerplate at token offset 2
# (a 2-token lead-in — dates, ids — before shared nav chrome): the aligned
# pass chops it across two grid spans whose other halves differ, so it is
# invisible at offset 0 and caught exactly by the offset-2 pass. (A pair
# whose occurrences sit at DIFFERENT residues mod width remains out of
# reach of any grid union — that residual is suffix-array ExactSubstr
# territory and stays documented in span_dedup.py.)
SHIFTED = [
    (10, "d1 d2 nav home login search alpha beta gamma delta unique"),
    (11, "xx yy nav home login search umber vermilion wisteria xanthic yolk"),
    (12, "completely unrelated words that share nothing with the others at all"),
]


def test_offset_pass_matches_python_model(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import dedup_spans

    df = spark.createDataFrame(SHIFTED + CORPUS, "doc_id long, text string")
    for off in (1, 2, 3):
        got = {
            r.doc_id: (r.n_spans, r.n_spans_dropped, r.clean_text)
            for r in dedup_spans(df, width=4, offset=off).collect()
        }
        assert got == _model_dedup_off(SHIFTED + CORPUS, 4, off), f"offset={off}"


def test_multi_offset_catches_shifted_duplicate(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans,
        dedup_spans_multi,
    )

    df = spark.createDataFrame(SHIFTED, "doc_id long, text string")
    single = {r.doc_id: r.n_spans_dropped for r in dedup_spans(df, width=4).collect()}
    assert single[11] == 0  # aligned pass is blind to the shifted copy
    multi = {
        r.doc_id: (r.n_spans_dropped, r.clean_text)
        for r in dedup_spans_multi(df, width=4, offsets=(0, 2)).collect()
    }
    assert multi[11][0] == 1
    assert "nav home login search" not in multi[11][1]
    assert multi[11][1].startswith("xx yy ")      # prefix preserved
    assert "nav home login search" in multi[10][1]  # first occurrence kept
    assert multi[12] == (0, SHIFTED[2][1])          # doc 12 untouched
    # model parity for the full contract
    got = {
        r.doc_id: (r.n_spans, r.n_spans_dropped, r.clean_text)
        for r in dedup_spans_multi(df, width=4, offsets=(0, 2)).collect()
    }
    assert got == _model_dedup_multi(SHIFTED, 4, (0, 2))


def test_multi_offset_duckdb_oracle_parity(spark):
    import duckdb
    import pandas as pd

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans_multi,
        span_dedup_multi_oracle_sql,
    )

    docs = SHIFTED + CORPUS
    got = sorted(
        (r.doc_id, r.n_spans, r.n_spans_dropped, r.clean_text)
        for r in dedup_spans_multi(
            spark.createDataFrame(docs, "doc_id long, text string"),
            width=4,
            offsets=(0, 2),
        ).collect()
    )
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(docs, columns=["doc_id", "text"]))
    want = sorted(
        map(
            tuple,
            con.sql(
                span_dedup_multi_oracle_sql(table="docs", width=4, offsets=(0, 2))
            ).fetchall(),
        )
    )
    assert got == want


# --- stride-1 sliding (r7): position-invariant -----------------------------


def _model_sliding(docs, width: int):
    """Pure-Python dedup_spans_sliding."""
    wins = {}
    for doc_id, text in docs:
        t = text.split(" ")
        n = max(len(t) - width, 0) + 1
        wins[doc_id] = [" ".join(t[p : p + width]) for p in range(n)]
    first, counts = {}, {}
    for doc_id in sorted(wins):
        for pos, w in enumerate(wins[doc_id]):
            if w == "":  # empty-span discipline (md5('') collides corpus-wide)
                continue
            counts[w] = counts.get(w, 0) + 1
            first.setdefault(w, (doc_id, pos))
    out = {}
    for doc_id, text in docs:
        t = text.split(" ")
        dropped_pos = [
            pos
            for pos, w in enumerate(wins[doc_id])
            if w != "" and counts[w] > 1 and first[w] != (doc_id, pos)
        ]
        covered = set()
        for p in dropped_pos:
            covered.update(range(p, p + width))
        kept = [tok for i, tok in enumerate(t) if i not in covered]
        clean = text if not dropped_pos else " ".join(kept)
        out[doc_id] = (len(t), len(t) - len(kept) if dropped_pos else 0, clean)
    return out


# the cross-residue case the grid family CANNOT catch: the same 4-word
# passage at residue 0 in doc 20 and residue 2 in doc 21 (width=4)
CROSS_RESIDUE = [
    (20, "nav home login search alpha beta gamma delta unique tail ten"),
    (21, "xx yy nav home login search umber vermilion wisteria xanthic yolk"),
    (22, "completely unrelated words that share nothing with the others at all"),
]


def test_sliding_matches_python_model(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import dedup_spans_sliding

    corpus = CROSS_RESIDUE + CORPUS + SHIFTED
    # SHIFTED and CROSS_RESIDUE reuse ids? SHIFTED uses 10-12, CROSS 20-22,
    # CORPUS 0-5 — disjoint.
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_tokens_dropped, r.clean_text)
        for r in dedup_spans_sliding(df, width=4).collect()
    }
    assert got == _model_sliding(corpus, 4)


def test_sliding_catches_cross_residue_duplicate(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans_multi,
        dedup_spans_sliding,
    )

    df = spark.createDataFrame(CROSS_RESIDUE, "doc_id long, text string")
    # the grid family misses it even with both offsets
    multi = {
        r.doc_id: r.n_spans_dropped
        for r in dedup_spans_multi(df, width=4, offsets=(0, 2)).collect()
    }
    assert multi[21] == 0
    # the sliding pass cuts the passage out of the later occurrence
    got = {
        r.doc_id: (r.n_tokens_dropped, r.clean_text)
        for r in dedup_spans_sliding(df, width=4).collect()
    }
    assert got[21][0] > 0
    assert "nav home login search" not in got[21][1]
    assert got[21][1].startswith("xx yy ")
    assert "nav home login search" in got[20][1]  # first occurrence intact
    assert got[22] == (0, CROSS_RESIDUE[2][1])    # unrelated doc untouched
    assert got[20] == (0, CROSS_RESIDUE[0][1])    # first doc loses nothing


def test_sliding_ignores_empty_text_docs(spark):
    """Two empty-text docs must NOT cross-match on md5('') — neither books
    a phantom n_tokens_dropped, and oracle parity holds on the same corpus
    (r8, advisor finding)."""
    import duckdb
    import pandas as pd

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans_sliding,
        span_dedup_sliding_oracle_sql,
    )

    corpus = [(0, ""), (1, ""), (2, "real words here"), (3, "")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_tokens_dropped, r.clean_text)
        for r in dedup_spans_sliding(df, width=4).collect()
    }
    assert got == _model_sliding(corpus, 4)
    for d in (0, 1, 3):
        assert got[d] == (1, 0, "")  # split('') == [''] → one empty token
    assert got[2] == (3, 0, "real words here")

    con = duckdb.connect()
    con.register("docs", pd.DataFrame(corpus, columns=["doc_id", "text"]))
    want = {
        r[0]: tuple(r[1:])
        for r in con.sql(
            span_dedup_sliding_oracle_sql(table="docs", width=4)
        ).fetchall()
    }
    assert got == want


def test_sliding_duckdb_oracle_parity(spark):
    import duckdb
    import pandas as pd

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans_sliding,
        span_dedup_sliding_oracle_sql,
    )

    corpus = CROSS_RESIDUE + CORPUS
    got = sorted(
        (r.doc_id, r.n_tokens, r.n_tokens_dropped, r.clean_text)
        for r in dedup_spans_sliding(
            spark.createDataFrame(corpus, "doc_id long, text string"), width=4
        ).collect()
    )
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(corpus, columns=["doc_id", "text"]))
    want = sorted(
        map(tuple, con.sql(span_dedup_sliding_oracle_sql(table="docs", width=4)).fetchall())
    )
    assert got == want


# --- randomized model parity (adversarial small-vocab corpus) ---------------


def test_span_family_matches_models_on_random_small_vocab_corpus(spark):
    """A seeded random corpus over a 4-token vocabulary maximizes window
    collisions, overlap, within-doc repeats and short docs — every edge
    the hand corpus can't enumerate. Both the sliding and the multi-offset
    operators must equal their pure-Python models exactly."""
    import random

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans_multi,
        dedup_spans_sliding,
    )

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d"]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(120)
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")

    got_slide = {
        r.doc_id: (r.n_tokens, r.n_tokens_dropped, r.clean_text)
        for r in dedup_spans_sliding(df, width=3).collect()
    }
    assert got_slide == _model_sliding(corpus, 3)

    got_multi = {
        r.doc_id: (r.n_spans, r.n_spans_dropped, r.clean_text)
        for r in dedup_spans_multi(df, width=3, offsets=(0, 1, 2)).collect()
    }
    assert got_multi == _model_dedup_multi(corpus, 3, (0, 1, 2))


class TestScrubBenchmarkSpans:
    """Surgical benchmark decontamination (r7: span_dedup.scrub_benchmark_spans)."""

    def _run(self, spark, docs_rows, bench_rows, width=4):
        from etl_edi_data_scrapper_spark.functions.span_dedup import (
            scrub_benchmark_spans,
        )

        docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
        bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
        out = scrub_benchmark_spans(docs, bench, width=width).collect()
        return {r.doc_id: (r.n_tokens, r.n_tokens_cut, r.decon_text) for r in out}

    def test_leaked_passage_cut_at_any_offset(self, spark):
        # bench holds the passage mid-text; the doc carries it after a
        # unique 3-token lead-in — a grid pass would miss it, sliding cuts
        # the full passage and nothing else
        passage = "p1 p2 p3 p4 p5"
        got = self._run(
            spark,
            [(10, f"lead in words {passage} tail")],
            [(1, f"bench prefix {passage}")],
            width=4,
        )
        n_tokens, n_cut, text = got[10]
        assert n_tokens == 9
        assert n_cut == 5  # exactly the passage
        assert text == "lead in words tail"

    def test_clean_docs_round_trip(self, spark):
        got = self._run(
            spark,
            [(10, "nothing shared here at all today")],
            [(1, "completely different benchmark text")],
        )
        assert got[10] == (6, 0, "nothing shared here at all today")

    def test_short_shared_overlap_survives(self, spark):
        # 3 shared tokens < width=4: no window matches, nothing cut
        got = self._run(
            spark,
            [(10, "a b c x y z")],
            [(1, "a b c q r s")],
            width=4,
        )
        assert got[10][1] == 0

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from etl_edi_data_scrapper_spark.functions.span_dedup import (
            benchmark_scrub_ctes,
            scrub_benchmark_spans,
        )

        docs_rows = [
            (10, "u1 v1 leak alpha beta gamma delta end"),
            (11, "leak alpha beta gamma delta front text"),
            (12, "clean words only in this document"),
            (13, ""),
        ]
        bench_rows = [(1, "intro leak alpha beta gamma delta outro"), (2, "")]
        docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
        bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_tokens_cut, r.decon_text)
            for r in scrub_benchmark_spans(docs, bench, width=4).collect()
        }

        con = duckdb.connect()
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO d VALUES (?, ?)", docs_rows)
        con.execute("CREATE TABLE b (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO b VALUES (?, ?)", bench_rows)
        sql = (
            "WITH "
            + benchmark_scrub_ctes("bs", "d", "b", width=4)
            + " SELECT doc_id, n_tokens, n_tokens_cut, decon_text FROM bsout"
        )
        want = {
            r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()
        }
        assert got == want


# --- exact_substr (r9): variable min length + maximal runs ------------------


def _model_exact_substr(docs, min_len: int):
    """Pure-Python exact_substr_dedup: sliding windows of min_len,
    first-occurrence ownership, consecutive-drop islands, range cuts."""
    wins = {}
    for doc_id, text in docs:
        t = text.split(" ")
        n = max(len(t) - min_len, 0) + 1
        wins[doc_id] = [" ".join(t[p : p + min_len]) for p in range(n)]
    def eligible(w: str) -> bool:
        # ExactSubstr contract: windows shorter than min_len (short-doc
        # whole-doc windows) are below the minimum match length
        return w != "" and len(w.split(" ")) >= min_len

    first, counts = {}, {}
    for doc_id in sorted(wins):
        for pos, w in enumerate(wins[doc_id]):
            if not eligible(w):
                continue
            counts[w] = counts.get(w, 0) + 1
            first.setdefault(w, (doc_id, pos))
    out, spans = {}, {}
    for doc_id, text in docs:
        t = text.split(" ")
        dropped = sorted(
            pos
            for pos, w in enumerate(wins[doc_id])
            if eligible(w) and counts[w] > 1 and first[w] != (doc_id, pos)
        )
        runs = []
        for p in dropped:  # islands of consecutive positions
            if runs and p == runs[-1][0] + runs[-1][1]:
                runs[-1] = (runs[-1][0], runs[-1][1] + 1)
            else:
                runs.append((p, 1))
        spans[doc_id] = [(s, n + min_len - 1) for s, n in runs]
        covered = set()
        for s, ln in spans[doc_id]:
            covered.update(range(s, s + ln))
        kept = [tok for i, tok in enumerate(t) if i not in covered]
        clean = text if not runs else " ".join(kept)
        out[doc_id] = (
            len(t), len(runs), len(t) - len(kept) if runs else 0, clean
        )
    return out, spans


def _exact_substr_spans(df, min_len):
    """(doc_id, span_start, span_len) per maximal duplicated run — the
    runs `exact_substr_dedup` cuts as units (span_start 0-based)."""
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        _dropped_window_runs,
    )

    return _dropped_window_runs(df, "doc_id", "text", min_len).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        (F.col("n_windows") + min_len - 1).cast("long").alias("span_len"),
    )


def test_exact_substr_matches_python_model(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        exact_substr_dedup,
    )

    corpus = CROSS_RESIDUE + CORPUS + SHIFTED
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    want, want_spans = _model_exact_substr(corpus, 4)
    got = {
        r.doc_id: (r.n_tokens, r.n_spans_cut, r.n_tokens_cut, r.clean_text)
        for r in exact_substr_dedup(df, min_len=4).collect()
    }
    assert got == want
    got_spans = {}
    for r in _exact_substr_spans(df, min_len=4).collect():
        got_spans.setdefault(r.doc_id, []).append((r.span_start, r.span_len))
    for d in got_spans:
        got_spans[d].sort()
    assert got_spans == {d: s for d, s in want_spans.items() if s}


def test_exact_substr_cut_equals_sliding_at_same_width(spark):
    """For docs of >= width tokens the cut SET is provably the sliding
    pass's (a run's coverage is the union of its windows'); only the
    bookkeeping differs. Docs SHORTER than width diverge by contract:
    sliding keeps its whole-doc-window convention, ExactSubstr excludes
    sub-min_len windows (no >= min_len match can exist in them)."""
    import random

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans_sliding,
        exact_substr_dedup,
    )

    rng = random.Random(17)
    vocab = ["aa", "bb", "cc", "dd"]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))))
        for i in range(60)
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    slide = {
        r.doc_id: (r.n_tokens, r.n_tokens_dropped, r.clean_text)
        for r in dedup_spans_sliding(df, width=4).collect()
    }
    exact = {
        r.doc_id: (r.n_tokens, r.n_tokens_cut, r.clean_text)
        for r in exact_substr_dedup(df, min_len=4).collect()
    }
    long_ids = {i for i, t in corpus if len(t.split(" ")) >= 4}
    assert long_ids  # the seed produces plenty of both
    for i in long_ids:
        assert slide[i] == exact[i], i
    for i, t in corpus:
        if i not in long_ids:  # short docs NEVER cut by ExactSubstr
            assert exact[i] == (len(t.split(" ")), 0, t), i


def test_exact_substr_never_cuts_sub_min_len_docs(spark):
    """Two identical 3-token docs at min_len=8: no >= 8-token match
    exists, so neither is cut and no impossible 8-token span is
    reported (the pre-fix behavior cut the later doc entirely and
    reported span_len=8 on a 3-token document)."""
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        exact_substr_dedup,
    )

    corpus = [(1, "tiny dup doc"), (2, "tiny dup doc"), (3, "other words")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens_cut, r.clean_text)
        for r in exact_substr_dedup(df, min_len=8).collect()
    }
    assert got == {1: (0, "tiny dup doc"), 2: (0, "tiny dup doc"),
                   3: (0, "other words")}
    assert _exact_substr_spans(df, min_len=8).count() == 0


def test_exact_substr_catches_short_end_passage_sliding_misses(spark):
    """The variable-min-length case: a 5-token quote at the END of a doc
    is invisible to the width-8 sliding pass (no 8-token window fits
    inside it) but is exactly what min_len=5 exists for."""
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_spans_sliding,
        exact_substr_dedup,
    )

    quote = "to be or not be"  # 5 tokens
    corpus = [
        (1, f"original source text carries the line {quote}"),
        (2, f"a later document ends quoting {quote}"),
        (3, "an unrelated document with its own words only here"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    slide = {
        r.doc_id: r.n_tokens_dropped
        for r in dedup_spans_sliding(df, width=8).collect()
    }
    assert slide == {1: 0, 2: 0, 3: 0}  # the documented fixed-width miss

    got = {
        r.doc_id: (r.n_tokens_cut, r.clean_text)
        for r in exact_substr_dedup(df, min_len=5).collect()
    }
    assert got[1] == (0, corpus[0][1])  # first occurrence intact
    assert got[2][0] == 5
    assert got[2][1] == "a later document ends quoting"
    assert got[3] == (0, corpus[2][1])
    spans = _exact_substr_spans(df, min_len=5).collect()
    assert [(r.doc_id, r.span_start, r.span_len) for r in spans] == [(2, 5, 5)]


def test_exact_substr_reports_maximal_run_not_windows(spark):
    """A 12-token shared passage at min_len=8 is 5 overlapping duplicated
    windows but must report as ONE (start, 12) span."""
    passage = " ".join(f"p{i}" for i in range(12))
    corpus = [
        (1, f"{passage} trailing words of the first doc"),
        (2, f"lead in tokens here then {passage}"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    spans = [
        (r.doc_id, r.span_start, r.span_len)
        for r in _exact_substr_spans(df, min_len=8).collect()
    ]
    assert spans == [(2, 5, 12)]


def test_exact_substr_duckdb_oracle_parity(spark):
    import duckdb
    import pandas as pd

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        exact_substr_dedup,
        exact_substr_oracle_sql,
    )

    corpus = CROSS_RESIDUE + CORPUS + [(30, ""), (31, "")]
    got = sorted(
        (r.doc_id, r.n_tokens, r.n_spans_cut, r.n_tokens_cut, r.clean_text)
        for r in exact_substr_dedup(
            spark.createDataFrame(corpus, "doc_id long, text string"), min_len=4
        ).collect()
    )
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(corpus, columns=["doc_id", "text"]))
    want = sorted(
        map(
            tuple,
            con.sql(exact_substr_oracle_sql(table="docs", min_len=4)).fetchall(),
        )
    )
    assert got == want


# --- r10: CCNet-style cross-document line dedup ----------------------------


def _line_dedup_model(rows):
    """Independent pure-Python reference: first corpus occurrence of each
    non-empty line (by (doc, idx) order) survives; empties always kept."""
    seen = set()
    out = {}
    for doc_id, text in sorted(rows):
        kept, n_cut = [], 0
        for line in text.split("\n"):
            if line == "":
                kept.append(line)
            elif line in seen:
                n_cut += 1
            else:
                seen.add(line)
                kept.append(line)
        out[doc_id] = (len(text.split("\n")), n_cut, "\n".join(kept))
    return out


def test_line_dedup_across_corpus(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_lines_across_corpus,
    )

    rows = [
        (0, "unique zero\nshared banner line\nbody a"),
        (1, "shared banner line\nbody b\n\nbody b2"),   # banner cut; empty kept
        (2, "body a\nshared banner line\nunique two"),  # both cut
        (3, "only unique lines\nhere"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_lines_cut, r.clean_text)
        for r in dedup_lines_across_corpus(df).collect()
    }
    assert got == _line_dedup_model(rows)
    # spot-check semantics directly
    assert got[1] == (4, 1, "body b\n\nbody b2")
    assert got[2] == (3, 2, "unique two")


def test_line_dedup_randomized_model_parity(spark):
    import random

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_lines_across_corpus,
    )

    rng = random.Random(17)
    pool = [f"line {i}" for i in range(12)] + [""]
    rows = [
        (i, "\n".join(rng.choice(pool) for _ in range(rng.randint(1, 8))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_lines_cut, r.clean_text)
        for r in dedup_lines_across_corpus(df).collect()
    }
    assert got == _line_dedup_model(rows)


def test_line_dedup_duckdb_oracle_parity(spark):
    import duckdb

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_lines_across_corpus,
        line_dedup_oracle_sql,
    )

    rows = [
        (0, "alpha\nbeta\ngamma"),
        (1, "beta\ndelta"),
        (2, "gamma\ngamma\nepsilon"),  # intra-doc repeat also cut
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_lines_cut, r.clean_text)
        for r in dedup_lines_across_corpus(df).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows).replace("\n", "' || chr(10) || '")
        + ") AS t(doc_id, text)"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(
            "WITH "
            + line_dedup_oracle_sql(table="docs")
            + " SELECT doc_id, n_lines, n_lines_cut, clean_text FROM ldm"
        ).fetchall()
    }
    assert got == want


def test_line_dedup_shuffle_never_carries_text(spark):
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_lines_across_corpus,
    )

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    plan = (
        dedup_lines_across_corpus(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_line_dedup_saturated_doc_linear_rebuild(spark):
    """Boilerplate-saturated mega-doc: every one of 20k lines in two docs
    is a duplicate of doc 0, so the cut list is as long as the doc. The
    r10 rebuild probed array_contains(cut, i) per line — O(L x cuts),
    measured 20.2 s on this exact input; the array_except complement
    rebuild is O(L + cuts), measured 3.8 s (session overhead included).
    Asserts correctness on the saturated shape and a generous wall bound
    (15 s ~ 4x the linear path, under the quadratic path's floor)."""
    import time

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_lines_across_corpus,
    )

    n = 20000
    boiler = "\n".join(f"boilerplate line {i}" for i in range(n))
    df = spark.createDataFrame(
        [(0, boiler), (1, boiler), (2, boiler)], "doc_id long, text string"
    ).localCheckpoint(eager=True)
    t0 = time.time()
    rows = {r.doc_id: r for r in dedup_lines_across_corpus(df).collect()}
    wall = time.time() - t0
    assert rows[0].n_lines_cut == 0 and rows[0].clean_text == boiler
    for d in (1, 2):
        assert rows[d].n_lines == n
        assert rows[d].n_lines_cut == n  # every line cut ...
        assert rows[d].clean_text == ""  # ... nothing survives
    assert wall < 15, f"saturated rebuild took {wall:.1f}s - quadratic again?"


def test_line_dedup_null_text_matches_oracle_nulls(spark):
    """NULL text propagates as NULL (n_lines, clean_text) with zero cuts,
    exactly like the DuckDB oracle's split/filter NULL propagation — the
    r10 rebuild leaked n_lines=-1 / clean_text='' for NULL docs (r11
    round review)."""
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        dedup_lines_across_corpus,
    )

    df = spark.createDataFrame(
        [(0, "a\nb"), (1, None), (2, "a\nc")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in dedup_lines_across_corpus(df).collect()}
    assert rows[1].n_lines is None
    assert rows[1].n_lines_cut == 0
    assert rows[1].clean_text is None
    assert rows[2].clean_text == "c"  # the shared line still dedups


def test_exact_substr_coverage_equals_suffix_array_semantics(spark):
    """r13 (verdict #8, closed by EQUIVALENCE instead of new machinery):
    Lee et al. 2022's suffix-array ExactSubstr cuts every token covered
    by SOME duplicated substring of length ≥ min_len whose occurrence is
    not the corpus-first. The shipped windowed form cuts every token
    covered by a non-first duplicated WINDOW of exactly min_len tokens.
    These are provably the same coverage: (⊆) a non-first window IS a
    non-first length-min_len substring occurrence; (⊇) any non-first
    substring occurrence (d, s, L) covering token i contains a window
    (d, q) covering i whose content also occurs at the substring
    owner's matching offset (d0, s0 + (q−s)), and (d0, s0) < (d, s)
    implies (d0, s0+(q−s)) < (d, q) in (doc, pos) order — so that
    window occurrence is non-first too. This test pins the theorem
    against an INDEPENDENT brute-force implementation of the
    variable-length semantics (all substrings, all lengths ≥ min_len,
    per-substring first-occurrence ownership) on adversarial tiny-
    alphabet corpora where overlapping maximal matches, nested matches,
    and cross-width-boundary merges all occur."""
    import random

    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        exact_substr_dedup,
    )

    rng = random.Random(1311)

    def brute_force_clean(docs, min_len):
        # docs: list[(doc_id, tokens)] sorted by doc_id
        occ = {}  # substring tuple -> list[(doc_id, pos)]
        for d, toks in docs:
            n = len(toks)
            for s in range(n):
                for L in range(min_len, n - s + 1):
                    occ.setdefault(tuple(toks[s : s + L]), []).append((d, s))
        cut = {d: set() for d, _ in docs}
        for t, places in occ.items():
            if len(places) < 2:
                continue
            owner = min(places)
            for d, s in places:
                if (d, s) != owner:
                    cut[d].update(range(s, s + len(t)))
        return {
            d: " ".join(tok for i, tok in enumerate(toks) if i not in cut[d])
            for d, toks in docs
        }

    for trial in range(10):
        min_len = rng.choice([2, 3, 4])
        alphabet = ["a", "b"] if trial % 2 == 0 else ["a", "b", "c"]
        docs = []
        for d in range(rng.randint(2, 6)):
            toks = [rng.choice(alphabet) for _ in range(rng.randint(1, 12))]
            docs.append((d, toks))
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs], "doc_id long, text string"
        )
        got = {
            r.doc_id: r.clean_text
            for r in exact_substr_dedup(df, min_len=min_len).collect()
        }
        want = brute_force_clean(docs, min_len)
        assert got == want, (trial, min_len, docs, got, want)
