"""Bloom-filter membership as a RELATION — the memory-bounded
approximate-dedup/contamination primitive (the Dolma pipeline's
paragraph-dedup shape: a bounded bit set stands in for an unbounded
seen-set, false positives possible, false negatives impossible).

Spark-first twist: instead of a bit-array object probed from a UDF
(the slow path — per-row Python), the filter IS a DataFrame of the
DISTINCT SET BIT POSITIONS, bounded by ``m`` rows regardless of how
many keys were inserted. Membership = "all k positions present",
which compiles to k BROADCAST hash joins — the probe side is never
shuffled, there is no UDF anywhere, and the identical relational
formulation runs in any SQL engine (so the gate query's bloom leg is
hash-oracled in DuckDB, which a bit-array implementation could never
be). Exactly the same false-positive semantics as the classic bit
array: this table is that array, stored sparse.

Positions come from the suite's standing Carter-Wegman discipline
(`dedup.minhash_signatures`): ONE md5 per key split into two 32-bit
words, pos_j = ((w1 + j·w2) mod 2^32) mod m — one hash per key, k
arithmetic probes, engine-exact.

Sizing is the textbook trade: k ≈ (m/n)·ln2 for n inserted keys;
false-positive rate ≈ (1 − e^(−k·n/m))^k. At m = 2^20 and n = 10^5,
k = 7 gives ~0.8% — an 8 MB broadcast standing in for an arbitrarily
large seen-corpus. At 100 TB the reference side (yesterday's dumps)
would be billions of keys: size m to the budget (m rows × 8 B
broadcast), accept the computed FPR, and route maybe-seen rows to an
exact check if the application needs one — the standard two-tier
deploy this module's bounded table makes cheap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.hashing import hex_word


def bloom_words(key: Column) -> tuple[Column, Column]:
    """The Carter-Wegman word pair of ``key``: ONE md5, split into two
    32-bit words. Callers that probe many keys should materialize these
    two longs once and derive the k positions arithmetically — the k-join
    probe then carries (w1, w2) instead of recomputing md5 per join and
    dragging the raw key text through every join."""
    h = F.md5(key)
    return hex_word(h, 1), hex_word(h, 9)


def bloom_positions_from_words(
    w1: Column, w2: Column, m: int, k: int
) -> list[Column]:
    """The k bit positions given a precomputed word pair (j = 1..k so
    every position mixes both words)."""
    return [
        ((w1 + F.lit(j) * w2) % F.lit(2**32) % F.lit(m)).alias(f"pos_{j}")
        for j in range(1, k + 1)
    ]


def bloom_positions(key: Column, m: int, k: int) -> list[Column]:
    """The k bit positions of ``key`` in an m-bit filter (Carter-Wegman
    over one md5; j = 1..k so every position mixes both words)."""
    w1, w2 = bloom_words(key)
    return bloom_positions_from_words(w1, w2, m, k)


def bloom_table(keys: DataFrame, key_col: str, m: int, k: int) -> DataFrame:
    """Build the filter from a key column: DISTINCT positions across all
    keys and all k hash functions — one column ``pos``, at most ``m``
    rows (THE bound: insert a billion keys, the table still fits the
    broadcast budget)."""
    pos = bloom_positions(F.col(key_col), m, k)
    stacked = keys.select(
        F.explode(F.array(*[p.cast("long") for p in pos])).alias("pos")
    )
    return stacked.distinct()


def _flag_from_words(
    df: DataFrame,
    bloom: DataFrame,
    w1_col: str,
    w2_col: str,
    m: int,
    k: int,
    out_col: str = "maybe_seen",
) -> DataFrame:
    """k-join probe given precomputed Carter-Wegman words (`bloom_words`):
    add ``out_col``, true iff ALL k positions are set in ``bloom`` (false
    ⇒ definitely never inserted; true ⇒ inserted OR a false positive at
    the textbook rate). Compiles to k broadcast hash joins on the bounded
    position table — ``df`` itself never shuffles. ``bloom`` must already
    be materialization-safe (`bloom_span_contamination` localCheckpoints
    it). Callers that only need flags/counts should project away the raw
    key BEFORE calling — the join chain then carries just the two longs."""
    out = df
    pos = bloom_positions_from_words(F.col(w1_col), F.col(w2_col), m, k)
    for j, p in enumerate(pos, start=1):
        marker = F.broadcast(
            bloom.select(F.col("pos").alias(f"__bpos_{j}")).withColumn(
                f"__bhit_{j}", F.lit(True)
            )
        )
        out = out.withColumn(f"__p_{j}", p.cast("long")).join(
            marker, F.col(f"__p_{j}") == F.col(f"__bpos_{j}"), "left"
        )
    seen = F.lit(True)
    for j in range(1, k + 1):
        seen = seen & F.coalesce(F.col(f"__bhit_{j}"), F.lit(False))
    return out.withColumn(out_col, seen).drop(
        *[c for j in range(1, k + 1) for c in (f"__p_{j}", f"__bpos_{j}", f"__bhit_{j}")]
    )


def _span_expr(text_col: str, width: int) -> str:
    """Stride-1 width-token windows — the ONE shared convention
    (`span_dedup.sliding_window_expr`): docs shorter than width form one
    whole-doc window. Aliased here so the contamination screen and the
    exact scrub can never silently diverge on windowing."""
    from etl_edi_data_scrapper_spark.functions.span_dedup import (
        sliding_window_expr,
    )

    return sliding_window_expr(text_col, width)


def bloom_span_contamination(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    m: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Span-level maybe-seen contamination flag: every stride-1
    ``width``-token window of every benchmark doc goes into the bloom;
    a corpus doc is ``bloom_contaminated`` when ANY of its windows is
    maybe-seen. The memory-bounded screen in a two-tier deploy — the
    exact tier is `span_dedup.scrub_benchmark_spans`, which pinpoints
    and cuts the leaked positions; this tier costs one bounded
    broadcast (≤ m rows) however large the benchmark suite grows.

    Returns (id_col, n_spans, n_spans_maybe_seen, bloom_contaminated).
    Empty windows are excluded on both sides (md5('') collides
    corpus-wide — the span_dedup discipline).
    """
    bench_spans = bench.select(
        F.explode(F.expr(_span_expr(text_col, width))).alias("win")
    ).filter(F.col("win") != "")
    # materialize the (≤ m rows) position table once across the k joins
    bloom = bloom_table(bench_spans, "win", m, k).localCheckpoint(eager=False)
    # only COUNTS survive this probe, so drop the span text before the
    # join chain: hash each span once and carry (id, w1, w2) — three
    # longs — through the k joins instead of the raw window string
    w1, w2 = bloom_words(F.col("win"))
    doc_spans = (
        docs.select(
            F.col(id_col),
            F.explode(F.expr(_span_expr(text_col, width))).alias("win"),
        )
        .filter(F.col("win") != "")
        .select(F.col(id_col), w1.alias("__w1"), w2.alias("__w2"))
    )
    flagged = _flag_from_words(doc_spans, bloom, "__w1", "__w2", m, k).drop(
        "__w1", "__w2"
    )
    counts = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("maybe_seen"), 1).otherwise(0))
        .cast("long")
        .alias("n_spans_maybe_seen"),
    )
    return docs.select(id_col).join(counts, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("n_spans_maybe_seen", F.lit(0))
        .cast("long")
        .alias("n_spans_maybe_seen"),
        (F.coalesce("n_spans_maybe_seen", F.lit(0)) > 0).alias("bloom_contaminated"),
    )
