"""DSIR-style importance resampling (Xie et al., 2023, "Data Selection
for Language Models via Importance Resampling"): select pre-training
documents that LOOK LIKE a small target corpus, without training a
classifier. Both corpora are featurized as hashed n-gram bucket counts;
each bucket gets a log probability ratio log p_target(b) − log p_source(b)
(unigram bag-of-buckets model, add-s smoothing); a document's importance
log-weight is the count-weighted sum of its buckets' ratios; selection is
Gumbel top-k over the log-weights — equivalent to sampling WITHOUT
replacement with probability ∝ weight, but fully deterministic here
because the Gumbel noise derives from md5(seed, id).

Scale shape: featurization is explode → one (doc, bucket) count shuffle
(the same two-shuffle TF-IDF/unigram-xent template); the bucket-ratio
table is at most ``n_buckets`` rows — broadcast. Selection needs only the
top-k by perturbed weight: TakeOrderedAndProject at scale, a rank window
in the gate oracle.

Engine parity: per-bucket log ratios and the Gumbel perturbation are
quantized to integer micro-nats BEFORE any aggregation (same discipline,
and same residual last-ulp ``log`` caveat, as
`text.unigram_cross_entropy`). A new ``seed`` is a new resampling draw.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.hashing import hex_val, hex_word

MICRO = 1_000_000
U32 = 2**32


def hashed_bucket(gram: Column, n_buckets: int) -> Column:
    """Feature hash: first md5 word of the gram, mod ``n_buckets``.

    Exact fast path for power-of-two ``n_buckets`` = 2^b: the word is
    Σ c_i·16^(8−i), and 2^b divides 16^c for c ≥ b/4, so the mod depends
    only on the LAST ceil(b/4) hex chars of the word — 2 substring+instr
    ops per gram instead of 8 for B=256 (this projection runs over every
    gram of the corpus; measured on the featurization hot path). Values
    are bit-identical to the full parse, so oracles are unaffected."""
    b = n_buckets.bit_length() - 1
    if n_buckets == 1 << b and 0 < b <= 32:
        c = -(-b // 4)  # ceil(b/4) trailing hex chars of the 8-char word
        h = F.md5(gram)
        v: Column = F.lit(0).cast("long")
        for k in range(c):
            v = v * 16 + hex_val(F.substring(h, 8 - c + 1 + k, 1))
        return v % n_buckets
    return hex_word(F.md5(gram), 1) % n_buckets


def _grams(text_col: str) -> Column:
    """Word unigrams + bigrams (the DSIR paper's feature set)."""
    toks = F.split(F.col(text_col), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", toks[i], toks[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def _bucket_counts(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    return (
        docs.select(F.col(id_col), F.explode(_grams(text_col)).alias("gram"))
        .select(id_col, hashed_bucket(F.col("gram"), n_buckets).alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _bucket_log_micro(
    counts: DataFrame, n_buckets: int, smoothing: int, alias: str
) -> DataFrame:
    """(bucket, <alias>): floor(1e6 · ln((c_b + s) / (total + s·B)))."""
    per_bucket = counts.groupBy("bucket").agg(F.sum("tf").alias("c"))
    total = per_bucket.agg(F.sum("c").alias("t"))
    return (
        per_bucket.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (F.col("c") + F.lit(smoothing)).cast("double")
                    / (F.col("t") + F.lit(smoothing * n_buckets)).cast("double")
                )
                * F.lit(MICRO)
            )
            .cast("long")
            .alias(alias),
        )
    )


def gumbel_micro(id_col: Column, seed: int = 0) -> Column:
    """Deterministic Gumbel(0,1) noise in integer micro-nats:
    u = (md5word(seed:id) + 0.5) / 2^32 ∈ (0,1), g = −ln(−ln u)."""
    w = hex_word(F.md5(F.concat(F.lit(f"{seed}:"), id_col.cast("string"))), 1)
    u = (w.cast("double") + F.lit(0.5)) / F.lit(float(U32))
    return F.floor(-F.log(-F.log(u)) * F.lit(MICRO)).cast("long")


def dsir_log_weights(
    source: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    smoothing: int = 1,
) -> DataFrame:
    """Per-source-document importance log-weight in integer micro-nats.

    Returns (``id_col``, n_grams, logw_sum_micro): logw_sum_micro =
    Σ_buckets tf_b · (log p_target(b) − log p_source(b)), each log
    pre-quantized. Positive ⇒ the document looks more like the target
    corpus than the source average.
    """
    return dsir_score(
        source,
        fit_dsir_ratios(
            source, target, id_col=id_col, text_col=text_col,
            n_buckets=n_buckets, smoothing=smoothing,
        ),
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
    )


def fit_dsir_ratios(
    source: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    smoothing: int = 1,
) -> DataFrame:
    """The persistable DSIR model (r14): per-bucket
    ``ratio_micro = log p_target(b) − log p_source(b)`` in integer
    micro-nats — ≤ ``n_buckets`` rows, the whole importance model. In
    Xie 2023's deploy shape both distributions are FIXED references
    (target = curated text, source = a raw-pool sample), so the ratio
    table is fit once and every pool shard scores against it
    (:func:`dsir_score`)."""
    src_counts = _bucket_counts(source, id_col, text_col, n_buckets)
    tgt_counts = _bucket_counts(target, id_col, text_col, n_buckets)
    # outer join: a bucket can be observed in only one corpus; the absent
    # side coalesces to its smoothed floor log(s / (total + s·B)), whose
    # corpus total rides in as a 1-row broadcast
    ratios = _bucket_log_micro(tgt_counts, n_buckets, smoothing, "lp_t").join(
        _bucket_log_micro(src_counts, n_buckets, smoothing, "lp_s"),
        "bucket",
        "outer",
    )
    src_total = src_counts.agg(F.sum("tf").alias("t_s"))
    tgt_total = tgt_counts.agg(F.sum("tf").alias("t_t"))

    def smoothed_floor(total_col: str) -> Column:
        return F.floor(
            F.log(
                F.lit(float(smoothing))
                / (F.col(total_col) + F.lit(smoothing * n_buckets)).cast("double")
            )
            * F.lit(MICRO)
        ).cast("long")

    return (
        ratios.crossJoin(F.broadcast(src_total))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "bucket",
            (
                F.coalesce(F.col("lp_t"), smoothed_floor("t_t"))
                - F.coalesce(F.col("lp_s"), smoothed_floor("t_s"))
            ).alias("ratio_micro"),
        )
    )


def dsir_score(
    docs: DataFrame,
    ratios: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Score documents under an already-fit DSIR ratio table: featurize +
    one broadcast join + one aggregate, zero fitting jobs. ``n_buckets``
    MUST be the geometry the table was fit with — a mismatched hash space
    scores garbage silently. Note: a
    bucket unseen in BOTH fit corpora has no ratio row and its grams
    drop from the sum (inner join) — identical to `dsir_log_weights`,
    where such buckets cannot occur in the scored corpus by
    construction; under a reference table they can, and dropping them
    (ratio 0: "no evidence either way") is the conservative choice."""
    counts = _bucket_counts(docs, id_col, text_col, n_buckets)
    return (
        counts.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_grams"),
            F.sum(F.col("tf") * F.col("ratio_micro")).cast("long").alias("logw_sum_micro"),
        )
    )


def dsir_resample(
    source: DataFrame,
    target: DataFrame,
    n_keep: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    smoothing: int = 1,
    seed: int = 0,
) -> DataFrame:
    """Gumbel top-k importance resampling: keep the ``n_keep`` source
    documents with the largest (logw_sum_micro + gumbel_micro) — a
    deterministic draw of sampling-without-replacement ∝ exp(log-weight).
    Returns (id, n_grams, logw_sum_micro, key_micro, dsir_keep) for ALL
    source docs (callers filter on ``dsir_keep``).

    Scale shape: the top-k is ``orderBy(key desc, id asc).limit(n_keep)``
    — Spark compiles that to TakeOrderedAndProject (per-partition bounded
    heaps, no global sort, no single-task window) — and membership rides
    back on a broadcast left join of the ≤ n_keep winning ids. The
    deterministic (key, id) tiebreak makes the draw partition-count- and
    rerun-stable."""
    weighted = dsir_log_weights(
        source, target, id_col=id_col, text_col=text_col,
        n_buckets=n_buckets, smoothing=smoothing,
    ).withColumn("key_micro", F.col("logw_sum_micro") + gumbel_micro(F.col(id_col), seed))
    # the weight subtree (featurize source + fit ratios, itself two
    # featurizations and an outer join) feeds BOTH the top-k and the
    # final left join below — without a checkpoint the whole fit pipeline
    # executes three times in one plan (top-k + broadcast build + probe
    # side). Lazy local checkpoint: computed once on first evaluation,
    # one (id, counts) row per source doc — linear, spillable state
    weighted = weighted.localCheckpoint(eager=False)
    top = (
        weighted.orderBy(F.desc("key_micro"), F.asc(id_col))
        .limit(n_keep)
        .select(F.col(id_col), F.lit(True).alias("dsir_keep"))
    )
    return weighted.join(F.broadcast(top), id_col, "left").withColumn(
        "dsir_keep", F.coalesce(F.col("dsir_keep"), F.lit(False))
    )
