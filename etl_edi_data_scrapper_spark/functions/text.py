"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's scope (its scalar lib is the per-name cleaning in
`Mapper.php:95-111`); these are the document-level operators a 100 TB
text-corpus pipeline needs: tokenization, quality scoring, language ID,
fingerprinting. All pure `pyspark.sql.functions` Column exprs — JVM-side,
codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.hashing import sql_ident

# Tiny per-language stopword lists (heuristic language ID — deterministic,
# dictionary-based; a production pipeline would plug fastText/CLD3 via a
# Pandas UDF, same operator shape).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "los", "las", "y", "es", "en", "un"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不"),
}

EN_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization (single-space corpus; regex split for the
    general case would be F.split(c, r'\\s+'))."""
    c = F.col(c) if isinstance(c, str) else c
    return F.split(c, " ")


def _stopword_hits_sql(toks_sql: str, words: tuple[str, ...]) -> str:
    """# tokens found in a dictionary, as SQL text over a token-array SQL
    fragment — the building block for both quality scoring and language
    ID. array_contains-free filter + size (codegen'd); parsed text costs
    zero py4j round trips per word/lambda (r15 construction sweep)."""
    from etl_edi_data_scrapper_spark.functions.hashing import str_array_sql

    return (
        f"size(filter({toks_sql}, t -> "
        f"array_contains({str_array_sql(words)}, t)))"
    )


def quality_features(text: str) -> dict[str, Column]:
    """Per-document quality signals (length, token stats, stopword ratio,
    lexical diversity) of the column named ``text``. Ratios are double
    divisions of exact ints — deterministic across engines. Each feature
    is one parsed expression (r15): Column-DSL construction cost ~25 py4j
    round trips per call (~60 ms of plan build, paid inside every timed
    fn())."""
    c = sql_ident(text)
    t = f"split({c}, ' ')"
    stop = _stopword_hits_sql(t, EN_STOPWORDS)
    return {
        "n_chars": F.expr(f"CAST(length({c}) AS BIGINT)"),
        "n_tokens": F.expr(f"CAST(size({t}) AS BIGINT)"),
        "avg_token_len": F.expr(
            f"CAST(length({c}) - (size({t}) - 1) AS DOUBLE)"
            f" / CAST(size({t}) AS DOUBLE)"
        ),
        "stopword_ratio": F.expr(
            f"CAST({stop} AS DOUBLE) / CAST(size({t}) AS DOUBLE)"
        ),
        "uniq_ratio": F.expr(
            f"CAST(size(array_distinct({t})) AS DOUBLE)"
            f" / CAST(size({t}) AS DOUBLE)"
        ),
    }


def quality_score(text: str) -> Column:
    """Composite [0,1]-ish score of the column named ``text``: favors
    mid-length docs with some stopwords and diverse vocabulary (the usual
    heuristic pre-filter before expensive model-based scoring). One
    parsed expression (see quality_features)."""
    c = sql_ident(text)
    t = f"split({c}, ' ')"
    stop = _stopword_hits_sql(t, EN_STOPWORDS)
    ratio = f"CAST({stop} AS DOUBLE) / CAST(size({t}) AS DOUBLE)"
    uniq = (
        f"CAST(size(array_distinct({t})) AS DOUBLE)"
        f" / CAST(size({t}) AS DOUBLE)"
    )
    return F.expr(
        f"0.4D * least(CAST(CAST(size({t}) AS BIGINT) AS DOUBLE) / 100.0D, 1.0D)"
        f" + 0.3D * least(({ratio}) * 4, 1.0D)"
        f" + 0.3D * ({uniq})"
    )


def lang_id(text: str) -> Column:
    """argmax language of the column named ``text`` by stopword hits, with
    deterministic tiebreak (language code ascending); all-zero scores →
    'und' (undetermined).

    Linear form — ``greatest`` + first-match CASE — not a pairwise fold: a
    fold embeds every prior branch twice per level (exponential expression
    growth, measured 8× slower at 5k docs). One parsed expression instead
    of ~30 py4j round trips."""
    langs = sorted(LANG_STOPWORDS)
    t = f"split({sql_ident(text)}, ' ')"
    s = {lg: _stopword_hits_sql(t, LANG_STOPWORDS[lg]) for lg in langs}
    mx = "greatest(" + ", ".join(s[lg] for lg in langs) + ")"
    whens = [f"WHEN {mx} = 0 THEN 'und'"] + [
        f"WHEN {s[lg]} = {mx} THEN '{lg}'" for lg in langs[:-1]
    ]
    return F.expr("CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END")


# GPT-2-style pre-tokenizer, restricted to RE2-safe syntax (no lookahead)
# so external engines (DuckDB/RE2) count the identical segmentation:
# contraction suffixes | space-prefixed letter runs | digit runs | punct runs
# | whitespace runs.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"

# RE2-safe closure of GPT-2's `\s+(?!\S)` rule for COUNTING purposes.
# The real pre-tokenizer splits a whitespace run followed by text into
# (run minus its last char) + the last char, and the last char then
# either glues onto the next token (only a literal SPACE can — the
# ` ?` alternative prefixes) or stands alone. Segment-count effect vs
# the lookahead-free pattern above, as signed counting terms (each a
# plain regex — no lookahead — so every engine can count them; the
# decomposition is fuzz-pinned against the stdlib-re exact pre-tokenizer
# over 20k+ random whitespace-heavy strings in tests/test_bpe.py):
#   +1 per whitespace run of length >= 2 whose LAST char is a NON-SPACE
#      whitespace followed by non-whitespace ("a\t\tb" ->
#      ['a','\t','\t','b'] exact vs ['a','\t\t','b'] approximate);
#   +1 per run of length >= 2 ending in ' ' followed by a contraction
#      ("x  's" -> ['x',' '," '",'s'] exact: the glued space forces the
#      apostrophe through the punct alternative, vs ['x','  ',"'s"]
#      approximate where the bare contraction wins)
#   -1 of those where a LETTER follows the contraction suffix ("  'store"
#      re-splits as ["'s",'tore'] vs [" '",'store'] — same count);
# every other shape counts identically (a run ending in ' ' before a
# letter/digit/punct token re-splits as prefix + glued space: same
# total). The subtraction pair avoids the lookahead a terminal check
# would need.
_BPE_CONTRACTION = r"'(?:s|t|re|ve|m|ll|d)"
BPE_SPLIT_COUNT_FIXES: tuple[tuple[str, int], ...] = (
    (r"\s[\t\n\x0B\f\r]\S", +1),
    (r"\s " + _BPE_CONTRACTION, +1),
    (r"\s " + _BPE_CONTRACTION + r"\p{L}", -1),
)


def bpe_token_count(c: Column | str) -> Column:
    """Approximate LLM-token count: # of pre-tokenizer segments (the BPE
    merge stage only splits within segments, so this upper-bounds and
    tracks real BPE counts far better than whitespace words). One
    regexp_extract_all + size, plus the signed BPE_SPLIT_COUNT_FIXES
    terms that close the `\\s+(?!\\S)` divergence on whitespace-heavy
    text (code, markdown) — JVM-side, no vocab needed,
    segment-count-exact against the real GPT-2 pre-tokenizer on ASCII
    text."""
    c = F.col(c) if isinstance(c, str) else c
    n = F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), 0))
    for pat, sign in BPE_SPLIT_COUNT_FIXES:
        n = n + F.lit(sign) * F.regexp_count(c, F.lit(pat))
    return n


# Rolling-hash constants: B ≈ small odd multiplier, M = 2^31-1 (Mersenne
# prime). acc < M and word < 2^32, so acc*B + word < 2^37 — no int64
# overflow in any engine.
ROLLING_B = 31
ROLLING_M = 2147483647


def rolling_fingerprint(c: Column | str) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    the token stream, fp = fold(acc*B + word32(md5(token)) mod M).

    Unlike the md5 fingerprint (content-exact), the rolling form supports
    incremental/streaming computation and windowed sub-document hashing;
    here it is the sequential fold — one array transform + aggregate,
    JVM-side, deterministic across engines."""
    from etl_edi_data_scrapper_spark.functions.hashing import hex_word

    words = F.transform(tokens(c), lambda t: hex_word(F.md5(t), 1))
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: (acc * ROLLING_B + w) % ROLLING_M,
    )


# PII patterns, restricted to syntax Java regex and RE2 interpret
# identically (no lookaround, no backrefs) so an external SQL engine
# verifies the exact same redactions. Scrub order matters and is fixed:
# email first (may contain digit runs), then IPv4, then phone (requires
# the international + prefix — bare digit runs in prose stay untouched).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    "phone": (r"\+[0-9][0-9\-() ]{6,}[0-9]", "[PHONE]"),
}


def scrub_pii(c: Column | str) -> Column:
    """Redact emails/IPv4s/phones with typed tags — chained regexp_replace,
    pure Column expr (JVM-side; the 100 TB path is exactly this projection
    on the scan). The redaction-count companions are `pii_counts`."""
    c = F.col(c) if isinstance(c, str) else c
    for pattern, tag in PII_PATTERNS.values():
        c = F.regexp_replace(c, pattern, tag)
    return c


def pii_counts(c: Column | str) -> dict[str, Column]:
    """Per-type match counts on the ORIGINAL text (independent counts —
    deterministic and engine-replicable; the sequential scrub may overlap)."""
    c = F.col(c) if isinstance(c, str) else c
    return {
        kind: F.regexp_count(c, F.lit(pattern)).cast("long")
        for kind, (pattern, _tag) in PII_PATTERNS.items()
    }


def normalize_text(c: Column | str) -> Column:
    """Lowercase, strip non-alphanumerics to single spaces, trim — the
    canonical form for fingerprinting/exact dedup."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def fingerprint(c: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(c))


def bigram_cross_entropy(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    fit_pct: int = 50,
    alpha_milli: int = 400,
    lo_milli: int = 2000,
    hi_milli: int = 9000,
    lm=None,
):
    """Bigram stupid-backoff cross-entropy (the CCNet-family upgrade of
    :func:`unigram_cross_entropy` — Brants et al. 2007 "Large Language
    Models in Machine Translation" for the backoff rule): a unigram proxy
    is blind to WORD ORDER (a token-shuffled document scores identically),
    so garbage that preserves term frequencies sails through. The bigram
    score catches it:

      score(w_i | w_{i-1}) = bcnt(w_{i-1}, w_i) / ctx(w_{i-1})     if seen
                           = (alpha_milli/1000) * p1(w_i)           else
      p1(w) = (ucnt(w) + 1) / (total + V)          (add-1, OOV-safe)

    and the first token of every document is scored by p1 alone. The
    model is fit on a deterministic md5-bucket HALF of the corpus
    (``fit_pct``) and scores ALL documents — fitting on the full corpus
    would make every document bigram "seen" (count >= its own
    occurrences) and the backoff leg dead code; the held-out split is
    also the honest CCNet shape (score under a model fit on reference
    text, not on the document itself).

    Engine parity: per-position -ln p quantized to integer micro-nats
    before exact long sums (same discipline and same last-ulp ``log``
    caveat as the unigram filter); the md5 split, add-1 smoothing and
    integer thresholds make both halves replicable in any SQL engine.

    Scale: the unigram model broadcasts like TF-IDF's vocabulary, but the
    BIGRAM model grows with corpus diversity and is NOT broadcast — the
    doc-bigram/model join is a key shuffle on (prev, cur), which AQE
    plans as broadcast only while the model is small. Everything else is
    the standard explode → count shape; no Python anywhere.

    ``lm`` (r14): a `fit_bigram_lm` pair (or `load_bigram_lm` result)
    switches to the full CCNet deploy shape — no fit split at all, every
    document scored under the external reference model (the md5-half
    self-fit is the sandboxed stand-in for exactly this). Backoff and
    add-1 smoothing already make the score OOV-total: unseen bigrams
    back off to the unigram leg, unseen unigrams score add-1.

    Returns (id, n_tokens, bxent_sum_micro, bxent_milli, keep).
    """
    from etl_edi_data_scrapper_spark.functions.hashing import hex_word

    alpha = F.lit(alpha_milli).cast("double") / F.lit(1000.0)
    if lm is None:
        fit = df.filter(
            hex_word(F.md5(F.col(id_col).cast("string")), 1) % 100 < fit_pct
        )
        uni = (
            fit.select(F.explode(tokens(text_col)).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("ucnt"))
        )
    else:
        uni, _lm_big = lm
        uni = uni.select("term", "ucnt")
    totals = uni.agg(
        F.sum("ucnt").alias("total_fit"), F.count(F.lit(1)).alias("v_fit")
    )

    def pairs_of(frame):
        t = tokens(text_col)
        bg = F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.struct(t[i].alias("prev"), t[i + 1].alias("cur")),
            ),
        ).otherwise(F.array().cast("array<struct<prev string, cur string>>"))
        return frame.select(F.col(id_col), F.explode(bg).alias("bg")).select(
            id_col, F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
        )

    if lm is None:
        big = pairs_of(fit).groupBy("prev", "cur").agg(
            F.count(F.lit(1)).alias("bcnt")
        )
    else:
        big = _lm_big.select("prev", "cur", "bcnt")
    ctx = big.groupBy("prev").agg(F.sum("bcnt").alias("ccnt"))

    # FAIL FAST when the md5-bucket fit half is empty (tiny or id-skewed
    # corpora): total_fit comes back NULL and every downstream score —
    # and the CLI's curate_keep — would be silently NULL (advisor, r8).
    # The guard rides the existing expressions: zero extra jobs.
    total_fit_g = F.when(
        F.col("total_fit").isNull(),
        F.raise_error(
            F.lit(
                "bigram_cross_entropy: the reference lm= has no "
                "unigram rows"
                if lm is not None
                else "bigram_cross_entropy: the md5-bucket fit split "
                f"is empty (fit_pct={int(fit_pct)}) — raise fit_pct "
                "or fit on a larger corpus"
            )
        ),
    ).otherwise(F.col("total_fit"))

    p1_cur = (F.coalesce(F.col("ucnt"), F.lit(0)) + 1).cast("double") / (
        total_fit_g + F.col("v_fit")
    ).cast("double")
    pair_micro = F.floor(
        -F.log(
            F.when(
                F.col("bcnt").isNotNull(),
                F.col("bcnt").cast("double") / F.col("ccnt").cast("double"),
            ).otherwise(alpha * p1_cur)
        )
        * F.lit(1000000)
    ).cast("long")
    pair_scores = (
        pairs_of(df)
        .groupBy(id_col, "prev", "cur")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(big, ["prev", "cur"], "left")
        .join(ctx, "prev", "left")
        .join(F.broadcast(uni.withColumnRenamed("term", "cur")), "cur", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * pair_micro).cast("long").alias("pair_micro"))
    )
    first_scores = (
        df.select(F.col(id_col), F.element_at(tokens(text_col), 1).alias("term"))
        .join(F.broadcast(uni), "term", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            F.floor(
                -F.log(
                    (F.coalesce(F.col("ucnt"), F.lit(0)) + 1).cast("double")
                    / (total_fit_g + F.col("v_fit")).cast("double")
                )
                * F.lit(1000000)
            )
            .cast("long")
            .alias("first_micro"),
        )
    )
    return (
        df.select(F.col(id_col), F.size(tokens(text_col)).cast("long").alias("n_tokens"))
        .join(first_scores, id_col)
        .join(pair_scores, id_col, "left")
        .withColumn(
            "bxent_sum_micro",
            (F.coalesce(F.col("pair_micro"), F.lit(0)) + F.col("first_micro")).cast("long"),
        )
        .withColumn("bxent_milli", F.expr("(bxent_sum_micro DIV n_tokens) DIV 1000"))
        .withColumn(
            "keep",
            (F.col("bxent_milli") >= lo_milli) & (F.col("bxent_milli") <= hi_milli),
        )
        .select(id_col, "n_tokens", "bxent_sum_micro", "bxent_milli", "keep")
    )


def fit_bigram_lm(df, id_col: str = "doc_id", text_col: str = "text"):
    """(uni, big) count tables over a reference corpus — the persistable
    model :func:`bigram_cross_entropy`'s ``lm=`` mode scores against
    (r14). The context totals and vocabulary size are derived by
    aggregation at score time, so the artifact is just the two count
    tables; counts are longs, engine-exact."""
    tok = tokens(text_col)
    uni = (
        df.select(F.explode(tok).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("ucnt"))
    )
    bg = F.when(
        F.size(tok) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(tok) - 2),
            lambda i: F.struct(tok[i].alias("prev"), tok[i + 1].alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev string, cur string>>"))
    big = (
        df.select(F.explode(bg).alias("bg"))
        .select(F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("bcnt"))
    )
    return uni, big


def save_bigram_lm(lm, path: str) -> None:
    """Persist a `fit_bigram_lm` pair as parquet under ``path/uni`` and
    ``path/big`` (schema-pinned)."""
    uni, big = lm
    uni.select(
        F.col("term").cast("string"), F.col("ucnt").cast("long")
    ).write.mode("overwrite").parquet(f"{path}/uni")
    big.select(
        F.col("prev").cast("string"), F.col("cur").cast("string"),
        F.col("bcnt").cast("long"),
    ).write.mode("overwrite").parquet(f"{path}/big")


def load_bigram_lm(spark, path: str):
    """Load a persisted bigram LM pair; loud refusal on wrong schemas."""
    uni = spark.read.parquet(f"{path}/uni")
    big = spark.read.parquet(f"{path}/big")
    if {"term", "ucnt"} - set(uni.columns) or {"prev", "cur", "bcnt"} - set(
        big.columns
    ):
        raise ValueError(
            f"{path}: not a bigram LM (uni has {uni.columns}, "
            f"big has {big.columns})"
        )
    return (
        uni.select(F.col("term").cast("string"), F.col("ucnt").cast("long")),
        big.select(
            F.col("prev").cast("string"), F.col("cur").cast("string"),
            F.col("bcnt").cast("long"),
        ),
    )


def fit_unigram_lm(df, text_col: str = "text"):
    """(term, cnt) unigram counts over a corpus — the REFERENCE-LM
    artifact for :func:`unigram_cross_entropy`'s ``lm=`` mode (r14).
    CCNet's actual deploy shape fits the LM on a curated reference
    (Wikipedia) ONCE and scores every crawl against it; this is that
    fit, persistable with :func:`save_unigram_lm`. One tokenize + one
    aggregate; counts are longs, so the artifact is engine-exact."""
    tok = df.select(F.explode(tokens(text_col)).alias("term"))
    return tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))


def save_unigram_lm(lm, path: str) -> None:
    """Persist a `fit_unigram_lm` table as parquet (schema-pinned)."""
    lm.select(
        F.col("term").cast("string"), F.col("cnt").cast("long")
    ).write.mode("overwrite").parquet(path)


def load_unigram_lm(spark, path: str):
    """Load a persisted unigram LM; loud refusal on a wrong schema."""
    lm = spark.read.parquet(path)
    missing = {"term", "cnt"} - set(lm.columns)
    if missing:
        raise ValueError(
            f"{path}: not a unigram LM (missing columns {sorted(missing)}; "
            f"has {lm.columns})"
        )
    return lm.select(F.col("term").cast("string"), F.col("cnt").cast("long"))


def unigram_cross_entropy(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    lo_milli: int = 2000,
    hi_milli: int = 6000,
    lm=None,
):
    """Perplexity-proxy quality filter (the CCNet-style LM filter, without
    the external LM): fit a unigram model on THIS corpus (p(w) =
    count(w)/total tokens) and score each document by its average
    cross-entropy under it. Abnormally LOW entropy = repetitive/boilerplate
    (the model predicts it too well); abnormally HIGH = gibberish / wrong
    domain. ``keep`` brackets the healthy band [lo_milli, hi_milli]
    milli-nats.

    Engine parity: per-token -ln p is quantized to integer micro-nats
    BEFORE any aggregation (sums of longs are exact and order-free), and
    the per-doc average is integer division. Residual risk, shared with
    the TF-IDF oracle's identical pattern: ``log`` (unlike ``sqrt``) is
    not required to be correctly rounded, so a term whose scaled value
    lies within ~1e-10 of an integer could floor differently across
    engines — per-term odds ~1e-10, negligible at gate scale but not
    structurally zero.

    Scale: tokenize → one (doc, term) shuffle for per-doc term counts; the
    vocabulary aggregate is tiny relative to the corpus (sub-linear growth)
    and broadcast back with the 1-row total riding along — same shape as
    TF-IDF, two shuffles total, no Python anywhere.

    ``lm`` (r14): a `fit_unigram_lm` frame (or anything with (term,
    cnt)) switches from self-fit to the CCNet deploy shape — score this
    corpus against a REFERENCE model fit elsewhere. Out-of-vocabulary
    terms score as hapax legomena (count 1 against the reference total:
    the maximum surprisal any seen word could have, without inventing a
    smoothing parameter the artifact doesn't carry) — deterministic and
    integer-exact like everything else here. With ``lm`` fit on this
    very corpus the result is IDENTICAL to self-fit (no OOV, same
    counts) — pinned by test.

    Returns (id, n_tokens, xent_sum_micro, xent_milli, keep).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if lm is None:
        vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
        join_type = "inner"
    else:
        vocab = lm.select("term", "cnt")
        join_type = "left"
    total = vocab.agg(F.sum("cnt").alias("total_tokens"))
    scored = (
        tf.join(F.broadcast(vocab), "term", join_type)
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(1).cast("long")))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tok_micro",
            F.floor(
                -F.log(F.col("cnt").cast("double") / F.col("total_tokens").cast("double"))
                * F.lit(1000000)
            ).cast("long"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("tok_micro")).cast("long").alias("xent_sum_micro"),
        )
        .withColumn("xent_milli", F.expr("(xent_sum_micro DIV n_tokens) DIV 1000"))
        .withColumn(
            "keep",
            (F.col("xent_milli") >= lo_milli) & (F.col("xent_milli") <= hi_milli),
        )
    )
