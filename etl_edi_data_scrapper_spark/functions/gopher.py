"""Gopher-style repetition quality filters (Rae et al. 2021, "Scaling
Language Models: Methods, Analysis & Insights from Training Gopher",
table A1): documents dominated by repeated n-grams are low-quality
training data, and the published filter drops a document when

  * the single most frequent {2,3,4}-gram covers more than
    {20%, 18%, 16%} of its characters (only when it actually repeats —
    count >= 2, the public DataTrove reading, which otherwise penalizes
    short unique documents for a single occurrence), or
  * characters covered by ANY duplicated {5..10}-gram exceed
    {15% .. 10%}.

Everything here is a chain of narrow per-row projections — the shape a
100 TB quality pass wants: tokenize once, sort each n-gram array once,
then fold. ZERO shuffles, zero Python; the whole block pipelines with
the scan.

Implementation constraint that shaped the API: Spark's higher-order
functions (`transform`/`filter`/`aggregate`) are CodegenFallback — they
run interpreted, with NO common-subexpression elimination, and any
non-trivial expression referenced inside a lambda body is re-evaluated
PER ARRAY ELEMENT. A membership test like `array_contains(<sorted+
deduped array expr>, x)` inside a `filter` lambda therefore re-sorts the
array once per position — quadratic per row. So this module materializes
each expensive intermediate (token array, gram-sorted struct array) as a
real column in its own projection, and every lambda body references only
column attributes and its own lambda variables; that is why the public
API is the DataFrame transform :func:`add_gopher_features` rather than
free-standing Column expressions. (Each helper column is also referenced
more than once downstream, which keeps Catalyst's CollapseProject from
inlining it back into a lambda body.)

Both coverage families are char-exact (the paper's definition):
top-n-gram coverage is occurrences × gram char length / total chars, and
duplicated-n-gram coverage is the fraction of CHARACTERS lying under at
least one occurrence of a duplicated n-gram, overlap counted once —
including the inter-token spaces inside an occurrence's span but not the
space between two merely-abutting occurrences. The naive char-weighting
needs a per-token char-offset prefix-sum array, which HOFs can only
build quadratically (array append copies); this module instead runs ONE
linear fold over all token positions that merge-walks the ascending
duplicated-start array with an O(1) pointer (`acc.k`) — per element it
advances the pointer, extends the running covered-end, and accumulates
`length(token)` plus the preceding space when covered. O(L) per row,
still zero shuffle.

The line/paragraph duplicate rules (the remaining quarter of table A1)
live in :func:`add_gopher_line_features` (r8): duplicate LINE fraction /
duplicate PARAGRAPH fraction (> 30% → drop) and their character-mass
variants (> 20% → drop). "Duplicate" follows the public DataTrove
reading: within ONE document, every occurrence of a segment AFTER its
first is a duplicate (set semantics — order-independent, so the per-row
sorted-run fold here and a relational group-count oracle agree exactly).
Lines are the nonempty segments of a split on single newlines,
paragraphs the nonempty segments of a split on runs of 2+ newlines;
char fractions are duplicate chars over total document chars. The base
corpus has no newlines, so the gate query synthesizes a deterministic
newline-bearing leg (suite.py) — the rules themselves are corpus-
agnostic per-row folds, zero shuffle like the rest of the module.

All fractions are pre-quantized to integer micro-units (`* 1_000_000
DIV total`) so the DuckDB oracle compares exact integers, never
engine-rounded doubles — the suite's standing discipline.

Determinism: the top gram tiebreak (equal counts) picks the
lexicographically smallest gram — the run-length fold over the
gram-sorted array here and the oracle's `ORDER BY cnt DESC, gram ASC`
land on the same winner, so `count × length(gram)` is well-defined even
under ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# published Gopher thresholds, in micro-units
TOP_NGRAM_MAX_MICRO = {2: 200_000, 3: 180_000, 4: 160_000}
DUP_NGRAM_MAX_MICRO = {5: 150_000, 6: 140_000, 7: 130_000, 8: 120_000, 9: 110_000, 10: 100_000}

# published line/paragraph duplicate thresholds (Rae 2021 table A1), micro
DUP_LINE_FRAC_MAX_MICRO = 300_000
DUP_PARA_FRAC_MAX_MICRO = 300_000
DUP_LINE_CHAR_MAX_MICRO = 200_000
DUP_PARA_CHAR_MAX_MICRO = 200_000

GOPHER_LINE_FEATURE_COLS = (
    "dup_line_frac_micro",
    "dup_para_frac_micro",
    "dup_line_char_micro",
    "dup_para_char_micro",
    "gopher_line_keep",
)


def _sorted_grams(toks: str, n: int) -> str:
    """SQL: (gram, pos) structs for every ``n``-token gram of the token
    ARRAY COLUMN ``toks``, sorted by gram then pos. The lambda touches
    only the column attribute — evaluated per element, but each slice is
    O(n) on an already-materialized array. Empty when the doc is shorter
    than ``n`` tokens (sequence() would run descending)."""
    return (
        f"IF(size({toks}) < {n}, "
        f"CAST(array() AS array<struct<g string, p bigint>>), "
        f"array_sort(transform(sequence(0, size({toks}) - {n}), "
        f"i -> struct(array_join(slice({toks}, i + 1, {n}), ' ') AS g, "
        f"CAST(i AS BIGINT) AS p))))"
    )


def _top_fold(sp: str) -> str:
    """SQL: run-length fold over the gram-sorted struct column ``sp`` →
    struct(best gram, bestrun). Equal grams are adjacent after the sort,
    so the most frequent gram is the longest run; strict `>` keeps the
    FIRST maximal run = the lexicographically smallest winner."""
    return (
        f"aggregate({sp}, "
        f"named_struct('prev', '', 'run', 0L, 'best', '', 'bestrun', 0L), "
        f"(acc, x) -> named_struct("
        f"  'prev', x.g, "
        f"  'run', IF(x.g = acc.prev, acc.run + 1L, 1L), "
        f"  'best', IF(IF(x.g = acc.prev, acc.run + 1L, 1L) > acc.bestrun, x.g, acc.best), "
        f"  'bestrun', greatest(IF(x.g = acc.prev, acc.run + 1L, 1L), acc.bestrun)))"
    )


def _dup_positions(sp: str) -> str:
    """SQL: ascending start positions of grams occurring >= 2x, read off
    the gram-sorted struct column ``sp``: element j is duplicated iff its
    gram equals a neighbor's in sorted order. element_at on a column
    attribute is O(1) per probe — no per-element recomputation."""
    return (
        f"IF(size({sp}) < 1, CAST(array() AS array<bigint>), "
        f"array_sort(filter(transform(sequence(1, size({sp})), "
        f"j -> IF((j > 1 AND element_at({sp}, j).g = element_at({sp}, j - 1).g) "
        f"     OR (j < size({sp}) AND element_at({sp}, j).g = element_at({sp}, j + 1).g), "
        f"element_at({sp}, j).p, NULL)), x -> x IS NOT NULL)))"
    )


def _char_covered_fold(dp: str, toks: str, n: int) -> str:
    """SQL: CHARACTERS covered by the union of occurrences [p, p+n-1]
    over the ascending duplicated start positions in COLUMN ``dp`` —
    overlap counted once, inter-token spaces counted when inside an
    occurrence's span (abutting occurrences do NOT cover the space
    between them). One linear fold over every token position ``j``:
    ``acc.k`` merge-walks ``dp`` (both ascend, so the probe is O(1)
    ``element_at``), ``acc.e`` is the running covered end in token
    coordinates, and the space before token ``j`` is covered exactly
    when the PRE-update ``acc.e`` already reaches ``j`` (some start
    <= j-1 spans both j-1 and j). ``dp`` and ``toks`` MUST be
    materialized columns — both are probed inside the lambda, and an
    inline expression would re-evaluate per element (module header)."""
    is_start = f"(IF(acc.k <= size({dp}), element_at({dp}, acc.k), -2L) = CAST(j AS BIGINT))"
    e_new = f"IF({is_start}, greatest(acc.e, CAST(j AS BIGINT) + {n - 1}L), acc.e)"
    return (
        f"aggregate(sequence(0, size({toks}) - 1), "
        f"named_struct('k', 1, 'e', -1L, 'chars', 0L), "
        f"(acc, j) -> named_struct("
        f"  'k', acc.k + IF({is_start}, 1, 0), "
        f"  'e', {e_new}, "
        f"  'chars', acc.chars "
        f"    + IF(acc.e >= CAST(j AS BIGINT), 1L, 0L) "
        f"    + IF({e_new} >= CAST(j AS BIGINT), "
        f"         CAST(length(element_at({toks}, j + 1)) AS BIGINT), 0L))"
        f").chars"
    )


def _dup_run_folds(srt: str) -> tuple[str, str]:
    """SQL: (duplicate count, duplicate chars) read off the SORTED nonempty
    segment array COLUMN ``srt``: equal segments are adjacent after the
    sort, so every position j >= 2 matching its predecessor is an
    occurrence AFTER the first (set semantics). element_at probes on a
    column attribute are O(1) — the module-header HOF discipline."""
    dup = f"element_at({srt}, j) = element_at({srt}, j - 1)"
    cnt = (
        f"IF(size({srt}) < 2, 0L, aggregate(sequence(2, size({srt})), 0L, "
        f"(acc, j) -> acc + IF({dup}, 1L, 0L)))"
    )
    chars = (
        f"IF(size({srt}) < 2, 0L, aggregate(sequence(2, size({srt})), 0L, "
        f"(acc, j) -> acc + IF({dup}, "
        f"CAST(length(element_at({srt}, j)) AS BIGINT), 0L)))"
    )
    return cnt, chars


def add_gopher_line_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add the Gopher line/paragraph duplicate block (Rae 2021 table A1,
    the rules :func:`add_gopher_features` does not cover):
    ``dup_line_frac_micro`` / ``dup_para_frac_micro`` (duplicate segments
    over total segments) and ``dup_line_char_micro`` /
    ``dup_para_char_micro`` (duplicate segment chars over total document
    chars), plus the published-threshold verdict ``gopher_line_keep``
    (frac <= 30%, char frac <= 20%, all four). Lines split on single
    newlines, paragraphs on runs of 2+ newlines; empty segments excluded
    on both granularities. Two narrow projections, zero shuffle."""
    segs = {
        "line": (f"__gopher_lnsrt_{text_col}", r"\n"),
        "para": (f"__gopher_pgsrt_{text_col}", r"\n{2,}"),
    }
    # ONE batched withColumns (r15): every chained withColumn runs the
    # analyzer over the whole accumulated plan — batching the independent
    # helper columns into one call halves the per-build analysis passes
    out = df.withColumns(
        {
            col: F.array_sort(
                F.filter(F.split(F.col(text_col), pat), lambda x: x != F.lit(""))
            )
            for col, pat in segs.values()
        }
    )
    feats: dict[str, F.Column] = {}
    keep = F.lit(True)
    thresholds = {
        ("line", "frac"): DUP_LINE_FRAC_MAX_MICRO,
        ("para", "frac"): DUP_PARA_FRAC_MAX_MICRO,
        ("line", "char"): DUP_LINE_CHAR_MAX_MICRO,
        ("para", "char"): DUP_PARA_CHAR_MAX_MICRO,
    }
    for kind, (col, _pat) in segs.items():
        cnt, chars = _dup_run_folds(col)
        frac = F.expr(f"{cnt} * 1000000L DIV greatest(size({col}), 1)")
        char = F.expr(
            f"{chars} * 1000000L DIV greatest(CAST(length({text_col}) AS BIGINT), 1L)"
        )
        feats[f"dup_{kind}_frac_micro"] = frac
        feats[f"dup_{kind}_char_micro"] = char
        keep = (
            keep
            & (frac <= F.lit(thresholds[(kind, "frac")]))
            & (char <= F.lit(thresholds[(kind, "char")]))
        )
    feats["gopher_line_keep"] = keep
    return out.select(
        *[F.col(c) for c in df.columns],
        *[
            feats[k].alias(k)
            for k in (
                "dup_line_frac_micro",
                "dup_para_frac_micro",
                "dup_line_char_micro",
                "dup_para_char_micro",
                "gopher_line_keep",
            )
        ],
    )


def add_gopher_features(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """Add the repetition feature block to ``df``: ``top{n}_frac_micro``
    (BIGINT micro-fraction of characters covered by the most frequent
    ``n``-gram, 0 unless it repeats) for each ``top_ns``,
    ``dup{n}_cov_micro`` (BIGINT micro-fraction of CHARACTERS under any
    duplicated ``n``-gram occurrence, overlap once) for each ``dup_ns``,
    and the
    combined published-threshold verdict ``gopher_keep``. Three chained
    narrow projections (tokens → sorted gram arrays → folds); helper
    columns are dropped."""
    toks = "__gopher_toks"
    # batched withColumns per dependency tier (r15): toks → sorted-gram
    # arrays → (top folds + dup-start arrays) → features. Each chained
    # withColumn re-ran the analyzer over the growing plan (11 passes per
    # build); three tiered calls build the identical columns in 3.
    out = df.withColumn(toks, F.expr(f"split({text_col}, ' ')"))
    sp_cols = {
        n: f"__gopher_sp{n}" for n in sorted(set(top_ns) | set(dup_ns))
    }
    out = out.withColumns(
        {col: F.expr(_sorted_grams(toks, n)) for n, col in sp_cols.items()}
    )
    # materialize each top fold as its own column: the feature arithmetic
    # references it three times, and an inline fold would run three times
    # per row (HOFs are interpreted — nothing deduplicates them); the
    # dup-start arrays likewise must be column attributes (the char fold
    # probes them inside its lambda)
    tf_cols = {n: f"__gopher_tf{n}" for n in top_ns}
    dp_cols = {n: f"__gopher_dp{n}" for n in dup_ns}
    out = out.withColumns(
        {
            **{tf_cols[n]: F.expr(_top_fold(sp_cols[n])) for n in top_ns},
            **{dp_cols[n]: F.expr(_dup_positions(sp_cols[n])) for n in dup_ns},
        }
    )

    feats: dict[str, F.Column] = {}
    keep = F.lit(True)
    for n in top_ns:
        fold = tf_cols[n]
        c = F.expr(
            f"CASE WHEN size({toks}) < {n} OR {fold}.bestrun < 2 THEN 0L ELSE "
            f"{fold}.bestrun * CAST(length({fold}.best) AS BIGINT) * 1000000L "
            f"DIV greatest(CAST(length({text_col}) AS BIGINT), 1L) END"
        )
        feats[f"top{n}_frac_micro"] = c
        keep = keep & (c <= F.lit(TOP_NGRAM_MAX_MICRO[n]))
    for n in dup_ns:
        dp_col = dp_cols[n]
        c = F.expr(
            f"CASE WHEN size({toks}) < {max(n, 2)} THEN 0L ELSE "
            f"{_char_covered_fold(dp_col, toks, n)} * 1000000L "
            f"DIV greatest(CAST(length({text_col}) AS BIGINT), 1L) END"
        )
        feats[f"dup{n}_cov_micro"] = c
        keep = keep & (c <= F.lit(DUP_NGRAM_MAX_MICRO[n]))
    feats["gopher_keep"] = keep

    out = out.select(
        *[F.col(c) for c in df.columns],
        *[c.alias(k) for k, c in feats.items()],
    )
    return out
