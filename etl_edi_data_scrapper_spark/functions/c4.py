"""C4 line-level cleaning rules (Raffel et al. 2020, "Exploring the
Limits of Transfer Learning...", §2.2 — the public C4 recipe). The
line/page rules, as published:

  * keep only lines ending in a terminal punctuation mark
    (period, exclamation mark, question mark, end quotation mark);
  * keep only lines with at least ``min_words`` words (paper: 3);
  * drop any line containing the word "javascript" (case-insensitive);
  * drop any line carrying a cookie/policy boilerplate phrase (the
    "terms of use" / "privacy policy" family — the public C4 code's
    policy-line rule);
  * drop any PAGE containing "lorem ipsum" (case-insensitive);
  * drop any PAGE containing a curly bracket ``{``;
  * drop any PAGE with fewer than ``min_sentences`` kept lines
    (paper: 5 sentences; this implementation counts KEPT LINES as the
    sentence proxy — C4's own line-keep rule makes a kept line ≈ one
    terminal-punctuated sentence, and the proxy keeps both engines
    integer-exact).

Each line is whitespace-STRIPPED (``[ \\t\\r]`` both ends) before the
rules run and in the cleaned output — the published C4 implementation
strips lines first, and without it real-world ``\\r\\n`` endings or
trailing spaces fail the terminal-punctuation regex on every line
(silently rejecting whole pages); Java ``rlike '$'`` also matches
before a trailing ``\\r`` while RE2 does not, so unstripped input can
even make engines disagree. The stripping is part of the recipe and is
mirrored in the DuckDB oracle and the test model.

The paper's bad-words page rule (the "List of Dirty, Naughty ..."
blocklist) ships as :func:`add_c4_badwords` with a small PLACEHOLDER
list — the list itself is the rule; swap in the published blocklist
(or any per-deployment list) via ``words=``.

Shape: everything is a per-row array filter over a materialized lines
column — zero shuffle, zero Python, pipelines with the scan exactly
like `gopher.py` (and follows the same HOF discipline: the lines array
is a real column; lambda bodies touch only their own variables).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TERMINAL_PUNCT_RE = '[.!?"]$'
POLICY_PHRASES = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
)

# PLACEHOLDER blocklist for the paper's bad-words page rule (Raffel 2020
# §2.2 drops any page containing a word from the published "List of
# Dirty, Naughty, Obscene or Otherwise Bad Words"). The list itself IS
# the rule: these neutral stand-ins keep the repo clean while the
# operator shape — and the CLI's --blocklist PATH hook — is real; swap
# in the published list (or any per-deployment one) via ``words=``.
C4_BADWORDS_PLACEHOLDER = ("badword", "obscenity", "profanity", "slurword")

# strip punctuation hugging a token before blocklist comparison, so
# 'badword.' and '(badword' match — the published filter matches on word
# boundaries, not raw whitespace tokens. RE2-safe for the DuckDB oracle.
_TOKEN_TRIM_RE = "^[^a-z0-9]+|[^a-z0-9]+$"


def add_c4_badwords(
    df: DataFrame,
    text_col: str = "text",
    words: tuple[str, ...] = C4_BADWORDS_PLACEHOLDER,
) -> DataFrame:
    """The bad-words page rule: ``c4_badword_hits`` (# tokens on the
    blocklist, case-insensitive, punctuation-trimmed) and the page
    verdict ``c4_badwords_keep`` (no hits). One narrow projection — the
    blocklist rides the plan as an array literal (the published list is
    a few KB; for an unbounded per-deployment list, explode tokens and
    broadcast-semi-join instead — same verdict, one extra shuffle)."""
    # \s+, not [ \n]+: the published filter splits on ALL whitespace —
    # 'foo\tbadword' must match the blocklist (RE2-safe; the DuckDB
    # oracle runs the identical pattern)
    toks = F.split(F.lower(F.col(text_col)), "\\s+")
    from etl_edi_data_scrapper_spark.functions.hashing import str_array_sql

    arr = F.expr(str_array_sql(w.lower() for w in words))
    hits = F.size(
        F.filter(
            toks,
            lambda t: F.array_contains(arr, F.regexp_replace(t, _TOKEN_TRIM_RE, "")),
        )
    )
    return df.select(
        "*",
        hits.cast("long").alias("c4_badword_hits"),
        (hits == 0).alias("c4_badwords_keep"),
    )

# strip [ \t\r] at either end of each line (NOT \n — lines are already
# newline-split); RE2-safe so the DuckDB oracle runs the identical pattern
LINE_STRIP_RE = r"^[ \t\r]+|[ \t\r]+$"


def _strip_line(x: Column) -> Column:
    return F.regexp_replace(x, LINE_STRIP_RE, "")


def _line_kept(x: Column, min_words: int) -> Column:
    low = F.lower(x)
    cond = (
        x.rlike(TERMINAL_PUNCT_RE)
        & (F.size(F.split(x, " ")) >= min_words)
        & ~low.contains("javascript")
    )
    for phrase in POLICY_PHRASES:
        cond = cond & ~low.contains(phrase)
    return cond


def add_c4_features(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """Add the C4 cleaning block to ``df``: ``c4_n_lines`` (total lines),
    ``c4_n_kept`` (lines surviving the line rules), ``c4_clean_text``
    (kept lines — stripped, per the recipe — re-joined with newlines),
    and the page verdict ``c4_keep`` (no lorem ipsum, no curly bracket,
    ≥ ``min_sentences`` kept lines). Lines are ``[ \\t\\r]``-stripped
    before the rules (see module docs). Two narrow projections, zero
    shuffle."""
    lines_col = f"__c4_lines_{text_col}"
    kept_col = f"__c4_kept_{text_col}"
    out = (
        df.withColumn(
            lines_col,
            F.transform(F.split(F.col(text_col), r"\n"), _strip_line),
        )
        .withColumn(
            kept_col,
            F.filter(F.col(lines_col), lambda x: _line_kept(x, min_words)),
        )
    )
    low_page = F.lower(F.col(text_col))
    keep = (
        ~low_page.contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
        & (F.size(F.col(kept_col)) >= min_sentences)
    )
    return out.select(
        *[F.col(c) for c in df.columns],
        F.size(F.col(lines_col)).cast("long").alias("c4_n_lines"),
        F.size(F.col(kept_col)).cast("long").alias("c4_n_kept"),
        keep.alias("c4_keep"),
        F.array_join(F.col(kept_col), "\n").alias("c4_clean_text"),
    )
