"""Cross-document duplicate-SPAN removal (the C4 / "ExactSubstr-lite"
cleanup): boilerplate passages — license headers, navigation chrome,
quoted templates — repeat verbatim across otherwise-distinct documents,
and document-level dedup never sees them. The C4 pipeline drops any
three-sentence span occurring more than once in the corpus; this module
is the same policy over fixed-width word spans (the synthetic corpus has
no sentence punctuation): every occurrence of a duplicated span except
the FIRST (smallest (doc_id, span_pos)) is cut out of its document.

Scale shape — the thing to get right at 100 TB:
  * spans are derived twice from the source text by the same narrow
    projection rather than carried through the shuffle: the wide
    span-occurrence join moves ONLY (16-byte md5, doc_id, pos) rows,
    never text;
  * the cut-list (positions to drop, per document) is aggregated to one
    array row per affected document — affected docs are the minority, so
    the join back to the corpus is small-side (AQE broadcasts it when it
    fits) and the text itself is shuffled at most once;
  * the rebuild is a single JVM lambda projection (filter spans by
    dropped index, flatten, join with spaces) — no Python, no second
    shuffle.

Determinism: ownership is min(struct(doc_id, pos)) — total order, no
ties; output text depends only on data, not partitioning.

Stride alignment (the honest limit, and its r7 mitigation): one pass sees
only spans starting at multiples of ``width``, so boilerplate at a
shifted offset in some documents escapes. :func:`dedup_spans_multi` runs
the SAME pass sequentially at several grid offsets (default 0 and
width/2), each pass re-cutting the previous pass's cleaned text — a
cheap middle ground short of suffix-array ExactSubstr: per pass still
only (md5, doc_id, pos) through the wide shuffle, and K passes cost K
linear pipelines, not K× the text volume. A grid at offset o only
matches occurrences sitting at residue o mod width in BOTH documents —
a duplicate whose copies start at DIFFERENT residues escapes every grid
union. :func:`dedup_spans_sliding` (r7) closes that last gap for a fixed
minimum length: stride-1 windows catch shared passages at ANY offset
pair, at width× the shuffle rows — the ladder is grid (cheapest) →
multi-offset grid → sliding (positional invariance) →
:func:`exact_substr_dedup` (r9, the top of the ladder): variable
MINIMUM length (``min_len`` is the parameter, so matches shorter than
any fixed production width — e.g. a 5-token quote the width-8 sliding
pass provably leaves — are in reach), plus suffix-grouped MAXIMAL-run
output: consecutive duplicated window positions merge into one
(start, length) span per shared substring, which is what Lee et al.
2022's suffix-array ExactSubstr reports, obtained here from the same
sorted (hash, doc, pos) relation with a gaps-and-islands walk — no
suffix array object, no Python.

The ladder top is not an approximation (r13): the windowed form's cut
coverage EQUALS true variable-length suffix-array semantics ("cut
every token covered by a duplicated substring of ≥ min_len tokens
whose occurrence is not the corpus-first"). Proof sketch: a non-first
window is itself a non-first length-min_len occurrence; conversely any
non-first occurrence (d, s, L) covering token i contains a window
(d, q) covering i whose content recurs at the owner's matching offset,
and (d0, s0) < (d, s) ⇒ (d0, s0+(q−s)) < (d, q), so that window is
non-first too. Pinned against an independent all-substrings
brute-force reference in
`tests/test_span_splits.py::test_exact_substr_coverage_equals_suffix_array_semantics`.
Overlapping maximal matches merge across width boundaries in the one
pass via the islands walk (reported as one covering span; the CUT is
identical either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _span_expr(text_col: str, width: int, offset: int = 0) -> str:
    """SQL expr producing the array of space-joined word spans of
    ``width`` tokens starting at token ``offset`` (last span may be
    shorter; tokens before ``offset`` belong to no span). A document
    shorter than ``offset`` yields one empty span — callers exclude
    ``span = ''`` from hashing AND rebuilding, so it is inert."""
    return (
        f"transform(sequence(0, greatest(size(split({text_col}, ' ')) - {offset} - 1, 0) DIV {width}), "
        f"i -> array_join(slice(split({text_col}, ' '), {offset} + i * {width} + 1, {width}), ' '))"
    )


def sliding_window_expr(text_col: str, width: int) -> str:
    """THE stride-1 window convention, defined once: every ``width``-token
    window at every offset; a document shorter than ``width`` forms one
    (short) whole-doc window. Shared by the sliding/ExactSubstr family
    here and the bloom contamination screen (`functions/bloom.py` aliases
    it) so the windowing rule cannot silently diverge between operators."""
    return (
        f"transform(sequence(0, greatest(size(split({text_col}, ' ')) - {width}, 0)), "
        f"i -> array_join(slice(split({text_col}, ' '), i + 1, {width}), ' '))"
    )


def dedup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    offset: int = 0,
) -> DataFrame:
    """Remove every repeated occurrence of any ``width``-word span that
    appears more than once corpus-wide, keeping the first (smallest
    (doc_id, pos)) occurrence in place. ``offset`` shifts the span grid:
    spans cover tokens [offset + p·width, offset + (p+1)·width); the
    leading ``offset`` tokens are preserved verbatim.

    Returns one row per input document: ``id_col``, ``n_spans``,
    ``n_spans_dropped``, ``clean_text`` (the document with dropped spans
    cut out; documents with no duplicated spans round-trip unchanged).
    """
    spans = docs.select(
        F.col(id_col),
        F.posexplode(F.expr(_span_expr(text_col, width, offset))).alias("pos", "span"),
    )
    # occurrence table: hash + coordinates only — text never shuffles
    # here. Empty spans (doc shorter than offset) carry no text and must
    # not participate in ownership: md5('') collides corpus-wide.
    occ = spans.filter(F.col("span") != "").select(
        id_col, "pos", F.md5(F.col("span")).alias("h")
    )
    owners = occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first_occ"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    drops = (
        occ.join(owners, "h")
        .filter(
            (F.col("n_occ") > 1)
            & (
                (F.col(id_col) != F.col(f"first_occ.{id_col}"))
                | (F.col("pos") != F.col("first_occ.pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__drop_pos"))
    )
    kept_body = F.array_join(
        F.filter(
            "__spans",
            lambda s, i: (s != "") & ~F.array_contains(F.col("__drop_pos"), i),
        ),
        " ",
    )
    if offset == 0:
        rebuilt_text = kept_body
    else:
        prefix = F.array_join(
            F.slice(F.split(F.col(text_col), " "), 1, offset), " "
        )
        rebuilt_text = F.when(prefix == "", kept_body).otherwise(
            F.when(kept_body == "", prefix).otherwise(
                F.concat(prefix, F.lit(" "), kept_body)
            )
        )
    rebuilt = (
        docs.join(drops, id_col, "left")
        .withColumn("__spans", F.expr(_span_expr(text_col, width, offset)))
        .select(
            F.col(id_col),
            F.size("__spans").alias("n_spans"),
            # size(NULL) is -1 under non-ANSI Spark (never null), so guard
            # explicitly rather than coalescing
            F.when(F.col("__drop_pos").isNull(), F.lit(0))
            .otherwise(F.size("__drop_pos"))
            .alias("n_spans_dropped"),
            F.when(F.col("__drop_pos").isNull(), F.col(text_col))
            .otherwise(rebuilt_text)
            .alias("clean_text"),
        )
    )
    return rebuilt


def dedup_spans_multi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    offsets: tuple[int, ...] | None = None,
) -> DataFrame:
    """Sequential multi-offset span dedup: pass k re-runs
    :func:`dedup_spans` on pass k−1's cleaned text with grid offset
    ``offsets[k]`` — catching boilerplate that sits at a shifted position
    in some documents (the single-grid pass's documented miss).

    Default offsets: (0, width//2). Returns ``id_col``, ``n_spans`` (the
    FIRST pass's grid size — comparable to the single-pass contract),
    ``n_spans_dropped`` (total across all passes), ``clean_text`` (after
    the last pass). Each pass keeps the proven scale shape; K passes are
    K chained linear pipelines over shrinking text."""
    if offsets is None:
        offsets = (0, width // 2)
    cur = docs.select(F.col(id_col), F.col(text_col).alias("__t"))
    acc = None
    for k, off in enumerate(offsets):
        out = dedup_spans(cur, id_col=id_col, text_col="__t", width=width, offset=off)
        # each pass consumes its input TWICE (occurrence table + rebuild)
        # and the next pass consumes this pass twice more — without a
        # lineage cut pass k re-executes pass k−1's whole pipeline ~3×
        out = out.localCheckpoint(eager=False)
        cur = out.select(F.col(id_col), F.col("clean_text").alias("__t"))
        if acc is None:
            acc = out.select(
                id_col, "n_spans", F.col("n_spans_dropped").alias("__d")
            )
        else:
            acc = acc.join(
                out.select(id_col, F.col("n_spans_dropped").alias(f"__d{k}")),
                id_col,
            ).select(
                id_col,
                "n_spans",
                (F.col("__d") + F.col(f"__d{k}")).alias("__d"),
            )
    return acc.join(cur, id_col).select(
        id_col,
        "n_spans",
        F.col("__d").alias("n_spans_dropped"),
        F.col("__t").alias("clean_text"),
    )


def dedup_spans_sliding(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> DataFrame:
    """POSITION-INVARIANT duplicate-span removal — the stride-1 member of
    the family, and the fixed-minimum-length analogue of suffix-array
    ExactSubstr (Lee et al. 2022): EVERY ``width``-token sliding window
    (stride 1, any offset) that occurs more than once corpus-wide is cut
    from every occurrence except the first (min (doc_id, pos)); a token is
    dropped when ANY dropped window covers it. Any shared passage of ≥
    ``width`` tokens therefore vanishes from non-first occurrences at
    whatever offset it sits — the cross-residue duplicates the grid-based
    :func:`dedup_spans_multi` documents as out of reach.

    Cost model vs the grid passes: the wide shuffle still carries ONLY
    (16-byte md5, doc_id, pos) rows, but one per TOKEN instead of one per
    ``width`` tokens — ~width× the rows. That is the price of positional
    invariance; text still moves at most once (per-doc drop-position
    arrays, one array row per affected doc). Ownership of overlapping
    windows is per-window, so a passage shared by 3+ documents may be
    partially retained where different windows' first occurrences land in
    different docs — deterministic (total (doc_id, pos) order), the same
    raggedness C4's span rule accepts.

    Returns one row per document: ``id_col``, n_tokens,
    n_tokens_dropped, clean_text. Docs shorter than ``width`` form one
    whole-doc window (consistent with the grid variants' short-span rule).
    """
    t = F.split(F.col(text_col), " ")
    wins = sliding_window_expr(text_col, width)
    occ = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.expr(wins)).alias("pos", "win"),
        )
        # same empty-span discipline as dedup_spans/scrub_benchmark_spans:
        # md5('') collides corpus-wide, so empty-text docs would all
        # cross-match and every empty doc after the first would book a
        # phantom n_tokens_dropped=1 (r8, advisor finding)
        .filter(F.col("win") != "")
        .select(id_col, "pos", F.md5(F.col("win")).alias("h"))
    )
    owners = occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first_occ"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    drops = (
        occ.join(owners, "h")
        .filter(
            (F.col("n_occ") > 1)
            & (
                (F.col(id_col) != F.col(f"first_occ.{id_col}"))
                | (F.col("pos") != F.col("first_occ.pos"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__dp"))
    )
    kept = F.filter(
        t,
        lambda _tok, i: ~F.exists(
            F.col("__dp"), lambda p: (p <= i) & (i < p + width)
        ),
    )
    return (
        docs.join(drops, id_col, "left")
        .select(
            F.col(id_col),
            F.size(t).alias("n_tokens"),
            F.when(F.col("__dp").isNull(), F.lit(0))
            .otherwise(F.size(t) - F.size(kept))
            .alias("n_tokens_dropped"),
            F.when(F.col("__dp").isNull(), F.col(text_col))
            .otherwise(F.array_join(kept, " "))
            .alias("clean_text"),
        )
    )


def _dropped_window_runs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int,
) -> DataFrame:
    """(id_col, span_start, n_windows) — maximal runs of CONSECUTIVE
    duplicated-window positions whose occurrence is not the corpus-wide
    first (min (doc_id, pos)). The shared machinery of the ExactSubstr
    pair: every stride-1 ``min_len``-token window is hashed (the wide
    shuffle carries only (16-byte md5, doc_id, pos)); non-first
    occurrences of repeated hashes become drop positions; a
    gaps-and-islands walk (pos − row_number over (doc, pos-order) is
    constant within a run) merges them into maximal runs. A maximal
    shared substring of L ≥ min_len tokens appears as exactly the run of
    its L − min_len + 1 sub-windows, so ``n_windows + min_len − 1`` is
    the substring length. The islands window partitions by DOCUMENT over
    only the DROPPED positions (the minority) — not a corpus-wide sort.

    Unlike the sliding pass (which keeps its whole-doc-window convention
    for short docs), windows SHORTER than ``min_len`` are excluded here:
    the ExactSubstr contract is "matches of ≥ min_len tokens", so a
    3-token doc must never be cut (or reported as an impossible
    min_len-token span) just because another 3-token doc matches it."""
    wins = sliding_window_expr(text_col, min_len)
    occ = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.expr(wins)).alias("pos", "win"),
        )
        .filter(F.col("win") != "")  # md5('') collides corpus-wide
        # short-doc whole-doc windows carry < min_len tokens: below the
        # contract's minimum match length, so not candidates at all
        .filter(F.size(F.split(F.col("win"), " ")) >= min_len)
        .select(id_col, "pos", F.md5(F.col("win")).alias("h"))
    )
    owners = occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first_occ"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    drops = occ.join(owners, "h").filter(
        (F.col("n_occ") > 1)
        & (
            (F.col(id_col) != F.col(f"first_occ.{id_col}"))
            | (F.col("pos") != F.col("first_occ.pos"))
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        drops.select(id_col, "pos")
        .withColumn("__isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("__isl")
    )


def exact_substr_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
) -> DataFrame:
    """Variable-minimum-length any-offset substring dedup — the top of
    the span-dedup ladder (Lee et al. 2022's ExactSubstr policy at token
    granularity): every maximal substring of ≥ ``min_len`` tokens whose
    occurrence is not the corpus-wide first is CUT AS A UNIT. The cut
    set equals the sliding pass at width = min_len (a run's coverage is
    exactly the union of its windows' coverage — pinned by test), but
    the per-document cut list is one (start, end) struct per maximal
    run instead of one entry per window position: for boilerplate-heavy
    documents at 100 TB that is the difference between an O(dropped
    tokens) and an O(shared passages) array riding the text join.

    Returns (id_col, n_tokens, n_spans_cut, n_tokens_cut, clean_text).
    """
    runs = _dropped_window_runs(docs, id_col, text_col, min_len)
    cuts = runs.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("n_windows") + F.lit(min_len - 1)).alias("e"),
            )
        ).alias("__runs"),
        F.count(F.lit(1)).alias("n_spans_cut"),
    )
    t = F.split(F.col(text_col), " ")
    kept = F.filter(
        t,
        lambda _tok, i: ~F.exists(
            F.col("__runs"), lambda r: (r["s"] <= i) & (i < r["e"])
        ),
    )
    return (
        docs.join(cuts, id_col, "left")
        .select(
            F.col(id_col),
            F.size(t).cast("long").alias("n_tokens"),
            F.coalesce("n_spans_cut", F.lit(0)).cast("long").alias("n_spans_cut"),
            F.when(F.col("__runs").isNull(), F.lit(0))
            .otherwise(F.size(t) - F.size(kept))
            .cast("long")
            .alias("n_tokens_cut"),
            F.when(F.col("__runs").isNull(), F.col(text_col))
            .otherwise(F.array_join(kept, " "))
            .alias("clean_text"),
        )
    )


def exact_substr_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
    extra_ctes: str = "",
) -> str:
    """DuckDB replica of :func:`exact_substr_dedup`: stride-1 windows,
    first-occurrence ownership, gaps-and-islands run merge, range-covered
    token rebuild (1-based list indices: token i is cut iff some run
    [s, e) satisfies s + 1 ≤ i ≤ e). ``extra_ctes`` (trailing comma
    included by the caller) lets a caller synthesize ``table``."""
    return f"""
    WITH {extra_ctes}est AS (
      SELECT {id_col}, {text_col} AS __text,
             string_split({text_col}, ' ') AS t
      FROM {table}),
    eswin AS (
      SELECT {id_col}, pos,
             array_to_string(list_slice(t, pos + 1, pos + {min_len}), ' ') AS win
      FROM (SELECT {id_col}, t,
                   unnest(range(0, greatest(len(t) - {min_len}, 0) + 1)) AS pos
            FROM est)),
    esocc AS (
      SELECT {id_col}, pos,
             count(*) OVER (PARTITION BY md5(win)) AS n_occ,
             row_number() OVER (PARTITION BY md5(win)
                                ORDER BY {id_col}, pos) AS rn
      FROM eswin
      WHERE win <> '' AND len(string_split(win, ' ')) >= {min_len}),
    esdrop AS (
      SELECT {id_col}, pos,
             pos - row_number() OVER (PARTITION BY {id_col} ORDER BY pos) AS isl
      FROM esocc WHERE n_occ > 1 AND rn > 1),
    esruns AS (
      SELECT {id_col},
             min(pos) AS s,
             min(pos) + count(*) + {min_len} - 1 AS e
      FROM esdrop GROUP BY {id_col}, isl),
    escut AS (
      SELECT {id_col},
             list(struct_pack(s := s, e := e)) AS runs,
             count(*) AS n_spans_cut
      FROM esruns GROUP BY {id_col})
    SELECT d.{id_col},
           CAST(len(d.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.n_spans_cut, 0) AS BIGINT) AS n_spans_cut,
           CASE WHEN c.runs IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(len(d.t) - len(list_filter(d.t,
                       (x, i) -> len(list_filter(c.runs,
                           r -> r.s + 1 <= i AND i <= r.e)) = 0))
                     AS BIGINT) END AS n_tokens_cut,
           CASE WHEN c.runs IS NULL THEN d.__text
                ELSE coalesce(array_to_string(list_filter(d.t,
                       (x, i) -> len(list_filter(c.runs,
                           r -> r.s + 1 <= i AND i <= r.e)) = 0), ' '), '')
                END AS clean_text
    FROM est d LEFT JOIN escut c USING ({id_col})
    """


def span_dedup_sliding_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> str:
    """DuckDB replica of :func:`dedup_spans_sliding`: same stride-1
    windows, per-window first-occurrence ownership, and covered-token
    rebuild (1-based list indices: token i is dropped iff some dropped
    0-based window start p satisfies p+1 ≤ i ≤ p+width)."""
    return f"""
    WITH slt AS (
      SELECT {id_col}, {text_col} AS __text,
             string_split({text_col}, ' ') AS t
      FROM {table}),
    slwin AS (
      SELECT {id_col}, pos,
             array_to_string(list_slice(t, pos + 1, pos + {width}), ' ') AS win
      FROM (SELECT {id_col}, t,
                   unnest(range(0, greatest(len(t) - {width}, 0) + 1)) AS pos
            FROM slt)),
    slocc AS (
      SELECT {id_col}, pos,
             count(*) OVER (PARTITION BY md5(win)) AS n_occ,
             row_number() OVER (PARTITION BY md5(win)
                                ORDER BY {id_col}, pos) AS rn
      FROM slwin WHERE win <> ''),
    sldrops AS (
      SELECT {id_col}, list(pos) AS dp
      FROM slocc WHERE n_occ > 1 AND rn > 1 GROUP BY {id_col})
    SELECT s.{id_col},
           CAST(len(s.t) AS BIGINT) AS n_tokens,
           CASE WHEN d.dp IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(len(s.t) - len(list_filter(s.t,
                       (x, i) -> len(list_filter(d.dp,
                           p -> p + 1 <= i AND i <= p + {width})) = 0))
                     AS BIGINT) END AS n_tokens_dropped,
           CASE WHEN d.dp IS NULL THEN s.__text
                ELSE coalesce(array_to_string(list_filter(s.t,
                       (x, i) -> len(list_filter(d.dp,
                           p -> p + 1 <= i AND i <= p + {width})) = 0), ' '), '')
                END AS clean_text
    FROM slt s LEFT JOIN sldrops d USING ({id_col})
    """


def _span_pass_ctes(
    prefix: str,
    src: str,
    id_col: str,
    text_col: str,
    width: int,
    offset: int,
) -> str:
    """One dedup pass as a chain of CTEs ending in ``{prefix}out``
    (``id_col``, n_spans, n_spans_dropped, text) — DuckDB replica of
    :func:`dedup_spans` with the same grid offset, empty-span exclusion
    and prefix-preserving rebuild."""
    pref = f"array_to_string(list_slice(t.t, 1, {offset}), ' ')"
    if offset == 0:
        clean = "coalesce(r.body, '')"
    else:
        clean = f"""CASE WHEN {pref} = '' THEN coalesce(r.body, '')
                 WHEN r.body IS NULL OR r.body = '' THEN {pref}
                 ELSE {pref} || ' ' || r.body END"""
    return f"""
    {prefix}tok AS (
      SELECT {id_col}, {text_col} AS __text,
             string_split({text_col}, ' ') AS t
      FROM {src}),
    {prefix}spans AS (
      SELECT {id_col}, pos,
             array_to_string(list_slice(t, {offset} + pos * {width} + 1,
                                        {offset} + pos * {width} + {width}), ' ') AS span
      FROM (SELECT {id_col}, t,
                   unnest(range(0, (greatest(len(t) - {offset} - 1, 0) // {width}) + 1)) AS pos
            FROM {prefix}tok)),
    {prefix}occ AS (
      SELECT {id_col}, pos,
             count(*) OVER (PARTITION BY md5(span)) AS n_occ,
             row_number() OVER (PARTITION BY md5(span)
                                ORDER BY {id_col}, pos) AS rn
      FROM {prefix}spans WHERE span != ''),
    {prefix}drops AS (
      SELECT {id_col}, list(pos) AS dp
      FROM {prefix}occ WHERE n_occ > 1 AND rn > 1 GROUP BY {id_col}),
    {prefix}rebuilt AS (
      SELECT s.{id_col},
             string_agg(s.span, ' ' ORDER BY s.pos)
               FILTER (WHERE s.span != ''
                       AND (d.dp IS NULL OR NOT list_contains(d.dp, s.pos))) AS body,
             count(*) AS n_spans
      FROM {prefix}spans s LEFT JOIN {prefix}drops d USING ({id_col})
      GROUP BY s.{id_col}),
    {prefix}out AS (
      SELECT t.{id_col},
             CAST(r.n_spans AS BIGINT) AS n_spans,
             CAST(coalesce(len(d.dp), 0) AS BIGINT) AS n_spans_dropped,
             CASE WHEN d.dp IS NULL THEN t.__text
                  ELSE {clean} END AS text
      FROM {prefix}tok t
      JOIN {prefix}rebuilt r USING ({id_col})
      LEFT JOIN {prefix}drops d USING ({id_col}))"""


def span_dedup_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    offset: int = 0,
    hex_word_sql=None,
) -> str:
    """DuckDB oracle for :func:`dedup_spans` — same span windows, same
    first-occurrence ownership, same rebuild, expressed over list
    functions and one window. Column names match the Spark side."""
    return f"""
    WITH {_span_pass_ctes("sp0", table, id_col, text_col, width, offset)}
    SELECT {id_col}, n_spans, n_spans_dropped, text AS clean_text
    FROM sp0out
    """


def span_dedup_multi_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    offsets: tuple[int, ...] | None = None,
) -> str:
    """DuckDB oracle for :func:`dedup_spans_multi`: the pass CTE chain
    instantiated once per offset, pass k reading pass k−1's ``out`` CTE —
    a single WITH statement, no repeated work."""
    if offsets is None:
        offsets = (0, width // 2)
    ctes, src = [], table
    for k, off in enumerate(offsets):
        tcol = text_col if k == 0 else "text"
        ctes.append(_span_pass_ctes(f"sp{k}", src, id_col, tcol, width, off))
        src = f"sp{k}out"
    drop_sum = " + ".join(f"sp{k}out.n_spans_dropped" for k in range(len(offsets)))
    joins = "".join(
        f"\n    JOIN sp{k}out USING ({id_col})" for k in range(1, len(offsets))
    )
    return f"""
    WITH {",".join(ctes)}
    SELECT sp0out.{id_col},
           sp0out.n_spans,
           CAST({drop_sum} AS BIGINT) AS n_spans_dropped,
           sp{len(offsets) - 1}out.text AS clean_text
    FROM sp0out{joins}
    """


def scrub_benchmark_spans(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    width: int = 8,
) -> DataFrame:
    """SURGICAL benchmark decontamination: cut from every document every
    token covered by a ``width``-token sliding window that also appears
    (at ANY offset, stride 1 on both sides) anywhere in the benchmark
    corpus — the document survives minus the leaked passage. This is the
    span-level complement of the doc-level `contamination` verdict
    (which can only drop whole documents): any shared passage of ≥
    ``width`` tokens vanishes entirely, because all of its sub-windows
    match and their union covers it.

    Scale shape — STRICTLY cheaper than corpus span dedup: benchmark
    window hashes are DISTINCT over a small corpus (benchmark suites are
    MBs) and broadcast, so the per-token document window pass is
    map-side; the only shuffle is the per-doc drop-position groupBy,
    carrying matched positions only. Empty windows (empty text) are
    excluded on both sides — md5('') would cross-match all empty docs.

    Returns one row per document: ``id_col``, n_tokens, n_tokens_cut,
    decon_text.
    """
    bench_text_col = bench_text_col or text_col

    def wins(col: str) -> str:
        return sliding_window_expr(col, width)

    bhash = (
        bench.select(F.explode(F.expr(wins(bench_text_col))).alias("win"))
        .filter(F.col("win") != "")
        .select(F.md5(F.col("win")).alias("h"))
        .distinct()
    )
    occ = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.expr(wins(text_col))).alias("pos", "win"),
        )
        .filter(F.col("win") != "")
        .select(id_col, "pos", F.md5(F.col("win")).alias("h"))
    )
    hits = (
        occ.join(F.broadcast(bhash), "h")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__dp"))
    )
    t = F.split(F.col(text_col), " ")
    kept = F.filter(
        t,
        lambda _tok, i: ~F.exists(
            F.col("__dp"), lambda p: (p <= i) & (i < p + width)
        ),
    )
    return (
        docs.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.size(t).alias("n_tokens"),
            F.when(F.col("__dp").isNull(), F.lit(0))
            .otherwise(F.size(t) - F.size(kept))
            .alias("n_tokens_cut"),
            F.when(F.col("__dp").isNull(), F.col(text_col))
            .otherwise(F.array_join(kept, " "))
            .alias("decon_text"),
        )
    )


def benchmark_scrub_ctes(
    prefix: str,
    doc_src: str,
    bench_src: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> str:
    """DuckDB CTE chain replicating :func:`scrub_benchmark_spans`.
    ``doc_src``/``bench_src`` are relations exposing (id_col, text_col).
    The final CTE ``{prefix}out`` has (id_col, n_tokens, n_tokens_cut,
    decon_text). 1-based list indices: token i is cut iff some matched
    0-based window start p satisfies p+1 ≤ i ≤ p+width."""
    p = prefix
    return f"""
    {p}bw AS (
      SELECT DISTINCT md5(win) AS h FROM (
        SELECT array_to_string(list_slice(t, pos + 1, pos + {width}), ' ') AS win
        FROM (SELECT string_split({text_col}, ' ') AS t,
                     unnest(range(0, greatest(len(string_split({text_col}, ' ')) - {width}, 0) + 1)) AS pos
              FROM {bench_src}))
      WHERE win <> ''),
    {p}t AS (
      SELECT {id_col}, {text_col} AS __text, string_split({text_col}, ' ') AS t
      FROM {doc_src}),
    {p}occ AS (
      SELECT {id_col}, pos,
             md5(array_to_string(list_slice(t, pos + 1, pos + {width}), ' ')) AS h,
             array_to_string(list_slice(t, pos + 1, pos + {width}), ' ') AS win
      FROM (SELECT {id_col}, t,
                   unnest(range(0, greatest(len(t) - {width}, 0) + 1)) AS pos
            FROM {p}t)),
    {p}hits AS (
      SELECT o.{id_col}, list(o.pos) AS dp
      FROM {p}occ o JOIN {p}bw b USING (h)
      WHERE o.win <> '' GROUP BY o.{id_col}),
    {p}out AS (
      SELECT s.{id_col},
             CAST(len(s.t) AS BIGINT) AS n_tokens,
             CASE WHEN d.dp IS NULL THEN CAST(0 AS BIGINT)
                  ELSE CAST(len(s.t) - len(list_filter(s.t,
                         (x, i) -> len(list_filter(d.dp,
                             p -> p + 1 <= i AND i <= p + {width})) = 0))
                       AS BIGINT) END AS n_tokens_cut,
             CASE WHEN d.dp IS NULL THEN s.__text
                  ELSE coalesce(array_to_string(list_filter(s.t,
                         (x, i) -> len(list_filter(d.dp,
                             p -> p + 1 <= i AND i <= p + {width})) = 0), ' '), '')
                  END AS decon_text
      FROM {p}t s LEFT JOIN {p}hits d USING ({id_col}))"""


def dedup_lines_across_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style CROSS-document line dedup (Wenzek et al. 2020 §3.1 —
    the public CCNet recipe deduplicates paragraphs corpus-wide by hash
    before anything else): every line occurring more than once in the
    corpus is cut from all but its FIRST occurrence (corpus order:
    lowest (doc, line-index) wins). The line-grain sibling of the span
    family above — spans catch boilerplate at arbitrary token offsets,
    this catches it at the natural line/paragraph boundary for a
    fraction of the cost (one row per LINE, not per token window).

    Returns (id_col, n_lines, n_lines_cut, clean_text).

    Scale shape: posexplode lines → per-hash FIRST occurrence via
    min(struct(doc, idx)) AGGREGATION (not a row_number window: a viral
    boilerplate line — "follow us on ..." × 10⁹ at web scale — would
    land one giant partition in a window's sort buffer, while the agg's
    map-side partial combine reduces every hot key to one row per task;
    the later-occurrence join streams the hot key and AQE's skew split
    handles the rest) → per-doc integer cut lists joined back. The
    shuffles carry (16-byte hash, doc, idx) ONLY, never line text; the
    text rebuilds from the original array by index filter, so line text
    never shuffles at all. Empty lines are kept verbatim (they are
    structure, not content — and md5('') would collide corpus-wide,
    the same guard as the span family)."""
    lines = df.select(
        F.col(id_col), F.split(F.col(text_col), "\n").alias("__ls")
    )
    occ = (
        lines.select(F.col(id_col), F.posexplode("__ls").alias("idx", "line"))
        .filter(F.col("line") != "")
        .select(id_col, "idx", F.md5("line").alias("h"))
    )
    first = occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("idx").alias("i"))).alias(
            "__first"
        )
    )
    cuts = (
        occ.join(first, "h")  # same partitioning as the agg: ReusedExchange
        .filter(
            (F.col(id_col) != F.col("__first.d"))
            | (F.col("idx") != F.col("__first.i"))
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("idx")).alias("__cut"))
    )
    # O(L + cuts) rebuild: kept indexes are the complement of the cut
    # list over [0, L) — array_except builds one hash set of the cuts and
    # streams the index sequence through it, preserving order. The
    # previous per-line `array_contains(__cut, i)` probe was O(L × cuts)
    # per doc: harmless on organic text (cut lists are small) but
    # quadratic on a boilerplate-saturated mega-doc where every line is
    # cut (r10 verdict nit #1).
    kept_idx = F.array_except(
        F.sequence(F.lit(0), F.size("__ls") - 1), F.col("__cut")
    )
    kept = F.transform(kept_idx, lambda i: F.get(F.col("__ls"), i))
    # NULL text stays NULL (and its n_lines stays NULL, not size's -1) —
    # matching the SQL oracle's split/filter/join NULL propagation; the
    # r10 shape leaked -1/'' for NULL docs (r11 review)
    has = F.col("__ls").isNotNull()
    return (
        lines.join(cuts, id_col, "left")
        .withColumn(
            "__cut", F.coalesce("__cut", F.expr("CAST(array() AS array<int>)"))
        )
        .select(
            F.col(id_col),
            F.when(has, F.size("__ls")).cast("long").alias("n_lines"),
            F.size("__cut").cast("long").alias("n_lines_cut"),
            F.when(has, F.array_join(kept, "\n")).alias("clean_text"),
        )
    )


def line_dedup_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle for :func:`dedup_lines_across_corpus` — same
    first-occurrence rule via one row_number window over the line hash
    (DuckDB list indexes and lambda positions are 1-based; range(1,
    len+1) keeps cut indexes aligned with list_filter's i)."""
    return f"""
    ldl AS (SELECT {id_col}, string_split({text_col}, chr(10)) AS ls
            FROM {table}),
    ldx AS (
      SELECT {id_col}, idx, ls[idx] AS line
      FROM (SELECT {id_col}, ls,
                   unnest(range(1, len(ls) + 1)) AS idx FROM ldl)),
    ldo AS (
      SELECT {id_col}, idx,
             row_number() OVER (PARTITION BY md5(line)
                                ORDER BY {id_col}, idx) AS rn
      FROM ldx WHERE line != ''),
    ldc AS (SELECT {id_col}, list(idx) AS cut
            FROM ldo WHERE rn > 1 GROUP BY {id_col}),
    ldm AS (
      SELECT l.{id_col},
             CAST(len(l.ls) AS BIGINT) AS n_lines,
             CAST(coalesce(len(c.cut), 0) AS BIGINT) AS n_lines_cut,
             array_to_string(list_filter(l.ls,
               (x, i) -> c.cut IS NULL OR NOT list_contains(c.cut, i)),
               chr(10)) AS clean_text
      FROM ldl l LEFT JOIN ldc c USING ({id_col}))"""
