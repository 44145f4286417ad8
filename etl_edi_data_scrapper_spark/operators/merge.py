"""Keyed merge (dedup w/ merge rules) + multi-source enrichment join.

Reference semantics: `DataSetCollection` (`src/Model/DataSetCollection.php`):
rows stream in arrival order into a map keyed by a unique index (default
``upc``); per-field merge rules combine colliding rows — ``min`` / ``max`` /
``addArray`` (append, arrival order) / default last-write-wins; rows whose
key is NULL or ``''`` are dropped (:70-71). `addFieldsFromCollection`
(:86-109) is the multi-source enrichment: left-join a leg onto the base by
key, overwriting listed fields where the leg has a value.

Spark-first restatement:
  * arrival order is IMPLICIT in PHP (one thread, one array); under
    distributed execution it must be explicit — every scan attaches a
    ``_seq`` long (leg_index ⊗ partition ⊗ row offset, or any caller-supplied
    total order). All order-dependent rules read it.
  * the merge is ONE ``groupBy(key)`` with hash-partial aggregation:
    map-side combine happens before the shuffle, so 100 TB with hot keys
    still moves only one partial row per key per task. ``max_by(col, _seq)``
    = last-write-wins; ``min``/``max`` direct; ``addArray`` =
    ``array_sort(collect_list(struct(_seq, col)))`` then field-extract
    (exact arrival order, deterministic under any partitioning).
  * enrichment legs are typically small (supplier dimension feeds), so
    ``enrich`` always broadcasts the deduped leg.

Every aggregate, filter and projection here is parsed SQL text: the rule →
aggregate mapping is one table (``_RULES``) that the plain, salted and
enrichment paths share. The Column DSL would cost one py4j round trip per
tree node, about 340 per six-column job; the parsed text builds the
identical tree. Column names are backtick-quoted (``sql_ident``), so they
stay names.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.functions.hashing import sql_ident

SEQ_COL = "_seq"
_SEQ = sql_ident(SEQ_COL)

# rule -> SQL templates (one-stage aggregate, salted stage-1 partial, salted
# stage-2 final) over {c}, the quoted column, and {s}, the quoted seq column;
# a column without a rule (None) is last-write-wins. min/max/addArray +
# last-write-wins are the reference's rules (`DataSetCollection::applyRules`); sum/first/count are
# natural generalizations this engine adds (all still one-shuffle
# aggregates). addArray's templates give (seq, value) pairs; ``_aggs``
# projects their values.
_PAIRS = "collect_list(struct({s} AS s, {c} AS v))"
_RULES = {
    None: ("max_by({c}, {s})", "max_by({c}, {s})", "max_by({c}, __max_seq)"),
    "min": ("min({c})",) * 3,
    "max": ("max({c})",) * 3,
    "sum": ("sum({c})",) * 3,
    "count": ("count({c})", "count({c})", "sum({c})"),  # counts add across salts
    "first": ("min_by({c}, {s})", "min_by({c}, {s})", "min_by({c}, __min_seq)"),
    "addArray": (f"array_sort({_PAIRS})", _PAIRS, "array_sort(flatten(collect_list({c})))"),
}
VALID_RULES = set(_RULES) - {None}


# Legs live at bit 59+: monotonically_increasing_id is partition_id<<33 |
# row, so its values stay below 2^59 while partition count < 2^26 (~67M — far
# past any real job; Spark itself degrades around ~1M tasks). A lower shift
# (e.g. 52) silently loses last-write-wins ties at ≥2^19 partitions.
_LEG_SHIFT = 59


def with_seq(df: DataFrame, leg: int = 0, seq_expr: str | None = None) -> DataFrame:
    """Attach the explicit arrival-order column ``_seq``.

    Default: ``monotonically_increasing_id()`` encodes (partition, row
    offset) — deterministic for a given file listing, which matches the
    reference's file-order × row-order arrival contract without a shuffle or
    a global sort. Callers with a real event-order column (the scalable
    choice at 100 TB, and what correctness oracles use) pass ``seq_expr``
    as SQL text, the form of the job config's ``seq_expr`` key (must stay
    below 2^59 when combined with a non-zero ``leg``).
    ``leg`` (0..15) offsets multi-source legs into disjoint ranges so later
    legs always win last-write-wins ties (legs are processed in config
    order, `Aggregator.php:112-128`). With a non-zero leg the default seq is
    overflow-guarded in-plan: a scan with ≥2^26 partitions raises instead of
    silently corrupting tie-breaks.
    """
    if not 0 <= int(leg) < 16:
        raise ValueError(f"leg must be in [0, 16): {leg}")
    if seq_expr is not None:
        seq = f"CAST(({seq_expr}) AS BIGINT)"
    else:
        seq = "monotonically_increasing_id()"
        if leg and not df.isStreaming:
            # plan-time guard (a per-row branch would knock the projection
            # out of whole-stage codegen): mid's partition bits stay below
            # the leg shift while partitions < 2^26; demand an explicit seq
            # beyond 2^20 static partitions — 64x headroom for AQE re-splits
            n = df.rdd.getNumPartitions()
            if n >= (1 << 20):
                raise ValueError(
                    f"with_seq: {n} partitions risks overflowing the leg "
                    "bits of monotonically_increasing_id — pass an explicit "
                    "seq_expr for multi-leg jobs at this scale"
                )
    return df.withColumn(SEQ_COL, F.expr(f"{seq} + {int(leg) << _LEG_SHIFT}"))


def _checked(merge_rules: dict[str, str] | None) -> dict[str, str]:
    merge_rules = dict(merge_rules or {})
    bad = set(merge_rules.values()) - VALID_RULES
    if bad:
        raise ValueError(f"unknown merge rules: {sorted(bad)}")
    return merge_rules


def _keyed(df: DataFrame, key: str) -> DataFrame:
    """Drop rows whose key is NULL or ``''`` (`DataSetCollection.php:70-71`)."""
    k = sql_ident(key)
    return df.filter(f"{k} IS NOT NULL AND CAST({k} AS STRING) != ''")


def _aggs(cols: list[str], merge_rules: dict[str, str], stage: int) -> list[Column]:
    """One parsed aggregate per column from ``_RULES[rule][stage]``; stages
    0 and 2 sort addArray pairs and keep their values."""
    out = []
    for c in cols:
        rule, q = merge_rules.get(c), sql_ident(c)
        agg = _RULES[rule][stage].format(c=q, s=_SEQ)
        if rule == "addArray" and stage != 1:
            agg = f"transform({agg}, x -> x.v)"
        out.append(F.expr(f"{agg} AS {q}"))
    return out


def keyed_merge(
    df: DataFrame,
    key: str,
    merge_rules: dict[str, str] | None = None,
    drop_seq: bool = True,
) -> DataFrame:
    """Group by ``key`` applying per-column merge rules (§2.4 of SURVEY.md).

    Columns without a rule get last-write-wins by ``_seq`` (attached by
    ``with_seq`` when the frame has none). Null/empty keys are dropped
    before the shuffle (filter is pushed to the scan). For a key so hot
    that one reducer's ``addArray`` state is the problem,
    ``keyed_merge_salted`` gives the same rows from a two-stage plan.
    """
    merge_rules = _checked(merge_rules)
    if SEQ_COL not in df.columns:
        df = with_seq(df)
    cols = [c for c in df.columns if c not in (key, SEQ_COL)]
    aggs = _aggs(cols, merge_rules, 0)
    if not drop_seq:
        aggs.append(F.expr(f"max({_SEQ}) AS {_SEQ}"))
    return _keyed(df, key).groupBy(sql_ident(key)).agg(*aggs)


def enrich(
    base: DataFrame,
    leg: DataFrame,
    base_key: str,
    leg_key: str,
    fields: list[str],
) -> DataFrame:
    """Left-join enrichment (`DataSetCollection::addFieldsFromCollection`).

    Leg rows are first deduped to last-per-key (the reference's "last
    occurrence per key wins", :94-105); leg rows whose key is absent from the
    base are discarded (left join does this); base rows with no match keep
    their values. Overlapping columns follow the reference's null semantics
    exactly (`DataRow::hasField` is ``array_key_exists``,
    `DataSetCollection.php:100-103`): when the KEY matched, the leg value
    overwrites even if it is NULL — so the overwrite keys off the join-match
    marker (leg key is never null: keyed_merge drops those rows), not off
    value presence.
    """
    legged = {f: sql_ident(f"__leg_{f}") for f in fields}
    leg_proj = leg.selectExpr(
        f"{sql_ident(leg_key)} AS __leg_key",
        *map(sql_ident, fields),
        *([_SEQ] if SEQ_COL in leg.columns else []),
    )
    leg_last = keyed_merge(leg_proj, "__leg_key", {})
    renamed = F.broadcast(leg_last.selectExpr(
        "__leg_key", *[f"{sql_ident(f)} AS {legged[f]}" for f in fields]
    ))

    joined = base.join(renamed, F.expr(f"{sql_ident(base_key)} = __leg_key"), "left")
    out_cols = []
    for c in base.columns:
        q = sql_ident(c)
        out_cols.append(
            f"CASE WHEN __leg_key IS NOT NULL THEN {legged[c]} ELSE {q} END AS {q}"
            if c in legged else q
        )
    out_cols += [f"{legged[f]} AS {sql_ident(f)}" for f in fields if f not in base.columns]
    return joined.selectExpr(*out_cols)


def keyed_merge_salted(
    df: DataFrame,
    key: str,
    merge_rules: dict[str, str] | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-proof ``keyed_merge``: two-stage aggregation over a salt.

    A hot key (one UPC = 10% of a 100 TB feed) funnels into a single
    reducer under plain groupBy. Salting splits each key into
    ``salt_buckets`` sub-groups — stage 1 combines within (key, salt)
    in parallel, stage 2 merges the per-salt partials per key. Results are
    IDENTICAL to keyed_merge (given unique ``_seq``):
      * min/max     — associative, two-stage directly;
      * last-write  — per-salt (value at max seq, max seq), final max_by
                      over the per-salt seqs;
      * addArray    — per-salt (seq, value) pairs, final flatten + sort.
    AQE's skew-join splitting handles the JOIN side of skew; this handles
    the AGGREGATION side, which AQE does not re-split.
    """
    merge_rules = _checked(merge_rules)
    if SEQ_COL not in df.columns:
        df = with_seq(df)
    cols = [c for c in df.columns if c not in (key, SEQ_COL)]
    salted = _keyed(df, key).withColumn("__salt", F.expr(f"pmod({_SEQ}, {int(salt_buckets)})"))
    partial = _aggs(cols, merge_rules, 1)
    partial += [F.expr(f"max({_SEQ}) AS __max_seq"), F.expr(f"min({_SEQ}) AS __min_seq")]
    staged = salted.groupBy(sql_ident(key), "__salt").agg(*partial)
    final = _aggs(cols, merge_rules, 2)
    return staged.groupBy(sql_ident(key)).agg(*final)
