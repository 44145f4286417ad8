"""Cogrouped-map: two-sided custom keyed logic in one pass.

``cogroup_apply_batched`` runs ``df1.groupBy(b).cogroup(df2.groupBy(b))
.applyInPandas(...)`` over hash buckets ``b`` of the key — the Spark
surface for logic that needs BOTH sides of a key at once and that joins
can't express cleanly (two-stream reconciliation, per-key merge-asof,
custom conflation). Each side shuffles once on the bucket; the Arrow
transfer hands ``fn(left_pdf, right_pdf)`` complete frames for every key
in the bucket.

Scale notes:
  * both sides shuffle on the SAME bucket → co-partitioned; no broadcast,
    no replication. Cost is one exchange per side, same as a join.
  * memory bound = largest bucket's rows on either side; hot keys want
    pre-aggregation or salting upstream.
  * fixed Arrow/Python overhead is per BUCKET, not per key — a plain
    per-key cogroup paid it per key (measured 15× slower at 1 500 keys).

The reference has no analog (single-threaded row loops); this is part of
the engine's Spark-native surface for training-data pipelines.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cogroup_apply_batched(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    fn: Callable,
    schema: str,
    num_buckets: int | None = None,
) -> DataFrame:
    """Cogrouped-map that pays the per-invocation cost per BUCKET of keys,
    not per key: both sides are cogrouped on ``pmod(hash(keys), B)`` — the
    same ``FlatMapCoGroupsInPandas`` physical operator, but each call hands
    ``fn(left_pdf, right_pdf)`` ALL rows for ~N_keys/B distinct keys, with
    the original key columns intact. ``fn`` must therefore reconcile per
    key itself (pandas ``groupby``/``merge`` across the frame) — which is
    exactly what lets it vectorize.

    This is the cogrouped analog of ``grouped.grouped_map_in_pandas``'s
    boundary-carry batching: a per-key cogroup was measured paying
    one Arrow flush + Python call per key (15x over batched at just 1 500
    groups); here the fixed cost is amortized over a whole bucket. Default
    ``B = defaultParallelism`` — one bucket per core is the fewest calls
    that still use every core (measured at sf0.1: 0.66 s at B=32 vs 1.4 s
    at B=128 vs 3.5 s per-key). Raise B when a bucket of keys outgrows
    executor memory (memory bound = largest bucket, i.e. ~N/B keys' rows —
    a TUNABLE bound, unlike per-key cogroup's unbounded hottest-key bound).
    Hash bucketing spreads keys uniformly, so this also rides out key skew
    in the DISTRIBUTION of keys (a single monster key still lands in one
    bucket, same as any keyed shuffle).

    Full-outer key semantics are preserved: a key present on one side only
    arrives in that side's frame (hash of the same key value lands in the
    same bucket on both sides)."""
    mismatched = [
        (k, str(left.schema[k].dataType), str(right.schema[k].dataType))
        for k in keys
        if left.schema[k].dataType != right.schema[k].dataType
    ]
    if mismatched:
        # F.hash is type-sensitive: hash(1 as int) != hash(1 as bigint), so a
        # dtype-mismatched key would land its left/right rows in DIFFERENT
        # buckets and silently break the full-outer reconcile a per-key
        # cogroup gives. Fail loudly; the caller casts to a common type.
        raise ValueError(
            "cogroup_apply_batched key dtype mismatch (bucket hashing is "
            "type-sensitive): "
            + ", ".join(f"{k}: left={lt} right={rt}" for k, lt, rt in mismatched)
            + " — cast both sides to a common type first"
        )
    n = num_buckets or left.sparkSession.sparkContext.defaultParallelism
    ck = "_ck"
    while ck in left.columns or ck in right.columns:  # never clobber user data
        ck += "_"
    bl = left.withColumn(ck, F.pmod(F.hash(*keys), F.lit(n)))
    br = right.withColumn(ck, F.pmod(F.hash(*keys), F.lit(n)))

    def run(_key, lpdf, rpdf):
        return fn(
            lpdf.drop(columns=[ck]),
            rpdf.drop(columns=[ck]),
        )

    return bl.groupBy(ck).cogroup(br.groupBy(ck)).applyInPandas(run, schema)
