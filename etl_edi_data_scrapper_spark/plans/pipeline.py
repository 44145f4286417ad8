"""Job-config → DataFrame compiler (the reference's `Aggregator`).

Reference lifecycle (`src/Service/Aggregator/Aggregator.php:60-135`):
config → (scan | multi-scan-join) → map/clean → keyed dedup → sink.
Here the whole job compiles to ONE lazy DataFrame plan; Catalyst prunes
columns into the scans, broadcast-joins small enrichment legs, and
partial-aggregates the keyed merge map-side; a nondeterministic ``_seq`` in
the mapper's projection keeps the null-key filter on the cleaned key.

Multi-source (`Aggregator::arraySourceProcessing` :107-135): leg 0 is the
base (re-keyed, last-write-wins per key); each later leg left-join-enriches
the base on its own key column, copying only its listed fields. Legs are
processed in config order; ``_seq`` leg offsets keep later legs winning
ties. The merged frame then flows through the same map → keyed-merge tail
as single-source jobs.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from etl_edi_data_scrapper_spark.operators.mapper import map_columns
from etl_edi_data_scrapper_spark.operators.merge import (
    SEQ_COL,
    enrich,
    keyed_merge,
    seq_sql,
    with_seq,
)
from etl_edi_data_scrapper_spark.plans.config import InputConfig, InvalidConfigError

# reader signature: (spark, source, range) -> DataFrame
Reader = Callable[[SparkSession, str, "str | None"], DataFrame]


def aggregate(
    spark: SparkSession,
    config: InputConfig | dict[str, Any] | str,
    readers: dict[int, Reader],
) -> DataFrame:
    """Compile one job to a DataFrame (the reference's `Aggregator::aggregate`).

    Returns the keyed, merged, supplier-stamped output frame; the caller
    picks the sink (`sinks.py`).
    """
    cfg = config if isinstance(config, InputConfig) else InputConfig.from_message(config)

    # Optional explicit arrival order: config key "seq_expr" — a SQL
    # expression (or per-leg list of them) evaluated on each scan. This is
    # the scale-correct way to pin last-write-wins/addArray order at 100 TB
    # (an event-order column from the data, not file listing order).
    seq_exprs = cfg.extra.get("seq_expr")
    # Optional config key "repartition": widen coarse scans (single-file
    # inputs split at row-group granularity) before CPU-heavy map stages.
    repartition_n = cfg.extra.get("repartition")
    n_legs = len(cfg.source) if cfg.is_multi_source else 1
    if isinstance(seq_exprs, (list, tuple)) and len(seq_exprs) != n_legs:
        raise InvalidConfigError(
            f"seq_expr lists {len(seq_exprs)} expressions for a job with "
            f"{n_legs} legs; give one per leg or a single string"
        )

    def _seq_for(leg_idx: int):
        e = seq_exprs[leg_idx] if isinstance(seq_exprs, (list, tuple)) else seq_exprs
        return e or None

    if cfg.is_multi_source:
        legs = cfg.source
        base_leg = legs[0]
        base = _read(spark, readers, base_leg.type_id, base_leg.filename,
                     base_leg.range or cfg.range, repartition_n)
        base = with_seq(base, leg=0, seq_expr=_seq_for(0))
        # DataSetCollection::createFromCollection — base re-keyed, last wins
        base = keyed_merge(base, base_leg.key, {}, drop_seq=False)
        for i, leg in enumerate(legs[1:], start=1):
            ldf = _read(spark, readers, leg.type_id, leg.filename,
                        leg.range or cfg.range, repartition_n)
            ldf = with_seq(ldf, leg=i, seq_expr=_seq_for(i))
            base = enrich(base, ldf, base_key=base_leg.key, leg_key=leg.key,
                          fields=list(leg.fields))
        # nondeterministic, never NULL: keeps the key filter above the mapper
        df, seq = base, f"{SEQ_COL} + 0 * spark_partition_id()"
    else:
        df = _read(spark, readers, cfg.type_id, cfg.source, cfg.range, repartition_n)
        seq = seq_sql(leg=0, seq_expr=_seq_for(0))

    mapped, merge_rules = map_columns(
        df, cfg.column_map_rules, cfg.supplier_id, cfg.version, seq=seq
    )
    return keyed_merge(mapped, cfg.unique_index, merge_rules)


def _read(
    spark: SparkSession,
    readers: dict[int, Reader],
    type_id: int,
    source: str,
    range_: str | None,
    repartition_n: int | None = None,
) -> DataFrame:
    try:
        reader = readers[type_id]
    except KeyError:
        raise ValueError(
            f"no reader registered for type_id={type_id!r}; have {sorted(readers)}"
        ) from None
    df = reader(spark, source, range_)
    if repartition_n:
        df = df.repartition(int(repartition_n))
    return df
