"""Projection / rename / clean / constant-stamp operator.

Reference semantics: `Mapper::mapColumns`
(`src/Service/Mapper/Mapper.php:55-133`): per `column_map_rules` entry
``target -> source`` or ``target -> [source, merge_rule]``, the output has
exactly the target columns (unmapped source columns are dropped), values are
cleaned by target NAME (asin/upc/qty/price — see functions.clean), and
``supplier_id`` / ``version`` literals are stamped on every row.

Divergence from the reference, by design (SURVEY.md §2.8):
  * missing source columns are validated against the scan SCHEMA up front
    (the reference only checks the last row — a known bug);
  * merge rules are returned for the downstream keyed merge to apply (the
    reference constructs them but never arms them — P0 bug in its backlog;
    tests + backlog define the intended semantics we implement).

Spark-first: one ``selectExpr`` over parsed SQL text — a single narrow
(no-shuffle), codegen'd projection that Catalyst prunes down to the source
scan. The text is parsed once on the JVM; building the same tree through the
Column DSL costs one py4j round trip per node, about 430 for a six-column
job, cleaning included. Every source and target name is backtick-quoted
(``sql_ident``), so a header such as ``Item No.`` maps as one column and no
name can inject an expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_edi_data_scrapper_spark.functions.clean import clean_for_target
from etl_edi_data_scrapper_spark.functions.hashing import sql_ident
from etl_edi_data_scrapper_spark.operators.merge import SEQ_COL


class MissingSourceColumnsError(ValueError):
    """Raised when `column_map_rules` references columns absent from the scan."""

    def __init__(self, missing: set[str], available: list[str]):
        self.missing = missing
        super().__init__(
            f"column_map_rules references missing source columns {sorted(missing)}; "
            f"scan schema has {available}"
        )


def parse_rules(
    column_map_rules: dict[str, str | list[str]],
) -> tuple[dict[str, str], dict[str, str]]:
    """Split raw rules into (target→source, target→merge_rule).

    Rule value is either ``"source"`` or ``["source", "min"|"max"|"addArray"]``
    (`Mapper.php:60-68`).
    """
    col_map: dict[str, str] = {}
    merge_rules: dict[str, str] = {}
    for target, rule in column_map_rules.items():
        if isinstance(rule, (list, tuple)):
            if len(rule) != 2:
                raise ValueError(f"rule for {target!r} must be [source, merge_rule]")
            col_map[target] = rule[0]
            merge_rules[target] = rule[1]
        else:
            col_map[target] = rule
    return col_map, merge_rules


def map_columns(
    df: DataFrame,
    column_map_rules: dict[str, str | list[str]],
    supplier_id: int,
    version: int,
    seq: str | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """Compile the rules to a single projection; return (df, merge_rules).

    ``seq`` is SQL text for the arrival-order column ``_seq``: an existing
    column's name passes it through; ``merge.seq_sql`` has it born here. A
    nondeterministic ``seq`` (``monotonically_increasing_id()``, a term in
    ``spark_partition_id()``) stops Catalyst pushing the keyed merge's key
    filter below this projection and re-running the key's cleaning (3 a row).
    """
    col_map, merge_rules = parse_rules(column_map_rules)

    missing = set(col_map.values()) - set(df.columns)
    if missing:
        raise MissingSourceColumnsError(missing, df.columns)

    exprs = [f"{clean_for_target(t, sql_ident(s))} AS {sql_ident(t)}"
             for t, s in col_map.items()]
    exprs.append(f"CAST({int(supplier_id)} AS BIGINT) AS supplier_id")
    exprs.append(f"CAST({int(version)} AS BIGINT) AS version")
    exprs += [f"{seq} AS {sql_ident(SEQ_COL)}"] if seq else []
    return df.selectExpr(*exprs), merge_rules
