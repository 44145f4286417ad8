"""Sinks: Kafka row-JSON, parquet, JSONL, in-memory.

Reference semantics: one JSON object per output row to topic ``edi_output``
with synchronous delivery confirmation (`src/Service/Kafka/KafkaProducer.php:31-67`,
driven row-at-a-time from `Aggregator.php:83-85`).

Spark-first: the row loop becomes ONE batched ``to_json(struct(*))`` write —
the kafka DataSource batches, retries and confirms delivery per partition
(acks=all), replacing the per-row 5×500 ms poll loop. The Kafka jars are not
in this container, so the writer is gated with a clear error; the JSON shaping
(`rows_as_json``) is pure-plan and fully tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_edi_data_scrapper_spark.functions.hashing import sql_ident


def rows_as_json(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Shape rows for a message sink: value = JSON of the whole row,
    optional key column (partitioning key — e.g. upc, so one product's
    updates stay ordered within a Kafka partition). Parsed SQL text:
    ``struct(*)`` expands on the JVM instead of one py4j round trip per
    column reference."""
    cols = ["to_json(struct(*)) AS value"]
    if key_col is not None:
        cols.insert(0, f"CAST({sql_ident(key_col)} AS STRING) AS key")
    return df.selectExpr(*cols)


def _is_missing_kafka_jar(e: Exception) -> bool:
    """True only for the missing-package signatures. Anything else (broker
    unreachable, auth, timeout — whose messages usually also contain the word
    'kafka') is a real delivery failure and must propagate unchanged."""
    msg = str(e)
    return (
        "Failed to find data source: kafka" in msg
        or "DATA_SOURCE_NOT_FOUND" in msg
        or "ClassNotFoundException" in msg
    )


def write_kafka(
    df: DataFrame,
    topic: str = "edi_output",
    bootstrap_servers: str = "localhost:9092",
    key_col: str | None = None,
) -> None:
    """Batched Kafka write (needs spark-sql-kafka jars on the classpath)."""
    shaped = rows_as_json(df, key_col=key_col)
    try:
        (
            shaped.write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("kafka.acks", "all")
            .save()
        )
    except Exception as e:  # pragma: no cover - jar-dependent
        if _is_missing_kafka_jar(e):
            raise NotImplementedError(
                "kafka sink needs the spark-sql-kafka package on the classpath "
                "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)"
            ) from e
        raise


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """One JSON object per row on disk — the file-shaped analog of the Kafka
    sink (same row contract, auditable)."""
    df.write.mode(mode).json(path)


def collect_rows(df: DataFrame) -> list[dict]:
    """In-memory sink for tests/small jobs."""
    return [row.asDict(recursive=True) for row in df.collect()]


