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
from pyspark.sql import functions as F

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


def idempotent_batch_writer(base_path: str, partition_source: str | None = None):
    """foreachBatch sink with exactly-once RESTART semantics.

    Structured Streaming's foreachBatch is at-least-once: after a crash
    between sink write and checkpoint commit, the batch is REPLAYED with the
    same batch_id. Writing each batch to ``base_path/batch_id=N`` with
    dynamic partition overwrite makes the replay idempotent — the re-run
    overwrites exactly its own partition, never appends duplicates and never
    touches other batches' output. (The same batch-id-keyed discipline
    applies to any transactional sink: JDBC upsert on (batch_id, key),
    Kafka transactional producer keyed by batch, etc.)

    Use as: ``stream.writeStream.foreachBatch(idempotent_batch_writer(path))``.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out = batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            cols = ["batch_id"] + ([partition_source] if partition_source else [])
            (
                out.write.mode("overwrite")
                .partitionBy(*cols)
                .parquet(base_path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return write


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    n_files: int = 32,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet range-CLUSTERED on ``cluster_by``: global range
    partitioning (sampled split points, no total sort) + an in-partition
    sort, so each output file owns a DISJOINT interval of the cluster
    key and every row group's parquet min/max stats are tight.

    This is the data-layout lever for 100 TB scans: a selective predicate
    on the cluster key then skips whole files/row groups at planning/scan
    time (parquet stats pushdown) instead of reading and filtering —
    typically the difference between touching 1/N of the table and all of
    it. Equivalent in intent to Delta/Iceberg OPTIMIZE ... ZORDER for the
    single-key case, expressed with plain Spark primitives:
    ``repartitionByRange`` samples the key distribution (one pass, no
    global sort barrier) and ``sortWithinPartitions`` orders rows inside
    each file so row-group stats stay tight too.

    ``n_files`` sizes the output: pick ceil(table_bytes / 128 MB) at
    scale. Combine with ``partition_by`` for coarse directory pruning on a
    second, low-cardinality key (date, tenant) — directory pruning first,
    stats skipping within.
    """
    if not cluster_by:
        raise ValueError("cluster_by must name at least one column")
    out = df.repartitionByRange(n_files, *[F.col(c) for c in cluster_by])
    # partition columns lead the sort: the file writer requires ordering on
    # partition_by and would otherwise insert its own sort, voiding the
    # documented tight-row-group contract on the cluster key
    sort_cols = [*(partition_by or ()), *cluster_by]
    out = out.sortWithinPartitions(*[F.col(c) for c in sort_cols])
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def zorder_value(a, b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative int columns
    into one Z-order (Morton) key: locality in EITHER dimension maps to
    locality in the key, so range-clustering on it keeps parquet min/max
    stats selective for predicates on BOTH columns — the two-key
    generalization of single-key clustering (Delta/Iceberg ZORDER). Pure
    JVM bit arithmetic, no UDF. Columns are clamped into [0, 2^bits).
    """
    a = F.least(F.greatest(F.col(a) if isinstance(a, str) else a, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")
    b = F.least(F.greatest(F.col(b) if isinstance(b, str) else b, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zorder_clustered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Two-key layout optimization: range-cluster on the Z-order key of
    ``cols`` so selective predicates on EITHER column skip most files via
    parquet stats. The Z column itself is dropped from the output —
    it only steers the layout."""
    zcol = "__z"
    out = df.withColumn(zcol, zorder_value(cols[0], cols[1], bits))
    out = out.repartitionByRange(n_files, F.col(zcol)).sortWithinPartitions(F.col(zcol))
    out.drop(zcol).write.mode(mode).parquet(path)
