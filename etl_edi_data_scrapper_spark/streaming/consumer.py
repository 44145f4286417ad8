"""Streaming job consumer: a stream of job-config messages drives the
config→plan compiler per micro-batch.

Reference semantics (`src/Command/ConsumerCommand.php:34-71` +
`config/supervisord.conf:7-16`): pop ONE JSON job message from Kafka
``edi_input`` per process run; supervisord restarts the process — an
at-least-once, one-message micro-batcher with auto-commit offsets.

Spark-first upgrade: ``readStream`` over the message source →
``foreachBatch``: each batch's messages are compiled with
``plans.aggregate`` and written to the sink; checkpointing replaces
auto-commit (exactly-once offset tracking; the sink write is idempotent per
job when the sink is keyed). Kafka jars aren't in this container, so the
message source is pluggable: ``format="json"`` streams staged message files
(tests use this) while production passes ``format="kafka"``.

Per-job metrics (wall time — the reference prints time+memory per message,
`ConsumerCommand.php:99-108`) are reported through a callback.
"""

from __future__ import annotations

import json
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_edi_data_scrapper_spark.plans.config import InputConfig
from etl_edi_data_scrapper_spark.plans.pipeline import Reader, aggregate

MESSAGE_SCHEMA = T.StructType([T.StructField("value", T.StringType(), True)])

# Job-config messages are a CONTROL PLANE: small JSON specs, a handful per
# batch (the reference consumes exactly one per process). Collecting them to
# the driver is therefore correct — but a subscription misconfigured onto a
# DATA topic must fail fast, not OOM the driver.
MAX_MESSAGES_PER_BATCH = 10_000


class MessageFloodError(RuntimeError):
    """A micro-batch carried implausibly many job-config messages."""


def process_messages(
    spark: SparkSession,
    messages: list[str],
    readers: dict[int, Reader],
    sink: Callable[[DataFrame, InputConfig], None],
    on_error: Callable[[str, Exception], None] | None = None,
    on_metrics: Callable[[dict[str, Any]], None] | None = None,
) -> int:
    """Compile + run each job message; returns #succeeded.

    Invalid configs are reported and skipped (the reference logs + rethrows,
    letting supervisord restart — in a stream we must not poison the batch).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    ok = 0
    for msg in messages:
        t0 = time.perf_counter()
        try:
            cfg = InputConfig.from_message(msg)
            df = aggregate(spark, cfg, readers)
            # observe() rides the sink's action — per-job output metrics
            # with ZERO extra passes (the Spark restatement of the
            # reference's per-message wall/memory print,
            # `ConsumerCommand.php:99-108`)
            obs = Observation()
            df = df.observe(obs, F.expr("count(1) AS rows_out"))
            sink(df, cfg)
            ok += 1
            if on_metrics:
                on_metrics(
                    {
                        "supplier_id": cfg.supplier_id,
                        "seconds": round(time.perf_counter() - t0, 3),
                        **obs.get,
                    }
                )
        except Exception as e:  # noqa: BLE001
            if on_error:
                on_error(msg, e)
            else:
                raise
    return ok


def run_job_stream(
    spark: SparkSession,
    readers: dict[int, Reader],
    sink: Callable[[DataFrame, InputConfig], None],
    source_path: str | None = None,
    kafka_options: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
    on_error: Callable[[str, Exception], None] | None = None,
    on_metrics: Callable[[dict[str, Any]], None] | None = None,
):
    """Start the streaming consumer; returns the StreamingQuery.

    ``source_path``: stream JSON-lines message files from a directory
    (tests / file-drop deployments). ``kafka_options``: use the kafka source
    instead (subscribe=edi_input, ...). Exactly one must be given.
    """
    if (source_path is None) == (kafka_options is None):
        raise ValueError("pass exactly one of source_path or kafka_options")

    if kafka_options is not None:
        stream = (
            spark.readStream.format("kafka")
            .options(**{"subscribe": "edi_input", **kafka_options})
            .load()
            .selectExpr("CAST(value AS STRING) AS value")
        )
    else:
        stream = (
            spark.readStream.schema(MESSAGE_SCHEMA)
            .format("text")
            .load(source_path)
            .toDF("value")
        )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # size guard BEFORE collect: count + limit keep the driver safe even
        # when the stream is pointed at a high-volume data topic by mistake
        guarded = batch_df.limit(MAX_MESSAGES_PER_BATCH + 1)
        rows = guarded.collect()
        if len(rows) > MAX_MESSAGES_PER_BATCH:
            raise MessageFloodError(
                f"micro-batch {epoch_id} exceeded {MAX_MESSAGES_PER_BATCH} "
                "job-config messages — is the subscription pointed at a data "
                "topic? (job messages are small control-plane specs)"
            )
        msgs = [r.value for r in rows if r.value and r.value.strip()]
        process_messages(
            spark, msgs, readers, sink, on_error=on_error, on_metrics=on_metrics
        )

    writer = stream.writeStream.foreachBatch(handle_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
