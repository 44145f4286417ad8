"""End-to-end streaming composition (the full production loop in one test):

    job-config messages (serve loop, `streaming/consumer.run_job_stream`)
      → per-batch plan compile + keyed merge → staged row stream
      → exactly-once parquet (`sinks.idempotent_batch_writer`)

with REPLAY SAFETY asserted the hard way: the staged-stream sink is crashed
after its write but before the checkpoint commit, the stream is restarted on
the same checkpoint, and Structured Streaming replays the batch with the
same batch_id — the batch-id-partition overwrite must leave zero duplicates.
"""

import json

from pyspark.sql import functions as F


def _write_feed(path, rows):
    with open(path, "w") as f:
        f.write("upc,qty,price\n")
        for upc, qty, price in rows:
            f.write(f"{upc},{qty},{price}\n")


def _job_msg(feed_path, version):
    return json.dumps(
        {
            "supplier_id": 7,
            "type_id": 3,
            "source": str(feed_path),
            "column_map_rules": {
                "upc": "upc",
                "qty": ["qty", "min"],
                "price": ["price", "max"],
            },
            "version": version,
        }
    )


OUT_SCHEMA = "upc string, qty bigint, price double, supplier_id bigint, version bigint"


def test_job_stream_staged_sink_idempotent_replay(spark, tmp_path):
    from etl_edi_data_scrapper_spark.sinks import idempotent_batch_writer
    from etl_edi_data_scrapper_spark.sources.registry import read_local
    from etl_edi_data_scrapper_spark.streaming.consumer import run_job_stream

    msg_dir = tmp_path / "messages"
    msg_dir.mkdir()
    staged = tmp_path / "staged"
    out_dir = tmp_path / "out"

    # --- stage 1: the serve loop — job messages drive plan compiles, job
    # output rows append into the staging area (itself a stream source)
    def job_sink(df, cfg):
        df.write.mode("append").json(str(staged))

    feed1 = tmp_path / "feed_v1.csv"
    _write_feed(feed1, [("a", 5, 10.0), ("b", 2, 5.0), ("c", 9, 7.5)])
    (msg_dir / "m1.jsonl").write_text(_job_msg(feed1, 1) + "\n")

    serve_q = run_job_stream(
        spark,
        {3: read_local},
        job_sink,
        source_path=str(msg_dir),
        checkpoint_dir=str(tmp_path / "serve_ckpt"),
    )
    serve_q.processAllAvailable()

    # --- stage 2: the staged stream into an exactly-once parquet sink.
    # First run: crash AFTER the sink write, BEFORE the checkpoint commit —
    # the worst-case at-least-once window.
    def staged_stream():
        return spark.readStream.schema(OUT_SCHEMA).json(str(staged))

    writer = idempotent_batch_writer(str(out_dir))
    crashed = {"done": False}

    def crash_after_write(batch_df, batch_id):
        writer(batch_df, batch_id)
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash between sink write and commit")

    ckpt = str(tmp_path / "sink_ckpt")
    q = staged_stream().writeStream.foreachBatch(crash_after_write).option(
        "checkpointLocation", ckpt
    ).start()
    try:
        q.processAllAvailable()
    except Exception:
        pass  # the injected crash surfaces here
    q.stop()
    assert crashed["done"], "the injected crash must have fired"
    # data landed but the batch is uncommitted — the dangerous half-state
    assert spark.read.parquet(str(out_dir)).count() == 3

    # restart on the SAME checkpoint: batch 0 replays with the same batch_id;
    # the partition overwrite makes the replay byte-idempotent
    q = staged_stream().writeStream.foreachBatch(writer).option(
        "checkpointLocation", ckpt
    ).start()
    q.processAllAvailable()

    replayed = spark.read.parquet(str(out_dir))
    assert replayed.count() == 3  # no duplicates from the replay
    first = {(r.upc, r.qty, r.price, r.version) for r in replayed.collect()}
    assert first == {("a", 5, 10.0, 1), ("b", 2, 5.0, 1), ("c", 9, 7.5, 1)}
    assert {r.batch_id for r in replayed.collect()} == {0}

    # --- stage 3: a second feed version arrives — its job output flows
    # through as one new batch (b's price moved, d is new)
    feed2 = tmp_path / "feed_v2.csv"
    _write_feed(feed2, [("a", 5, 10.0), ("b", 2, 6.0), ("c", 9, 7.5), ("d", 1, 2.0)])
    (msg_dir / "m2.jsonl").write_text(_job_msg(feed2, 2) + "\n")
    serve_q.processAllAvailable()
    serve_q.stop()

    q.processAllAvailable()
    q.stop()

    final = spark.read.parquet(str(out_dir))
    got = {(r.upc, r.qty, r.price, r.version) for r in final.collect()}
    assert got == first | {
        ("a", 5, 10.0, 2), ("b", 2, 6.0, 2), ("c", 9, 7.5, 2), ("d", 1, 2.0, 2)
    }
    assert final.count() == 7  # still exactly once — no replays, no dupes
    assert {r.batch_id for r in final.collect()} == {0, 1}
    # each key appears exactly once per job version
    per_key = final.groupBy("upc", "version").agg(F.count(F.lit(1)).alias("n"))
    assert per_key.filter(F.col("n") > 1).count() == 0
