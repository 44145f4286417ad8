"""End-to-end streaming composition (the serve loop in one test):

    job-config messages (serve loop, `streaming/consumer.run_job_stream`)
      → per-batch plan compile + keyed merge → staged row output

with RESTART SAFETY asserted: the serve loop is stopped and restarted on
the same checkpoint, and an already-committed job message must not run
again — the staged output gains no duplicates. A second feed version then
flows through as one new job.
"""

import json


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
    from etl_edi_data_scrapper_spark.sources.registry import read_local
    from etl_edi_data_scrapper_spark.streaming.consumer import run_job_stream

    msg_dir = tmp_path / "messages"
    msg_dir.mkdir()
    staged = tmp_path / "staged"

    # job messages drive plan compiles; job output rows append into the
    # staging area
    def job_sink(df, cfg):
        df.write.mode("append").json(str(staged))

    def serve():
        return run_job_stream(
            spark,
            {3: read_local},
            job_sink,
            source_path=str(msg_dir),
            checkpoint_dir=str(tmp_path / "serve_ckpt"),
        )

    def staged_rows():
        df = spark.read.schema(OUT_SCHEMA).json(str(staged))
        return sorted((r.upc, r.qty, r.price, r.version) for r in df.collect())

    feed1 = tmp_path / "feed_v1.csv"
    _write_feed(feed1, [("a", 5, 10.0), ("b", 2, 5.0), ("c", 9, 7.5)])
    (msg_dir / "m1.jsonl").write_text(_job_msg(feed1, 1) + "\n")

    serve_q = serve()
    serve_q.processAllAvailable()
    serve_q.stop()
    first = [("a", 5, 10.0, 1), ("b", 2, 5.0, 1), ("c", 9, 7.5, 1)]
    assert staged_rows() == first

    # restart on the SAME checkpoint: the committed message does not replay
    serve_q = serve()
    serve_q.processAllAvailable()
    assert staged_rows() == first

    # a second feed version arrives — its job output flows through once
    # (b's price moved, d is new)
    feed2 = tmp_path / "feed_v2.csv"
    _write_feed(feed2, [("a", 5, 10.0), ("b", 2, 6.0), ("c", 9, 7.5), ("d", 1, 2.0)])
    (msg_dir / "m2.jsonl").write_text(_job_msg(feed2, 2) + "\n")
    serve_q.processAllAvailable()
    serve_q.stop()
    # each key exactly once per job version
    assert staged_rows() == sorted(first + [
        ("a", 5, 10.0, 2), ("b", 2, 6.0, 2), ("c", 9, 7.5, 2), ("d", 1, 2.0, 2)
    ])
