"""Engine facade + Structured Streaming windowed aggregation."""

import json
import re

import pytest
from pyspark.sql import functions as F

from etl_edi_data_scrapper_spark.engine import Engine
from etl_edi_data_scrapper_spark.plans.config import InvalidConfigError


JOB = lambda sf_dir: {  # noqa: E731
    "supplier_id": 9,
    "type_id": 3,
    "source": f"{sf_dir}/lineitem.parquet",
    "column_map_rules": {
        "upc": "l_partkey",
        "qty": ["l_quantity", "min"],
        "price": ["l_extendedprice", "max"],
    },
    "version": 1,
}


def test_engine_run_job_lazy_and_collect(spark, sf_dir):
    eng = Engine(spark)
    df = eng.run_job(JOB(sf_dir))
    assert df.count() == 200
    rows = eng.run_job(JOB(sf_dir), sink="collect")
    assert isinstance(rows, list) and rows[0].keys() == {
        "upc", "qty", "price", "supplier_id", "version"
    }


def test_engine_sinks(spark, sf_dir, tmp_path):
    eng = Engine(spark)
    eng.run_job(JOB(sf_dir), sink="parquet", sink_path=str(tmp_path / "p"))
    assert spark.read.parquet(str(tmp_path / "p")).count() == 200
    with pytest.raises(ValueError):
        eng.run_job(JOB(sf_dir), sink="bogus")


def test_engine_explain_shows_physical_plan(spark, sf_dir):
    plan = Engine(spark).explain(JOB(sf_dir))
    assert "Scan parquet" in plan and "Exchange" in plan


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """The streaming shape of events_window: file stream → watermark →
    tumbling window → memory sink (driven to completion synchronously)."""
    src = tmp_path / "stream"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:05:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01 00:25:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01 01:10:00", "event_type": "view", "value": 5.0},
    ]
    with open(src / "batch1.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("ts string, event_type string, value double")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .select(F.col("window.start").cast("string").alias("ws"), "event_type", "n", "v")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.ws, r.event_type): (r.n, r.v)
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
    finally:
        q.stop()
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 01:00:00", "view")] == (1, 5.0)


def test_streaming_session_window(spark, tmp_path):
    """session_window: gap-based sessions in a live streaming query."""
    import json as jsonmod

    src = tmp_path / "sess"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:00:00", "user": "u1", "value": 1.0},
        {"ts": "2024-01-01 00:04:00", "user": "u1", "value": 1.0},  # same session
        {"ts": "2024-01-01 01:00:00", "user": "u1", "value": 1.0},  # new session
        {"ts": "2024-01-01 00:00:00", "user": "u2", "value": 1.0},
    ]
    with open(src / "b1.jsonl", "w") as f:
        for r in rows:
            f.write(jsonmod.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("ts string, user string, value double")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user", "n")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory").queryName("sess_out").start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.user, r.n) for r in spark.sql("SELECT * FROM sess_out").collect()
        )
    finally:
        q.stop()
    assert got == [("u1", 1), ("u1", 2), ("u2", 1)]


# --- CLI entry point (ConsumerCommand.php app:consume parity) ----------------


def _job_config(sf_dir):
    return {
        "name": "acme-feed",
        "supplier_id": 55,
        "type_id": 3,
        "source": f"{sf_dir}/part.parquet",
        "column_map_rules": {"upc": "p_partkey", "name": "p_name"},
        "version": 1,
    }


def test_cli_consume_one_message(spark, sf_dir, tmp_path, capsys):
    import json

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    msg = tmp_path / "job.json"
    msg.write_text(json.dumps(_job_config(sf_dir)))
    rc = main(["consume", "--message", str(msg)], engine=Engine(spark=spark))
    out = capsys.readouterr().out
    assert rc == 0
    assert "INFO: Supplier (acme-feed) (55) parsing started" in out
    assert "SUCCESS: Message processed | Time:" in out
    assert "Rows: " in out


def test_cli_consume_bad_message_fails_with_error_line(tmp_path, spark, capsys):
    import json

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    msg = tmp_path / "bad.json"
    msg.write_text(json.dumps({"supplier_id": 1}))  # no source/type_id
    rc = main(["consume", "--message", str(msg)], engine=Engine(spark=spark))
    out = capsys.readouterr().out
    assert rc == 1
    assert "ERROR:" in out and "Time:" in out  # stats line even on failure


def test_cli_run_job_parquet_sink(spark, sf_dir, tmp_path):
    import json

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps(_job_config(sf_dir)))
    out_dir = tmp_path / "out"
    rc = main(
        ["run-job", "--config", str(cfg), "--sink", "parquet", "--sink-path", str(out_dir)],
        engine=Engine(spark=spark),
    )
    assert rc == 0
    assert spark.read.parquet(str(out_dir)).count() > 0


def test_cli_compact_store(spark, tmp_path, capsys):
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.streaming.neardup_stream import (
        dedup_batch_against_store,
    )

    store = str(tmp_path / "store")
    b = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    dedup_batch_against_store(spark, b, store)
    dedup_batch_against_store(spark, b, store)  # replay: duplicate rows
    rc = main(["compact-store", "--store", store], engine=Engine(spark=spark))
    out = capsys.readouterr().out
    assert rc == 0
    assert "SUCCESS: Store compacted | Rows: 12 -> 6" in out


def test_cli_rollup_merge(spark, tmp_path, capsys):
    import json

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    batch = tmp_path / "events.jsonl"
    with open(batch, "w") as f:
        for h, et, v in [(1, "view", 1.0), (2, "view", 2.0), (3, "click", 4.0)]:
            f.write(json.dumps({"ts": f"2024-01-01T0{h}:00:00.000Z", "event_type": et, "value": v}) + "\n")
    rollup = str(tmp_path / "rollup")
    eng = Engine(spark=spark)
    rc = main(["rollup-merge", "--rollup", rollup, "--events", str(batch)], engine=eng)
    assert rc == 0
    assert "SUCCESS: Rollup merged | Rows: 2" in capsys.readouterr().out
    # a second merge folds in, not replaces
    rc = main(["rollup-merge", "--rollup", rollup, "--events", str(batch)], engine=eng)
    assert rc == 0
    got = {r.event_type: (r.n, float(r.total)) for r in spark.read.parquet(rollup).collect()}
    assert got == {"view": (4, 6.0), "click": (2, 8.0)}


def test_cli_rollup_merge_idempotent_and_compact(spark, tmp_path, capsys):
    """--batch-id routes to the replay-idempotent store: rerunning the
    same id is a no-op for the view; rollup-compact folds partials."""
    import json

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.operators.rollup import read_rollup

    batch = tmp_path / "events.jsonl"
    with open(batch, "w") as f:
        for h, et, v in [(1, "view", 1.0), (2, "view", 2.0), (3, "click", 4.0)]:
            f.write(json.dumps({"ts": f"2024-01-01T0{h}:00:00.000Z", "event_type": et, "value": v}) + "\n")
    rollup = str(tmp_path / "rollup")
    eng = Engine(spark=spark)
    args = ["rollup-merge", "--rollup", rollup, "--events", str(batch)]
    assert main([*args, "--batch-id", "0"], engine=eng) == 0
    assert main([*args, "--batch-id", "0"], engine=eng) == 0  # replay
    view = {r.event_type: (r.n, float(r.total)) for r in read_rollup(spark, rollup).collect()}
    assert view == {"view": (2, 3.0), "click": (1, 4.0)}  # not doubled

    assert main([*args, "--batch-id", "1"], engine=eng) == 0  # a real second batch
    rc = main(["rollup-compact", "--rollup", rollup], engine=eng)
    out = capsys.readouterr().out
    assert rc == 0 and "Rollup compacted" in out
    view2 = {r.event_type: (r.n, float(r.total)) for r in read_rollup(spark, rollup).collect()}
    assert view2 == {"view": (4, 6.0), "click": (2, 8.0)}


def test_cli_rollup_merge_two_increments_equal_full_recompute(spark, tmp_path):
    """End-to-end oracle for the CLI path: two DISTINCT overlapping-day
    increments folded through `rollup-merge` must equal `full_rollup` of
    their union, exactly (DECIMAL partials — no drift at merge seams)."""
    import json

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.operators.rollup import full_rollup

    rows = {
        "b1.jsonl": [(1, 1, "view", 1.1), (1, 2, "view", 2.2), (2, 1, "click", 3.3)],
        "b2.jsonl": [(1, 3, "view", 4.4), (2, 2, "click", 5.5), (3, 1, "view", 6.6)],
    }
    for fname, rs in rows.items():
        with open(tmp_path / fname, "w") as f:
            for d, h, et, v in rs:
                f.write(json.dumps({
                    "ts": f"2024-01-0{d}T0{h}:00:00.000Z",
                    "event_type": et, "value": v,
                }) + "\n")

    rollup = str(tmp_path / "rollup")
    eng = Engine(spark=spark)
    for fname in rows:
        rc = main(
            ["rollup-merge", "--rollup", rollup, "--events", str(tmp_path / fname)],
            engine=eng,
        )
        assert rc == 0

    all_events = (
        spark.read.json([str(tmp_path / f) for f in rows])
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    got = {
        (str(r.day), r.event_type): (r.n, r.total)
        for r in spark.read.parquet(rollup).collect()
    }
    want = {
        (str(r.day), r.event_type): (r.n, r.total)
        for r in full_rollup(all_events).collect()
    }
    assert got == want and len(got) == 3  # (d1,view) (d2,click) (d3,view)


def test_cli_curate_writes_verdicts(spark, sf_dir, tmp_path, capsys):
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    out_dir = str(tmp_path / "verdicts")
    rc = main(
        [
            "curate",
            "--docs", f"{sf_dir}/documents.parquet",
            "--output", out_dir,
            "--stages", "quality,gopher,exact,minhash",
            "--clf-reference-col", "source",
            "--clf-reference-value", "src0",
        ],
        engine=Engine(spark=spark),
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "SUCCESS: Corpus curated | Docs: 500" in out
    assert "STAGE: quality drops:" in out
    assert "STAGE: is_exact_dup:" in out
    got = spark.read.parquet(out_dir)
    assert got.count() == 500
    cols = set(got.columns)
    assert {
        "doc_id", "lang_pred", "quality", "quality_keep", "gopher_keep",
        "gopher_line_keep", "is_exact_dup", "is_near_dup", "clf_score",
        "clf_keep", "curate_keep",
    } <= cols
    # curate_keep must equal the AND of the stage verdicts, row by row
    from pyspark.sql import functions as F

    bad = got.filter(
        F.col("curate_keep")
        != (
            F.col("quality_keep") & F.col("gopher_keep") & F.col("gopher_line_keep")
            & ~F.col("is_exact_dup") & ~F.col("is_near_dup") & F.col("clf_keep")
        )
    ).count()
    assert bad == 0
    # at least one stage must have bitten on the real corpus
    assert got.filter(~F.col("curate_keep")).count() > 0


def test_cli_curate_decontamination_two_tier(spark, sf_dir, tmp_path, capsys):
    """--benchmark wires the bloom screen + exact decon cut end to end:
    an injected benchmark leak is flagged by the screen, surgically cut
    by the exact tier, and a fully-leaked doc drops via decon_keep."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    bench_text = " ".join(f"benchtok{i}" for i in range(12))  # 12-token item
    bench_dir = str(tmp_path / "bench")
    spark.createDataFrame([(0, bench_text)], "bid long, text string").write.parquet(
        bench_dir
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # doc 3: leak embedded mid-document; doc 7: the doc IS the leak
    docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 3, F.concat(F.col("text"), F.lit(" " + bench_text)))
        .when(F.col("doc_id") == 7, F.lit(bench_text))
        .otherwise(F.col("text")),
    )
    docs_dir = str(tmp_path / "docs")
    docs.write.parquet(docs_dir)

    out_dir = str(tmp_path / "verdicts")
    rc = main(
        [
            "curate",
            "--docs", docs_dir,
            "--output", out_dir,
            "--stages", "quality,bloom,decon",
            "--benchmark", bench_dir,
        ],
        engine=Engine(spark=spark),
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "STAGE: bloom_contaminated:" in out
    assert "STAGE: decon drops:" in out
    got = spark.read.parquet(out_dir)
    by_id = {
        r.doc_id: r
        for r in got.filter(F.col("doc_id").isin(3, 7, 11)).collect()
    }
    assert by_id[3].bloom_contaminated and by_id[3].n_tokens_cut >= 12
    assert "benchtok0" not in by_id[3].decon_text  # leak surgically gone
    assert by_id[3].decon_keep  # doc survives minus the passage
    assert by_id[7].bloom_contaminated and not by_id[7].decon_keep
    assert not by_id[7].curate_keep  # fully-leaked doc drops
    assert not by_id[11].bloom_contaminated and by_id[11].n_tokens_cut == 0
    assert by_id[11].decon_text is not None and by_id[11].decon_keep
    # every doc verdicts exactly once (two-tier union covers the corpus)
    assert got.count() == 500


def test_cli_curate_blocklist_hook(spark, tmp_path, capsys):
    """--blocklist swaps the placeholder bad-words list for a deployment
    one; the c4 stage verdict follows it."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    page = "\n".join(f"Sentence number {i} keeps fine." for i in range(6))
    docs = [
        (0, page),
        (1, page + "\nAnd zorblax closes the page."),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(docs_dir)
    bl = tmp_path / "blocklist.txt"
    bl.write_text("# deployment list\nzorblax\n")

    out_dir = str(tmp_path / "verdicts")
    rc = main(
        [
            "curate",
            "--docs", docs_dir,
            "--output", out_dir,
            "--stages", "c4",
            "--blocklist", str(bl),
        ],
        engine=Engine(spark=spark),
    )
    assert rc == 0
    got = {
        r.doc_id: (r.c4_badword_hits, r.c4_badwords_keep, r.curate_keep)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[0] == (0, True, True)
    assert got[1] == (1, False, False)


def test_cli_curate_spans_stage(spark, tmp_path):
    """The spans stage cuts corpus-wide duplicate substrings into
    spans_clean_text and drops pure-boilerplate docs via spans_keep."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    banner = " ".join(f"nav{i}" for i in range(8))
    docs = [
        (0, f"{banner} body of the first document here"),
        (1, f"{banner} a different later body follows now"),
        (2, banner),  # pure boilerplate: everything cut
        (3, "entirely original words that repeat nothing at all"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(docs_dir)
    out_dir = str(tmp_path / "verdicts")
    rc = main(
        ["curate", "--docs", docs_dir, "--output", out_dir, "--stages", "spans"],
        engine=Engine(spark=spark),
    )
    assert rc == 0
    got = {
        r.doc_id: (r.spans_tokens_cut, r.spans_keep, r.spans_clean_text, r.curate_keep)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[0][0] == 0 and got[0][1]  # first occurrence intact
    assert got[1][0] == 8 and got[1][1] and "nav0" not in got[1][2]
    assert got[2] == (8, False, "", False)  # pure boilerplate drops
    assert got[3][0] == 0 and got[3][3]


def test_cli_dedup_embeddings_with_bridge(spark, tmp_path, capsys):
    """The semdedup recall knob is CLI-operable: replica families split
    across shards are caught by --bridge-tables and the stats line
    reports bridge vs per-pass drops."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    rows = []
    for fam in range(8):
        base = [1.0 if d == fam else 0.0 for d in range(8)]
        for r in range(4):  # 4 near-identical replicas per family
            rows.append(
                (fam * 4 + r, [x + 0.001 * ((r + d) % 2) for d, x in enumerate(base)])
            )
    emb_dir = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        emb_dir
    )
    out_dir = str(tmp_path / "verdicts")
    rc = main(
        [
            "dedup-embeddings",
            "--embeddings", emb_dir,
            "--output", out_dir,
            "--threshold", "0.9",
            "--rows-per-shard", "4",  # 8 shards: families WILL straddle
            "--n-passes", "1",
            "--k-per-shard", "1",
            "--bridge-tables", "2",
        ],
        engine=Engine(spark=spark),
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "STAGE: bridge drops:" in out
    assert "SUCCESS: Embeddings deduplicated | Vectors: 32 | Kept: 8" in out
    got = spark.read.parquet(out_dir)
    assert got.count() == 32
    # exactly the 8 family minima survive (bridge catches what sharding
    # split; precision structural: orthogonal families never cross-drop)
    kept = sorted(r.vec_id for r in got.filter("keep").collect())
    assert kept == [fam * 4 for fam in range(8)]


def test_cli_curate_urls_stage(spark, tmp_path):
    """--url-col enables canonical-key URL dedup + domain blocklisting."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    docs = [
        (0, "first doc text here", "https://example.com/a"),
        (1, "second doc text here", "https://WWW.example.com/a/#frag"),  # dup of 0
        (2, "third doc text here", "https://example.com/a?utm_source=x"),  # dup of 0
        (3, "fourth doc text here", "https://spam.example.net/x"),  # blocked
        (4, "fifth doc text here", "https://example.org/b"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, url string"
    ).write.parquet(docs_dir)
    bl = tmp_path / "domains.txt"
    bl.write_text("# blocked\nexample.net\n")
    out_dir = str(tmp_path / "verdicts")
    rc = main(
        [
            "curate",
            "--docs", docs_dir,
            "--output", out_dir,
            "--stages", "urls",
            "--url-col", "url",
            "--domain-blocklist", str(bl),
        ],
        engine=Engine(spark=spark),
    )
    assert rc == 0
    got = {
        r.doc_id: (r.is_url_dup, r.domain_blocked, r.urls_keep, r.curate_keep)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[0] == (False, False, True, True)
    assert got[1] == (True, False, False, False)
    assert got[2] == (True, False, False, False)
    assert got[3] == (False, True, False, False)
    assert got[4] == (False, False, True, True)


def test_cli_curate_urls_stage_with_psl(spark, tmp_path):
    """--psl swaps the 6-entry stub for a real public-suffix list: with
    github.io a public suffix, one user site blocks without blocking the
    whole platform."""
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    docs = [
        (0, "alpha text", "https://alice.github.io/repo"),
        (1, "beta text", "https://bob.github.io/repo"),
        (2, "gamma text", "https://example.com/x"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, url string"
    ).write.parquet(docs_dir)
    (tmp_path / "psl.dat").write_text("// psl\ncom\nio\ngithub.io\n")
    (tmp_path / "domains.txt").write_text("alice.github.io\n")
    out_dir = str(tmp_path / "verdicts")
    rc = main(
        [
            "curate",
            "--docs", docs_dir,
            "--output", out_dir,
            "--stages", "urls",
            "--url-col", "url",
            "--domain-blocklist", str(tmp_path / "domains.txt"),
            "--psl", str(tmp_path / "psl.dat"),
        ],
        engine=Engine(spark=spark),
    )
    assert rc == 0
    got = {
        r.doc_id: (r.domain_blocked, r.urls_keep)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[0] == (True, False)   # alice's site blocked
    assert got[1] == (False, True)   # bob's site is a DIFFERENT domain
    assert got[2] == (False, True)


def test_curate_urls_stage_requires_url_col(spark, sf_dir):
    import pytest

    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    with pytest.raises(ValueError, match="url_col"):
        curate_corpus(
            spark,
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            stages=("urls",),
        )


def test_curate_decon_stage_requires_benchmark(spark, sf_dir):
    import pytest

    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    with pytest.raises(ValueError, match="benchmark"):
        curate_corpus(
            spark,
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            stages=("quality", "decon"),
        )


def test_cli_curate_rejects_unknown_stage(spark, sf_dir, tmp_path):
    import pytest

    from etl_edi_data_scrapper_spark.engine import Engine
    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    with pytest.raises(ValueError, match="unknown stages"):
        curate_corpus(
            spark,
            spark.read.parquet(f"{sf_dir}/documents.parquet"),
            stages=("quality", "nope"),
        )


def test_curate_url_gate_short_circuits_text_stages(spark):
    """url_gate=True runs URL curation FIRST and feeds only survivors to
    the text stages: gated-out docs carry NULL text-stage columns (never
    computed) and a False curate_keep; dedup groups among survivors are
    unchanged."""
    import pytest

    from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

    text = "some reasonable english document text the a of and to in is it"
    rows = [
        (0, text + " zero", "https://example.com/a"),
        (1, text + " one", "https://WWW.example.com/a/"),   # URL dup of 0
        (2, text + " two", "https://example.com/b"),
        (3, text + " two", "https://example.com/c"),         # exact dup of 2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    got = {
        r.doc_id: r
        for r in curate_corpus(
            spark,
            docs,
            stages=("quality", "exact", "urls"),
            url_col="url",
            url_gate=True,
        ).collect()
    }
    # doc 1 gated out by URL dedup: text stages never ran on it
    assert got[1].is_url_dup and not got[1].curate_keep
    assert got[1].quality is None and got[1].lang_pred is None
    assert got[1].is_exact_dup is None
    # survivors: full verdicts; 3 is still the exact dup of 2
    assert got[0].curate_keep
    assert got[2].curate_keep and not got[2].is_exact_dup
    assert got[3].is_exact_dup and not got[3].curate_keep
    assert got[0].quality is not None

    with pytest.raises(ValueError, match="url_gate"):
        curate_corpus(spark, docs, stages=("quality",), url_gate=True)


def test_cli_curate_url_gate_flag(spark, tmp_path):
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    docs = [
        (0, "good english text the a of and to in is it", "https://x.com/a"),
        (1, "good english text the a of and to in is it", "https://x.com/a/"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, url string"
    ).write.parquet(docs_dir)
    out_dir = str(tmp_path / "verdicts")
    rc = main(
        [
            "curate",
            "--docs", docs_dir,
            "--output", out_dir,
            "--stages", "quality,urls",
            "--url-col", "url",
            "--url-gate",
        ],
        engine=Engine(spark=spark),
    )
    assert rc == 0
    got = {r.doc_id: r for r in spark.read.parquet(out_dir).collect()}
    assert not got[1].curate_keep and got[1].quality is None
    assert got[0].curate_keep


def test_cli_curate_linedup_stage(spark, tmp_path):
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    docs = [
        (0, "unique zero\nshared banner"),
        (1, "shared banner\nbody one"),     # banner cut, doc survives
        (2, "shared banner"),               # everything cut -> dropped
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(docs_dir)
    out_dir = str(tmp_path / "verdicts")
    rc = main(
        ["curate", "--docs", docs_dir, "--output", out_dir,
         "--stages", "linedup"],
        engine=Engine(spark=spark),
    )
    assert rc == 0
    got = {r.doc_id: r for r in spark.read.parquet(out_dir).collect()}
    assert got[0].curate_keep and got[0].linedup_lines_cut == 0
    assert got[1].curate_keep and got[1].linedup_clean_text == "body one"
    assert not got[2].curate_keep and got[2].linedup_clean_text == ""


def test_cli_curate_domain_report(spark, tmp_path, capsys):
    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    docs = [
        (0, "good english text the a of and to in is it", "https://spam.net/a"),
        (1, "good english text the a of and to in is it", "https://spam.net/a/"),
        (2, "good english text the a of and to in is it", "https://good.org/x"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, url string"
    ).write.parquet(docs_dir)
    out_dir = str(tmp_path / "verdicts")
    rep_dir = str(tmp_path / "domains")
    rc = main(
        [
            "curate",
            "--docs", docs_dir,
            "--output", out_dir,
            "--stages", "quality,urls",
            "--url-col", "url",
            "--domain-report", rep_dir,
        ],
        engine=Engine(spark=spark),
    )
    assert rc == 0
    assert "STAGE: domain report: 2 domains, 1 flagged" in capsys.readouterr().out
    got = {r.url_domain: (r.dom_dup_milli, r.dom_flagged)
           for r in spark.read.parquet(rep_dir).collect()}
    assert got["spam.net"] == (500, True)
    assert got["good.org"] == (0, False)


def test_cli_curate_args_preflight(spark, sf_dir, tmp_path):
    """Arg combinations knowable-bad from the args alone exit as clean
    argparse errors BEFORE any pipeline work — --url-gate without the
    urls stage, and the urls stage without --url-col, get the same
    preflight --domain-report already had (r10 ADVICE)."""
    import pytest

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    base = [
        "curate",
        "--docs", f"{sf_dir}/documents.parquet",
        "--output", str(tmp_path / "v"),
    ]
    eng = Engine(spark=spark)
    with pytest.raises(SystemExit) as e1:
        main(base + ["--stages", "quality", "--url-gate"], engine=eng)
    assert e1.value.code == 2  # argparse error exit, not a traceback
    with pytest.raises(SystemExit) as e2:
        main(base + ["--stages", "urls"], engine=eng)  # missing --url-col
    assert e2.value.code == 2


def test_cli_curate_url_idna_flag_and_stage_dir_fingerprint(
    spark, tmp_path, capsys
):
    """r12 (r11 verdict #4): --url-idna is operable from the CLI — the
    IDN spelling and its punycode twin dedup to ONE key under the flag
    and stay distinct without it; the flag is part of the --stage-dir
    fingerprint, so resuming a dir built under the other regime refuses;
    and --url-idna without the urls stage is a preflight error."""
    import pytest

    from etl_edi_data_scrapper_spark.__main__ import main
    from etl_edi_data_scrapper_spark.engine import Engine

    docs = [
        (0, "doc a", "https://münchen.de/pfad?x=1"),
        (1, "doc b", "https://xn--mnchen-3ya.de/pfad?x=1"),
        (2, "doc c", "https://example.com/a"),
    ]
    docs_dir = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, url string"
    ).write.parquet(docs_dir)
    eng = Engine(spark=spark)

    out_plain = str(tmp_path / "v_plain")
    assert main(
        ["curate", "--docs", docs_dir, "--output", out_plain,
         "--stages", "urls", "--url-col", "url"],
        engine=eng,
    ) == 0
    plain = {r.doc_id: r.is_url_dup
             for r in spark.read.parquet(out_plain).collect()}
    assert plain == {0: False, 1: False, 2: False}  # distinct keys

    out_idna = str(tmp_path / "v_idna")
    stage_dir = str(tmp_path / "stages")
    assert main(
        ["curate", "--docs", docs_dir, "--output", out_idna,
         "--stages", "urls", "--url-col", "url", "--url-idna",
         "--stage-dir", stage_dir],
        engine=eng,
    ) == 0
    idna = {r.doc_id: r.is_url_dup
            for r in spark.read.parquet(out_idna).collect()}
    assert idna == {0: False, 1: True, 2: False}  # folded: 1 dups 0

    # resuming the stage dir under the OTHER regime refuses
    with pytest.raises(ValueError, match="different\\s+parameters"):
        main(
            ["curate", "--docs", docs_dir, "--output", out_plain,
             "--stages", "urls", "--url-col", "url",
             "--stage-dir", stage_dir],
            engine=eng,
        )

    # preflight: --url-idna without the urls stage
    with pytest.raises(SystemExit):
        main(
            ["curate", "--docs", docs_dir, "--output", out_plain,
             "--stages", "quality", "--url-idna"],
            engine=eng,
        )
    assert "--url-idna needs the urls stage" in capsys.readouterr().err


def _plan_text(df) -> str:
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())


def test_removed_merge_keys_compile_to_the_plain_plan(spark, tmp_path):
    """Job messages that still carry the retired `merge_strategy` /
    `salt_buckets` / `salt_above` keys land in `InputConfig.extra` like any
    unknown key: the job compiles to the one keyed-merge plan."""
    feed = tmp_path / "feed.csv"
    feed.write_text("UPC,Qty,Status\n1,5,a\n1,3,b\n2,7,c\n")
    job = {
        "supplier_id": 4, "type_id": 2, "source": str(feed), "version": 1,
        "column_map_rules": {
            "upc": "UPC", "qty": ["Qty", "min"], "status": ["Status", "addArray"],
        },
    }
    eng = Engine(spark)
    plain = _plan_text(eng.compile(job))
    for keys in ({"merge_strategy": "salted", "salt_buckets": 4},
                 {"merge_strategy": "auto", "salt_buckets": 4, "salt_above": 1}):
        assert _plan_text(eng.compile({**job, **keys})) == plain, keys


def test_seq_expr_list_needs_one_entry_per_leg(spark):
    """A per-leg `seq_expr` list must name one expression per leg: a short
    list would index past its end, a long one would be silently cut."""
    job = {
        "supplier_id": 4, "version": 1, "type_id": None,
        "column_map_rules": {"upc": "upc"},
        "source": [
            {"type_id": 2, "filename": "base.csv", "key": "upc", "fields": ["qty"]},
            {"type_id": 2, "filename": "leg.csv", "key": "sku", "fields": ["name"]},
        ],
        "seq_expr": ["CAST(upc AS BIGINT)"],
    }
    with pytest.raises(InvalidConfigError, match="seq_expr"):
        Engine(spark).compile(job)
