"""Continuous aggregate (`operators/rollup.py`):

  * three overlapping-day batches merged incrementally == the full
    recompute, exactly (DECIMAL partials — no float drift across merge
    boundaries);
  * a merge touching only day B leaves day A's partition files
    PHYSICALLY untouched (dynamic partition overwrite — the O(batch)
    refresh contract).
"""

import glob
import os


def _batch(spark, rows):
    return spark.createDataFrame(
        [(f"2024-01-0{d}T0{h}:00:00", et, v) for d, h, et, v in rows],
        "ts_s string, event_type string, value double",
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "value")


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    from etl_edi_data_scrapper_spark.operators.rollup import (
        full_rollup,
        merge_daily_rollup,
    )

    out = str(tmp_path / "rollup")
    b1 = _batch(spark, [(1, 1, "view", 1.1), (1, 2, "view", 2.2), (2, 1, "click", 3.3)])
    b2 = _batch(spark, [(1, 3, "view", 4.4), (2, 2, "click", 5.5), (2, 3, "view", 6.6)])
    b3 = _batch(spark, [(3, 1, "view", 7.7)])

    merge_daily_rollup(spark, out, b1)
    merge_daily_rollup(spark, out, b2)
    merge_daily_rollup(spark, out, b3)

    got = {
        (str(r.day), r.event_type): (r.n, r.total)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (str(r.day), r.event_type): (r.n, r.total)
        for r in full_rollup(b1.unionByName(b2).unionByName(b3)).collect()
    }
    assert got == want
    assert got[("2024-01-01", "view")][0] == 3  # merged across batches


def test_rollup_leaves_untouched_day_partitions_alone(spark, tmp_path):
    from etl_edi_data_scrapper_spark.operators.rollup import merge_daily_rollup

    out = str(tmp_path / "rollup")
    merge_daily_rollup(spark, out, _batch(spark, [(1, 1, "view", 1.0), (2, 1, "click", 2.0)]))

    day1_files = {
        f: os.path.getmtime(f) for f in glob.glob(out + "/day=2024-01-01/*.parquet")
    }
    assert day1_files

    # second merge touches ONLY day 2: day 1's files must be bit-identical
    merge_daily_rollup(spark, out, _batch(spark, [(2, 5, "click", 4.0)]))
    after = {
        f: os.path.getmtime(f) for f in glob.glob(out + "/day=2024-01-01/*.parquet")
    }
    assert after == day1_files  # same paths, same mtimes — not rewritten

    got = {
        (str(r.day), r.event_type): (r.n, float(r.total))
        for r in spark.read.parquet(out).collect()
    }
    assert got[("2024-01-02", "click")] == (2, 6.0)
    assert got[("2024-01-01", "view")] == (1, 1.0)


def test_corrupt_store_raises_instead_of_merging_as_first_write(spark, tmp_path):
    """A store read failure that is NOT missing-path must propagate: if it
    were swallowed as 'first merge', the dynamic overwrite would replace
    touched-day partitions with batch-only counts — silent history loss."""
    import pytest

    from etl_edi_data_scrapper_spark.operators.rollup import merge_daily_rollup

    out = tmp_path / "rollup"
    merge_daily_rollup(spark, str(out), _batch(spark, [(1, 1, "view", 1.0)]))

    # corrupt every parquet footer in place
    for f in glob.glob(str(out) + "/day=*/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")

    with pytest.raises(Exception) as ei:
        merge_daily_rollup(spark, str(out), _batch(spark, [(1, 2, "view", 9.0)]))
    assert "PATH_NOT_FOUND" not in str(ei.value)

    # missing path is still a clean first merge
    fresh = tmp_path / "fresh"
    merge_daily_rollup(spark, str(fresh), _batch(spark, [(2, 1, "click", 2.0)]))
    assert spark.read.parquet(str(fresh)).count() == 1


def test_idempotent_rollup_replay_and_compaction(spark, tmp_path):
    """The replay-safe variant: re-merging the same batch_id (the crash-
    replay shape) changes NOTHING; distinct batches accumulate; compaction
    folds partials without changing the view; a replay of a NOT-compacted
    batch after compaction is still idempotent."""
    from etl_edi_data_scrapper_spark.operators.rollup import (
        compact_rollup,
        full_rollup,
        merge_daily_rollup_idempotent,
        read_rollup,
    )

    out = str(tmp_path / "rollup")
    b1 = _batch(spark, [(1, 1, "view", 1.1), (1, 2, "view", 2.2), (2, 1, "click", 3.3)])
    b2 = _batch(spark, [(1, 3, "view", 4.4), (2, 2, "click", 5.5)])

    def view():
        return {
            (str(r.day), r.event_type): (r.n, r.total)
            for r in read_rollup(spark, out).collect()
        }

    merge_daily_rollup_idempotent(spark, out, b1, batch_id=0)
    merge_daily_rollup_idempotent(spark, out, b1, batch_id=0)  # crash replay
    after_replay = view()
    want_b1 = {
        (str(r.day), r.event_type): (r.n, r.total) for r in full_rollup(b1).collect()
    }
    assert after_replay == want_b1  # NOT double-counted

    merge_daily_rollup_idempotent(spark, out, b2, batch_id=1)
    want_all = {
        (str(r.day), r.event_type): (r.n, r.total)
        for r in full_rollup(b1.unionByName(b2)).collect()
    }
    assert view() == want_all

    before, after = compact_rollup(spark, out)
    assert after < before  # partials folded
    assert view() == want_all  # view unchanged by compaction

    # batch 2 replays AFTER compaction folded batch 0/1? No — the contract
    # is compact only PAST the replay horizon; but a brand-new batch id
    # still merges cleanly into the compacted store
    b3 = _batch(spark, [(3, 1, "view", 7.0)])
    merge_daily_rollup_idempotent(spark, out, b3, batch_id=2)
    merge_daily_rollup_idempotent(spark, out, b3, batch_id=2)  # replay again
    want_all3 = {
        (str(r.day), r.event_type): (r.n, r.total)
        for r in full_rollup(b1.unionByName(b2).unionByName(b3)).collect()
    }
    assert view() == want_all3


def test_rollup_maintained_from_a_stream(spark, tmp_path):
    """Production shape: readStream → foreachBatch(merge_daily_rollup) —
    the rollup table stays correct across micro-batches."""
    import json as _json

    from etl_edi_data_scrapper_spark.operators.rollup import (
        full_rollup,
        merge_daily_rollup,
    )

    src = tmp_path / "events"
    src.mkdir()
    out = str(tmp_path / "rollup")

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for d, h, et, v in rows:
                f.write(
                    _json.dumps(
                        {"ts": f"2024-01-0{d}T0{h}:00:00.000Z", "event_type": et, "value": v}
                    )
                    + "\n"
                )

    stream = spark.readStream.schema("ts timestamp, event_type string, value double").json(
        str(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _bid: merge_daily_rollup(spark, out, df)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        write_batch("b1.jsonl", [(1, 1, "view", 1.5), (2, 1, "click", 2.5)])
        q.processAllAvailable()
        write_batch("b2.jsonl", [(1, 2, "view", 3.5), (3, 1, "view", 4.5)])
        q.processAllAvailable()
    finally:
        q.stop()

    batch_all = spark.read.schema("ts timestamp, event_type string, value double").json(
        str(src)
    )
    got = {
        (str(r.day), r.event_type): (r.n, float(r.total))
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (str(r.day), r.event_type): (r.n, float(r.total))
        for r in full_rollup(batch_all).collect()
    }
    assert got == want
    assert got[("2024-01-01", "view")] == (2, 5.0)


def test_serve_loop_rollup_crash_replay_e2e(spark, tmp_path):
    """The serve-loop rollup wiring (a stream's ``foreachBatch`` into
    `merge_daily_rollup_idempotent` with the stream's real batch id): the
    rollup store stays exactly-once across an injected crash BETWEEN the
    partial write and the checkpoint commit — Structured Streaming replays
    the batch with the same batch_id onto the same (day, batch_id)
    partitions.
    """
    import json as _json

    from etl_edi_data_scrapper_spark.operators.rollup import (
        full_rollup,
        merge_daily_rollup_idempotent,
        read_rollup,
    )

    src = tmp_path / "events"
    src.mkdir()
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for d, h, et, v in rows:
                f.write(
                    _json.dumps(
                        {"ts": f"2024-01-0{d}T0{h}:00:00.000Z", "event_type": et, "value": v}
                    )
                    + "\n"
                )

    schema = "ts timestamp, event_type string, value double"
    write_batch("b1.jsonl", [(1, 1, "view", 1.5), (2, 1, "click", 2.5)])

    # first run: wrap the merge, crashing after the partial lands but
    # before the checkpoint commits — the worst-case at-least-once window
    crashed = {"done": False}

    def crash_after_merge(df, bid):
        merge_daily_rollup_idempotent(spark, out, df, bid)
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash between rollup write and commit")

    q = (
        spark.readStream.schema(schema).json(str(src))
        .writeStream.foreachBatch(crash_after_merge)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    except Exception:
        pass
    q.stop()
    assert crashed["done"]
    # the partial landed but the batch is uncommitted — the dangerous half
    assert spark.read.parquet(out).count() > 0

    # restart on the SAME checkpoint with the plain wiring: batch 0
    # replays, overwrites exactly its own partitions; then feed more data
    q = (
        spark.readStream.schema(schema).json(str(src))
        .writeStream.foreachBatch(
            lambda df, bid: merge_daily_rollup_idempotent(spark, out, df, bid)
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch("b2.jsonl", [(1, 2, "view", 3.5), (3, 1, "view", 4.5)])
        q.processAllAvailable()
    finally:
        q.stop()

    events = spark.read.schema(schema).json(str(src))
    want = {
        (str(r.day), r.event_type, r.n, float(r.total))
        for r in full_rollup(events).collect()
    }
    got = {
        (str(r.day), r.event_type, r.n, float(r.total))
        for r in read_rollup(spark, out).collect()
    }
    assert got == want  # crash-replay did not double-count anything


def test_compact_rollup_cleans_stale_backup_from_prior_crash(spark, tmp_path):
    """A crash after the rewrite renamed in leaves a stale aside copy at
    __precompact; a later compaction must clear it and still swap
    correctly (and the view must be unchanged by compaction)."""
    from etl_edi_data_scrapper_spark.operators.rollup import (
        compact_rollup,
        merge_daily_rollup_idempotent,
        read_rollup,
    )

    out = str(tmp_path / "rollup")
    merge_daily_rollup_idempotent(
        spark, out, _batch(spark, [(1, 1, "view", 1.0), (2, 1, "click", 2.0)]), 0
    )
    merge_daily_rollup_idempotent(
        spark, out, _batch(spark, [(1, 2, "view", 3.0)]), 1
    )
    before_view = {
        (str(r.day), r.event_type, r.n, float(r.total))
        for r in read_rollup(spark, out).collect()
    }
    # plant a stale aside copy (what a crash before its delete leaves behind)
    stale = tmp_path / "rollup__precompact"
    stale.mkdir()
    (stale / "junk.txt").write_text("leftover from a crashed compaction")

    n_before, n_after = compact_rollup(spark, out)
    assert n_after <= n_before
    assert not stale.exists()  # stale backup cleared, successful swap cleaned up
    after_view = {
        (str(r.day), r.event_type, r.n, float(r.total))
        for r in read_rollup(spark, out).collect()
    }
    assert after_view == before_view


def test_rollup_missing_after_crashed_compaction_raises(spark, tmp_path):
    """A compaction that died mid-swap leaves the rollup at
    rollup__precompact (or only the rewrite at rollup__compacting). A merge
    that took the missing table for a first merge would start a fresh
    table of batch-only counts; both merges must refuse and name the
    survivor."""
    import shutil

    import pytest

    from etl_edi_data_scrapper_spark.operators.rollup import (
        merge_daily_rollup,
        merge_daily_rollup_idempotent,
        read_rollup,
    )

    merges = {
        "merge": lambda out, batch, bid: merge_daily_rollup(spark, out, batch),
        "idempotent": lambda out, batch, bid: merge_daily_rollup_idempotent(
            spark, out, batch, bid
        ),
    }
    for name, merge in merges.items():
        out = str(tmp_path / name / "rollup")
        merge(out, _batch(spark, [(1, 1, "view", 1.0)]), 0)
        for suffix in ("__precompact", "__compacting"):
            shutil.move(out, out + suffix)
            with pytest.raises(IOError, match=f"rollup{suffix}"):
                merge(out, _batch(spark, [(1, 2, "view", 2.0)]), 1)
            assert not os.path.exists(out), name  # no fresh table started
            shutil.move(out + suffix, out)
        merge(out, _batch(spark, [(1, 2, "view", 2.0)]), 1)
        [row] = read_rollup(spark, out).collect()
        assert (row.n, float(row.total)) == (2, 3.0), name  # history kept
