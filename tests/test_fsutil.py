"""fsutil.write_text_atomic failure semantics (r13 ADVICE #2): a failed
delete of the pre-existing destination must surface as an IOError when
the rename then fails too — the survivor at dst is the STALE original,
and silently returning success would hand callers old sidecar content
(the exact staleness the atomic writer exists to prevent). The genuine
lost-race case (a concurrent writer's FRESH file occupies dst) stays
tolerated.

The store-replacement protocol: `read_store` says "no store yet" only for
a missing or empty directory (the crash leftovers are checked through its
callers in test_rollup.py and test_streaming_neardup.py); `replace_dir`
rolls back when the rename-in fails and never runs without a live store.
"""

from __future__ import annotations

import pytest

from etl_edi_data_scrapper_spark import fsutil


class _FsProxy:
    """Python-side wrapper over the py4j FileSystem: fsutil only ever
    calls plain methods on it, so a delegating proxy can force delete/
    rename outcomes per-path without touching the JVM."""

    def __init__(self, real, dst_str, fail_delete=False, fail_rename=False,
                 fake_delete_ok=False):
        self._real = real
        self._dst = dst_str
        self._fail_delete = fail_delete
        self._fail_rename = fail_rename
        self._fake_delete_ok = fake_delete_ok

    def __getattr__(self, name):
        return getattr(self._real, name)

    def delete(self, p, recursive):
        if p.toString() == self._dst:
            if self._fail_delete:
                return False  # e.g. permissions: file survives
            if self._fake_delete_ok:
                return True  # pretend deleted; a "winner" recreated it
        return self._real.delete(p, recursive)

    def rename(self, src, dst):
        if self._fail_rename and self._dst in (src.toString(), dst.toString()):
            return False
        return self._real.rename(src, dst)


def _patch(monkeypatch, spark, dst_path, **kw):
    real_fs = fsutil._fs

    def fake(spark_, path):
        fs, p = real_fs(spark_, path)
        return _FsProxy(fs, dst_path, **kw), p

    monkeypatch.setattr(fsutil, "_fs", fake)


def test_roundtrip_and_overwrite(spark, tmp_path):
    p = str(tmp_path / "meta.json")
    fsutil.write_text_atomic(spark, p, "v1")
    assert fsutil.read_text(spark, p) == "v1"
    fsutil.write_text_atomic(spark, p, "v2")
    assert fsutil.read_text(spark, p) == "v2"


def test_failed_delete_plus_failed_rename_raises_stale(
    spark, tmp_path, monkeypatch
):
    """delete returns False AND rename fails → the surviving dst is the
    old file; must raise, never silently succeed (the pre-r14 bug)."""
    p = str(tmp_path / "meta.json")
    fsutil.write_text_atomic(spark, p, "OLD")
    dst_str = fsutil._fs(spark, p)[1].toString()
    _patch(monkeypatch, spark, dst_str, fail_delete=True, fail_rename=True)
    with pytest.raises(IOError, match="stale"):
        fsutil.write_text_atomic(spark, p, "NEW")
    monkeypatch.undo()
    assert fsutil.read_text(spark, p) == "OLD"  # survivor is the original
    # and no tmp litter
    import os

    assert [f for f in os.listdir(tmp_path) if ".tmp." in f] == []


def test_lost_race_to_concurrent_writer_is_tolerated(
    spark, tmp_path, monkeypatch
):
    """Our delete 'succeeded' (winner recreated dst immediately), rename
    refuses the existing destination → dst holds the winner's complete
    file; the loser returns quietly and drops its tmp."""
    p = str(tmp_path / "meta.json")
    fsutil.write_text_atomic(spark, p, "WINNER")
    dst_str = fsutil._fs(spark, p)[1].toString()
    _patch(monkeypatch, spark, dst_str, fake_delete_ok=True,
           fail_rename=True)
    fsutil.write_text_atomic(spark, p, "LOSER")  # no raise
    monkeypatch.undo()
    assert fsutil.read_text(spark, p) == "WINNER"
    import os

    assert [f for f in os.listdir(tmp_path) if ".tmp." in f] == []


def _write(spark, path, n):
    spark.range(n).write.mode("overwrite").parquet(path)


def _ids(spark, path):
    return sorted(r.id for r in spark.read.parquet(path).collect())


def test_read_store_no_store_yet(spark, tmp_path):
    live = str(tmp_path / "store")
    assert fsutil.read_store(spark, live) is None  # missing
    (tmp_path / "store").mkdir()
    assert fsutil.read_store(spark, live) is None  # empty dir
    # a rewrite that never swapped in does not hide a live store
    _write(spark, live, 3)
    _write(spark, live + fsutil.COMPACTING, 5)
    assert fsutil.read_store(spark, live).count() == 3


def test_replace_dir_failed_rename_in_leaves_original(spark, tmp_path, monkeypatch):
    live = str(tmp_path / "store")
    _write(spark, live, 3)
    _write(spark, live + fsutil.COMPACTING, 5)
    tmp_str = fsutil._fs(spark, live + fsutil.COMPACTING)[1].toString()
    _patch(monkeypatch, spark, tmp_str, fail_rename=True)
    with pytest.raises(IOError, match="original restored"):
        fsutil.replace_dir(spark, live)
    monkeypatch.undo()
    assert _ids(spark, live) == [0, 1, 2]  # the original, at its path
    assert not (tmp_path / f"store{fsutil.PRECOMPACT}").exists()
    assert _ids(spark, live + fsutil.COMPACTING) == [0, 1, 2, 3, 4]


def test_replace_dir_refuses_without_a_live_store(spark, tmp_path):
    # the live data may then be at the aside path: deleting it as "stale"
    # would lose the only copy
    live = str(tmp_path / "store")
    _write(spark, live + fsutil.PRECOMPACT, 3)
    _write(spark, live + fsutil.COMPACTING, 3)
    with pytest.raises(IOError, match="no store at"):
        fsutil.replace_dir(spark, live)
    assert _ids(spark, live + fsutil.PRECOMPACT) == [0, 1, 2]
