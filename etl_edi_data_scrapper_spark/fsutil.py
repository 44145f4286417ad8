"""Tiny text-file I/O through the Hadoop FileSystem API.

Sidecar files that live NEXT TO Spark-written data (an index's
`_meta.json`, a DSIR table's kind marker) and the JSON model files must
share the data's filesystem: driver-local ``open()`` silently diverges
the moment the path is ``hdfs://`` / ``s3a://`` — the sidecar lands on
the driver's local disk while the data goes remote, decoupling their
lifecycles. These helpers route through ``Path.getFileSystem`` (the same
py4j surface `streaming/neardup_stream.py` and `operators/rollup.py`
already use for renames), so local paths behave exactly as before and
remote paths follow the data.

``write_text_atomic`` is write-tmp → delete-dst → rename: rename is
atomic per filesystem; the delete+rename pair is the standard HDFS
approximation (rename refuses an existing destination there). A crash
between the two leaves NO sidecar — for every caller here the missing-
file direction is the safe one (a missing meta is a loud/default
read, never a stale one).
"""

from __future__ import annotations


def _fs(spark, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def read_text(spark, path: str) -> str | None:
    """File contents as UTF-8 text, or None if absent."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_text_atomic(spark, path: str, text: str) -> None:
    """Write-then-rename so a crash mid-write never leaves a partial
    file readable at ``path`` (a missing file must be safer for the
    caller than a truncated one — true for meta sidecars and model files)."""
    import uuid

    fs, dst = _fs(spark, path)
    # uuid-suffixed tmp: two concurrent writers (e.g. two appenders
    # racing one index's `_meta.json`) must not share a tmp
    # path, or one can rename the other's half-written file. Unique tmps
    # guarantee whatever lands at ``path`` is a COMPLETE file; they do
    # NOT serialize the race itself — Hadoop rename refuses an existing
    # destination, so a loser can still hit the rename-failed branch in
    # the exists/delete/rename window after the winner's rename lands.
    # That case is tolerated below: dst then holds the winner's complete
    # file, which is an acceptable outcome for every sidecar caller.
    tmp = spark._jvm.org.apache.hadoop.fs.Path(
        path + ".tmp." + uuid.uuid4().hex
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    # remember the pre-existing dst's mtime: if OUR delete fails (returns
    # False — e.g. permissions) and the rename then fails too, the file
    # surviving at dst is the STALE original, not a concurrent writer's
    # fresh one — that case must raise, not silently "succeed" leaving old
    # content (r13 ADVICE #2). A changed/vanished-then-reappeared mtime
    # means some OTHER writer completed meanwhile, which is the tolerated
    # race below.
    old_mtime = None
    if fs.exists(dst):
        if not fs.delete(dst, False):
            try:
                old_mtime = fs.getFileStatus(dst).getModificationTime()
            except Exception:
                old_mtime = -1  # unreadable: treat any survivor as stale
    if not fs.rename(tmp, dst):
        if fs.exists(dst):
            surviving_is_stale = old_mtime is not None and (
                old_mtime == -1
                or fs.getFileStatus(dst).getModificationTime() == old_mtime
            )
            if not surviving_is_stale:
                # lost the race to a concurrent writer whose complete
                # file now occupies dst — drop our tmp and accept theirs
                fs.delete(tmp, False)
                return
        fs.delete(tmp, False)
        raise IOError(
            f"rename {tmp} -> {path} failed"
            + (
                " (delete of the pre-existing file failed too; the stale"
                " original still occupies the path)"
                if old_mtime is not None
                else ""
            )
        )
