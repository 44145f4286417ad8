"""The one module that talks to the Hadoop FileSystem API.

Text files that live NEXT TO Spark-written data (an index's
`_meta.json`, a model file, a curate stage dir's `_config.json`) and the
stores themselves (the near-dup band-key store, the IVF-PQ codes, the
daily rollup) must share the data's filesystem: driver-local ``open()``
or ``os.path`` silently diverges the moment the path is ``hdfs://`` /
``s3a://`` / ``file://``. Everything here goes through
``Path.getFileSystem``, so local paths behave exactly as before and
remote paths follow the data.

``write_text_atomic`` is write-tmp → delete-dst → rename: rename is
atomic per filesystem; the delete+rename pair is the standard HDFS
approximation (rename refuses an existing destination there). A crash
between the two leaves NO file — for every caller here the missing-
file direction is the safe one (a missing meta is a loud/default
read, never a stale one).

Stores follow one replacement protocol. A rewrite (compaction) writes
``<dir>__compacting``, then `replace_dir` renames the live ``<dir>``
aside to ``<dir>__precompact``, renames the rewrite in, and deletes the
aside copy; a failed rename-in renames the original back. At every
instant the live data is at ``<dir>`` or at ``<dir>__precompact``, and
`read_store` (through `refuse_crashed_swap`, which a blind writer calls
directly) refuses to treat a missing ``<dir>`` as "no store yet" while
either working directory survives: a writer that started a fresh store
there would silently drop the history.
"""

from __future__ import annotations

PRECOMPACT = "__precompact"
COMPACTING = "__compacting"


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


def exists(spark, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def data_files(spark, path: str) -> int:
    """Data files under ``path``, recursively; names starting with '_'
    or '.' are bookkeeping (``_SUCCESS``, checksums), not data. 0 when
    ``path`` is absent."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return 0
    n = 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        if not it.next().getPath().getName().startswith(("_", ".")):
            n += 1
    return n


def read_store(spark, path: str):
    """The parquet store at ``path``, or None when there is no store yet
    (the path is missing, or is an empty directory). Any other analysis
    failure (corrupt footer, permissions) raises, and so does a missing
    ``path`` whose ``__precompact`` / ``__compacting`` working directory
    survives a compaction that died mid-swap: the IOError names the
    survivor to rename back."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis inside the try
        return df
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return None
        if "PATH_NOT_FOUND" not in str(e):
            raise
        refuse_crashed_swap(spark, path)
        return None


def refuse_crashed_swap(spark, path: str) -> None:
    """For a missing store ``path``: raise an IOError naming its
    ``__precompact`` / ``__compacting`` working directory when one survives
    a compaction that died mid-swap, so no writer starts a fresh store
    there and drops the history."""
    path = path.rstrip("/")
    for leftover in (path + PRECOMPACT, path + COMPACTING):
        if exists(spark, leftover):
            raise IOError(
                f"{path!r} is missing but {leftover!r} survives a "
                "compaction that died mid-swap; rename it back to "
                f"{path!r} to recover"
            )


def replace_dir(spark, path: str) -> None:
    """Swap the rewrite at ``<path>__compacting`` in for the live
    directory ``path``: rename the live one aside to ``<path>__precompact``,
    rename the rewrite in, then delete the aside copy. A failed rename-in
    renames the original back before raising. Nothing is ever renamed
    onto an existing directory (Hadoop would move the source INSIDE it),
    so a stale aside copy from an earlier crash is deleted first — the
    live directory exists, so that copy is not the only one. NOT atomic:
    run with every writer and reader of the store stopped."""
    path = path.rstrip("/")
    fs, live = _fs(spark, path)
    _, aside = _fs(spark, path + PRECOMPACT)
    _, tmp = _fs(spark, path + COMPACTING)
    if not fs.exists(live):
        raise IOError(f"no store at {path!r} to replace")
    fs.delete(aside, True)
    if not fs.rename(live, aside):
        raise IOError(
            f"could not move {path!r} aside to {path + PRECOMPACT!r}; "
            f"store untouched, rewrite at {path + COMPACTING!r}"
        )
    try:
        moved_in = fs.rename(tmp, live)
    except Exception:
        fs.rename(aside, live)
        raise
    if not moved_in:
        restored = fs.rename(aside, live)
        raise IOError(
            f"could not rename {path + COMPACTING!r} in over {path!r}; "
            + (
                "original restored"
                if restored
                else f"original at {path + PRECOMPACT!r}"
            )
        )
    fs.delete(aside, True)
