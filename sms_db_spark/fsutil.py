"""Shared Hadoop-FS helpers for the maintenance sinks and streaming
state stores: the JVM FileSystem handle, the write-new-then-swap rename
dance, and `delete`/`rename`, the only way store code deletes or
renames. One failure rule: raise RuntimeError naming the path(s) when
the mutation did not happen; deleting a missing path is not an error.
Both look up `hadoop_fs` as a module global, so one monkeypatch of
`fsutil.hadoop_fs` reaches every store mutation.

Hadoop FS API, not os.path: these paths live on HDFS/S3A in a real
deployment; driver-local filesystem checks would silently misreport
there."""

from __future__ import annotations

from pyspark.sql import SparkSession


# Hadoop spells object-store schemes its own way (s3a://, abfss://,
# wasbs://); pyarrow's FileSystem.from_uri knows only the native ones
# and raises ArrowInvalid on the rest. The ONE alias table shared by
# every pyarrow-side footer reader (merge pruning, layout audits) —
# public schemes only.
PYARROW_SCHEME_ALIASES = {
    "s3a://": "s3://",
    "s3n://": "s3://",
    "abfss://": "abfs://",
    "wasb://": "abfs://",
    "wasbs://": "abfs://",
}


def pyarrow_uri(path: str) -> str:
    """A Hadoop-qualified URI respelled for pyarrow FileSystem.from_uri
    (unknown schemes pass through — the caller handles ArrowInvalid)."""
    for alias, native in PYARROW_SCHEME_ALIASES.items():
        if path.startswith(alias):
            return native + path[len(alias):]
    return path


def hadoop_fs(spark: SparkSession, path: str):
    """(jvm, FileSystem) for path under the session's Hadoop conf."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; raises if path still exists afterwards."""
    jvm, fs = hadoop_fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.delete(p, True) and fs.exists(p):
        raise RuntimeError(f"delete failed: {path} still exists")


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename; raises naming both paths when Hadoop returns False."""
    jvm, fs = hadoop_fs(spark, src)
    hpath = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(hpath(src), hpath(dst)):
        raise RuntimeError(f"rename failed: {src} -> {dst}")


def atomic_swap(spark: SparkSession, path: str, staged: str, backup: str) -> None:
    """Replace the dataset at `path` with the one at `staged` via
    rename-through-backup. Each rename is atomic, and every IN-PROCESS
    failure restores (or leaves) the original and raises.

    Honest limit: between the two renames there is a window where no
    dataset exists at `path` — a PROCESS death there (or a reader racing
    the gap) sees the store missing until `recover_interrupted_swap`
    (which compact()/merge_into() run at entry) moves the backup back.
    Closing that window entirely needs a metadata/pointer layer (what
    Delta/Iceberg commit logs are for); for a plain-parquet store the
    backup + recovery contract is the practical equivalent."""
    jvm, fs = hadoop_fs(spark, path)
    p_path = jvm.org.apache.hadoop.fs.Path(path)
    p_backup = jvm.org.apache.hadoop.fs.Path(backup)
    delete(spark, backup)
    if not fs.rename(p_path, p_backup):
        try:
            delete(spark, staged)
        finally:
            raise RuntimeError(f"swap failed moving {path} aside; store untouched")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(staged), p_path):
        # check the restore too: claiming "restored" while the store path
        # is actually gone would send the operator away from the data
        if fs.rename(p_backup, p_path):
            raise RuntimeError(
                f"swap failed landing {staged}; original restored at {path} "
                f"(new data still staged at {staged})"
            )
        raise RuntimeError(
            f"swap failed AND restore failed: {path} is missing — original "
            f"data is at {backup}, new data at {staged}; restore manually"
        )
    delete(spark, backup)


_SWAP_SUFFIXES = (".precompact", ".premerge")


def recover_interrupted_swap(spark: SparkSession, path: str) -> str | None:
    """Crash recovery for atomic_swap's between-renames window: if the
    store path is missing but a swap backup exists, move the backup
    back. Returns the backup path that was restored, or None. Safe to
    call unconditionally at maintenance-job entry (no-op when the store
    is present)."""
    jvm, fs = hadoop_fs(spark, path)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(path)):
        return None
    for suffix in _SWAP_SUFFIXES:
        backup = path.rstrip("/") + suffix
        if fs.exists(jvm.org.apache.hadoop.fs.Path(backup)):
            rename(spark, backup, path)
            return backup
    return None


def numbered_child_dirs(
    spark: SparkSession, base_dir: str, prefix: str
) -> list[tuple[int, str]]:
    """Child DIRECTORIES of base_dir named `<prefix><integer>`, as
    (number, name) pairs sorted NUMERICALLY — lexicographic sorting
    breaks the moment the digit count grows past a zero-pad width
    ('v100000000' < 'v99999999'). The one implementation of the
    list-numbered-children pattern shared by the per-batch log protocol
    (streaming/metricslog.py), the upsert state store, and the
    versioned store; the shard layout keeps its own nested walk."""
    jvm, fs = hadoop_fs(spark, base_dir)
    base = jvm.org.apache.hadoop.fs.Path(base_dir)
    if not fs.exists(base):
        return []
    out = []
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        tail = name[len(prefix):]
        if st.isDirectory() and name.startswith(prefix) and tail.isdigit():
            out.append((int(tail), name))
    return sorted(out)


def read_text(spark: SparkSession, path: str) -> str | None:
    """Read a small text file via the Hadoop FS API (works on HDFS/S3A,
    not just the driver's local disk). None if absent."""
    jvm, fs = hadoop_fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Crash-safe small-text write: create `<path>.tmp`, then an ATOMIC
    overwrite-rename onto the destination (FileContext.rename with
    Options.Rename.OVERWRITE — atomic on HDFS and local FS). A reader
    or a replay never sees a truncated file, and — unlike a
    delete-then-rename dance — never sees the destination MISSING
    either: a crash mid-write leaves the old file fully intact, which
    is what keeps a streaming manifest's batch history alive across
    crashed manifest updates."""
    jvm, fs = hadoop_fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    dst = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(path))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    conf = spark._jsc.hadoopConfiguration()
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri(), conf)
    except Exception as e:
        # fall back ONLY for a missing AbstractFileSystem binding (e.g.
        # s3a unless fs.AbstractFileSystem.s3a.impl is configured) — a
        # transient JVM error on a scheme where atomic rename IS
        # available must stay loud, or the silent delete+rename
        # downgrade reopens the no-manifest crash window there. Object
        # stores rename by copy anyway, so atomic replace is
        # unavailable on them regardless; the fallback preserves the
        # old (window-having) behavior instead of failing every write.
        java_exc = getattr(e, "java_exception", None)
        name = java_exc.getClass().getName() if java_exc is not None else ""
        if "UnsupportedFileSystemException" not in name:
            raise
        delete(spark, path)
        rename(spark, path + ".tmp", path)
        return
    option = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(option, 1)
    opts[0] = option.OVERWRITE
    fc.rename(fs.makeQualified(tmp), dst, opts)  # raises on failure
