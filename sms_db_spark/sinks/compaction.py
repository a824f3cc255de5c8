"""Small-file compaction: rewrite a fragmented parquet store into
target-size files without changing its rows or its partition layout.

The day-2 write-path problem every 100 TB store develops: streaming
ingest (streaming/ingest.py appends one file set per microbatch),
partitioned writes without repartitioning, and incremental re-imports
(the reference's per-backup-file invocations, README.md:39-43) all
fragment a store into files far below the scan-efficient size. Each
parquet file costs a listing entry, a footer read, and a scheduling
unit — at 10^6 files the METADATA dominates the query, before a single
row is read.

Spark-first shape: compaction is just `read → repartition(n) → write`,
letting the parquet scan coalesce splits and the shuffle-free coalesce
(or a hash repartition when re-clustering) size the output. The value
here is the sizing policy and the safety contract:

  - target file count = ceil(input_bytes / target_bytes), measured from
    the actual file listing (never guessed from row counts);
  - `coalesce`, not `repartition`, when only merging (no shuffle: each
    output task reads whole input files);
  - partitioned stores compact per partition directory, preserving the
    Hive layout (and pruning) exactly;
  - write-new-then-swap: the rewrite lands in a staging dir and replaces
    the store only after success — readers never see a half-compacted
    store, and a failed compaction leaves the original untouched.

At real scale this runs as the background maintenance job per partition
(newest partitions fragment; old ones are already compact — the
`fragmentation` report is what picks targets)."""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import fsutil

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # the HDFS-block-sized default


def _data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every parquet data file under path, recursively."""
    jvm, fs = fsutil.hadoop_fs(spark, path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(path), True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet") and not name.startswith("_"):
            out.append((st.getPath().toString(), st.getLen()))
    return out


def _dir_bytes(spark: SparkSession, path: str) -> dict:
    by_dir: dict[str, int] = {}
    for f, b in _data_files(spark, path):
        d = f.rsplit("/", 1)[0]
        by_dir[d] = by_dir.get(d, 0) + b
    return by_dir


def fragmentation_report(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> dict:
    """The pick-targets report: file count, total bytes, mean file size,
    and the file count a compaction would produce.

    For a Hive-partitioned store the target is PER PARTITION DIRECTORY:
    sum over dirs of ceil(dir_bytes/target), never less than one file
    per dir. That per-dir form is both the real rewrite target (a hot
    10 GB day compacts to ~80 target-sized files, not one) and the
    idempotence floor (a compacted partitioned store must not report
    fragmented forever and be rewritten every maintenance cycle)."""
    files = _data_files(spark, path)
    total = sum(b for _, b in files)
    by_dir = _dir_bytes(spark, path)
    partitioned = any("=" in d.rsplit("/", 1)[-1] for d in by_dir)
    if not files:
        n_after = 0
    elif partitioned:
        n_after = sum(max(1, math.ceil(b / target_bytes)) for b in by_dir.values())
    else:
        n_after = max(1, math.ceil(total / target_bytes))
    return {
        "n_files": len(files),
        "total_bytes": total,
        "mean_bytes": total // len(files) if files else 0,
        "n_partition_dirs": len(by_dir) if partitioned else 0,
        "n_files_after": n_after,
        "fragmented": len(files) > n_after,
    }


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    partition_cols: list[str] | None = None,
) -> dict:
    """Rewrite the store at `path` into ceil(bytes/target) files (per
    partition directory when partition_cols is given), atomically via a
    staging dir + rename swap. Returns the before/after report.

    Rows are preserved exactly (tests pin count + content hash); only
    the file layout changes. The unpartitioned merge path stays
    shuffle-free (coalesce); the partitioned path pays one shuffle to
    split hot partitions across their file budget.
    """
    fsutil.recover_interrupted_swap(spark, path)
    report = fragmentation_report(spark, path, target_bytes)
    if not report["fragmented"]:
        return {**report, "compacted": False}
    jvm, fs = fsutil.hadoop_fs(spark, path)
    staged = path.rstrip("/") + ".compacting"
    backup = path.rstrip("/") + ".precompact"
    df = spark.read.parquet(path)
    if partition_cols:
        # per-partition sizing: each dir gets ceil(dir_bytes/target)
        # files via a salt bounded by its budget — hash-repartitioning
        # on the layout keys alone would put every partition's rows into
        # ONE task and write a hot 10 GB day as a single file. Budgets
        # come from the ACTUAL dir bytes of the file listing — the same
        # basis as fragmentation_report's guard, which is what makes
        # repeated runs converge (a row-count estimate drifts from the
        # post-rewrite bytes and re-flags forever). Hash collisions can
        # merge salts (fewer files than budgeted, never more), which
        # only moves the result further below the fragmented threshold.
        budget_rows = []
        # _dir_bytes returns FS-QUALIFIED paths (scheme://authority/...);
        # qualify the user's root the same way before prefix-stripping, or
        # an ancestor segment containing '=' (e.g. /data/run=3/store) —
        # still inside the unstripped remainder — would be parsed as a
        # partition value and could shadow a real partition column.
        root = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(path)).toString().rstrip("/")
        for d, b in _dir_bytes(spark, path).items():
            if not (d == root or d.startswith(root + "/")):
                raise ValueError(f"listing entry {d!r} outside store root {root!r}")
            rel = d[len(root):].strip("/")
            vals = dict(seg.split("=", 1) for seg in rel.split("/") if "=" in seg)
            budget_rows.append(
                tuple(vals[c] for c in partition_cols)
                + (max(1, math.ceil(b / target_bytes)),)
            )
        stats = spark.createDataFrame(
            budget_rows, [f"_v_{c}" for c in partition_cols] + ["_nf"]
        )
        cond = [
            F.col(c).cast("string") == F.col(f"_v_{c}") for c in partition_cols
        ]
        # EXPLICIT partition count: without it AQE coalesces this small-
        # bytes shuffle back into few tasks and the salts collapse into
        # one file per dir again (observed at test scale; a user-given
        # count is exempt from AQE coalescing)
        n_parts = sum(r[-1] for r in budget_rows) or 1
        (
            df.join(F.broadcast(stats), cond)
            .withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.col("_nf")))
            .repartition(int(n_parts), *[F.col(c) for c in partition_cols], F.col("_salt"))
            .drop("_nf", "_salt", *[f"_v_{c}" for c in partition_cols])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(staged)
        )
    else:
        # coalesce cannot INCREASE partition count: when the target
        # exceeds the scan's split count (tiny target_bytes), fall back
        # to a full repartition or the request is silently undershot
        n_after = report["n_files_after"]
        if n_after <= df.rdd.getNumPartitions():
            df.coalesce(n_after).write.mode("overwrite").parquet(staged)
        else:
            df.repartition(n_after).write.mode("overwrite").parquet(staged)
    # verify BEFORE swapping: a failed rewrite must never replace the store
    n_in = spark.read.parquet(path).count()
    n_out = spark.read.parquet(staged).count()
    if n_in != n_out:
        try:
            fsutil.delete(spark, staged)
        finally:
            raise RuntimeError(f"compaction row mismatch: {n_in} != {n_out}")
    fsutil.atomic_swap(spark, path, staged, backup)
    after = fragmentation_report(spark, path, target_bytes)
    return {**report, "compacted": True, "n_files_final": after["n_files"]}
