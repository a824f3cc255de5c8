"""The ONE per-batch metrics-log protocol, shared by every streaming
monitor (quality, drift): each batch owns the `batch_id=<n>` partition
of a parquet log and overwrites it wholesale, so foreachBatch's
at-least-once replay is an idempotent upsert; partitions numbered above
the current batch — possible only after a checkpoint reset restarted
numbering — are dropped, so two numbering epochs never interleave.

A batch that legitimately logs nothing (report=None) still runs the
hygiene: its OWN partition is purged too, because a same-numbered
partition can only be a previous numbering epoch's report and leaving
it would splice pre-reset data into the new epoch's log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import fsutil


def append_batch_report(
    sess: SparkSession, log_dir: str, batch_id: int, report: DataFrame | None
) -> None:
    """Land one batch's report (or None) under the log protocol.

    Order matters: the stale-partition purge runs BEFORE the current
    batch's partition is written. Writing first would open a window —
    between the write and the purge, or if a purge delete dies mid-loop
    — where a reader sees the new epoch's report spliced with
    pre-reset higher-numbered partitions, the exact corruption the
    protocol exists to stop. Purge-first is safe: a crash after the
    purge but before the write only loses this batch's report
    transiently, and the batch replays (at-least-once) and rewrites it.
    """
    for bid, name in fsutil.numbered_child_dirs(sess, log_dir, "batch_id="):
        if bid >= batch_id:
            # own-id partitions are purged too (the overwrite below would
            # replace one, but a report=None batch must ALSO clear a
            # same-numbered pre-reset leftover); a silently-failed delete
            # leaves a stale epoch spliced into the log
            fsutil.delete(sess, f"{log_dir}/{name}")
    if report is not None:
        part = os.path.join(log_dir, f"batch_id={batch_id}")
        report.coalesce(1).write.mode("overwrite").parquet(part)


def read_batch_log(
    spark: SparkSession, log_dir: str, columns: list[str], fallback_schema: str
) -> DataFrame:
    """All per-batch reports; an empty/new log yields an empty frame,
    not an error — monitors must be safe to query at stream bootstrap.
    basePath keeps batch_id as a partition column. The listed partitions
    are read, not a `batch_id=*` glob: Spark stats a lone read path for a
    streaming-sink log, which logs a FileNotFoundException on a glob."""
    from pyspark.sql.utils import AnalysisException

    found = fsutil.numbered_child_dirs(spark, log_dir, "batch_id=")
    if not found:
        return spark.createDataFrame([], fallback_schema)
    try:
        return (
            spark.read.option("basePath", log_dir)
            .parquet(*[f"{log_dir}/{name}" for _, name in found])
            .select(*columns)
        )
    except AnalysisException:  # partitions listed, none holding data yet
        return spark.createDataFrame([], fallback_schema)
