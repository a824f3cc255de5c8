"""The two-phase partition-offset numbering kernel — dense sequential
ids with NO global window.

Shape: stamp `spark_partition_id()` → one tiny counts job (one row per
partition, collected to the driver) → driver-side cumsum gives each
partition its starting offset → per-partition `row_number()` window
(every partition ranks inside its own task) plus the offset. The
classic `Window.orderBy(...)` global-rank alternative funnels the whole
frame through ONE task — a non-starter at 10^8+ rows; this kernel's
only serial work is the cumsum over per-partition counts (one row per
partition).

Callers:
  * `sources.canonical.dense_ids` (q141's epoch shuffle and
    `read_xml_staging_distributed`) adds a pinned range-repartition,
    so ids follow a total order;
  * `sources.canonical.finalize_import` numbers the kept messages of
    its own pinned, range-partitioned batch, and takes each message's
    first part id from a running sum of part counts (`sums`), so
    messages and parts are numbered off one counts job.

CALLER CONTRACT — stable partition ids: the counts job and the
numbering job are two Spark actions over the same frame, and the
pid → offset map is only valid if both actions see identical
partitioning. So the frame must be PINNED (persist / localCheckpoint):
re-running an unpinned lineage is no substitute, because each action
samples fresh range bounds and shuffle reads arrive in a different row
order. dense_ids and finalize_import localCheckpoint their
range-partitioned frames (the partition count is left to AQE: probing
`df.rdd.getNumPartitions()` would run the input's shuffle stages an
extra time).

The kernel returns (frame, N, sum totals), N the row total of the
counts job. Callers take their row count from N: a `count()` of the
numbered frame is one more action over it.

When the contract breaks anyway (a numbering task lands in a pid the
counts job never saw), the offset lookup is `element_at`, which Spark
4's default ANSI mode turns into a MAP_KEY_DOES_NOT_EXIST failure
mid-job: the numbering throws rather than yield NULL ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def partition_offset_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    start: int = 0,
    sums: dict[str, Column] | None = None,
) -> tuple[DataFrame, int, dict[str, int]]:
    """Assign dense sequential ids start..start+N-1 to `df` as `id_col`;
    returns (numbered frame, N, sum totals). N is the sum of the counts
    job's per-partition counts, so callers need no separate count
    action.

    Within each physical partition, ids follow `order_cols`; across
    partitions, ids follow ascending partition id. So the numbering is
    a total order over order_cols iff the caller's partitioning is
    range-ordered on them (dense_ids), and otherwise a balanced
    bijection.

    `sums` maps extra output columns to non-null numeric weights. The
    same counts job totals each weight per partition, and each output
    column is the running (inclusive) sum of its weight in the id
    order, continued across partitions from 0: the row count is the
    weight-1 case of the same offset scheme. The third return value
    maps each `sums` column to its total over the frame.

    See the module docstring for the stable-partition-ids caller
    contract and its failure mode. An empty frame
    degrades cleanly: no counts → constant offsets under a window that
    produces no rows.
    """
    sums = sums or {}
    with_pid = df.withColumn("_pid", F.spark_partition_id())
    rows = with_pid.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_cnt"), *[F.sum(w).alias(c) for c, w in sums.items()]
    ).collect()
    pids = sorted(r["_pid"] for r in rows)
    by_pid = {r["_pid"]: r for r in rows}

    def offset_col(key: str, base: int) -> Column:
        """`base` plus the total of `key` over all earlier partitions,
        looked up by the row's partition id."""
        if not pids:
            return F.lit(base)
        offsets, acc = [], base
        for pid in pids:
            offsets.append(acc)
            acc += by_pid[pid][key]
        return F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in pids]), F.array(*[F.lit(o) for o in offsets])
            ),
            F.col("_pid"),
        )

    w = Window.partitionBy("_pid").orderBy(*order_cols)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = with_pid.withColumn(
        id_col, F.row_number().over(w) - 1 + offset_col("_cnt", start)
    )
    for c, weight in sums.items():
        numbered = numbered.withColumn(c, F.sum(weight).over(running) + offset_col(c, 0))
    totals = {c: sum(by_pid[p][c] for p in pids) for c in sums}
    return numbered.drop("_pid"), sum(by_pid[p]["_cnt"] for p in pids), totals
