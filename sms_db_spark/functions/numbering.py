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

Shared core of `sources.canonical.dense_ids` (importer W2 id
assignment, adds a pinned range-repartition so ids follow a total
order) and `operators.similarity._balanced_rank_ids` (packed-centroid chunk
numbering, where any balanced bijective numbering will do). They were
deliberate twins through r12 to keep a pure refactor from re-gating the
importer lineage; extracted in r13 while those rows rotate anyway
(VERDICT r12 item 4).

CALLER CONTRACT — stable partition ids: the counts job and the
numbering job are two Spark actions over the same frame, and the
pid → offset map is only valid if both actions see identical
partitioning. So the frame must be PINNED (persist / localCheckpoint):
re-running an unpinned lineage is no substitute, because each action
samples fresh range bounds and shuffle reads arrive in a different row
order. dense_ids localCheckpoints its range-partitioned frame (the
partition count is left to AQE: probing `df.rdd.getNumPartitions()`
would run the input's shuffle stages an extra time);
_balanced_rank_ids requires a pinned frame of its caller.

The kernel returns (frame, N), N the total of the counts job. Callers
take their row count from N: a `count()` of the numbered frame is one
more action over it.

`strict` picks the failure mode when the contract breaks (a numbering
task lands in a pid the counts job never saw):
  * strict=True — `element_at`: Spark 4's default ANSI mode throws
    MAP_KEY_DOES_NOT_EXIST mid-job. Fail-loud for call sites with no
    downstream validation (the importer path).
  * strict=False — `try_element_at`: the orphan pid's ids come back
    NULL, so a caller that validates the numbering (the packed fold's
    bijectivity aggregate over the checkpointed result) raises its own
    explanatory error instead of Spark's opaque one (ADVICE r12 #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def partition_offset_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    start: int = 0,
    strict: bool = True,
) -> tuple[DataFrame, int]:
    """Assign dense sequential ids start..start+N-1 to `df` as `id_col`;
    returns (numbered frame, N). N is the sum of the counts job's
    per-partition counts, so callers need no separate count action.

    Within each physical partition, ids follow `order_cols`; across
    partitions, ids follow ascending partition id. So the numbering is
    a total order over order_cols iff the caller's partitioning is
    range-ordered on them (dense_ids), and otherwise a balanced
    bijection (chunk assignment needs nothing more).

    See the module docstring for the stable-partition-ids caller
    contract and the `strict` failure-mode switch. An empty frame
    degrades cleanly: no counts → a constant `lit(start)` offset under
    a window that produces no rows.
    """
    with_pid = df.withColumn("_pid", F.spark_partition_id())
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    if counts:
        offsets, acc = {}, start
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        pick = F.element_at if strict else F.try_element_at
        offset_col = pick(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in sorted(counts)]),
                F.array(*[F.lit(offsets[p]) for p in sorted(counts)]),
            ),
            F.col("_pid"),
        )
    else:
        offset_col = F.lit(start)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    numbered = with_pid.withColumn(
        id_col, F.row_number().over(w) - 1 + offset_col
    ).drop("_pid")
    return numbered, sum(counts.values())
