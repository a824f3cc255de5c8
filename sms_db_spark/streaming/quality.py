"""Streaming data-quality monitor: q127's constraint audit evaluated per
microbatch, appended to a metrics log — the continuous version of the
gate-the-batch-before-merge discipline.

Each microbatch folds its row-level constraints into ONE map-side
aggregate (constant state per partition, same shape as the batch
audit), tags the report with batch_id, and appends it to a parquet
metrics log. The log is the monitoring surface: per-constraint violation
counts over time, alertable with a trailing-window query; a `passed=0`
row is the signal to pause downstream merges (the reference's
import-stats report, sms-db.pl:333-339, run forever instead of once).

Exactly-once for the LOG under foreachBatch's at-least-once replay:
appends are keyed by batch_id (each batch overwrites its own
`batch_id=<n>` partition, so a replay is an idempotent upsert of the
batch's metrics), and partitions numbered above the current batch —
possible only after a checkpoint reset restarted numbering — are
dropped, so two numbering epochs never interleave. State is one row per
(batch, constraint) — bytes per batch, unbounded only in time, which is
what a metrics log is."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import concurrent
from .metricslog import append_batch_report, read_batch_log

# ONE wire schema for the events drop directory: quality and upsert read
# the same stream — two independent copies could drift and silently null
# columns under schema-first parquet reads
from .windows import EVENT_SCHEMA  # noqa: F401 (one wire schema, see windows.py)

ACCEPTED_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
VALUE_CAP = 1000.0


def audit_batch(batch: DataFrame) -> DataFrame:
    """One-pass constraint metrics for an event batch: (check_name,
    violations, total, passed) — the streaming twin of q127's row-level
    suite (completeness, uniqueness, accepted values, numeric range)."""
    base = batch.agg(
        F.count(F.lit(1)).alias("total"),
        (F.count(F.lit(1)) - F.count("user_id")).alias("v_completeness"),
        (F.count(F.lit(1)) - F.count_distinct("event_id")).alias("v_unique"),
        # coalesce: SUM over an empty microbatch is NULL, which would log
        # passed=NULL — neither 0 nor 1 — and the pause signal never fires
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type").isNull()
                    | ~F.col("event_type").isin(*ACCEPTED_EVENT_TYPES),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("v_accepted"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("value").isNull()
                    | (F.col("value") <= 0)
                    | (F.col("value") > VALUE_CAP),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("v_range"),
    )
    return base.selectExpr(
        "stack(4,"
        " 'accepted_values_event_type', v_accepted,"
        " 'completeness_user_id', v_completeness,"
        " 'range_value', v_range,"
        " 'unique_event_id', v_unique"
        ") AS (check_name, violations)",
        "total",
    ).select(
        "check_name",
        "violations",
        "total",
        (F.col("violations") == 0).cast("int").alias("passed"),
    )


def append_metrics(batch: DataFrame, batch_id: int, log_dir: str) -> None:
    """Idempotent per-batch append under the shared log protocol
    (metricslog.append_batch_report): the batch overwrites its own
    partition, higher-numbered partitions are dropped as another
    numbering epoch's. Empty batches still log (a 4-row all-passed
    report with total=0) — silence and health must be distinguishable
    in a CONSTRAINT log."""
    append_batch_report(batch.sparkSession, log_dir, batch_id, audit_batch(batch))


def read_metrics(spark: SparkSession, log_dir: str) -> DataFrame:
    """The monitoring surface: all per-batch constraint reports."""
    return read_batch_log(
        spark,
        log_dir,
        ["batch_id", "check_name", "violations", "total", "passed"],
        "batch_id int, check_name string, violations bigint, total bigint, passed int",
    )


def quality_gated_upsert_batch(
    batch: DataFrame, batch_id: int, log_dir: str, store_dir: str
) -> dict:
    """The pause-the-merge discipline as a first-class composition
    (previously only test_day2_pipeline's hand-rolled loop): audit the
    batch, log the report under the shared per-batch protocol, and
    hand the batch to the CDC upsert ONLY when every constraint
    passed. A quarantined batch still runs the upsert store's state
    janitoring (`skip_upsert_batch`) — without it, a new numbering
    epoch that STARTS with quarantined batches would leave the dead
    epoch's snapshots for a later clean batch to merge as its
    predecessor (the epoch-splice failure mode, upsert-side).

    Replay safety mirrors the drift gate: the verdict is a pure
    function of the batch, the log append is idempotent per batch_id,
    and both apply and skip are replay-idempotent.

    Returns {'applied', 'failed_checks', 'total'} — bounded metadata.
    """
    from .upsert import apply_batch, skip_upsert_batch

    sess = batch.sparkSession
    report = audit_batch(batch).localCheckpoint(eager=True)  # audited once
    # the log append and the verdict collect both read the PINNED report
    # and neither depends on the other — concurrent driver jobs (guide
    # §2.6; r18). Both complete before the apply/skip decision below, so
    # the log-before-merge crash contract is unchanged.
    rows, _ = concurrent(
        lambda: report.collect(),  # 4 rows: one per constraint
        lambda: append_batch_report(sess, log_dir, batch_id, report),
    )
    failed = sorted(r.check_name for r in rows if r.passed != 1)
    verdict = {
        "applied": not failed,
        "failed_checks": failed,
        "total": int(rows[0].total) if rows else 0,
    }
    if failed:
        skip_upsert_batch(sess, store_dir, batch_id)
        return verdict
    apply_batch(batch, batch_id, store_dir)
    return verdict


def stream_gated_upsert(
    spark: SparkSession,
    drop_dir: str,
    log_dir: str,
    store_dir: str,
    checkpoint_dir: str,
):
    """stream_upsert with the quality gate in front: watch drop_dir for
    event batches, log the constraint report per batch, merge only
    batches with every constraint green."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(drop_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: quality_gated_upsert_batch(b, bid, log_dir, store_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_quality_monitor(spark: SparkSession, drop_dir: str, log_dir: str, checkpoint_dir: str):
    """Watch drop_dir for event batches; maintain the metrics log."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(drop_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: append_metrics(b, bid, log_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
