"""Streaming CDC upsert: q126's changelog merge run continuously — a
file-source stream of event batches folded into a current-state store
with last-write-wins + delete-tombstone semantics.

The state is an associative/commutative merge (per-key max of the
(ts, event_id)-ordered change struct, plus an additive change counter),
so it composes exactly like the register sketches in streaming/
sketches.py: any partitioning of the changelog into microbatches — in
any arrival order — folds to the same state as q126's one-shot batch
window (`test_streaming_upsert.py` proves parity on out-of-order
drops). Deletes stay in the state as tombstones (latest op = 'delete');
the serving view filters them, which is what lets a later upsert
resurrect the key with an intact change count — q126's exact semantics.

Exactly-once under foreachBatch's at-least-once replay: the additive
n_changes counter is NOT idempotent, so state is versioned by batch_id
(`state-{b}` dirs). A replay of batch b re-reads the predecessor state
and overwrites `state-{b}` — same result, no double count. Only the
predecessor is retained (a replay can only re-deliver the LAST batch;
the checkpoint advances after foreachBatch returns), so the store holds
at most two bounded snapshots (|keys| rows each, not log-sized).

At 100 TB the state overwrite becomes a partitioned (key-range) rewrite
and the per-batch reduce shuffles only the microbatch — the store side
is merge-on-read until compaction, same as q126's scale note.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from .windows import EVENT_SCHEMA  # noqa: F401 (one wire schema, see windows.py)


def _last():
    return F.struct("ts", "event_id", "op", "value")


def changelog(events: DataFrame) -> DataFrame:
    """events → CDC ops (q126's mapping: 'error' deletes, else upserts)."""
    return events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )


def reduce_changes(ch: DataFrame) -> DataFrame:
    """Fold a changelog slice to per-key state: the latest change (struct
    max over (ts, event_id); op/value ride along) + the change count."""
    return (
        ch.groupBy("user_id")
        .agg(F.max(_last()).alias("last"), F.count(F.lit(1)).alias("n_changes"))
        .select("user_id", "last.*", "n_changes")
    )


def merge_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Associative/commutative state merge: max-struct + sum — any batch
    partitioning folds to the same state (the sketch merge-law shape)."""
    return (
        a.unionByName(b)
        .groupBy("user_id")
        .agg(F.max(_last()).alias("last"), F.sum("n_changes").alias("n_changes"))
        .select("user_id", "last.*", "n_changes")
    )


def _state_ids(sess: SparkSession, store_dir: str) -> list[int]:
    return [n for n, _ in fsutil.numbered_child_dirs(sess, store_dir, "state-")]


def apply_batch(batch: DataFrame, batch_id: int, store_dir: str) -> None:
    """Idempotent versioned merge: read predecessor state (< batch_id),
    fold the batch in, overwrite state-{batch_id}, drop every other
    state — older ones (the predecessor stays for replays) AND any with
    id >= batch_id other than our own: those can only exist after a
    checkpoint reset restarted batch numbering, and leaving them would
    make read_upsert_store (which serves max id) return the stale
    pre-reset snapshot forever."""
    sess = batch.sparkSession
    state = reduce_changes(changelog(batch))
    ids = _state_ids(sess, store_dir)
    prior = [i for i in ids if i < batch_id]
    if prior:
        prev = sess.read.parquet(os.path.join(store_dir, f"state-{prior[-1]}"))
        state = merge_states(prev, state)
    # materialize BEFORE the overwrite: state-{batch_id} may exist from a
    # failed attempt and be part of no lineage, but never read from it
    state = state.localCheckpoint(eager=True)
    state.write.mode("overwrite").parquet(
        os.path.join(store_dir, f"state-{batch_id}")
    )
    _janitor_states(sess, store_dir, ids, {batch_id} | ({prior[-1]} if prior else set()))


def _janitor_states(
    sess: SparkSession, store_dir: str, ids: list[int], keep: set[int]
) -> None:
    """THE snapshot-retention delete loop, shared by the merge and the
    gate's skip path so the two can never diverge on policy. A failed
    delete raises: a silently-surviving snapshot is exactly the stale
    state read_upsert_store would then serve forever."""
    for i in ids:
        if i not in keep:
            fsutil.delete(sess, os.path.join(store_dir, f"state-{i}"))


def skip_upsert_batch(sess: SparkSession, store_dir: str, batch_id: int) -> None:
    """The no-data half of apply_batch, for callers that DECIDE not to
    merge a batch (the quality gate's quarantine): run the same state
    janitoring a merge would — drop every snapshot with id >= batch_id
    (a failed attempt, or a dead numbering epoch after a checkpoint
    reset) and every snapshot older than the predecessor. Without
    this, a gated stream whose new epoch STARTS with skipped batches
    would later hand a clean batch the dead epoch's lower-numbered
    snapshot as its predecessor (apply_batch treats any id < its own
    as lineage) and splice the two epochs' states. Idempotent: a
    replayed skip recomputes the same deletes; a fresh store is left
    untouched."""
    ids = _state_ids(sess, store_dir)
    prior = [i for i in ids if i < batch_id]
    _janitor_states(sess, store_dir, ids, {prior[-1]} if prior else set())


def read_upsert_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serving view of the latest state: live keys only (tombstones
    filtered), q126's exact output shape."""
    ids = _state_ids(spark, store_dir)
    if not ids:
        raise FileNotFoundError(f"no state under {store_dir}")
    return (
        spark.read.parquet(os.path.join(store_dir, f"state-{ids[-1]}"))
        .filter(F.col("op") == "upsert")
        .select(
            "user_id",
            F.col("value").alias("current_value"),
            F.col("ts").alias("updated_at"),
            "n_changes",
        )
    )


def stream_upsert(spark: SparkSession, drop_dir: str, store_dir: str, checkpoint_dir: str):
    """Watch drop_dir for event batches (parquet); maintain the merged
    upsert state under store_dir. Returns the started StreamingQuery."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(drop_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: apply_batch(b, bid, store_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
