"""Structured Streaming ingest: the reference's incremental multi-invocation
accumulation (README.md:39-43 — re-run the tool per backup file against the
same db, dedup makes it idempotent) re-expressed as a stream.

Spark shape (SURVEY.md §2.7): file source watching a staging directory of
normalized message batches (parquet) → content-hash dedup — within the
stream via dropDuplicates('hash') (state-store backed), against the
existing store via left_anti in foreachBatch → idempotent append.

Scale notes: dedup state is keyed by the 64-hex hash (uniform, skew-free);
a watermark on ingest_time bounds state for unbounded streams; foreachBatch
gives per-microbatch transactional appends (the reference's one-commit-
per-run, sms-db.pl:47,231).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsutil
from ..schemas import MESSAGE_HASH_FIELDS

STAGED_HASHED_SCHEMA = T.StructType(
    [
        T.StructField("local_id", T.LongType(), False),
        T.StructField("timestamp", T.LongType(), True),
        T.StructField("sender_address", T.StringType(), True),
        T.StructField("sender_name", T.StringType(), True),
        T.StructField("recipient_address", T.StringType(), True),
        T.StructField("recipient_name", T.StringType(), True),
        T.StructField("msg_box", T.IntegerType(), True),
        T.StructField("message_type", T.IntegerType(), True),
        T.StructField("source_format", T.IntegerType(), True),
        T.StructField("hash", T.StringType(), True),
    ]
)


def stream_ingest(
    spark: SparkSession,
    drop_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
):
    """Watch drop_dir for hashed staged-message batches; append new-hash
    rows to the parquet store at store_dir. Returns the StreamingQuery
    (caller decides trigger/await; tests use trigger(availableNow=True))."""
    # dropDuplicatesWithinWatermark, not dropDuplicates: with a plain
    # dropDuplicates(['hash']) the event-time column is not part of the
    # dedup key, so the watermark never evicts dedup state and it grows
    # unboundedly. The WithinWatermark variant (Spark 3.5+) keys state by
    # hash but expires entries once they age past the watermark — bounded
    # state; cross-microbatch dups older than the watermark are still
    # caught by the foreachBatch left_anti against the store.
    stream = (
        spark.readStream.schema(STAGED_HASHED_SCHEMA)
        .parquet(drop_dir)
        .withColumn("ingest_time", F.current_timestamp())
        .withWatermark("ingest_time", watermark)
        .dropDuplicatesWithinWatermark(["hash"])
    )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        jvm, fs = fsutil.hadoop_fs(sp, store_dir)
        fresh = batch
        # only a missing store means "first batch"; an existing store
        # that cannot be read fails the batch instead of re-appending it
        if fs.exists(jvm.org.apache.hadoop.fs.Path(store_dir)):
            existing = sp.read.parquet(store_dir).select("hash")
            fresh = batch.join(existing, "hash", "left_anti")
        (
            fresh.select("local_id", *MESSAGE_HASH_FIELDS, "hash")
            .write.mode("append")
            .parquet(store_dir)
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
