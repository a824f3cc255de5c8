"""Incremental sketch maintenance over a document stream: keep a
HyperLogLog register table continuously up to date as corpus shards
arrive, without ever re-scanning history.

This is the streaming face of q106's merge-equals-whole property
(`operators/sketches.py`): each microbatch computes ITS OWN registers
(map-side, ≤2^p rows), then foreachBatch max-merges them into the
persistent register store. State touched per batch = 2·2^p tiny rows,
independent of both batch size and corpus history — the sublinear
analogue of the ingest stream's hash-dedup state discipline
(`streaming/ingest.py`), and the reason a 100 TB/day feed can answer
"distinct shingles so far" with kilobytes of bookkeeping.

The merge is idempotent (max), so foreachBatch's at-least-once
guarantee yields exactly-once REGISTER STATE with no transactional
sink requirements — re-delivered batches merge to the same table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import _tokens_col, shingles_col
from .. import fsutil
from ..operators.sketches import HLL_M, HLL_P, _HLL_WBITS, _h60

DOC_BATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def batch_registers(docs: DataFrame) -> DataFrame:
    """Registers for one batch of documents — same hash/rho arithmetic as
    operators.sketches.hll_registers, factored over an arbitrary frame."""
    h = _h60(F.col("gram"))
    w = F.shiftright(h, HLL_P)
    rho = F.when(w == 0, _HLL_WBITS + 1).otherwise(
        _HLL_WBITS + 1 - F.length(F.bin(w))
    )
    return (
        docs.select(F.explode(shingles_col(_tokens_col())).alias("gram"))
        .select((h % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def merge_registers(store: DataFrame, batch: DataFrame) -> DataFrame:
    """Lossless sketch merge: per-bucket max over the union (q106's
    oracle-checked property)."""
    return (
        store.unionByName(batch)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


def stream_hll(
    spark: SparkSession,
    drop_dir: str,
    register_dir: str,
    checkpoint_dir: str,
):
    """Watch drop_dir for document shards (parquet); maintain the merged
    HLL register table at register_dir. Returns the StreamingQuery."""
    current = os.path.join(register_dir, "current")

    def update(batch_df: DataFrame, batch_id: int) -> None:
        regs = batch_registers(batch_df)
        sess = batch_df.sparkSession
        # Hadoop FS API (not os.path): register_dir may live on HDFS/S3A
        # in a real deployment; the driver-local filesystem check would
        # silently report "absent" there and reset the sketch.
        jvm, fs = fsutil.hadoop_fs(sess, current)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(current)):
            regs = merge_registers(sess.read.parquet(current), regs)
        # write-new-then-swap keeps readers consistent; 2^p rows, driver-cheap
        staged = os.path.join(register_dir, f"batch-{batch_id}")
        regs.coalesce(1).write.mode("overwrite").parquet(staged)
        sess.read.parquet(staged).write.mode("overwrite").parquet(current)
        # drop the staged snapshot once swapped — otherwise one dir per
        # microbatch accumulates under register_dir without bound
        fsutil.delete(sess, staged)

    stream = spark.readStream.schema(DOC_BATCH_SCHEMA).parquet(drop_dir)
    return (
        stream.writeStream.foreachBatch(update)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
