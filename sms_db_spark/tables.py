"""Loaders for the driver-generated parquet test tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown test table {name!r}")
    # Pin the session tz at the data boundary (runtime-settable, so it also
    # holds under a caller-provided vanilla session): parquet timestamps are
    # instants; rendering them in a machine-local zone would make query
    # output — and the driver's value-hash — depend on the host TZ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # ts is TIMESTAMP(NANOS) in parquet. How Spark surfaces that type
        # depends on the runtime: with spark.sql.legacy.parquet.nanosAsLong
        # honored it arrives as LongType nanos; newer runtimes (4.1+) read
        # it natively as TIMESTAMP_NTZ (truncated to micros — lossless here:
        # the generator emits micro precision) and ignore the legacy conf.
        # Set the conf for the former case, then branch on the OBSERVED type
        # so the contract holds under any caller-provided session.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if isinstance(ts_type, TimestampNTZType):
            # NTZ wall-clock == UTC instant here (session tz pinned above),
            # so the cast reproduces the long-nanos path bit-for-bit.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + spread a single-file scan across the cluster.

    At low SF the documents/embeddings tables are ONE small parquet file,
    so Spark plans a single input split and every heavy map expression
    downstream (shingling, minhash fold, simhash) runs on 1 of N cores —
    measured 11x slower than repartitioned (10.24s vs 0.93s for the corpus
    shingle pass at sf0.1 on local[32]). Repartition round-robin to
    defaultParallelism only when the scan yields fewer splits than cores:
    on a real cluster reading many files the condition is false and no
    shuffle is added.
    """
    df = load_table(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df
