"""SparkSession factory tuned for both local testing and cluster scale.

The reference (sms-db.pl:47) is a single-threaded Perl process with one
SQLite connection; our execution substrate is Spark, so the knobs that
matter are AQE, shuffle sizing, Arrow transfer, and a pinned timezone
(epoch-millis semantics per README.md:117 must not drift with local tz).

The module also holds what every layer shares: the parity confs
(`TUNED_PARITY_CONFS`) and the driver-side helpers (`local_frame`,
`concurrent`). It imports nothing else from the package, so any
module can import it at module level.
"""

from __future__ import annotations

import collections
import os

import pyarrow as pa
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


# The PARITY confs: semantics-bearing, runtime-settable SQL confs that
# make plan shape and timestamp rendering identical under any caller's
# session. Owned HERE: get_spark builds its session with them,
# plans._tuned pins them at every query entry point, and every query
# that re-clones its session consumes them (`newSession()` inherits only
# builder-time options, so a bare clone silently drops these — ADVICE
# r9): clones copy the LIVE values for these keys from their parent
# instead of hand-listing them, so a new pin added here propagates
# automatically. Sizing confs (shuffle.partitions) are deliberately NOT
# in this dict — each entry point sizes itself.
#
# On excludedRules: InferFiltersFromGenerate synthesizes
# `size(e)>0 AND isnotnull(e)` ahead of every explode; when the generator
# input is an EXPENSIVE derived array (shingles: regex+transform over the
# full text) the inferred predicate embeds that whole expression and
# predicate pushdown then drags it below the parallelizing exchange onto
# the raw scan — re-evaluating the heavy transform once per row on the
# narrowest partitioning (measured on q81: 18s vs 2.3s at sf0.1,
# local[32]). The rule is a skip-empty-rows micro-optimization with no
# correctness content, so exclude it session-wide.
TUNED_PARITY_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def get_spark(
    app_name: str = "sms-db-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    Defaults favor correctness + 100TB-readiness:
      - AQE on: runtime partition coalescing, skew-join splitting, and
        dynamic broadcast conversion replace hand-tuned plans.
      - UTC session tz: timestamps are stored/compared as epoch instants.
      - Arrow on: pandas UDF / toPandas paths are vectorized.
      - shuffle partitions: small fixed count locally (local[32]); on a
        real cluster leave unset and let AQE coalesce from a high initial.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # driver testdata stores TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in tables.load_table (lossless:
        # the generator's values are micro-precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**TUNED_PARITY_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# The most threads one concurrent() call starts. The largest fixed call
# passes 9 thunks (q177's checksums); the shard fold passes one per shard.
_CONCURRENT_THREADS = 8


def concurrent(*thunks):
    """Run independent driver-side thunks at the same time and return
    their results in argument order.

    Spark runs actions only as concurrently as driver threads submit
    them, so independent jobs (two pins of one frame, writes to
    disjoint paths) overlap here and FIFO back-fill keeps the executors
    busy through each job's tail. At most 8 threads run, a constant:
    further thunks wait for a free thread. A single thunk runs inline
    on the caller's thread.

    Each thread is a `pyspark.InheritableThread`, which starts with a
    copy of the caller's Spark local properties, so the job group, job
    description and scheduler pool set in the calling thread label the
    jobs the thunks submit too. A plain thread-pool thread starts with
    none of them, and its jobs fall out of the caller's group.

    Every thunk runs to completion; the first failure in argument order
    is then re-raised.
    """
    if len(thunks) == 1:
        return (thunks[0](),)
    results: list = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)
    pending = collections.deque(enumerate(thunks))

    def drain() -> None:
        while True:
            try:
                i, thunk = pending.popleft()
            except IndexError:
                return
            try:
                results[i] = thunk()
            except BaseException as e:  # re-raised on the caller's thread
                errors[i] = e

    threads = [
        InheritableThread(drain)
        for _ in range(min(_CONCURRENT_THREADS, len(thunks)))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return tuple(results)


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A frame over driver-held `rows` (tuples in `schema` field order)
    that plans as a JVM-side LocalTableScan.

    createDataFrame(list-of-tuples) parallelizes the rows as a Python
    RDD: the plan is an ExistingRDD scan behind a PythonRDD, and every
    action that re-scans the frame starts Python workers (0.35-1.5 s
    per scan job of a few thousand rows on 4 cores, multiplied across
    the import pipeline's many actions). One Arrow table built here and
    handed to createDataFrame becomes a local relation instead, so
    re-scans stay inside the JVM.

    createDataFrame(pa.Table) skips verifySchema, and Arrow does not
    enforce a field's nullable=False, so a NULL in a non-nullable column
    is rejected here; otherwise Spark would trust the schema and read
    it back as a default value (a WITHOUT ROWID part table's NULL rowid
    would become one shared row order).
    """
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    for field, column in zip(arrow_schema, table.columns):
        if not field.nullable and column.null_count:
            raise ValueError(
                f"field {field.name!r} is not nullable, but got None "
                f"in {column.null_count} row(s)"
            )
    return spark.createDataFrame(table, schema)
