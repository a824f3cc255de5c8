"""Canonical-store construction: hash computation, dedup, dense id
assignment, import statistics — the Spark shape of the reference's
`insert()` + transaction loop (sms-db.pl:318-339, :47, :231).

Pipeline (SURVEY.md E1), all in `finalize_import`:
    staged (messages, parts) from a normalizer
      → compute hash and per-message part count (batch-wide, one pass)
      → within-batch dedup: keep flag = first by staging order per hash
        (≙ AUTOINCREMENT insert order, sms-db.pl:49)
      → against-store dedup: a left join on the store's hash column
        clears the flag (≙ UNIQUE constraint probe, sms-db.pl:326-328)
      → range-partition on local_id, pin once (localCheckpoint)
      → one counts job over the pin: rows, kept rows, kept parts per
        partition → message ids and each message's first part id,
        continuing from the store's max ids (W2)
      → parts joined to their kept message and ranked inside it
        (FK by construction): the rows to append to the store

Scale: the hash is uniformly distributed → dedup shuffles are skew-free.
Dense id assignment uses the two-phase partition-offset pattern (no
global single-partition window). Against-store dedup only moves the
store's (hash) column, read by `read_sqlite_table` — broadcastable
when the batch is small, AQE picks the strategy otherwise.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import message_hash, part_bytes
from ..functions.numbering import partition_offset_ids
from ..schemas import MESSAGE_HASH_FIELDS, MESSAGES_SCHEMA
from ..sinks.sqlite_sink import store_next_ids
from .sqlite_io import read_sqlite_table

_HASH_SCHEMA = T.StructType([MESSAGES_SCHEMA["hash"]])


def with_message_hash(staged_messages: DataFrame, staged_parts: DataFrame) -> DataFrame:
    """Attach the reference-recipe `hash` column to staged messages,
    and each message's part count as `_n_parts` (0 when it has none).

    Parts contribute (data, content_type) bytes in part_seq order
    (sms-db.pl:325 iterates @parts in insertion order).
    """
    pb = staged_parts.select(
        "local_id",
        "part_seq",
        part_bytes(F.col("data"), F.col("text"), F.col("content_type")).alias("pbytes"),
    )
    # order within message pinned by part_seq: collect structs, sort, concat.
    agg = pb.groupBy("local_id").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(part_seq, pbytes))),"
            " s -> s.pbytes), CAST('' AS BINARY), (acc, b) -> concat(acc, b))"
        ).alias("parts_bytes"),
        F.count(F.lit(1)).alias("_n_parts"),
    )
    joined = (
        staged_messages.join(agg, "local_id", "left")
        .withColumn(
            "parts_bytes", F.coalesce(F.col("parts_bytes"), F.encode(F.lit(""), "UTF-8"))
        )
        .withColumn("_n_parts", F.coalesce(F.col("_n_parts"), F.lit(0).cast("long")))
    )
    return joined.withColumn("hash", message_hash(F.col("parts_bytes"))).drop("parts_bytes")


def dense_ids(
    df: DataFrame, order_cols: list[str], id_col: str = "_id", start: int = 1
) -> tuple[DataFrame, int]:
    """Assign dense sequential ids start..start+N-1 in the total order
    of order_cols (W2, the AUTOINCREMENT shape of sms-db.pl:49); returns
    (numbered frame, N).

    Range-repartition on the order and PIN the result with
    localCheckpoint: the kernel's counts job and numbering job must see
    one partitioning, and re-running the lineage does not reproduce it
    (each action samples fresh range bounds, and a shuffled input reaches
    the sampler in a different row order). AQE sizes the range
    partitioning; the pin fixes whatever it picks. Then the shared
    two-phase partition-offset numbering — per-partition row_number +
    driver-side cumsum of per-partition counts, no global
    single-partition window (functions/numbering.py).
    """
    ordered = df.repartitionByRange(*[F.col(c) for c in order_cols]).localCheckpoint()
    numbered, n, _ = partition_offset_ids(ordered, order_cols, id_col, start=start)
    return numbered, n


@dataclass
class ImportResult:
    """The reference's run report (sms-db.pl:233) and the rows to append."""

    messages: DataFrame
    parts: DataFrame
    total: int
    inserted: int
    duplicates: int
    ignored: int
    total_parts: int


def finalize_import(
    staged_messages: DataFrame,
    staged_parts: DataFrame,
    store: str | None = None,
    ignored_count: int = 0,
) -> ImportResult:
    """Dedup + id-assign a staged batch against an optional SQLite store
    file, returning the rows to append to it.

    first-wins within batch: the lowest local_id per hash (staging order
    ≙ the reference's insert order). Store-side dedup: a left join on
    the store's hash column clears the keep flag. The pin consumes that
    read, so the frames stay valid after their rows are appended.

    The flagged batch is range-partitioned on local_id and pinned once
    (localCheckpoint). One counts job over the pin gives, per
    partition, the rows, the kept rows and the kept part count: `total`,
    `inserted` and `total_parts` are their sums. A kept message's `_id`
    is its running kept count plus its partition's offset, and
    `_part_start` (the id before its first part) is the running sum of
    kept part counts before it, offset the same way. Parts then take
    `_part_start` + their rank within the message, ranked by part_seq
    and then every other part column, so the lazy `parts` frame gives
    each part row the same id however often it is evaluated, ties in
    part_seq included.
    """
    id_start, part_id_start = store_next_ids(store) if store is not None else (1, 1)

    first = Window.partitionBy("hash").orderBy("local_id")
    flagged = with_message_hash(staged_messages, staged_parts).withColumn(
        "_keep", F.row_number().over(first) == 1
    )
    if id_start > 1:
        stored = read_sqlite_table(
            staged_messages.sparkSession, store, "messages", _HASH_SCHEMA
        ).withColumn("_stored", F.lit(True))
        flagged = flagged.join(stored, "hash", "left").withColumn(
            "_keep", F.col("_keep") & F.col("_stored").isNull()
        )
    pinned = flagged.repartitionByRange(F.col("local_id")).localCheckpoint()
    kept_n = F.col("_keep").cast("long")
    # `_row` numbers every batch row and goes unused: the ids are the
    # running sums, and the kernel's row total N is the batch total
    numbered, seen, sums = partition_offset_ids(
        pinned,
        ["local_id"],
        "_row",
        sums={"_kept": kept_n, "_kept_parts": kept_n * F.col("_n_parts")},
    )
    total = seen + ignored_count
    inserted, total_parts = sums["_kept"], sums["_kept_parts"]
    duplicates = total - inserted - ignored_count

    kept = numbered.filter("_keep").select(
        (F.col("_kept") + (id_start - 1)).alias("_id"),
        *MESSAGE_HASH_FIELDS,
        "hash",
        "local_id",
        (F.col("_kept_parts") - F.col("_n_parts") + (part_id_start - 1)).alias("_part_start"),
    )
    messages = kept.drop("local_id", "_part_start")

    part_cols = ["data", "text", "content_type", "filename"]
    in_message = Window.partitionBy("local_id").orderBy("part_seq", *part_cols)
    parts = staged_parts.join(
        kept.select("local_id", F.col("_id").alias("message_id"), "_part_start"), "local_id"
    ).select(
        (F.col("_part_start") + F.row_number().over(in_message)).alias("_id"),
        "message_id",
        *part_cols,
    )

    return ImportResult(
        messages=messages,
        parts=parts,
        total=total,
        inserted=inserted,
        duplicates=duplicates,
        ignored=ignored_count,
        total_parts=total_parts,
    )
