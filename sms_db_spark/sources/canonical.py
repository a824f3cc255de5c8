"""Canonical-store construction: hash computation, dedup, dense id
assignment, import statistics — the Spark shape of the reference's
`insert()` + transaction loop (sms-db.pl:318-339, :47, :231).

Pipeline (SURVEY.md E1):
    staged (messages, parts) from a normalizer
      → compute hash (batch-wide, one pass)
      → within-batch dedup: first-wins by staging order (≙ AUTOINCREMENT
        insert order, sms-db.pl:49)
      → against-store dedup: left_anti on hash (≙ UNIQUE constraint probe,
        sms-db.pl:326-328)
      → dense id assignment continuing from the store's max ids (W2)
      → parts wired to parent ids by construction (FK by construction)

Scale: the hash is uniformly distributed → dedup shuffles are skew-free.
Dense id assignment uses the two-phase partition-offset pattern (no
global single-partition window). Against-store dedup only moves the
store's (hash) column — broadcastable when the batch is small, AQE
picks the strategy otherwise.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import message_hash, part_bytes
from ..functions.numbering import partition_offset_ids
from ..schemas import MESSAGE_HASH_FIELDS


def with_message_hash(staged_messages: DataFrame, staged_parts: DataFrame) -> DataFrame:
    """Attach the reference-recipe `hash` column to staged messages.

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
        ).alias("parts_bytes")
    )
    joined = staged_messages.join(agg, "local_id", "left").withColumn(
        "parts_bytes", F.coalesce(F.col("parts_bytes"), F.encode(F.lit(""), "UTF-8"))
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
    single-partition window (functions/numbering.py). strict=True: this
    path has no downstream bijectivity validation, so a broken-contract
    pid should throw Spark's ANSI map-key error rather than silently
    yield NULL ids.
    """
    ordered = df.repartitionByRange(*[F.col(c) for c in order_cols]).localCheckpoint()
    return partition_offset_ids(ordered, order_cols, id_col, start=start, strict=True)


def _next_id(store_table: DataFrame | None) -> int:
    """max(_id) + 1 of a store table, 1 when it is absent or empty: one
    aggregate job per table (`_id` is non-null, so an empty table is
    exactly a NULL max)."""
    if store_table is None:
        return 1
    top = store_table.agg(F.max("_id")).first()[0]
    return 1 if top is None else top + 1


@dataclass
class ImportResult:
    """The reference's run report (sms-db.pl:233)."""

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
    existing_messages: DataFrame | None = None,
    existing_parts: DataFrame | None = None,
    ignored_count: int = 0,
) -> ImportResult:
    """Dedup + id-assign a staged batch, appending to an optional store.

    first-wins within batch: min(local_id) per hash (staging order ≙ the
    reference's insert order). Store-side dedup: left_anti on hash.
    """
    # persist the hashed batch: this function drives several actions over
    # it (the total count, the keeper join, the id-offset collects) —
    # without a persist each action re-executes the normalizer join chain
    hashed = with_message_hash(staged_messages, staged_parts).persist()
    total = hashed.count() + ignored_count

    keeper = hashed.groupBy("hash").agg(F.min("local_id").alias("local_id"))
    batch_unique = hashed.join(keeper, ["hash", "local_id"], "inner")

    id_start = _next_id(existing_messages)
    has_store = id_start > 1
    if has_store:
        new_msgs = batch_unique.join(existing_messages.select("hash"), "hash", "left_anti")
        part_id_start = _next_id(existing_parts)
    else:
        new_msgs, part_id_start = batch_unique, 1

    with_ids, inserted = dense_ids(new_msgs, ["local_id"], "_id", start=id_start)
    duplicates = total - inserted - ignored_count

    messages = with_ids.select(
        "_id", *MESSAGE_HASH_FIELDS, "hash"
    )

    kept_parts = staged_parts.join(
        with_ids.select("local_id", F.col("_id").alias("message_id")), "local_id", "inner"
    )
    parts, total_parts = dense_ids(
        kept_parts, ["message_id", "part_seq"], "_id", start=part_id_start
    )
    parts = parts.select("_id", "message_id", "data", "text", "content_type", "filename")
    # both id frames are pinned by dense_ids: nothing reads `hashed` now
    hashed.unpersist()

    if has_store:
        messages = existing_messages.unionByName(messages)
    if part_id_start > 1:
        parts = existing_parts.unionByName(parts)

    return ImportResult(
        messages=messages,
        parts=parts,
        total=total,
        inserted=inserted,
        duplicates=duplicates,
        ignored=ignored_count,
        total_parts=total_parts,
    )
