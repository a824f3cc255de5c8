"""Dedup core + id assignment + counters (the reference's central
guarantees: README.md:113-115 idempotence, sms-db.pl:233 reconciliation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sms_db_spark.sources.canonical import dense_ids, finalize_import
from sms_db_spark.sources.xml_source import normalize_xml
from sms_db_spark.sources.bugle import normalize_bugle
from sms_db_spark.sources.signal import normalize_signal
from tests.fixtures import bugle_frames, signal_frames, xml_frames


def test_first_import_counts(spark):
    m, p = normalize_xml(*xml_frames(spark))
    res = finalize_import(m, p)
    assert res.total == 5
    assert res.inserted == 5
    assert res.duplicates == 0
    assert res.total_parts == 6
    # seen = inserted + duplicate + ignored (sms-db.pl:233 reconciliation)
    assert res.total == res.inserted + res.duplicates + res.ignored


def test_dense_ids_are_dense_and_ordered(spark):
    m, p = normalize_xml(*xml_frames(spark))
    res = finalize_import(m, p)
    ids = [r["_id"] for r in res.messages.orderBy("_id").collect()]
    assert ids == list(range(1, 6))
    part_ids = [r["_id"] for r in res.parts.orderBy("_id").collect()]
    assert part_ids == list(range(1, 7))


def test_parts_fk_integrity(spark):
    m, p = normalize_xml(*xml_frames(spark))
    res = finalize_import(m, p)
    orphans = res.parts.join(
        res.messages.select(F.col("_id").alias("message_id")), "message_id", "left_anti"
    )
    assert orphans.count() == 0


def test_dedup_idempotence(spark):
    """import twice ≡ once — the reference's core guarantee (README.md:113-115)."""
    m, p = normalize_xml(*xml_frames(spark))
    first = finalize_import(m, p)
    second = finalize_import(m, p, existing_messages=first.messages, existing_parts=first.parts)
    assert second.inserted == 0
    assert second.duplicates == 5
    assert second.total_parts == 0
    assert second.messages.count() == 5
    assert second.parts.count() == 6


def test_incremental_append_across_sources(spark):
    xm, xp = normalize_xml(*xml_frames(spark))
    store = finalize_import(xm, xp)
    bm, bp = normalize_bugle(*bugle_frames(spark))
    store2 = finalize_import(bm, bp, store.messages, store.parts)
    assert store2.inserted == 3
    assert store2.messages.count() == 8
    sm, sp, ign = normalize_signal(*signal_frames(spark))
    store3 = finalize_import(sm, sp, store2.messages, store2.parts, ignored_count=ign)
    assert store3.ignored == 4
    assert store3.total == 4 + 4  # 2 sms + 2 mms staged + 4 ignored
    assert store3.messages.count() == 12
    # ids stay dense across appends
    ids = [r["_id"] for r in store3.messages.orderBy("_id").collect()]
    assert ids == list(range(1, 13))
    # hash uniqueness (the UNIQUE constraint, sms-db.pl:49)
    assert store3.messages.select("hash").distinct().count() == 12


def test_within_batch_dup_first_wins(spark):
    m, p = normalize_xml(*xml_frames(spark))
    doubled_m = m.unionByName(m.withColumn("local_id", F.col("local_id") + 1000))
    doubled_p = p.unionByName(p.withColumn("local_id", F.col("local_id") + 1000))
    res = finalize_import(doubled_m, doubled_p)
    assert res.inserted == 5
    assert res.duplicates == 5
    # keepers are the low local_ids (staging order ≙ insert order)
    assert res.messages.count() == 5


def test_dense_ids_helper_multi_partition(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("k")).repartition(7)
    out, n = dense_ids(df, ["k"], "_id", start=1)
    rows = out.orderBy("k").collect()
    assert [r["_id"] for r in rows] == list(range(1, 1001))
    assert n == 1000


def test_dense_ids_dense_over_shuffled_input(spark):
    """Each Spark action samples fresh range bounds, and a shuffled
    input reaches the sampler in a different row order each time, so
    re-running the lineage may re-partition differently: the counts job
    and the numbering job must read ONE pinned partitioning."""
    df = spark.range(2000).repartition(4).select(F.col("id").alias("k"))
    out, n = dense_ids(df, ["k"], "_id", start=1)
    rows = out.orderBy("k").collect()
    assert [r["_id"] for r in rows] == list(range(1, 2001))
    assert n == 2000


def test_store_with_empty_parts_table(spark):
    """A store with messages but no parts: message ids continue from
    max(_id)+1, part ids start at 1."""
    m, p = normalize_xml(*xml_frames(spark))
    store = finalize_import(m, p)
    bm, bp = normalize_bugle(*bugle_frames(spark))
    res = finalize_import(bm, bp, store.messages, store.parts.limit(0))
    assert res.inserted == 3
    assert [r["_id"] for r in res.messages.orderBy("_id").collect()] == list(range(1, 9))
    part_rows = res.parts.orderBy("_id").collect()
    assert [r["_id"] for r in part_rows] == list(range(1, res.total_parts + 1))
    assert {r["message_id"] for r in part_rows} == {6, 7, 8}


def test_part_ids_repeat_under_part_seq_ties(spark):
    """Two parts of one message with equal part_seq (Signal stages its
    body part with `lit(0)`), numbered into a non-empty store. `parts`
    is a lazy frame, and a shuffled staging frame reaches it in any row
    order, so a part's id must depend on the part row alone: two
    evaluations, and an import of the same rows staged in reverse
    order, give identical (_id, row) pairs. The new ids are dense from
    the store's max+1 in (message_id, part_seq) order."""
    m, p = normalize_xml(*xml_frames(spark))
    store = finalize_import(m, p)  # 5 messages, part ids 1..6
    msgs = spark.createDataFrame(
        [
            (1, 1_700_000_000_000, "+15550009999", "Zed", None, None, 1, 1, 0),
            (2, 1_700_000_100_000, "+15550009999", "Zed", None, None, 1, 0, 0),
        ],
        m.schema,
    )
    part_rows = [
        (1, 1, b"\x89PNG", None, "image/png", "a.png"),
        (1, 0, None, "second", "text/plain", None),
        (1, 0, None, "first", "text/plain", None),
        (2, 0, None, "sms body", "text/plain", None),
    ]

    def new_parts(rows):
        res = finalize_import(
            msgs, spark.createDataFrame(rows, p.schema), store.messages, store.parts
        )
        assert (res.inserted, res.total_parts) == (2, 4)
        return [sorted(tuple(r) for r in res.parts.filter("_id > 6").collect()) for _ in (0, 1)]

    first, again = new_parts(part_rows)
    assert first == again == new_parts(part_rows[::-1])[0]
    assert [r[0] for r in first] == [7, 8, 9, 10]
    # rows are (_id, message_id, data, text, ...): recover each part_seq
    part_seq = {"first": 0, "second": 0, b"\x89PNG": 1, "sms body": 0}
    keys = [(r[1], part_seq[r[3] if r[3] is not None else r[2]]) for r in first]
    assert keys == [(6, 0), (6, 0), (6, 1), (7, 0)]


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_dense_ids_runs_no_job_before_its_pin(spark, monkeypatch):
    """dense_ids leaves the range partitioning to AQE: probing the
    input's partition count would run a joined input's stages before
    the pin job. N comes from the counts job and equals the count."""
    DataFrame = type(spark.range(1))  # the concrete class localCheckpoint runs on
    at_pin = []
    orig_pin = DataFrame.localCheckpoint

    def recording_pin(self, *a, **k):
        at_pin.append(_next_job_id(spark))
        return orig_pin(self, *a, **k)

    left = spark.range(500).select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
    right = spark.range(0, 500, 2).select(F.col("id").alias("k"))
    joined = left.join(right.hint("shuffle_hash"), "k").groupBy("k").agg(F.max("g").alias("g"))
    monkeypatch.setattr(DataFrame, "localCheckpoint", recording_pin)
    start = _next_job_id(spark)
    out, n = dense_ids(joined, ["k"], "_id", start=1)
    monkeypatch.undo()
    assert at_pin == [start]
    assert n == out.count() == 250

