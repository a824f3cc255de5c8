"""Dedup core + id assignment + counters (the reference's central
guarantees: README.md:113-115 idempotence, sms-db.pl:233 reconciliation)."""

from __future__ import annotations

import os
import shutil
import sqlite3

import pytest
from pyspark.sql import functions as F

from sms_db_spark.sinks import sqlite_sink
from sms_db_spark.sinks.sqlite_sink import read_store_sqlite, write_store_sqlite
from sms_db_spark.sources import sqlite_io
from sms_db_spark.sources.canonical import dense_ids, finalize_import
from sms_db_spark.sources.xml_source import normalize_xml
from sms_db_spark.sources.bugle import normalize_bugle
from sms_db_spark.sources.signal import normalize_signal
from tests.fixtures import JPEG_BYTES, bugle_frames, signal_frames, xml_frames


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


def _query(db: str, sql: str) -> list[tuple]:
    con = sqlite3.connect(db)
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _append(staged, db: str, **kw):
    """finalize_import against the store at `db`, then append its rows."""
    res = finalize_import(*staged, store=db, **kw)
    write_store_sqlite(res.messages, res.parts, db)
    return res


def _xml_store(spark, db: str):
    """The 5-message XML fixture written as a fresh store (part ids 1..6)."""
    m, p = normalize_xml(*xml_frames(spark))
    first = finalize_import(m, p)
    write_store_sqlite(first.messages, first.parts, db)
    return m, p, first


def test_dedup_idempotence(spark, tmp_path):
    """import twice ≡ once — the reference's core guarantee (README.md:113-115)."""
    db = str(tmp_path / "sms.db")
    m, p, _ = _xml_store(spark, db)
    second = _append((m, p), db)
    assert second.inserted == 0
    assert second.duplicates == 5
    assert second.total_parts == 0
    assert second.messages.count() == second.parts.count() == 0
    assert _query(db, "SELECT (SELECT count(*) FROM messages), (SELECT count(*) FROM parts)") == [
        (5, 6)
    ]


def test_incremental_append_across_sources(spark, tmp_path):
    db = str(tmp_path / "sms.db")
    _xml_store(spark, db)
    store2 = _append(normalize_bugle(*bugle_frames(spark)), db)
    assert store2.inserted == 3
    assert _query(db, "SELECT count(*) FROM messages") == [(8,)]
    sm, sp, ign = normalize_signal(*signal_frames(spark))
    store3 = _append((sm, sp), db, ignored_count=ign)
    assert store3.ignored == 4
    assert store3.total == 4 + 4  # 2 sms + 2 mms staged + 4 ignored
    # ids stay dense across appends
    ids = [r[0] for r in _query(db, "SELECT _id FROM messages ORDER BY _id")]
    assert ids == list(range(1, 13))
    # hash uniqueness (the UNIQUE constraint, sms-db.pl:49)
    assert _query(db, "SELECT count(DISTINCT hash) FROM messages") == [(12,)]


def test_store_read_is_path_independent(spark, tmp_path, monkeypatch):
    """read_store_sqlite gives the same frames on the driver path and on
    the rowid-range scan, over TEXT text/* parts, a BLOB image/jpeg part
    and non-text parts stored as TEXT (Bugle's image/png, and one with
    no content type); the scanned frames still collect after the store's
    directory is removed, as q163 uses its read-back frames after
    removing its temp dir."""
    store_dir = tmp_path / "store"
    store_dir.mkdir()
    db = str(store_dir / "sms.db")
    _xml_store(spark, db)
    _append(normalize_bugle(*bugle_frames(spark)), db)
    assert _query(db, "SELECT DISTINCT typeof(data), content_type FROM parts ORDER BY 1, 2") == [
        ("blob", "image/jpeg"),
        ("text", "image/png"),
        ("text", "text/plain"),
    ]
    # a part with no content type stays in the binary lane
    con = sqlite3.connect(db)
    con.execute("INSERT INTO parts(message_id, data) VALUES (1, 'x')")
    con.commit()
    con.close()

    def rows(frames):
        return [sorted(tuple(r) for r in df.collect()) for df in frames]

    local = rows(read_store_sqlite(spark, db))
    monkeypatch.setattr(sqlite_io, "DISTRIBUTED_ROWS_THRESHOLD", 1)
    scanned = read_store_sqlite(spark, db)
    for df in scanned:
        assert "MapInPandas" in df._jdf.queryExecution().executedPlan().toString()
    shutil.rmtree(store_dir)
    assert rows(scanned) == local
    messages, parts = local
    assert len(messages) == 8
    lanes = {(ct, data is None, text is None) for _, _, data, text, ct, _ in parts}
    assert lanes == {
        ("text/plain", True, False),
        ("image/jpeg", False, True),
        ("image/png", False, True),
        (None, False, True),
    }
    assert [data for _, _, data, _, ct, _ in parts if ct == "image/jpeg"] == [JPEG_BYTES]


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


def test_store_with_empty_parts_table(spark, tmp_path):
    """A store with messages but no parts: message ids continue from
    max(_id)+1, part ids start at 1."""
    db = str(tmp_path / "sms.db")
    _xml_store(spark, db)
    con = sqlite3.connect(db)
    con.execute("DELETE FROM parts")
    con.commit()
    con.close()
    res = _append(normalize_bugle(*bugle_frames(spark)), db)
    assert res.inserted == 3
    ids = [r[0] for r in _query(db, "SELECT _id FROM messages ORDER BY _id")]
    assert ids == list(range(1, 9))
    part_rows = _query(db, "SELECT _id, message_id FROM parts ORDER BY _id")
    assert [r[0] for r in part_rows] == list(range(1, res.total_parts + 1))
    assert {r[1] for r in part_rows} == {6, 7, 8}


def test_part_ids_repeat_under_part_seq_ties(spark, tmp_path):
    """Two parts of one message with equal part_seq (Signal stages its
    body part with `lit(0)`), numbered into a non-empty store. `parts`
    is a lazy frame, and a shuffled staging frame reaches it in any row
    order, so a part's id must depend on the part row alone: two
    evaluations, and an import of the same rows staged in reverse
    order, give identical (_id, row) pairs. The new ids are dense from
    the store's max+1 in (message_id, part_seq) order."""
    db = str(tmp_path / "sms.db")
    m, p, _ = _xml_store(spark, db)  # 5 messages, part ids 1..6
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
        res = finalize_import(msgs, spark.createDataFrame(rows, p.schema), store=db)
        assert (res.inserted, res.total_parts) == (2, 4)
        return [sorted(tuple(r) for r in res.parts.collect()) for _ in (0, 1)]

    first, again = new_parts(part_rows)
    assert first == again == new_parts(part_rows[::-1])[0]
    assert [r[0] for r in first] == [7, 8, 9, 10]
    # rows are (_id, message_id, data, text, ...): recover each part_seq
    part_seq = {"first": 0, "second": 0, b"\x89PNG": 1, "sms body": 0}
    keys = [(r[1], part_seq[r[3] if r[3] is not None else r[2]]) for r in first]
    assert keys == [(6, 0), (6, 0), (6, 1), (7, 0)]


def _store_rows(db: str):
    return [
        _query(db, "SELECT * FROM messages ORDER BY _id"),
        _query(db, "SELECT * FROM parts ORDER BY _id"),
        _query(db, "PRAGMA user_version"),
    ]


def test_failed_append_leaves_the_store_as_it_was(spark, tmp_path, monkeypatch):
    """The write is one transaction: a parts insert that raises after
    its first batch leaves an existing store with exactly its
    pre-import rows, and a failed first import leaves an empty file."""
    db = str(tmp_path / "sms.db")
    _, _, first = _xml_store(spark, db)
    before = _store_rows(db)
    res = finalize_import(*normalize_bugle(*bugle_frames(spark)), store=db)
    assert res.inserted == 3

    monkeypatch.setattr(sqlite_sink, "_INSERT_BATCH_ROWS", 1)
    batches_of = sqlite_sink._sorted_batches

    def parts_fail_after_first_batch(frame, columns):
        batches = batches_of(frame, columns)
        if "message_id" not in columns:
            yield from batches
            return
        yield next(batches)
        raise RuntimeError("parts insert failed")

    monkeypatch.setattr(sqlite_sink, "_sorted_batches", parts_fail_after_first_batch)
    with pytest.raises(RuntimeError, match="parts insert failed"):
        write_store_sqlite(res.messages, res.parts, db)
    assert _store_rows(db) == before
    assert _query(db, "PRAGMA integrity_check") == [("ok",)]

    fresh = str(tmp_path / "fresh.db")
    with pytest.raises(RuntimeError, match="parts insert failed"):
        write_store_sqlite(first.messages, first.parts, fresh)
    assert _query(fresh, "SELECT name FROM sqlite_master WHERE name = 'messages'") == []
    assert os.path.getsize(fresh) == 0


def test_store_read_is_pinned_before_the_append(spark, tmp_path, monkeypatch):
    """Past the distributed threshold the store's hash column is read by
    a rowid-range scan of the file itself. The import's pin consumes
    that read: the returned frames give the same rows after
    write_store_sqlite has appended them to the same file, and neither
    the write nor a later evaluation scans the store again (a scan
    running inside the write's transaction would read a file its own
    writer holds locked)."""
    scans = []
    scanned_batches = spark.sparkContext.accumulator(0)
    ranges = sqlite_io._read_sqlite_ranges

    def counted_ranges(*args):
        scans.append(args[2])

        def tick(batches):
            for batch in batches:
                scanned_batches.add(1)
                yield batch

        return ranges(*args).mapInPandas(tick, args[3])

    monkeypatch.setattr(sqlite_io, "DISTRIBUTED_ROWS_THRESHOLD", 1)
    monkeypatch.setattr(sqlite_io, "_read_sqlite_ranges", counted_ranges)
    db = str(tmp_path / "sms.db")
    m, p, _ = _xml_store(spark, db)
    again = finalize_import(m, p, store=db)
    assert (again.inserted, again.duplicates) == (0, 5)
    assert scans == ["messages"]  # the hash column came from the file scan

    def rows(res):
        # a fresh plan per call: collecting the same DataFrame again would
        # reuse its shuffle files and never re-read the store
        return [sorted((tuple(r) for r in f.select("*").collect()), key=lambda r: r[0])
                for f in (res.messages, res.parts)]

    res = finalize_import(*normalize_bugle(*bugle_frames(spark)), store=db)
    read_at_pin = scanned_batches.value
    assert read_at_pin > 0
    before = rows(res)
    assert len(before[0]) == res.inserted == 3
    write_store_sqlite(res.messages, res.parts, db)
    assert rows(res) == before
    assert scanned_batches.value == read_at_pin
    assert _query(db, "SELECT count(*) FROM messages") == [(8,)]


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

