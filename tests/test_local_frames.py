"""Driver-built frames are JVM-side local relations (session.local_frame):
their plans scan a LocalTableScan, never an RDD of Python rows, so an
action that re-scans them starts no Python worker. Zero-row inputs keep
their schema and their counts, and a NULL in a non-nullable field fails
loudly, as createDataFrame's verifySchema did for lists of rows.

The session module's other helper, `concurrent`, is covered here too:
its threads carry the caller's job group to the jobs they submit."""

from __future__ import annotations

import sqlite3
import threading
import time

import pytest

from sms_db_spark.session import concurrent, local_frame
from sms_db_spark.sinks.sqlite_sink import read_store_sqlite, write_store_sqlite
from sms_db_spark.sinks.xml_export import export_xml
from sms_db_spark.sources import demo
from sms_db_spark.sources.bugle import BUGLE_PARTICIPANTS_SCHEMA
from sms_db_spark.sources.canonical import finalize_import
from sms_db_spark.sources.signal import SIGNAL_PART_SCHEMA
from sms_db_spark.sources.sqlite_io import read_sqlite_table
from sms_db_spark.sources.xml_source import XML_SMS_SCHEMA, normalize_xml, read_xml_staging


def _assert_local(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """The 5-message fixture store as a SQLite file, and its XML export."""
    d = tmp_path_factory.mktemp("local_frames")
    res = finalize_import(*normalize_xml(*demo.xml_frames(spark)))
    db = str(d / "store.db")
    write_store_sqlite(res.messages, res.parts, db)
    xml = str(d / "export.xml")
    export_xml(res.messages, res.parts, xml)
    return db, xml


@pytest.mark.parametrize("frames", ["xml_frames", "bugle_frames", "signal_frames"])
def test_demo_frames_are_local(spark, frames):
    for df in getattr(demo, frames)(spark):
        _assert_local(df)


def test_read_xml_staging_is_local(spark, store):
    staged = read_xml_staging(spark, store[1])
    for df in staged:
        _assert_local(df)
    assert staged[0].schema == XML_SMS_SCHEMA
    assert sum(df.count() for df in staged[:2]) == 5


def test_read_store_sqlite_is_local(spark, store):
    messages, parts = read_store_sqlite(spark, store[0])
    _assert_local(messages)
    _assert_local(parts)
    assert (messages.count(), parts.count()) == (5, 6)


def test_read_sqlite_table_driver_path_is_local(spark, tmp_path):
    db = str(tmp_path / "bugle.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE participants(_id INTEGER PRIMARY KEY, normalized_destination TEXT)")
    con.execute("INSERT INTO participants VALUES (10, '+15551110000'), (11, NULL)")
    con.commit()
    con.close()
    df = read_sqlite_table(spark, db, "participants", BUGLE_PARTICIPANTS_SCHEMA)
    _assert_local(df)
    assert df.schema == BUGLE_PARTICIPANTS_SCHEMA
    # the absent full_name column surfaces as NULL
    assert sorted(tuple(r) for r in df.collect()) == [
        (10, "+15551110000", None),
        (11, None, None),
    ]


def test_read_sqlite_table_absent_table_is_empty_local(spark, tmp_path):
    db = str(tmp_path / "empty.db")
    sqlite3.connect(db).close()
    df = read_sqlite_table(spark, db, "participants", BUGLE_PARTICIPANTS_SCHEMA)
    _assert_local(df)
    assert df.schema == BUGLE_PARTICIPANTS_SCHEMA
    assert df.count() == 0



def test_local_frame_rejects_null_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="'_id' is not nullable"):
        local_frame(spark, [(1, "a", None), (None, "b", None)], BUGLE_PARTICIPANTS_SCHEMA)


def test_read_sqlite_table_without_rowid_part_table_raises(spark, tmp_path):
    """A WITHOUT ROWID part table has no rowid to pin the part order
    (which feeds the dedup hash): the non-nullable `rowid` field refuses
    the NULL projected for it instead of reading every row back with
    one shared value."""
    db = str(tmp_path / "signal.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE part(unique_id INTEGER PRIMARY KEY, mid INT, ct TEXT, file_name TEXT)"
        " WITHOUT ROWID"
    )
    con.execute("INSERT INTO part VALUES (1, 10, 'image/png', 'a.png'), (2, 10, 'text/plain', NULL)")
    con.commit()
    con.close()
    with pytest.raises(ValueError, match="'rowid' is not nullable"):
        read_sqlite_table(spark, db, "part", SIGNAL_PART_SCHEMA)


def test_concurrent_keeps_the_callers_job_group(spark):
    """Jobs submitted from concurrent()'s threads belong to the job
    group the caller set; a plain thread pool drops it. The same test
    pins the helper's contract on trivial thunks: results in argument
    order, a failing thunk's exception reaches the caller, one thunk
    runs on the caller's thread, and ten thunks share at most 8."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    sc.setJobGroup("concurrent-test", "jobs of concurrent() thunks")
    try:
        start = dag.nextJobId()
        counts = concurrent(
            lambda: spark.range(10).count(),
            lambda: spark.range(0, 100, 1, 3).filter("id % 2 = 0").count(),
        )
        thunk_jobs = set(range(start, dag.nextJobId()))
        in_group = set(sc.statusTracker().getJobIdsForGroup("concurrent-test"))
    finally:
        sc._jsc.clearJobGroup()
    assert counts == (10, 50)
    assert len(thunk_jobs) >= 2
    assert thunk_jobs <= in_group, sorted(thunk_jobs - in_group)

    assert concurrent(*[lambda i=i: i for i in range(5)]) == (0, 1, 2, 3, 4)

    def fail():
        raise KeyError("second thunk")

    with pytest.raises(KeyError, match="second thunk"):
        concurrent(lambda: 1, fail, lambda: 3)

    assert concurrent(threading.get_ident) == (threading.get_ident(),)

    def slow_ident():
        time.sleep(0.05)  # keep each thread busy a moment
        return threading.get_ident()

    assert len(set(concurrent(*[slow_ident] * 10))) <= 8
