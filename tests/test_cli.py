"""End-to-end CLI parity (sms_db_spark/__main__.py): the reference's flag
surface driven against real files — XML backup, Bugle SQLite db, Signal
backup dir — with the resulting store verified through plain sqlite3,
exactly how the reference's users query it (querying.md:7-13)."""

from __future__ import annotations

import hashlib
import sqlite3
import xml.etree.ElementTree as ET

import pytest

from sms_db_spark.__main__ import main

XML_DOC = """<?xml version='1.0' encoding='UTF-8' standalone='yes' ?>
<smses count="3">
  <sms date="1577836800000" type="1" address="+15550001111" contact_name="Alice" body="hi there" />
  <sms date="1577836900000" type="2" address="+15550001111" contact_name="Alice" body="hello back" />
  <mms date="1577840000000" msg_box="1" address="+15550003333" contact_name="Carol">
    <parts>
      <part ct="text/plain" name="null" text="photo attached" data="null" />
      <part ct="image/jpeg" name="IMG_0001.jpg" text="null" data="/9j/4IC+AQI=" />
    </parts>
    <addrs>
      <addr address="+15550003333" type="137" />
      <addr address="+15559998888" type="151" />
    </addrs>
  </mms>
</smses>
"""


@pytest.fixture()
def xml_file(tmp_path):
    p = tmp_path / "backup.xml"
    p.write_text(XML_DOC, encoding="utf-8")
    return str(p)


def _bugle_db(tmp_path) -> str:
    path = str(tmp_path / "bugle_db")
    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE messages(_id INTEGER PRIMARY KEY, received_timestamp INT,
            message_protocol INT, sender_id INT, conversation_id INT);
        CREATE TABLE participants(_id INTEGER PRIMARY KEY,
            normalized_destination TEXT, full_name TEXT);
        CREATE TABLE conversations(_id INTEGER PRIMARY KEY,
            participant_normalized_destination TEXT, participant_count INT,
            name TEXT, sub_id INT);
        CREATE TABLE conversation_participants(conversation_id INT, participant_id INT);
        CREATE TABLE parts(_id INTEGER PRIMARY KEY, message_id INT, text TEXT,
            uri TEXT, content_type TEXT);
        INSERT INTO messages VALUES (1, 1600000000000, 0, 10, 100);
        INSERT INTO participants VALUES (10, '+15551110000', 'Eve');
        INSERT INTO conversations VALUES (100, '+15551110000', 1, 'Eve', -2);
        INSERT INTO parts VALUES (1, 1, 'hey', NULL, 'text/plain');
        """
    )
    con.commit()
    con.close()
    return path


def _signal_dir(tmp_path) -> str:
    d = tmp_path / "signal_backup"
    d.mkdir()
    con = sqlite3.connect(str(d / "database.sqlite"))
    con.executescript(
        """
        CREATE TABLE sms(_id INTEGER PRIMARY KEY, address INT, date INT, type INT, body TEXT);
        CREATE TABLE mms(_id INTEGER PRIMARY KEY, thread_id INT, address INT,
            date INT, msg_box INT, body TEXT);
        CREATE TABLE recipient(_id INTEGER PRIMARY KEY, phone TEXT,
            system_display_name TEXT, group_id TEXT);
        CREATE TABLE groups(group_id TEXT, members TEXT);
        CREATE TABLE thread(_id INTEGER PRIMARY KEY, thread_recipient_id INT);
        CREATE TABLE part(mid INT, ct TEXT, file_name TEXT, unique_id INT);
        INSERT INTO recipient VALUES (7, '+15557770000', 'Grace', NULL);
        INSERT INTO sms VALUES (1, 7, 1650000000000, 20, 'signal hello');
        INSERT INTO sms VALUES (2, 7, 1650000100000, 2097156, NULL);  -- is on Signal! -> ignored
        """
    )
    con.commit()
    con.close()
    return str(d)


def _store_counts(db: str) -> tuple[int, int, int]:
    con = sqlite3.connect(db)
    try:
        n_msg = con.execute("SELECT count(*) FROM messages").fetchone()[0]
        n_parts = con.execute("SELECT count(*) FROM parts").fetchone()[0]
        version = con.execute("PRAGMA user_version").fetchone()[0]
    finally:
        con.close()
    return n_msg, n_parts, version


def test_cli_xml_import_is_idempotent(spark, tmp_path, xml_file):
    db = str(tmp_path / "sms-db.db")
    assert main(["-f", "xml", "-i", xml_file, "-d", db]) == 0
    n_msg, n_parts, version = _store_counts(db)
    assert (n_msg, n_parts, version) == (3, 4, 2)
    # re-import: every message a duplicate (A5 idempotence through the CLI),
    # and an import that adds nothing leaves the file byte for byte as it was
    digest = hashlib.sha256(open(db, "rb").read()).hexdigest()
    assert main(["-f", "xml", "-i", xml_file, "-d", db]) == 0
    assert _store_counts(db)[:2] == (3, 4)
    assert hashlib.sha256(open(db, "rb").read()).hexdigest() == digest
    # the store is queryable with plain sqlite3 like querying.md promises
    con = sqlite3.connect(db)
    got = con.execute(
        "SELECT sender_name FROM messages WHERE msg_box = 1 ORDER BY timestamp"
    ).fetchall()
    con.close()
    assert got == [("Alice",), ("Carol",)]


def test_cli_imports_into_an_empty_file(spark, tmp_path, xml_file):
    """An empty file at -d (what a failed first import leaves) is no store
    yet: the import creates it, even when it adds no message."""
    db = tmp_path / "sms-db.db"
    db.touch()
    empty_backup = tmp_path / "empty.xml"
    empty_backup.write_text("<?xml version='1.0'?><smses count=\"0\"></smses>")
    assert main(["-f", "xml", "-i", str(empty_backup), "-d", str(db)]) == 0
    assert _store_counts(str(db)) == (0, 0, 2)
    assert main(["-f", "xml", "-i", xml_file, "-d", str(db)]) == 0
    assert _store_counts(str(db)) == (3, 4, 2)


def test_cli_multi_source_accumulation(spark, tmp_path, xml_file):
    db = str(tmp_path / "sms-db.db")
    assert main(["-f", "xml", "-i", xml_file, "-d", db]) == 0
    assert main(["-f", "bugle", "-i", _bugle_db(tmp_path), "-d", db]) == 0
    assert main(["-f", "signal", "-i", _signal_dir(tmp_path), "-d", db]) == 0
    n_msg, n_parts, _ = _store_counts(db)
    assert n_msg == 3 + 1 + 1  # signal row 2 is ignored, not stored
    assert n_parts == 4 + 1 + 1
    con = sqlite3.connect(db)
    by_source = dict(
        con.execute("SELECT source_format, count(*) FROM messages GROUP BY 1").fetchall()
    )
    con.close()
    assert by_source == {0: 3, 1: 1, 2: 1}


def test_cli_export_roundtrip(spark, tmp_path, xml_file):
    db = str(tmp_path / "sms-db.db")
    out = str(tmp_path / "export.xml")
    assert main(["-f", "xml", "-i", xml_file, "-d", db]) == 0
    assert main(["-f", "xml", "-o", out, "-d", db, "-t", "sms"]) == 0
    root = ET.parse(out).getroot()
    assert root.get("count") == "2"
    assert {e.get("body") for e in root.iter("sms")} == {"hi there", "hello back"}


def test_cli_rejects_bad_invocations(tmp_path):
    assert main(["-f", "xml"]) == 2  # neither -i nor -o
    with pytest.raises(SystemExit):
        main(["-i", "x"])  # -f required


def test_signal_layout_probe(tmp_path):
    from sms_db_spark.sources.sqlite_io import detect_signal_layout

    d = _signal_dir(tmp_path)
    assert detect_signal_layout(d)["db_name"] == "database.sqlite"
    with pytest.raises(ValueError, match="Unrecognized Signal backup format"):
        detect_signal_layout(str(tmp_path))


def test_read_sqlite_without_rowid_table_degrades_to_null(spark, tmp_path):
    """A WITHOUT ROWID table raises on `SELECT rowid`; the reader must
    probe and fall back to NULL (like any other absent column) instead of
    failing the whole import."""
    import sqlite3

    from pyspark.sql import types as T

    from sms_db_spark.sources.sqlite_io import read_sqlite_table

    db = str(tmp_path / "worowid.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k TEXT PRIMARY KEY, v INT) WITHOUT ROWID")
    con.execute("INSERT INTO t VALUES ('a', 1), ('b', 2)")
    con.commit()
    con.close()

    schema = T.StructType(
        [
            T.StructField("rowid", T.LongType()),
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    rows = {r.k: r for r in read_sqlite_table(spark, db, "t", schema).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"].rowid is None and rows["a"].v == 1

    # ... and a normal (rowid) table still surfaces real rowids
    db2 = str(tmp_path / "rowid.db")
    con = sqlite3.connect(db2)
    con.execute("CREATE TABLE t (k TEXT, v INT)")
    con.execute("INSERT INTO t VALUES ('a', 1), ('b', 2)")
    con.commit()
    con.close()
    rows2 = {r.k: r for r in read_sqlite_table(spark, db2, "t", schema).collect()}
    assert rows2["a"].rowid == 1 and rows2["b"].rowid == 2


def test_cli_export_matches_golden(spark, tmp_path, xml_file):
    """-o writes, byte for byte (modulo the timestamp comment), the
    document recorded in tests/golden/cli_export.xml for this store."""
    from pathlib import Path

    db = str(tmp_path / "sms-db.db")
    out = tmp_path / "export.xml"
    assert main(["-f", "xml", "-i", xml_file, "-d", db]) == 0
    assert main(["-f", "xml", "-o", str(out), "-d", db]) == 0
    lines = out.read_bytes().split(b"\n")
    golden = (Path(__file__).parent / "golden" / "cli_export.xml").read_bytes()
    assert b"\n".join(lines[:1] + lines[2:]) == golden
