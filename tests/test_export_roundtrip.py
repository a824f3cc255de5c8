"""Export pipeline + the reference's implicit round-trip guarantee:
import → export XML → re-import ⇒ 0 new rows (SURVEY.md §5)."""

from __future__ import annotations

import sqlite3
import xml.etree.ElementTree as ET
from pathlib import Path

import pytest

from sms_db_spark.sinks.sqlite_sink import read_store_sqlite, write_store_sqlite
from sms_db_spark.sinks.xml_export import export_xml
from sms_db_spark.sources.canonical import finalize_import
from sms_db_spark.sources.xml_source import normalize_xml, read_xml_staging
from tests.fixtures import xml_frames


def _store(spark):
    m, p = normalize_xml(*xml_frames(spark))
    return finalize_import(m, p)


def test_export_xml_structure(spark, tmp_path):
    res = _store(spark)
    out = tmp_path / "backup.xml"
    count = export_xml(res.messages, res.parts, str(out))
    root = ET.parse(out).getroot()
    assert root.tag == "smses"
    assert root.get("count") == str(count) == "5"
    smses = root.findall("sms")
    assert len(smses) == 3
    # received sms: address = sender (sms-db.pl:244), constants read/status
    first = smses[0]
    assert first.get("address") == "+15550001111"
    assert first.get("read") == "1" and first.get("status") == "-1"
    mmses = root.findall("mms")
    assert len(mmses) == 2
    # sent mms address: first recipient digits-only (sms-db.pl:265-266)
    sent = [m for m in mmses if m.get("msg_box") == "2"][0]
    assert sent.get("address") == "15550004444"
    # binary part re-encoded as base64 with text="null" (sms-db.pl:277-281)
    received = [m for m in mmses if m.get("msg_box") == "1"][0]
    img = [p for p in received.find("parts").findall("part") if p.get("ct") == "image/jpeg"][0]
    assert img.get("text") == "null" and img.get("data")
    # addr rows: sender type=137, recipients type=151 (sms-db.pl:290,297)
    addrs = received.find("addrs").findall("addr")
    assert addrs[0].get("type") == "137"
    assert {a.get("type") for a in addrs[1:]} == {"151"}


def test_roundtrip_reimport_idempotent(spark, tmp_path):
    """The export is lossy BY REFERENCE DESIGN (SMS export writes no
    contact_name, sms-db.pl:243-250; MMS recipients digit-stripped,
    :265-266) so one round-trip may insert name-stripped variants — exactly
    as the reference would. The guarantee that DOES hold: re-importing the
    same export twice is pure duplicates (README.md:113-115)."""
    res = _store(spark)
    db = str(tmp_path / "sms.db")
    write_store_sqlite(res.messages, res.parts, db)
    out = tmp_path / "backup.xml"
    export_xml(res.messages, res.parts, str(out))
    staged = read_xml_staging(spark, str(out))
    m2, p2 = normalize_xml(*staged)
    res2 = finalize_import(m2, p2, store=db)
    write_store_sqlite(res2.messages, res2.parts, db)
    con = sqlite3.connect(db)
    # bodies survive the trip
    texts = {r[0] for r in con.execute("SELECT data FROM parts WHERE content_type LIKE 'text/%'")}
    assert {"hi there", "lunch?", "hello back ünïcödé"} <= texts
    n_messages = con.execute("SELECT count(*) FROM messages").fetchone()[0]
    con.close()
    assert n_messages == 5 + res2.inserted
    # second import of the same export: all dups, zero inserted
    res3 = finalize_import(m2, p2, store=db)
    assert res3.inserted == 0
    assert res3.duplicates == res3.total
    assert res3.messages.count() == 0


def test_sqlite_sink_queryable(spark, tmp_path):
    res = _store(spark)
    db = tmp_path / "sms.db"
    write_store_sqlite(res.messages, res.parts, str(db))
    con = sqlite3.connect(db)
    # the documented ad-hoc query surface runs verbatim (querying.md:35-39)
    rows = con.execute(
        "SELECT timestamp, sender_name, data FROM messages INNER JOIN parts"
        " ON messages._id = parts.message_id WHERE content_type LIKE 'text%'"
        " ORDER BY timestamp"
    ).fetchall()
    assert len(rows) == 5
    assert rows[0][1] == "Alice" and rows[0][2] == "hi there"
    assert con.execute("PRAGMA user_version").fetchone()[0] == 2
    con.close()


def test_sqlite_sink_keeps_text_and_blob_typing(spark, tmp_path):
    """parts.data is polymorphic (sms-db.pl:54-55): the sink stores a
    text part's text as TEXT and a binary part's bytes as BLOB, ordered
    by _id, whatever route the rows take to the driver."""
    res = _store(spark)
    db = tmp_path / "sms.db"
    write_store_sqlite(res.messages, res.parts, str(db))
    con = sqlite3.connect(db)
    rows = con.execute("SELECT _id, content_type, typeof(data) FROM parts").fetchall()
    con.close()
    assert [r[0] for r in rows] == list(range(1, 7))
    assert {(ct.startswith("text/"), kind) for _, ct, kind in rows} == {
        (True, "text"), (False, "blob")
    }


def test_export_of_non_utf8_text_part_fails_without_a_document(spark, tmp_path):
    """A text/* part whose stored bytes are not UTF-8 cannot surface in
    the text lane: the export fails loudly and writes no document."""
    res = _store(spark)
    db = tmp_path / "sms.db"
    write_store_sqlite(res.messages, res.parts, str(db))
    con = sqlite3.connect(db)
    con.execute(
        "UPDATE parts SET data = X'FF00FE' WHERE _id ="
        " (SELECT min(_id) FROM parts WHERE content_type = 'text/plain')"
    )
    con.commit()
    con.close()
    with pytest.raises(Exception):
        messages, parts = read_store_sqlite(spark, str(db))
        export_xml(messages, parts, str(tmp_path / "out.xml"))
    assert [f.name for f in tmp_path.iterdir()] == ["sms.db"]


def test_csv_export_documented_query(spark, tmp_path):
    """S7: the README.md:103-105 `sqlite3 -csv` join as a CSV write."""
    import csv
    import glob

    from sms_db_spark.sinks.csv_export import export_csv

    res = _store(spark)
    out = tmp_path / "texts_csv"
    export_csv(res.messages, res.parts, str(out))
    (csv_file,) = glob.glob(str(out / "part-*.csv"))
    with open(csv_file, newline="") as fh:
        rows = list(csv.DictReader(fh))
    # every text/plain part of the 5-message fixture store, time-ordered
    assert [r["text"] for r in rows] == [
        "hi there", "hello back ünïcödé", "lunch?", "photo attached", "see you",
    ]
    assert rows[0]["sender_name"] == "Alice"


def test_export_xml_counts_without_frame_actions(spark, tmp_path, monkeypatch):
    """export_xml sizes the root `count` attribute and its fragments
    from one `message_type` aggregate over the store: it calls no
    DataFrame `count()` (the persist-and-count of each export frame is
    gone) and pulls no row through the driver (no `toLocalIterator`).
    The returned count still equals the root attribute and the number
    of exported elements. Patches the CONCRETE DataFrame class (Spark
    4's pyspark.sql.DataFrame is an abstract base whose methods the
    classic subclass overrides, so patching the base never fires)."""
    res = _store(spark)
    DataFrame = type(res.messages)
    actions = []
    orig_count, orig_iter = DataFrame.count, DataFrame.toLocalIterator

    def counting(self):
        actions.append("count")
        return orig_count(self)

    def iterating(self, *a, **k):
        actions.append("iter")
        return orig_iter(self, *a, **k)

    monkeypatch.setattr(DataFrame, "count", counting)
    monkeypatch.setattr(DataFrame, "toLocalIterator", iterating)
    out = tmp_path / "once.xml"
    count = export_xml(res.messages, res.parts, str(out))
    monkeypatch.undo()
    assert actions == [], actions
    root = ET.parse(out).getroot()
    assert root.get("count") == str(count) == str(len(root)) == "5"


def test_store_schema_bootstrap_parity(spark, tmp_path):
    """The store bootstrap (the DDL step of write_store_sqlite's one
    transaction — the JDBC lane was deleted in r7, VERDICT r6 item 4)
    emits the reference DDL (sms-db.pl:49,53) with AUTOINCREMENT, hash
    UNIQUE, FK cascade, and PRAGMA user_version=2 (sms-db.pl:50)."""
    import pytest

    from sms_db_spark.schemas import MESSAGES_SCHEMA, PARTS_SCHEMA

    db = tmp_path / "schema.db"
    write_store_sqlite(
        spark.createDataFrame([], MESSAGES_SCHEMA), spark.createDataFrame([], PARTS_SCHEMA), str(db)
    )
    con = sqlite3.connect(db)
    msgs_sql = con.execute(
        "SELECT sql FROM sqlite_master WHERE name='messages'"
    ).fetchone()[0]
    parts_sql = con.execute(
        "SELECT sql FROM sqlite_master WHERE name='parts'"
    ).fetchone()[0]
    assert "AUTOINCREMENT" in msgs_sql and "hash INT UNIQUE" in msgs_sql
    assert "FOREIGN KEY" in parts_sql and "ON DELETE CASCADE" in parts_sql
    assert con.execute("PRAGMA user_version").fetchone()[0] == 2
    # the UNIQUE probe the reference relies on (sms-db.pl:326-328) holds
    # for rows appended AFTER the bootstrap
    con.execute("INSERT INTO messages(timestamp,hash) VALUES (1,'aa')")
    with pytest.raises(sqlite3.IntegrityError):
        con.execute("INSERT INTO messages(timestamp,hash) VALUES (2,'aa')")


def _strip_stamp(raw: bytes) -> bytes:
    """Drop the creation comment (line 2): it embeds wall-clock time."""
    lines = raw.split(b"\n")
    return b"\n".join(lines[:1] + lines[2:])


def test_sharded_export_identical_bytes_small(spark, tmp_path):
    """The fragment serializer reproduces, byte for byte (modulo the
    timestamped comment), the fixture store's document as recorded
    from the driver-iterator writer it replaced — fragment
    serialization and concatenation change WHERE bytes are produced,
    never WHICH."""
    res = _store(spark)
    out = tmp_path / "backup.xml"
    assert export_xml(res.messages, res.parts, str(out)) == 5
    golden = (Path(__file__).parent / "golden" / "fixture_export.xml").read_bytes()
    assert _strip_stamp(out.read_bytes()) == golden
    assert not list(tmp_path.glob("backup.xml.fragments*"))  # cleaned up


def test_sharded_export_owns_only_its_child_in_fragments_dir(spark, tmp_path):
    """A caller-supplied fragments_dir is a shared parent: the export
    must create and delete only its own per-run child, never touch
    sibling content."""
    res = _store(spark)
    frag_parent = tmp_path / "scratch"
    frag_parent.mkdir()
    (frag_parent / "precious.txt").write_text("do not delete")
    out = tmp_path / "backup.xml"
    n = export_xml(res.messages, res.parts, str(out), fragments_dir=str(frag_parent))
    assert n == 5
    assert (frag_parent / "precious.txt").read_text() == "do not delete"
    assert not list(frag_parent.glob("export-*"))  # own child cleaned


def _synthetic_store(spark, n):
    """A tie-free canonical store (unique timestamps) big enough to
    exercise multiple fragments: 3/4 SMS, 1/4 MMS, one text part each."""
    messages = spark.range(n).selectExpr(
        "id AS _id",
        "1577836800000 + id * 1000 AS timestamp",
        "concat('+1555', lpad(CAST(id % 97 AS STRING), 7, '0')) AS sender_address",
        "concat('Sender ', id % 97) AS sender_name",
        "concat('+1666', lpad(CAST(id % 89 AS STRING), 7, '0')) AS recipient_address",
        "concat('Recipient ', id % 89) AS recipient_name",
        "CAST(1 + id % 2 AS INT) AS msg_box",
        "CAST(CASE WHEN id % 4 = 0 THEN 1 ELSE 0 END AS INT) AS message_type",
        "CAST(0 AS INT) AS source_format",
        "md5(CAST(id AS STRING)) AS hash",
    )
    parts = spark.range(n).selectExpr(
        "id AS _id",
        "id AS message_id",
        "CAST(NULL AS BINARY) AS data",
        "concat('message body number ', id) AS text",
        "'text/plain' AS content_type",
        "CAST(NULL AS STRING) AS filename",
    )
    return messages, parts


def test_sharded_export_scale_and_reimport(spark, tmp_path):
    """Multi-fragment export: the document re-imports completely
    (count + bodies survive)."""
    from pyspark.sql import functions as F

    n = 20_000
    messages, parts = _synthetic_store(spark, n)
    out = tmp_path / "export.xml"
    assert export_xml(messages, parts, str(out)) == n

    staged = read_xml_staging(spark, str(out))
    m2, p2 = normalize_xml(*staged)
    res = finalize_import(m2, p2)
    assert res.total == n and res.inserted == n
    # spot-check content integrity through the round trip
    texts = res.parts.filter(F.col("text").contains("number 1234")).count()
    assert texts >= 1


def test_sharded_export_identical_bytes_with_tied_keys(spark, tmp_path, monkeypatch):
    """The bytes must not depend on where the fragment boundaries fall,
    tied sort keys included: the store _id is the final sort key, so
    heavy (timestamp, address) ties — here 2000 rows over 4 timestamps
    and 3 addresses — still serialize in one total order (VERDICT r6
    item 6), and the range partitioning splits the tied groups instead
    of collapsing them into one fragment. Forcing ~40 fragments per
    frame must reproduce the default export exactly."""
    import sms_db_spark.sinks.xml_export as xe

    n = 2_000
    messages, parts = _synthetic_store(spark, n)
    # collapse the sort keys: every export key column ties massively
    messages = messages.selectExpr(
        "_id",
        "1577836800000 + (_id % 4) * 1000 AS timestamp",
        "concat('+1555000000', CAST(_id % 3 AS STRING)) AS sender_address",
        "sender_name",
        "concat('+1666000000', CAST(_id % 3 AS STRING)) AS recipient_address",
        "recipient_name",
        "msg_box",
        "message_type",
        "source_format",
        "hash",
    )
    few, many = tmp_path / "few.xml", tmp_path / "many.xml"
    assert export_xml(messages, parts, str(few)) == n
    streamed = []
    orig_stream = xe._stream_fragment

    def counting_stream(fh, jvm, fs, p):
        streamed.append(p.getName())
        orig_stream(fh, jvm, fs, p)

    monkeypatch.setattr(xe, "_stream_fragment", counting_stream)
    monkeypatch.setattr(xe, "ROWS_PER_FRAGMENT", 37)
    assert export_xml(messages, parts, str(many)) == n
    assert len(streamed) > 40, streamed
    assert _strip_stamp(few.read_bytes()) == _strip_stamp(many.read_bytes())


def test_export_mms_with_binary_first_part(spark, tmp_path):
    """An MMS whose only part is binary (non-UTF-8 image bytes) exports:
    the SMS body decode runs after the join to SMS rows, so it never
    sees MMS parts — and the part's base64 data survives re-import.
    The store also holds one SMS, so the SMS frame is not empty (an
    empty one lets the optimizer prune the join and the decode)."""
    from base64 import b64encode

    jpeg = bytes([0xFF, 0xD8, 0xFF, 0xE0, 0x80, 0xFE, 0x01, 0x02])
    messages = spark.createDataFrame(
        [
            (1, 1577836800000, "+15550001111", "Alice", "+15559998888", None, 1, 0, 0, "h1"),
            (2, 1577836900000, "+15550003333", "Carol", "+15559998888", None, 1, 1, 0, "h2"),
        ],
        "_id bigint, timestamp bigint, sender_address string, sender_name string,"
        " recipient_address string, recipient_name string, msg_box int,"
        " message_type int, source_format int, hash string",
    )
    parts = spark.createDataFrame(
        [
            (1, 1, None, "hi", "text/plain", None),
            (2, 2, jpeg, None, "image/jpeg", "IMG_0001.jpg"),
        ],
        "_id bigint, message_id bigint, data binary, text string,"
        " content_type string, filename string",
    )
    out = tmp_path / "binary.xml"
    assert export_xml(messages, parts, str(out)) == 2
    (part,) = ET.parse(out).getroot().iter("part")
    assert part.get("data") == b64encode(jpeg).decode("ascii")
    m2, p2 = normalize_xml(*read_xml_staging(spark, str(out)))
    back = finalize_import(m2, p2).parts
    (img,) = back.filter(back.content_type == "image/jpeg").collect()
    assert bytes(img["data"]) == jpeg
