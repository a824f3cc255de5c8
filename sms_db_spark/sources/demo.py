"""Tiny synthetic importer inputs per FIXTURES.md §2 (schemas derived from
the reference's reads: sms-db.pl:67-88 XML, :96-114 Bugle, :131-223 Signal)."""

from __future__ import annotations

from base64 import b64encode

from sms_db_spark.session import local_frame
from sms_db_spark.sources.bugle import (
    BUGLE_CONV_PARTICIPANTS_SCHEMA,
    BUGLE_CONVERSATIONS_SCHEMA,
    BUGLE_MESSAGES_SCHEMA,
    BUGLE_PARTICIPANTS_SCHEMA,
    BUGLE_PARTS_SCHEMA,
)
from sms_db_spark.sources.signal import (
    SIGNAL_ATTACHMENTS_SCHEMA,
    SIGNAL_GROUPS_SCHEMA,
    SIGNAL_MMS_SCHEMA,
    SIGNAL_PART_SCHEMA,
    SIGNAL_RECIPIENT_SCHEMA,
    SIGNAL_SMS_SCHEMA,
    SIGNAL_THREAD_SCHEMA,
)
from sms_db_spark.sources.xml_source import (
    XML_ADDR_SCHEMA,
    XML_MMS_SCHEMA,
    XML_PART_SCHEMA,
    XML_SMS_SCHEMA,
)

JPEG_BYTES = bytes([0xFF, 0xD8, 0xFF, 0xE0, 0x80, 0xFE, 0x01, 0x02])  # >0x7F bytes exercise latin1→utf8 hash expansion


def xml_frames(spark):
    sms = local_frame(spark,
        [
            (0, 1577836800000, 1, "+15550001111", "Alice", "hi there"),
            (1, 1577836900000, 2, "+15550001111", "Alice", "hello back ünïcödé"),
            (2, 1577837000000, 1, "+15550002222", "Bob", "lunch?"),
        ],
        XML_SMS_SCHEMA,
    )
    mms = local_frame(spark,
        [
            (0, 1577840000000, 1, "+15550003333", "Carol"),
            (1, 1577841000000, 2, "+15550004444", "Dave"),
        ],
        XML_MMS_SCHEMA,
    )
    addr = local_frame(spark,
        [
            (0, 0, "+15550003333", "137"),   # from — filtered out
            (0, 1, "+15559998888", "151"),   # to
            (0, 2, "+15559997777", "130"),   # bcc
            (1, 0, "+15550004444", "151"),
            (1, 1, "+15550009999", "129"),
            (1, 2, "+15550000000", "999"),   # unknown type — filtered out
        ],
        XML_ADDR_SCHEMA,
    )
    part = local_frame(spark,
        [
            (0, 0, "text/plain", None, "photo attached", None),
            (0, 1, "image/jpeg", "IMG_0001.jpg", "null", b64encode(JPEG_BYTES).decode()),
            (1, 0, "text/plain", None, "see you", None),
        ],
        XML_PART_SCHEMA,
    )
    return sms, mms, addr, part


def bugle_frames(spark):
    messages = local_frame(spark,
        [
            (1, 1600000000000, 0, 10, 100),  # incoming sms (conv sub_id=-2)
            (2, 1600000100000, 0, 11, 101),  # outgoing sms
            (3, 1600000200000, 1, 10, 102),  # outgoing group mms
        ],
        BUGLE_MESSAGES_SCHEMA,
    )
    participants = local_frame(spark,
        [
            (10, "+15551110000", "Eve"),
            (11, "+15552220000", None),  # null name → <UNAVAILABLE>
            (12, "+15553330000", "Frank"),
        ],
        BUGLE_PARTICIPANTS_SCHEMA,
    )
    conversations = local_frame(spark,
        [
            (100, "+15551110000", 1, "Eve", -2),
            (101, "+15552220000", 1, "NoName", 1),
            (102, None, 3, "The Gang", 1),  # group: null destination
        ],
        BUGLE_CONVERSATIONS_SCHEMA,
    )
    conv_parts = local_frame(spark,
        [(102, 10), (102, 11), (102, 12)], BUGLE_CONV_PARTICIPANTS_SCHEMA
    )
    parts = local_frame(spark,
        [
            (1, 1, "hey", None, "text/plain"),
            (2, 2, "yo", None, "text/plain"),
            (3, 3, "group pic", None, "text/plain"),
            (4, 3, None, "content://mms/part/5", "image/png"),  # uri-only → "<uri>"
        ],
        BUGLE_PARTS_SCHEMA,
    )
    return messages, participants, conversations, conv_parts, parts


def signal_frames(spark):
    sms = local_frame(spark,
        [
            (1, 10, 1610000000000, 20, "received text"),        # 20 → box 1
            (2, 11, 1610000100000, 10485783, "sent text"),      # → box 2
            (3, 10, 1610000200000, 2097156, "joined signal"),   # ignored
            (4, 11, 1610000300000, 2, None),                    # call → ignored
            (5, 12, 1610000400000, 999, "mystery"),             # unknown → ignored
        ],
        SIGNAL_SMS_SCHEMA,
    )
    mms = local_frame(spark,
        [
            (1, 1, 10, 1610001000000, 20, "mms body"),          # received, w/ attachment
            (2, 2, 30, 1610002000000, 10485783, "to the group"),  # sent to group thread
            (3, 1, 10, 1610003000000, 777, "bad box"),          # ignored
        ],
        SIGNAL_MMS_SCHEMA,
    )
    recipient = local_frame(spark,
        [
            (10, "+15556660000", "Grace", None),
            (11, "+15557770000", None, None),     # null name
            (12, "+15558880000", "Heidi", None),
            (30, None, None, "g1"),               # group pseudo-recipient
        ],
        SIGNAL_RECIPIENT_SCHEMA,
    )
    groups = local_frame(spark, [("g1", "10,12")], SIGNAL_GROUPS_SCHEMA)
    thread = local_frame(spark, [(1, 10), (2, 30)], SIGNAL_THREAD_SCHEMA)
    part = local_frame(spark,
        [
            (1, "image/jpeg", "photo.jpg", 4001, 1),
            (1, "image/png", "missing.png", 4999, 2),  # no matching file → skipped
        ],
        SIGNAL_PART_SCHEMA,
    )
    attachments = local_frame(spark,
        [
            ("/backup/attachment/4001_1610001000.jpg", JPEG_BYTES),
            ("/backup/attachment/4002_1610001100.jpg", b"unused"),
        ],
        SIGNAL_ATTACHMENTS_SCHEMA,
    )
    return sms, mms, recipient, groups, thread, part, attachments
