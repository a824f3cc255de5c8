"""Synctech XML exporter (reference: sms-db.pl:235-313).

Spark shape (SURVEY.md E2): the per-message scalar subqueries (J10) become
one join + deterministic first-part pick (W1); ordering is the reference's
ORDER BY timestamp with an _id tiebreak for a stable total order. The
single XML document is serialized in range-partitioned fragments on the
executors; the driver only streams the fragment bytes, in partition
order, between the document header and footer.
"""

from __future__ import annotations

import os
import time
import xml.etree.ElementTree as ET
from base64 import b64encode

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import __version__, fsutil
from ..schemas import MSG_MMS, MSG_SMS

# MMS attrs the reference hard-nulls (sms-db.pl:269) and constants (:270)
_MMS_NULL_ATTRS = (
    "retr_st ct_cls sub_cs ct_l tr_id st m_cls d_tm read_status retr_txt_cs "
    "m_id ct_t exp resp_txt rpt_a retr_txt resp_st m_size"
).split()
_MMS_CONST_ATTRS = {
    "d_rpt": "0", "read": "1", "seen": "1", "date_sent": "1", "m_type": "0",
    "v": "0", "pri": "0", "rr": "0", "locked": "0",
}
_PART_CONST_ATTRS = {
    "seq": "0", "chset": "null", "cd": "null", "fn": "null", "cid": "null",
    "cl": "null", "ctt_s": "null", "ctt_t": "null",
}


def sms_export_frame(messages: DataFrame, parts: DataFrame) -> DataFrame:
    """SMS rows with body = first part (W1: row_number by part _id replaces
    the reference's unordered selectrow_array, sms-db.pl:247), one row
    per SMS message, unordered: export_xml sorts them. Carries the store
    `_id` for the FINAL sort key ("date", "address", "_id"): with it the
    export order is a total order, so the document bytes do not depend
    on how the range partitioning splits tied (date, address) pairs. The
    first part's bytes are UTF-8-decoded only AFTER the join to SMS
    rows: an MMS whose first part is binary never reaches the decode."""
    w = Window.partitionBy("message_id").orderBy("_id")
    first_part = (
        parts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("message_id", "text", "data")
    )
    return (
        messages.filter(F.col("message_type") == MSG_SMS)
        .join(first_part, messages._id == first_part.message_id, "left")
        .select(
            F.when(F.col("msg_box") == 1, F.col("sender_address"))
            .otherwise(F.col("recipient_address"))
            .alias("address"),
            F.col("timestamp").alias("date"),
            F.col("msg_box").alias("type"),
            F.coalesce(F.col("text"), F.decode(F.col("data"), "UTF-8")).alias("body"),
            messages._id.alias("_id"),
        )
    )


def mms_export_frame(messages: DataFrame, parts: DataFrame) -> DataFrame:
    """MMS rows with nested parts collected per message in _id order,
    one row per MMS message, unordered; the store `_id` rides along for
    the tie-breaking final sort key ("timestamp", "sender_address",
    "_id": same total-order contract as sms_export_frame)."""
    parts_nested = parts.groupBy("message_id").agg(
        F.array_sort(
            F.collect_list(F.struct("_id", "text", "data", "content_type", "filename"))
        ).alias("parts")
    )
    return (
        messages.filter(F.col("message_type") == MSG_MMS)
        .join(parts_nested, messages._id == parts_nested.message_id, "left")
        .select(
            "timestamp", "msg_box", "sender_address", "sender_name",
            "recipient_address", "recipient_name", "parts",
            messages._id.alias("_id"),
        )
    )


def _sms_element(row) -> ET.Element:
    e = ET.Element("sms")
    e.set("address", row["address"] or "")
    e.set("date", str(row["date"]))
    e.set("type", str(row["type"]))
    e.set("body", row["body"] if row["body"] is not None else "")
    e.set("read", "1")   # not stored; sms-db.pl:248
    e.set("status", "-1")  # not stored; sms-db.pl:249
    return e


def _mms_element(row) -> ET.Element:
    e = ET.Element("mms")
    e.set("date", str(row["timestamp"]))
    e.set("msg_box", str(row["msg_box"]))
    if row["msg_box"] == 1:
        e.set("address", row["sender_address"] or "")
        e.set("contact_name", row["sender_name"] or "")
    else:
        # first recipient, digits only (sms-db.pl:265-266). Perl split of
        # undef/'' yields an empty list, so a NULL recipient sets no
        # address at all — do not emit address="".
        recipients = [r for r in (row["recipient_address"] or "").split(",") if r]
        if recipients:
            e.set("address", "".join(ch for ch in recipients[0] if ch.isdigit()))
        e.set("contact_name", row["recipient_name"] or "")
    for a in _MMS_NULL_ATTRS:
        e.set(a, "null")
    for k, v in _MMS_CONST_ATTRS.items():
        e.set(k, v)
    parts_el = ET.SubElement(e, "parts")
    for p in row["parts"] or []:
        pe = ET.SubElement(parts_el, "part")
        pe.set("ct", p["content_type"] or "")
        pe.set("name", p["filename"] if p["filename"] is not None else "null")
        if (p["content_type"] or "").startswith("text/"):
            pe.set("text", p["text"] if p["text"] is not None else "")
        else:
            pe.set("text", "null")
            pe.set("data", b64encode(p["data"] or b"").decode("ascii"))
        for k, v in _PART_CONST_ATTRS.items():
            pe.set(k, v)
    addrs_el = ET.SubElement(e, "addrs")
    sender_addr = ET.SubElement(addrs_el, "addr")
    sender_addr.set("address", row["sender_address"] or "")
    sender_addr.set("type", "137")
    sender_addr.set("charset", "0")
    # Perl split of undef yields an empty list (sms-db.pl:293-300): a NULL
    # recipient list emits NO <addr type="151"> rows — never address="".
    for recipient in filter(None, (row["recipient_address"] or "").split(",")):
        ae = ET.SubElement(addrs_el, "addr")
        ae.set("address", recipient)
        ae.set("type", "151")
        ae.set("charset", "0")
    return e


ROWS_PER_FRAGMENT = 50_000  # bounds each distributed serialization task
_CONCAT_CHUNK = 1 << 20  # fragment-concat copy buffer: driver memory bound


def _stream_fragment(fh, jvm, fs, p) -> None:
    """Append one fragment file's bytes to `fh` in bounded chunks —
    never one whole-fragment buffer (a single toByteArray + py4j
    transfer made driver memory O(largest fragment), ADVICE r6).
    Local-scheme fragments stream straight from the filesystem; remote
    schemes (HDFS/object stores) are pulled to a driver-local temp
    FILE via the Hadoop raw-local copy (no .crc sidecar), then
    streamed — O(chunk) memory, O(one fragment) local disk."""
    import shutil

    uri = p.toUri()
    if uri.getScheme() in (None, "file"):
        with open(uri.getPath(), "rb") as src:
            shutil.copyfileobj(src, fh, _CONCAT_CHUNK)
        return
    import tempfile

    tmp = tempfile.NamedTemporaryFile(prefix="sms_db_spark_frag_", delete=False)
    tmp.close()
    try:
        fs.copyToLocalFile(
            False, p, jvm.org.apache.hadoop.fs.Path("file:" + tmp.name), True
        )
        with open(tmp.name, "rb") as src:
            shutil.copyfileobj(src, fh, _CONCAT_CHUNK)
    finally:
        os.unlink(tmp.name)


def export_xml(
    messages: DataFrame,
    parts: DataFrame,
    path: str,
    message_type: str = "all",
    fragments_dir: str | None = None,
) -> int:
    """Write the Synctech XML document; returns the exported-message
    count (the root `count` attribute, sms-db.pl:306).

    Each range partition of an export frame renders its messages
    to an XML fragment on an executor (_sms_element/_mms_element); the
    driver then streams the fragment bytes between the header and
    footer. The single-document contract (one root, global timestamp
    order, exact root count — sms-db.pl:237-311) holds, while the
    ElementTree work — the actual cost of a big export — scales with
    executors and driver memory stays O(one copy chunk). (The reference
    builds the whole XML::LibXML doc in memory.)

    Counting: the root count and the fragment sizing come from one
    `message_type` aggregate over `messages` (each export frame has one
    row per message of its type), so no export frame is persisted or
    counted.

    Ordering: repartitionByRange + sortWithinPartitions on the export
    sort keys IS Spark's global sort (the export frames carry no sort
    of their own), and fragment files are
    concatenated in partition order. The store `_id` is the final sort
    key (a total order), so the bytes do not depend on where the range
    bounds fall — tied timestamps included — and heavy key ties cannot
    collapse the range partitioning into one oversized fragment.

    `fragments_dir`, when given, is a PARENT under which a unique
    per-run child is created and deleted — nothing else in it is
    touched (so a shared scratch root is safe to pass). It must be
    visible to both executors and driver — on a cluster, shared
    storage. Default: a unique `<path>.fragments-<run>` sibling. The
    final document itself is written driver-local.
    """
    import uuid

    spark = messages.sparkSession
    run_id = uuid.uuid4().hex
    frag_root = (
        f"{fragments_dir.rstrip('/')}/export-{run_id}"
        if fragments_dir
        else f"{path}.fragments-{run_id}"
    )
    sms_frame = sms_export_frame(messages, parts) if message_type in ("sms", "all") else None
    mms_frame = mms_export_frame(messages, parts) if message_type in ("mms", "all") else None
    jobs = [
        (frame, build, keys, f"{frag_root}/{tag}", mtype)
        for frame, build, keys, tag, mtype in (
            (sms_frame, _sms_element, ("date", "address", "_id"), "sms", MSG_SMS),
            (mms_frame, _mms_element, ("timestamp", "sender_address", "_id"), "mms", MSG_MMS),
        )
        if frame is not None
    ]
    jvm, fs = fsutil.hadoop_fs(spark, frag_root)
    try:
        # each export frame has exactly one row per message of its type,
        # so one aggregate over the store sizes the header and fragments
        per_type = {
            r["message_type"]: r["count"]
            for r in messages.groupBy("message_type").count().collect()
        }
        counts = [per_type.get(mtype, 0) for *_, mtype in jobs]
        total = sum(counts)
        par = spark.sparkContext.defaultParallelism
        for (frame, build, keys, frag_dir, _), n in zip(jobs, counts):
            n_parts = max(1, par, -(-n // ROWS_PER_FRAGMENT))
            ordered = frame.repartitionByRange(n_parts, *keys).sortWithinPartitions(*keys)

            def serialize(rows, build=build):
                for row in rows:
                    e = build(row)
                    ET.indent(e, level=1)
                    # tostring char-ref-escapes non-ASCII, so the record
                    # is pure ASCII and the text write re-emits
                    # ET.tostring's bytes exactly
                    yield ((b"  " + ET.tostring(e)).decode("ascii"),)

            # DataFrame text writer with compression pinned OFF: a site
            # default like mapred.output.compress=true would make
            # saveAsTextFile emit part-00000.deflate — compressed bytes
            # the concatenation below would splice raw into the document
            spark.createDataFrame(
                ordered.rdd.mapPartitions(serialize), "value string"
            ).write.option("compression", "none").text(frag_dir)
        with open(path, "wb") as fh:
            fh.write(b"<?xml version='1.0' encoding='UTF-8' standalone='yes'?>\n")
            fh.write(
                f"<!--File Created By sms-db-spark v{__version__} on {time.ctime()}-->\n".encode()
            )
            fh.write(f'<smses count="{total}">\n'.encode())
            for _, _, _, frag_dir, _ in jobs:
                frags = [
                    st.getPath()
                    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(frag_dir))
                    if st.isFile() and st.getPath().getName().startswith("part-")
                ]
                # numeric order: lexicographic breaks when the part index
                # outgrows its zero-pad width (part-100000 < part-99999)
                frags.sort(key=lambda p: int(p.getName().split("-")[1]))
                for p in frags:
                    _stream_fragment(fh, jvm, fs, p)
            fh.write(b"</smses>\n")
    finally:
        fsutil.delete(spark, frag_root)
    return total
