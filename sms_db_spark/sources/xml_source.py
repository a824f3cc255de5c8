"""Synctech XML importer normalizer (reference: sms-db.pl:63-93).

Input: staged DataFrames of the XML document's element/attribute structure
(FIXTURES.md §2.1). A helper `read_xml_staging` builds them from an actual
backup XML file. Spark 4 ships native `spark.read.format('xml')` for
distributed parsing of huge backups; the driver-side ElementTree path here
covers the (single-document) fixture scale and keeps the normalizer itself
100% DataFrame-native — the operators under test are the projections /
swaps / joins, which is where the reference's semantics live.

Output: staged (messages, parts) frames for sources/canonical.finalize_import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import MSG_MMS, MSG_SMS, SELF, SOURCE_XML
from ..session import local_frame

XML_SMS_SCHEMA = T.StructType(
    [
        T.StructField("sms_id", T.LongType(), False),
        T.StructField("date", T.LongType(), True),
        T.StructField("type", T.IntegerType(), True),
        T.StructField("address", T.StringType(), True),
        T.StructField("contact_name", T.StringType(), True),
        T.StructField("body", T.StringType(), True),
    ]
)
XML_MMS_SCHEMA = T.StructType(
    [
        T.StructField("mms_id", T.LongType(), False),
        T.StructField("date", T.LongType(), True),
        T.StructField("msg_box", T.IntegerType(), True),
        T.StructField("address", T.StringType(), True),
        T.StructField("contact_name", T.StringType(), True),
    ]
)
XML_ADDR_SCHEMA = T.StructType(
    [
        T.StructField("mms_id", T.LongType(), False),
        T.StructField("addr_seq", T.IntegerType(), False),
        T.StructField("address", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
    ]
)
XML_PART_SCHEMA = T.StructType(
    [
        T.StructField("mms_id", T.LongType(), False),
        T.StructField("part_seq", T.IntegerType(), False),
        T.StructField("ct", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("data_b64", T.StringType(), True),
    ]
)


def normalize_xml(
    sms: DataFrame,
    mms: DataFrame,
    addr: DataFrame,
    part: DataFrame,
    message_type: str = "all",
) -> tuple[DataFrame, DataFrame]:
    """XML staging → staged canonical (messages, parts).

    local_id space: sms rows get 2*sms_id, mms rows 2*mms_id+1 (disjoint,
    order-stable within each element kind like the reference's two loops).
    """
    out_msgs, out_parts = [], []

    if message_type in ("sms", "all"):
        # sms-db.pl:66-74 — conditional swap P2 on type==1 (received)
        received = F.col("type") == 1
        m = sms.select(
            (F.col("sms_id") * 2).alias("local_id"),
            F.col("date").alias("timestamp"),
            F.when(received, F.col("address")).otherwise(F.lit(SELF)).alias("sender_address"),
            F.when(received, F.col("contact_name")).otherwise(F.lit(SELF)).alias("sender_name"),
            F.when(received, F.lit(SELF)).otherwise(F.col("address")).alias("recipient_address"),
            F.when(received, F.lit(SELF)).otherwise(F.col("contact_name")).alias("recipient_name"),
            F.col("type").alias("msg_box"),
            F.lit(MSG_SMS).alias("message_type"),
            F.lit(SOURCE_XML).alias("source_format"),
        )
        p = sms.select(
            (F.col("sms_id") * 2).alias("local_id"),
            F.lit(0).alias("part_seq"),
            F.lit(None).cast("binary").alias("data"),
            F.col("body").alias("text"),
            F.lit("text/plain").alias("content_type"),
            F.lit(None).cast("string").alias("filename"),
        )
        out_msgs.append(m)
        out_parts.append(p)

    if message_type in ("mms", "all"):
        # sms-db.pl:77-91. addr rows with type ∈ {151,129,130} append to
        # recipient_address in document order (sms-db.pl:83); the initial
        # value is NULL for received (msg_box==1) else the mms address.
        received = F.col("msg_box") == 1
        addr_agg = (
            addr.filter(F.col("type").isin("151", "129", "130"))
            .groupBy("mms_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("addr_seq", "address"))),
                        lambda s: s.getField("address"),
                    ),
                    ",",
                ).alias("addr_list")
            )
        )
        base = mms.join(addr_agg, "mms_id", "left")
        recipient_initial = F.when(received, F.lit(None).cast("string")).otherwise(
            F.col("address")
        )
        recipient_addr = F.when(
            recipient_initial.isNull(), F.col("addr_list")
        ).otherwise(
            F.when(
                F.col("addr_list").isNull(), recipient_initial
            ).otherwise(F.concat_ws(",", recipient_initial, F.col("addr_list")))
        )
        m = base.select(
            (F.col("mms_id") * 2 + 1).alias("local_id"),
            F.col("date").alias("timestamp"),
            F.when(received, F.col("address")).otherwise(F.lit(SELF)).alias("sender_address"),
            F.when(received, F.col("contact_name")).otherwise(F.lit(SELF)).alias("sender_name"),
            recipient_addr.alias("recipient_address"),
            F.when(received, F.lit(SELF)).otherwise(F.col("contact_name")).alias("recipient_name"),
            F.col("msg_box"),
            F.lit(MSG_MMS).alias("message_type"),
            F.lit(SOURCE_XML).alias("source_format"),
        )
        # part data pick (sms-db.pl:87-88): binary iff data attr present AND
        # text attr is the literal string "null" (NOT SQL null — Synctech
        # writes the word); else the text attr.
        is_binary = F.col("data_b64").isNotNull() & (F.col("text") == "null")
        p = part.select(
            (F.col("mms_id") * 2 + 1).alias("local_id"),
            F.col("part_seq"),
            F.when(is_binary, F.unbase64(F.col("data_b64"))).otherwise(
                F.lit(None).cast("binary")
            ).alias("data"),
            F.when(~is_binary, F.col("text")).otherwise(F.lit(None).cast("string")).alias("text"),
            F.col("ct").alias("content_type"),
            F.col("name").alias("filename"),
        )
        out_msgs.append(m)
        out_parts.append(p)

    msgs = out_msgs[0] if len(out_msgs) == 1 else out_msgs[0].unionByName(out_msgs[1])
    parts = out_parts[0] if len(out_parts) == 1 else out_parts[0].unionByName(out_parts[1])
    return msgs, parts


def read_xml_staging_distributed(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Parse Synctech backup XML(s) into the four staging frames with
    Spark 4's NATIVE xml data source (S1) — the 100TB path: rowTag splits
    the document into per-element rows parsed across executors; attributes
    surface as `_attr` columns; nested part/addr children arrive as
    ArrayType(Struct) to posexplode.

    Element ids are assigned by a deterministic total order over content
    (the single-doc ElementTree path uses document order; a distributed
    parse has no document order — a pinned deviation per SURVEY.md §7d).
    """
    from .canonical import dense_ids

    # EXPLICIT read schemas (never inference, SURVEY.md §1.2): inference
    # would parse '+1555…' addresses as numbers and strip the '+'.
    sms_read_schema = T.StructType(
        [
            T.StructField("_date", T.LongType()),
            T.StructField("_type", T.IntegerType()),
            T.StructField("_address", T.StringType()),
            T.StructField("_contact_name", T.StringType()),
            T.StructField("_body", T.StringType()),
        ]
    )
    mms_read_schema = T.StructType(
        [
            T.StructField("_date", T.LongType()),
            T.StructField("_msg_box", T.IntegerType()),
            T.StructField("_address", T.StringType()),
            T.StructField("_contact_name", T.StringType()),
            T.StructField(
                "addrs",
                T.StructType(
                    [
                        T.StructField(
                            "addr",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("_address", T.StringType()),
                                        T.StructField("_type", T.StringType()),
                                    ]
                                )
                            ),
                        )
                    ]
                ),
            ),
            T.StructField(
                "parts",
                T.StructType(
                    [
                        T.StructField(
                            "part",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("_ct", T.StringType()),
                                        T.StructField("_name", T.StringType()),
                                        T.StructField("_text", T.StringType()),
                                        T.StructField("_data", T.StringType()),
                                    ]
                                )
                            ),
                        )
                    ]
                ),
            ),
        ]
    )

    raw = (
        spark.read.format("xml").option("rowTag", "sms").schema(sms_read_schema).load(path)
    )
    sms_raw = raw.select(
        F.col("_date").alias("date"),
        F.col("_type").alias("type"),
        F.col("_address").alias("address"),
        F.col("_contact_name").alias("contact_name"),
        F.col("_body").alias("body"),
    )
    sms = dense_ids(sms_raw, ["date", "address", "body"], "sms_id", start=0)[0].select(
        "sms_id", "date", "type", "address", "contact_name", "body"
    )

    mms_raw = (
        spark.read.format("xml").option("rowTag", "mms").schema(mms_read_schema).load(path)
    )
    mms_keyed, _ = dense_ids(
        mms_raw.withColumn("date", F.col("_date")).withColumn("address", F.col("_address")),
        ["date", "address"],
        "mms_id",
        start=0,
    )
    mms = mms_keyed.select(
        "mms_id",
        "date",
        F.col("_msg_box").alias("msg_box"),
        "address",
        F.col("_contact_name").alias("contact_name"),
    )
    addr = mms_keyed.select(
        "mms_id", F.posexplode_outer(F.col("addrs.addr")).alias("addr_seq", "a")
    ).select(
        "mms_id",
        F.col("addr_seq").cast("int"),
        F.col("a._address").cast("string").alias("address"),
        F.col("a._type").cast("string").alias("type"),
    ).filter(F.col("address").isNotNull() | F.col("type").isNotNull())
    part = mms_keyed.select(
        "mms_id", F.posexplode_outer(F.col("parts.part")).alias("part_seq", "p")
    ).select(
        "mms_id",
        F.col("part_seq").cast("int"),
        F.col("p._ct").cast("string").alias("ct"),
        F.col("p._name").cast("string").alias("name"),
        F.col("p._text").cast("string").alias("text"),
        F.col("p._data").cast("string").alias("data_b64"),
    ).filter(F.col("ct").isNotNull())
    return sms, mms, addr, part


def read_xml_staging(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Parse a Synctech backup XML into the four staging frames (local
    relations, see session.local_frame)."""
    import xml.etree.ElementTree as ET

    root = ET.parse(path).getroot()
    sms_rows, mms_rows, addr_rows, part_rows = [], [], [], []
    for i, e in enumerate(root.iter("sms")):
        sms_rows.append(
            (
                i,
                int(e.get("date")),
                int(e.get("type")),
                e.get("address"),
                e.get("contact_name"),
                e.get("body"),
            )
        )
    for i, e in enumerate(root.iter("mms")):
        mms_rows.append(
            (i, int(e.get("date")), int(e.get("msg_box")), e.get("address"), e.get("contact_name"))
        )
        for j, a in enumerate(e.iter("addr")):
            addr_rows.append((i, j, a.get("address"), a.get("type")))
        for j, p in enumerate(e.iter("part")):
            part_rows.append((i, j, p.get("ct"), p.get("name"), p.get("text"), p.get("data")))
    return (
        local_frame(spark, sms_rows, XML_SMS_SCHEMA),
        local_frame(spark, mms_rows, XML_MMS_SCHEMA),
        local_frame(spark, addr_rows, XML_ADDR_SCHEMA),
        local_frame(spark, part_rows, XML_PART_SCHEMA),
    )
