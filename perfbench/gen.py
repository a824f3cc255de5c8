"""Seeded benchmark inputs, written as files the program reads.

Two kinds of input, both a pure function of the seed:

* Synctech XML phone backups (the reference's import format) with SMS,
  MMS, multi-recipient ``addr`` lists, text and base64 binary parts and a
  fixed share of exact duplicate elements. Each backup comes with its
  ground truth: the distinct-message, duplicate and part counts an import
  must report.
* The TPC-H-like lane tables (``region nation customer supplier part
  orders lineitem events documents embeddings``) the registered query
  lanes read, as one parquet file each, sized by a scale factor.

Spark sees only the files; nothing here imports the program.
"""

from __future__ import annotations

import base64
import os
import random
import xml.etree.ElementTree as ET
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUP_SHARE = 0.05  # exact duplicate elements per backup, of its distinct messages
MMS_SHARE = 0.2
DAY_MS = 86_400_000
EPOCH_2020_MS = 1_577_836_800_000

_NAMES = [
    "Alice", "Alice Smith", "Alice Jones", "Malice", "Bob", "Carol", "Dave",
    "Erin", "Frank", "Grace", "Heidi", "Ivan", "Judy", "Mallory", "Niaj",
    "Olivia", "Peggy", "Rupert", "Sybil", "Trent", "Victor", "Walter",
    "Zoë", "Łukasz", "Søren", "José",
]
_WORDS = (
    "hi hello lunch dinner tomorrow today call me later ok sure thanks "
    "see you soon running late on my way love it great idea sounds good "
    "where are when what why meeting office home café naïve über 🙂 👍"
).split()
_SMIL = ('<smil><head><layout><root-layout/></layout></head>'
         '<body><par dur="5000ms"><img src="image"/><text src="text"/></par></body></smil>')
_BINARY_TYPES = [("image/jpeg", "IMG_{:04d}.jpg"), ("image/png", "IMG_{:04d}.png"),
                 ("video/mp4", "VID_{:04d}.mp4")]


@dataclass(frozen=True)
class Backup:
    """One generated backup file and what importing it must report."""

    path: str
    distinct: int  # distinct messages (what a fresh import inserts)
    duplicates: int  # elements that repeat an earlier element exactly
    parts: int  # parts of the distinct messages


def _phone(rng: random.Random) -> str:
    return "+1555" + "".join(rng.choice("0123456789") for _ in range(7))


def _text(rng: random.Random, lo: int = 2, hi: int = 14) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _message(rng: random.Random, ts: int, contacts: list[tuple[str, str]]) -> tuple[ET.Element, int]:
    """One random sms or mms element with timestamp ``ts`` and its part count.

    Timestamps are unique per backup, so distinct elements never share a
    dedup hash and the only duplicates are the deliberate exact copies.
    """
    address, name = rng.choice(contacts)
    if rng.random() >= MMS_SHARE:
        e = ET.Element("sms", {
            "protocol": "0", "address": address, "date": str(ts),
            "type": str(rng.choice((1, 1, 2, 2, 2))), "body": _text(rng),
            "read": "1", "status": "-1", "contact_name": name,
        })
        return e, 1
    box = rng.choice((1, 2, 2))
    e = ET.Element("mms", {"date": str(ts), "msg_box": str(box),
                           "address": address, "contact_name": name})
    parts_el = ET.SubElement(e, "parts")
    # Android MMS, and so Synctech backups of them, lead with a SMIL layout part
    ET.SubElement(parts_el, "part", {"seq": "-1", "ct": "application/smil", "name": "null",
                                     "text": _SMIL})
    has_text = rng.random() < 0.9
    if has_text:
        ET.SubElement(parts_el, "part", {"seq": "0", "ct": "text/plain", "name": "null",
                                         "text": _text(rng)})
    n_parts = 1 + has_text
    for _ in range(rng.randint(0 if has_text else 1, 2)):
        ct, fname = rng.choice(_BINARY_TYPES)
        blob = rng.randbytes(rng.randint(16, 384))
        ET.SubElement(parts_el, "part", {
            "seq": "0", "ct": ct, "name": fname.format(rng.randint(0, 9999)), "text": "null",
            "data": base64.b64encode(blob).decode("ascii"),
        })
        n_parts += 1
    addrs_el = ET.SubElement(e, "addrs")
    sender = address if box == 1 else _phone(rng)
    ET.SubElement(addrs_el, "addr", {"address": sender, "type": "137", "charset": "106"})
    for _ in range(rng.randint(1, 3)):  # multi-recipient group messages
        ET.SubElement(addrs_el, "addr", {"address": _phone(rng),
                                         "type": rng.choice(("151", "151", "130", "129")),
                                         "charset": "106"})
    if rng.random() < 0.1:  # an addr type the importer must filter out
        ET.SubElement(addrs_el, "addr", {"address": _phone(rng), "type": "999", "charset": "106"})
    return e, n_parts


def _messages(rng: random.Random, n: int, start_ms: int, span_ms: int) -> list[tuple[ET.Element, int]]:
    contacts = [(_phone(rng), rng.choice(_NAMES)) for _ in range(40)]
    step = max(span_ms // max(n, 1), 2)
    return [_message(rng, start_ms + i * step + rng.randrange(step - 1), contacts)
            for i in range(n)]


def _write_backup(path: str, rng: random.Random, msgs: list[tuple[ET.Element, int]]) -> Backup:
    """Write ``msgs`` plus DUP_SHARE exact copies of some of them, shuffled."""
    elements = [e for e, _ in msgs]
    n_dup = round(DUP_SHARE * len(msgs))
    elements += [rng.choice(elements) for _ in range(n_dup)]
    rng.shuffle(elements)
    root = ET.Element("smses", {"count": str(len(elements))})
    root.extend(elements)
    ET.ElementTree(root).write(path, encoding="utf-8", xml_declaration=True)
    return Backup(path=path, distinct=len(msgs),
                  duplicates=n_dup, parts=sum(p for _, p in msgs))


def write_backups(out_dir: str, seed: int, month: int, years: int) -> dict[str, Backup]:
    """Write the ``month`` and ``years`` backups."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    month_msgs = _messages(rng, month, EPOCH_2020_MS, 30 * DAY_MS)
    years_msgs = _messages(rng, years, EPOCH_2020_MS - 3 * 365 * DAY_MS, 3 * 365 * DAY_MS)
    return {
        "month": _write_backup(os.path.join(out_dir, "month.xml"), rng, month_msgs),
        "years": _write_backup(os.path.join(out_dir, "years.xml"), rng, years_msgs),
    }


# ---------------------------------------------------------------- lane tables

_DOC_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query big stream filter "
    "group order vector"
).split()
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
_PART_ADJ = ["small", "red", "blue", "green", "large", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "spring"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(np_days: np.ndarray, base: str) -> pa.Array:
    """Dates as whole days after ``base``, as a microsecond timestamp column."""
    start = np.datetime64(base, "us")
    return pa.array(start + np_days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_lane_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten lane tables at scale factor ``sf``.

    Shapes follow the TPC-H-like tables the lanes were written against:
    dense integer keys from 0, ``Customer#%09d`` names, order dates
    1995-01-01..2001-08-01, one month of ``events`` at microsecond
    precision, word-salad ``documents`` and 64-dim ``embeddings`` drawn
    around ten labelled centres.
    """
    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

    _write(out_dir, "region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                        "r_name": _REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": g.choice(_SEGMENTS, n_cust),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999, 9999, n_supp), 2),
    }))
    _write(out_dir, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(g.choice(_PART_ADJ, n_part), g.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": g.choice(_PART_TYPES, n_part),
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    }))
    order_days = g.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": g.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(g.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(order_days, "1995-01-01"),
        "o_orderpriority": g.choice(_PRIORITIES, n_ord),
    }))
    l_order = g.integers(0, n_ord, n_line)
    qty = g.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": l_order,
        "l_partkey": g.integers(0, n_part, n_line),
        "l_suppkey": g.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(g.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(g.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": g.choice(["A", "N", "R"], n_line),
        "l_linestatus": g.choice(["O", "F"], n_line),
        "l_shipdate": _ts(order_days[l_order] + g.integers(1, 122, n_line), "1995-01-01"),
    }))
    evt_us = np.sort(g.integers(0, 30 * DAY_MS * 1000, n_evt))
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + evt_us.astype("timedelta64[us]")),
        "user_id": g.integers(0, max(n_evt // 66, 10), n_evt),
        "event_type": g.choice(_EVENT_TYPES, n_evt),
        "value": np.round(g.uniform(0, 50, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_evt)],
    }))
    texts = [" ".join(g.choice(_DOC_WORDS, n)) for n in g.integers(8, 90, n_doc)]
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": g.choice(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))
    centres = g.normal(0, 0.15, (10, 64))
    labels = g.integers(0, 10, n_emb)
    vecs = (centres[labels] + g.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
