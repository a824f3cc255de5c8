"""Read Bugle / Signal SQLite backup files into the staging DataFrames the
normalizers consume (S2/S3, sms-db.pl:95-100 and 119-124).

Read strategy, sized to the table: a phone backup is usually
single-device data (MB) — a driver-side stdlib-sqlite3 read with the
EXPLICIT staging schema into `session.local_frame` (one Arrow table,
planned as a JVM-side local relation, so re-scans start no Python
worker) is correct and cheap. Past DISTRIBUTED_ROWS_THRESHOLD rows the reader
switches itself to rowid-range parallel scans: the db file ships once
per executor via SparkContext.addFile, each task opens it read-only
and reads its `rowid BETWEEN lo AND hi` slice through `mapInPandas`
(Arrow-batched) — the same range-partitioned shape `spark.read.jdbc`
with partitionColumn/lowerBound/upperBound plans, without needing a
JDBC driver jar. Tables SQLite cannot range-address (WITHOUT ROWID)
stay on the driver path. Both paths produce identical frames
(schema-first, tested), so the split is invisible downstream.

Missing columns are tolerated per-layout (older/newer app schemas): any
staging column absent from the on-disk table surfaces as NULL, matching
Perl DBI's undef for absent hash keys.
"""

from __future__ import annotations

import os
import sqlite3
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

# Above this row count the one-file read is worth parallelizing; below
# it, task scheduling would cost more than the driver-side fetch. A
# multi-GB Bugle db (the case the driver-side contract documented as
# its limit) is far above it.
DISTRIBUTED_ROWS_THRESHOLD = 100_000
# target rows per range task — bounds per-task memory and balances the
# scan even when executors outnumber ranges
ROWS_PER_RANGE_TASK = 50_000

from .bugle import (
    BUGLE_CONV_PARTICIPANTS_SCHEMA,
    BUGLE_CONVERSATIONS_SCHEMA,
    BUGLE_MESSAGES_SCHEMA,
    BUGLE_PARTICIPANTS_SCHEMA,
    BUGLE_PARTS_SCHEMA,
)
from .signal import (
    SIGNAL_ATTACHMENTS_SCHEMA,
    SIGNAL_GROUPS_SCHEMA,
    SIGNAL_MMS_SCHEMA,
    SIGNAL_PART_SCHEMA,
    SIGNAL_RECIPIENT_SCHEMA,
    SIGNAL_SMS_SCHEMA,
    SIGNAL_THREAD_SCHEMA,
)


def _rowid_selectable(con: sqlite3.Connection, table: str) -> bool:
    """Whether `rowid` can be selected (False for WITHOUT ROWID tables)."""
    try:
        con.execute(f"SELECT rowid FROM {table} LIMIT 1")
        return True
    except sqlite3.OperationalError:
        return False


def _projection(
    con: sqlite3.Connection, table: str, schema: T.StructType
) -> tuple[str, bool] | None:
    """(schema-first SELECT list, rowid-selectable) — absent columns →
    NULL — or None when the table itself is absent. `rowid` never
    appears in PRAGMA table_info but is usually selectable — the part
    importer needs it to pin the reference's part-table row order;
    WITHOUT ROWID tables degrade it to NULL like any other absent
    column. rowid selectability is probed ONCE here and shared with
    the routing decision, so projection and routing can never disagree
    about it."""
    try:
        present = {r[1] for r in con.execute(f"PRAGMA table_info({table})")}
    except sqlite3.DatabaseError:
        present = set()
    if not present:
        return None
    rowid_ok = _rowid_selectable(con, table)
    cols = ", ".join(
        f.name
        if f.name in present or (f.name == "rowid" and rowid_ok)
        else f"NULL AS {f.name}"
        for f in schema.fields
    )
    return cols, rowid_ok


def _sidecar_pending(con: sqlite3.Connection, db_path: str) -> bool:
    """True when the main db file alone is not a faithful snapshot —
    shipping just it to executors would silently corrupt the read:

    - WAL mode with a non-empty -wal sidecar: recent writes live in
      frames the main file does not contain (silent truncation);
    - a HOT -journal sidecar (valid rollback-journal magic: a crashed
      writer): the main file holds UNCOMMITTED/torn pages that the
      journal would roll back on the next journal-aware open — an
      executor opening mode=ro with no journal present would read them
      as committed data. The magic check matters: journal_mode=PERSIST
      leaves a non-empty COLD journal (zeroed header) after every
      successful commit, and treating that as hot would permanently
      disable the distributed scan for such dbs. SQLite itself ignores
      a journal without the magic, so a cold/garbage sidecar reads
      identically with or without it present.

    Both sidecars live next to the REAL file (SQLite's unix VFS
    resolves symlinks), so probe realpath — consistent with _ship_db,
    or a symlinked db would dodge the guard. The driver path handles
    both correctly: sqlite3.connect on the real path sees the sidecars
    and reads WAL frames / rolls the journal back."""
    real = os.path.realpath(db_path)
    journal = real + "-journal"
    # the rollback-journal header magic (SQLite file format §journal)
    hot_magic = b"\xd9\xd5\x05\xf9\x20\xa1\x63\xd7"
    try:
        size = os.path.getsize(journal)
    except FileNotFoundError:
        size = 0
    except OSError:
        return True  # journal exists but is unreadable: assume hot —
        # misrouting to the driver path costs parallelism, never rows
    if size > 0:
        try:
            with open(journal, "rb") as fh:
                if fh.read(8) == hot_magic:
                    return True
        except OSError:
            return True  # same conservative routing as above
    mode = con.execute("PRAGMA journal_mode").fetchone()[0]
    wal = real + "-wal"
    return (
        str(mode).lower() == "wal"
        and os.path.exists(wal)
        and os.path.getsize(wal) > 0
    )


def read_sqlite_table(
    spark: SparkSession, db_path: str, table: str, schema: T.StructType
) -> DataFrame:
    """One staging frame from one SQLite table, schema-first (never
    inference). Absent columns → NULL; absent table → empty frame.
    Routes itself: driver-side fetch for ordinary backup tables,
    rowid-range distributed scan past DISTRIBUTED_ROWS_THRESHOLD
    (see module docstring).

    Rewrite hazard (ADVICE r8): the distributed path binds the returned
    DataFrame to a shipped snapshot of the CURRENT file. A plan held
    lazy while the same db path is rewritten TWICE can, in local mode,
    find its snapshot's fallback link already unlinked (superseded
    links are retained exactly one generation back) and fail with
    FileNotFoundError at execution time — it can never silently read
    the wrong generation. Execute (or localCheckpoint) frames before
    rewriting their source file more than once.

    Tables the distributed path cannot address
    faithfully stay on the driver: WITHOUT ROWID (no range key) and
    databases with a pending sidecar — uncheckpointed WAL frames or a
    hot rollback journal (addFile ships only the main file; executor
    reads would silently miss WAL rows / see uncommitted pages)."""
    con = sqlite3.connect(db_path)
    try:
        proj = _projection(con, table, schema)
        if proj is None:
            return local_frame(spark, [], schema)
        cols, rowid_ok = proj
        if rowid_ok:
            # COUNT(*) alone keeps SQLite's b-tree count optimization;
            # MIN/MAX (each O(log n)) are fetched only once the count
            # says the distributed path is worth planning
            (n_rows,) = con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()
            if n_rows >= DISTRIBUTED_ROWS_THRESHOLD and not _sidecar_pending(
                con, db_path
            ):
                lo, hi = con.execute(
                    f"SELECT MIN(rowid), MAX(rowid) FROM {table}"
                ).fetchone()
                return _read_sqlite_ranges(
                    spark, db_path, table, schema, cols, int(lo), int(hi), int(n_rows)
                )
        rows = con.execute(f"SELECT {cols} FROM {table}").fetchall()
    finally:
        con.close()
    return local_frame(spark, rows, schema)


# (applicationId, realpath, mtime_ns, size) -> unique shipped name.
# addFile keys files by BASENAME with no invalidation, so two different
# dbs sharing a name (Signal layouts pin 'database.sqlite') would
# collide, and a changed file behind an already-shipped path would be
# served stale. Shipping through a uniquely-named hardlink sidesteps
# both; the cache keeps one ship per unchanged file per SparkContext
# (read_bugle_staging reads 5 tables of one db; the applicationId key
# re-ships after a session restart, whose new context never received
# the old addFile). Locking is two-level (ADVICE r7): _SHIP_LOCK
# guards only the in-memory maps (cheap, never held across IO), and a
# per-realpath lock in _SHIP_FILE_LOCKS serializes the ship of ONE
# file — the link/copy (a cross-device fallback can copy a multi-GB
# db) and addFile run under it, so concurrent first-reads of the same
# db agree on one shipped name while UNRELATED dbs ship concurrently.
# Superseded entries for the same file are evicted from the CACHE
# immediately but their link files are kept one extra generation: an
# in-flight lazy DataFrame may still take the local-link fallback to
# the just-superseded link, so it is unlinked only at the NEXT
# eviction of the same file (by then every job planned against it has
# long since re-resolved; a plan held across TWO rewrites can hit the
# unlinked path — the documented read_sqlite_table hazard, loud, never
# stale) — pending disk is bounded at one superseded link per
# rewritten file per generation (plus one per duplicate-ship race,
# rare and thread-bounded), and atexit removes the last ones. Map growth is
# bounded the same way (ADVICE r8): every ship also sweeps entries of
# DEAD SparkContexts (one context lives per driver process, so another
# applicationId's jobs cannot be in flight — their links unlink
# immediately), and per-file locks whose realpath has no remaining
# cache entry are dropped unless held, keeping all four structures
# O(live dbs of the live context). Dropping an unheld lock another
# thread has setdefault-ed but not yet acquired is benign: ship names
# are uuid-unique, so the worst case is one redundant ship, never a
# collision.
_SHIP_CACHE: dict[tuple[str, str, int, int], str] = {}
_SHIP_DIR: str | None = None
_SHIP_LOCK = threading.Lock()
_SHIP_FILE_LOCKS: dict[str, threading.Lock] = {}
# realpath -> link names pending unlink at the NEXT eviction of that
# file (normally one: the immediately-superseded generation; a
# duplicate-ship race adds the loser's never-handed-out link too)
_SHIP_SUPERSEDED: dict[str, list[str]] = {}


def _ship_db(spark: SparkSession, db_path: str) -> tuple[str, str]:
    """Ship db_path to the executors under a collision-proof unique
    name; returns (name for SparkFiles.get, driver-local link path).
    The link path is the LOCAL-MODE read path: when the fetch into
    userFiles was skipped (executors share the driver's filesystem),
    tasks open the unique link, which is only resolvable on the
    driver's machine — keeping the cluster case on the fetched copy."""
    global _SHIP_DIR
    import atexit
    import shutil
    import tempfile
    import uuid

    real = os.path.realpath(db_path)
    st = os.stat(real)
    app_id = spark.sparkContext.applicationId
    key = (app_id, real, st.st_mtime_ns, st.st_size)
    with _SHIP_LOCK:
        name = _SHIP_CACHE.get(key)
        if name is not None:
            return name, os.path.join(_SHIP_DIR, name)
        flock = _SHIP_FILE_LOCKS.setdefault(real, threading.Lock())
    with flock:  # one ship per file at a time; other files unaffected
        with _SHIP_LOCK:
            name = _SHIP_CACHE.get(key)  # shipped while we waited?
            if name is not None:
                return name, os.path.join(_SHIP_DIR, name)
            if _SHIP_DIR is None:
                _SHIP_DIR = tempfile.mkdtemp(prefix="sms_db_spark_ship_")
                atexit.register(shutil.rmtree, _SHIP_DIR, ignore_errors=True)
            ship_dir = _SHIP_DIR
        name = f"sqlite-{uuid.uuid4().hex}-{os.path.basename(real)}"
        link = os.path.join(ship_dir, name)
        try:
            # HARDlink: zero-copy and — unlike a symlink — survives
            # Spark's path canonicalization (a symlink gets registered
            # under its TARGET's basename, resurrecting the collision)
            os.link(real, link)
        except OSError:
            shutil.copy2(real, link)  # cross-device temp: pay the copy
        spark.sparkContext.addFile(link)
        with _SHIP_LOCK:
            # evict superseded versions of this file (older mtime/size)
            # and EVERY entry of a dead context (any other app_id: one
            # SparkContext lives per driver process, so its jobs cannot
            # be in flight — links unlink immediately). A superseded
            # live-context link is unlinked DEFERRED at the NEXT
            # eviction of the same file (one generation back — nothing
            # in flight can still resolve the older one).
            doomed: list[str] = []
            defer: list[str] = []
            for old in [
                k for k in _SHIP_CACHE if (k[1] == real and k != key) or k[0] != app_id
            ]:
                old_name = _SHIP_CACHE.pop(old)
                if old[0] != app_id:  # dead context: all its links are dead
                    doomed.append(old_name)
                    doomed.extend(_SHIP_SUPERSEDED.pop(old[1], []))
                else:
                    defer.append(old_name)
            if defer:  # a superseded generation of THIS file: the
                # previously pending links have now survived one full
                # generation — unlink them, and defer the new ones
                doomed.extend(_SHIP_SUPERSEDED.pop(real, []))
                _SHIP_SUPERSEDED[real] = defer
            for stale in doomed:
                try:
                    os.unlink(os.path.join(ship_dir, stale))
                except OSError:
                    pass  # already gone (atexit raced a shutdown)
            # duplicate-ship race (ADVICE r9): the lock-map sweep below
            # can delete a lock another thread setdefault-ed but had not
            # yet acquired, so two threads may ship the same generation
            # under different locks. The loser must not displace the
            # winner's name (its caller may still be resolving it, and
            # shoving it into the pending slot would spend the
            # one-generation safety window of the GENUINELY superseded
            # link already deferred there) — instead the loser ADOPTS
            # the winner's name and defers its own link, which was
            # never handed out but WAS just addFile'd, so an executor's
            # next dependency fetch may still pull it; it unlinks at
            # the next eviction of this file like any pending link.
            winner = _SHIP_CACHE.get(key)
            if winner is not None:
                _SHIP_SUPERSEDED.setdefault(real, []).append(name)
                name = winner
            else:
                _SHIP_CACHE[key] = name
            # lock-map symmetry (ADVICE r8): a realpath with no live
            # cache entry needs no serializer; skip held locks (a ship
            # of that file is mid-flight and will re-insert its entry)
            live = {k[1] for k in _SHIP_CACHE}
            for gone in [r for r in _SHIP_FILE_LOCKS if r not in live]:
                if not _SHIP_FILE_LOCKS[gone].locked():
                    del _SHIP_FILE_LOCKS[gone]
    return name, os.path.join(ship_dir, name)


def _read_sqlite_ranges(
    spark: SparkSession,
    db_path: str,
    table: str,
    schema: T.StructType,
    cols: str,
    lo: int,
    hi: int,
    n_rows: int,
) -> DataFrame:
    """Distributed rowid-range scan of one SQLite table: the file ships
    once per executor (SparkContext.addFile under a unique name — see
    _ship_db), each task opens it READ-ONLY (uri mode=ro — safe
    concurrent readers, backups are static) and streams its
    `rowid BETWEEN` slice in fetchmany chunks; Arrow batches carry the
    rows back under the explicit schema. The range count derives from
    the ROW count, never the executor count, so per-task memory is
    bounded by ~ROWS_PER_RANGE_TASK rows regardless of cluster size
    (extra ranges just queue); range skew follows rowid sparsity,
    which for the autoincrement app tables this reads is near-dense —
    the worst case degrades to fewer effective tasks, never wrong
    rows."""
    # executor-side dependencies, fail fast at the routing point
    import pandas as pd  # noqa: F401
    import pyarrow  # noqa: F401

    shipped, local_link = _ship_db(spark, db_path)
    span = hi - lo + 1
    n_parts = max(1, min(-(-n_rows // ROWS_PER_RANGE_TASK), span))
    step = -(-span // n_parts)
    bounds = [
        (lo + i * step, min(hi, lo + (i + 1) * step - 1)) for i in range(n_parts)
    ]
    ranges = spark.createDataFrame(bounds, "lo long, hi long").repartition(
        min(n_parts, max(1, spark.sparkContext.defaultParallelism))
    )

    def scan(batches):
        import pathlib

        import pandas as pd
        from pyspark.files import SparkFiles

        local = SparkFiles.get(shipped)
        if not os.path.exists(local):
            # local mode: the fetch was skipped, open the unique link
            # (resolvable only on the driver's machine — the raw user
            # path is never used, so an equal path naming a DIFFERENT
            # file on a real executor can't be read silently)
            if os.path.exists(local_link):
                local = local_link
            else:
                raise FileNotFoundError(
                    f"shipped SQLite copy missing on this executor: {local}"
                )
        # as_uri percent-escapes spaces/specials the raw f"file:{path}"
        # form would misparse
        con = sqlite3.connect(pathlib.Path(local).as_uri() + "?mode=ro", uri=True)
        try:
            names = [f.name for f in schema.fields]
            for pdf in batches:
                for lo_, hi_ in zip(pdf["lo"], pdf["hi"]):
                    cur = con.execute(
                        f"SELECT {cols} FROM {table} WHERE rowid BETWEEN ? AND ?",
                        (int(lo_), int(hi_)),
                    )
                    while True:
                        # chunked: a dense range never materializes more
                        # than one Arrow batch of rows at a time
                        rows = cur.fetchmany(ROWS_PER_RANGE_TASK)
                        if not rows:
                            break
                        yield pd.DataFrame(rows, columns=names, dtype=object)
        finally:
            con.close()

    return ranges.mapInPandas(scan, schema)


def read_bugle_staging(
    spark: SparkSession, db_path: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The five Bugle staging frames (sms-db.pl:95-100)."""
    return (
        read_sqlite_table(spark, db_path, "messages", BUGLE_MESSAGES_SCHEMA),
        read_sqlite_table(spark, db_path, "participants", BUGLE_PARTICIPANTS_SCHEMA),
        read_sqlite_table(spark, db_path, "conversations", BUGLE_CONVERSATIONS_SCHEMA),
        read_sqlite_table(
            spark, db_path, "conversation_participants", BUGLE_CONV_PARTICIPANTS_SCHEMA
        ),
        read_sqlite_table(spark, db_path, "parts", BUGLE_PARTS_SCHEMA),
    )


# Signal backup dual-layout probe (sms-db.pl:121-123): filename-based
# detection of the two decrypted-backup tools' on-disk layouts.
SIGNAL_LAYOUTS = (
    {"db_name": "signal_backup.db", "attach_dir": "attachment", "attach_style": "underscore"},
    {"db_name": "database.sqlite", "attach_dir": "attachments", "attach_style": "bin"},
)


def detect_signal_layout(backup_dir: str) -> dict:
    """Probe which decrypted-Signal-backup layout backup_dir holds.

    Raises ValueError on neither — the reference's
    'Unrecognized Signal backup format.' die (sms-db.pl:123).
    """
    for layout in SIGNAL_LAYOUTS:
        if os.path.isfile(os.path.join(backup_dir, layout["db_name"])):
            return layout
    raise ValueError(f"Unrecognized Signal backup format: {backup_dir}")


def read_signal_staging(
    spark: SparkSession, backup_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """The six Signal staging frames + the attachments frame (S3+S4).

    Attachments come from Spark's distributed binaryFile source when the
    directory exists (path, content columns — J9 joins on the id regex in
    the filename); an absent dir degrades to an empty frame with a
    warning-equivalent (the reference warns and skips, sms-db.pl:164-166).
    """
    layout = detect_signal_layout(backup_dir)
    db_path = os.path.join(backup_dir, layout["db_name"])
    attach_dir = os.path.join(backup_dir, layout["attach_dir"])
    if os.path.isdir(attach_dir):
        attachments = (
            spark.read.format("binaryFile")
            .load(attach_dir)
            .selectExpr("path", "content")
        )
    else:
        attachments = local_frame(spark, [], SIGNAL_ATTACHMENTS_SCHEMA)
    return (
        read_sqlite_table(spark, db_path, "sms", SIGNAL_SMS_SCHEMA),
        read_sqlite_table(spark, db_path, "mms", SIGNAL_MMS_SCHEMA),
        read_sqlite_table(spark, db_path, "recipient", SIGNAL_RECIPIENT_SCHEMA),
        read_sqlite_table(spark, db_path, "groups", SIGNAL_GROUPS_SCHEMA),
        read_sqlite_table(spark, db_path, "thread", SIGNAL_THREAD_SCHEMA),
        read_sqlite_table(spark, db_path, "part", SIGNAL_PART_SCHEMA),
        attachments,
    )
