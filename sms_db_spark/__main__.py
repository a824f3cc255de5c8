"""CLI with the reference's flag surface (sms-db.pl:27-32), so a user of
the reference can run the same invocations against the Spark engine:

    python -m sms_db_spark -f xml    -i backup.xml            [-d sms-db.db]
    python -m sms_db_spark -f bugle  -i bugle_db              [-d sms-db.db]
    python -m sms_db_spark -f signal -i decrypted_backup_dir  [-d sms-db.db]
    python -m sms_db_spark -f xml    -o export.xml            [-t sms|mms|all]

Semantics mirrored from the reference driver (sms-db.pl:42-235, 237-312):
-d defaults to sms-db.db; -f is required; -t defaults to all; exactly one
of -i (import) / -o (export) must be given; repeated -i runs against the
same -d accumulate idempotently (dedup A5). The store is written via the
SQLite sink, so `sqlite3 sms-db.db "SELECT ..."` works exactly as
querying.md documents. Import appends its new rows in one transaction
(the reference's single commit, sms-db.pl:47,231), and writes nothing
when none is new. Export has one path, like the reference's single
exporter: sinks.xml_export.export_xml, which serializes the document in
fragments on the executors.
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sms_db_spark", description="PySpark-native sms-db engine"
    )
    p.add_argument("-d", default="sms-db.db", help="store database path (default sms-db.db)")
    p.add_argument("-f", required=True, choices=["xml", "bugle", "signal"], help="format")
    p.add_argument("-i", help="input to import (file for xml, directory/db for bugle/signal)")
    p.add_argument("-o", help="XML export output path")
    p.add_argument("-t", default="all", choices=["sms", "mms", "all"], help="message type")
    return p


def main(argv: list[str] | None = None) -> int:
    from . import __version__

    # the reference's startup banner (sms-db.pl:43)
    print(f"sms-db-spark version {__version__}")
    args = build_parser().parse_args(argv)
    if bool(args.i) == bool(args.o):
        print(
            "Either input ('-i filename') or output ('-o filename') must be specified.",
            file=sys.stderr,
        )
        return 2

    from .session import get_spark

    t0 = time.time()
    spark = get_spark("sms-db-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")

    # a first import that failed leaves an empty file: no store yet
    store = args.d if os.path.isfile(args.d) and os.path.getsize(args.d) else None
    if args.i:
        print(f"Importing messages from '{args.i}' ...")
        from .sinks.sqlite_sink import store_message_count, write_store_sqlite
        from .sources.canonical import finalize_import

        ignored = 0
        if args.f == "xml":
            from .sources.xml_source import normalize_xml, read_xml_staging

            staged = read_xml_staging(spark, args.i)
            msgs, parts = normalize_xml(*staged, message_type=args.t)
        elif args.f == "bugle":
            from .sources.bugle import normalize_bugle
            from .sources.sqlite_io import read_bugle_staging

            db = args.i
            if os.path.isdir(db):
                db = os.path.join(db, "bugle_db")
            msgs, parts = normalize_bugle(*read_bugle_staging(spark, db), message_type=args.t)
        else:
            from .sources.signal import normalize_signal
            from .sources.sqlite_io import read_signal_staging

            msgs, parts, ignored = normalize_signal(
                *read_signal_staging(spark, args.i), message_type=args.t
            )

        result = finalize_import(msgs, parts, store=store, ignored_count=ignored)
        if store is None or result.inserted:
            write_store_sqlite(result.messages, result.parts, args.d)
        n_rows = store_message_count(args.d)
        print(f"Total messages seen:\t\t{result.total}")
        print(f"Total messages imported:\t{result.inserted}")
        print(f"Duplicate messages:\t\t{result.duplicates}")
        print(f"Ignored messages:\t\t{result.ignored}")
        print(f"Total message parts imported:\t{result.total_parts}")
        print(f"Messages in database:\t\t{n_rows}")
    else:
        print(f"Exporting messages to '{args.o}' ...")
        if store is None:
            print(f"No store at '{args.d}'", file=sys.stderr)
            return 1
        from .sinks.sqlite_sink import read_store_sqlite
        from .sinks.xml_export import export_xml

        messages, parts = read_store_sqlite(spark, store)
        count = export_xml(messages, parts, args.o, message_type=args.t)
        print(f"Total messages exported:\t{count}")

    print(f"Elapsed time:\t\t\t{round(time.time() - t0, 3)} seconds")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
