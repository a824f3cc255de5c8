"""The benchmark's workloads: their operations, the output check after
every timed operation, and the layer spans around each call into the
program.

An operation's ``run`` makes the calls into the program and returns the
check of their output, which the harness runs after the operation's
clock stops. An operation either completes and passes its check, raises
(the program failed: ``error``), or completes with output that fails
its check (``wrong``).

Inputs and their ground truth are made by ``prepare`` in a child
process (``python3 perfbench/workloads.py <workload> <seed> <dir> ...``),
so neither the generator's nor the DuckDB oracle's memory counts in the
driver process's peak.
"""

from __future__ import annotations

import json
import os
import random
import sqlite3
import sys
import xml.etree.ElementTree as ET
from collections.abc import Callable
from dataclasses import asdict, dataclass

import gen


class WrongOutput(Exception):
    """The program completed but its output disagrees with the ground truth."""


Check = Callable[[], None]  # raises WrongOutput, or anything else on a wrong output


@dataclass
class Op:
    name: str
    run: Callable[[object], Check]  # run(tracer) -> the check of its output


def check_dense_ids(table: str, ids: list[int]) -> None:
    """``ids`` must be exactly 1..N, as the reference's AUTOINCREMENT gives."""
    if sorted(ids) != list(range(1, len(ids) + 1)):
        dup = len(ids) - len(set(ids))
        raise WrongOutput(f"{table}._id is not 1..{len(ids)} ({dup} duplicated)")


def check_equal(what: str, got, want) -> None:
    if got != want:
        raise WrongOutput(f"{what}: got {got}, want {want}")


def store_ids(db_path: str) -> tuple[list[int], list[int]]:
    con = sqlite3.connect(db_path)
    try:
        msgs = [r[0] for r in con.execute("SELECT _id FROM messages")]
        parts = [r[0] for r in con.execute("SELECT _id FROM parts")]
    finally:
        con.close()
    return msgs, parts


class ImportRoundtrip:
    """The reference's own job (sms-db.pl import/export): import a month's
    backup into a new SQLite store, export that store as XML, and import
    a multi-year backup into another new store.

    The program sees only the generated XML files.
    """

    def __init__(self, work_dir: str, truth: dict):
        from sms_db_spark.sinks.sqlite_sink import read_store_sqlite, write_store_sqlite
        from sms_db_spark.sinks.xml_export import export_xml
        from sms_db_spark.sources.canonical import finalize_import
        from sms_db_spark.sources.xml_source import normalize_xml, read_xml_staging

        self.api = dict(read_xml_staging=read_xml_staging, normalize_xml=normalize_xml,
                        finalize_import=finalize_import, write_store_sqlite=write_store_sqlite,
                        read_store_sqlite=read_store_sqlite, export_xml=export_xml)
        self.spark = None  # set once the session is up
        self.dir = work_dir
        self.backups = {name: gen.Backup(**b) for name, b in truth.items()}
        self.db_bytes_per_msg = 0.0
        self.rows_staged = 0

    def ops(self, pass_no: int) -> list[Op]:
        return [
            Op("import_month", lambda t: self._import(t, "month", "month.db")),
            Op("export", lambda t: self._export(t, "month.db")),
            Op("import_years", lambda t: self._import(t, "years", "years.db")),
        ]

    def _db(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def _import(self, tracer, backup: str, db: str) -> Check:
        """``python -m sms_db_spark -f xml -i <backup> -d <db>`` into a new
        store, through the same public functions the CLI calls."""
        api, b, out = self.api, self.backups[backup], self._db(db)
        if os.path.exists(out):
            os.remove(out)
        with tracer.layer("sources.xml_source.read_xml_staging"):
            staged = api["read_xml_staging"](self.spark, b.path)
        with tracer.layer("sources.xml_source.normalize_xml"):
            msgs, parts = api["normalize_xml"](*staged)
        with tracer.layer("sources.canonical.finalize_import"):
            result = api["finalize_import"](msgs, parts)
        with tracer.layer("sinks.sqlite_sink.write_store_sqlite"):
            api["write_store_sqlite"](result.messages, result.parts, out)

        def check() -> None:
            msg_ids, part_ids = store_ids(out)
            check_dense_ids("messages", msg_ids)
            check_dense_ids("parts", part_ids)
            check_equal(f"{backup} inserted", result.inserted, b.distinct)
            check_equal(f"{backup} duplicates", result.duplicates, b.duplicates)
            check_equal(f"{backup} parts", result.total_parts, b.parts)
            check_equal(f"{backup} store messages", len(msg_ids), b.distinct)
            check_equal(f"{backup} store parts", len(part_ids), b.parts)
            if backup == "month":
                self.db_bytes_per_msg = os.path.getsize(out) / len(msg_ids)

        return check

    def _export(self, tracer, db: str) -> Check:
        """``python -m sms_db_spark -f xml -o <file> -d <db>``."""
        api, out = self.api, self._db("export.xml")
        with tracer.layer("sinks.sqlite_sink.read_store_sqlite"):
            messages, parts = api["read_store_sqlite"](self.spark, self._db(db))
        with tracer.layer("sinks.xml_export.export_xml"):
            count = api["export_xml"](messages, parts, out)

        def check() -> None:
            rows = len(store_ids(self._db(db))[0])
            check_equal("export count", count, rows)
            root = ET.parse(out).getroot()
            check_equal("exported elements",
                        len(root.findall("sms")) + len(root.findall("mms")), rows)
            check_equal("export count attribute", root.get("count"), str(rows))

        return check

    def count_staged(self) -> None:
        """Rows the XML reader stages for the month backup (traced runs only)."""
        staged = self.api["read_xml_staging"](self.spark, self.backups["month"].path)
        self.rows_staged = sum(f.count() for f in staged)


# The lanes of lane_mix, by the module whose public function each calls:
# part of the querying.md ad-hoc surface (filter, LIKE, BETWEEN, IN,
# joins, EXISTS), the curation operators, and one store commit protocol.
COMPAT_LANES = [
    "q01_eq_filter_sort", "q02_like_prefix", "q04_between_ts", "q07_flagship_join_like",
    "q09_in_list", "q26_three_way_join", "q67_exists_subquery",
]
CURATION_LANES = [
    "q41_text_quality", "q45_minhash_lsh_pairs", "q174_ivfadc_clustered",
    "q173_bpe_tokenize", "q69_import_scale",
]
STORE_LANES = ["q134_shard_manifest_audit"]


def lane_modules() -> dict[str, str]:
    """Lane name -> the module that defines it, e.g. ``plans.compat_queries``."""
    from sms_db_spark.operators import dedup, ngrams, similarity, textstats
    from sms_db_spark.plans import compat_queries, importer_queries, storage_queries

    out = {}
    for mod in (compat_queries, importer_queries, storage_queries, dedup, ngrams,
                similarity, textstats):
        short = mod.__name__.removeprefix("sms_db_spark.")
        out.update({name: short for name in mod.QUERIES})
    return out


LANES = COMPAT_LANES + CURATION_LANES + STORE_LANES


def oracle_results(sf_dir: str) -> dict[str, tuple[int, list[str], str]]:
    """Each lane's DuckDB ``oracle_sql()`` result as (rows, columns, value hash)."""
    import duckdb

    import __spark_entry__ as entry
    from selfcheck import normalize, value_hash
    from sms_db_spark.tables import TABLE_NAMES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for lane in LANES:
            want = normalize(con.execute(sql[lane]).fetchdf())
            out[lane] = (len(want), list(want.columns), value_hash(want))
        return out
    finally:
        con.close()


class LaneMix:
    """Registered query lanes over generated TPC-H-like tables, run by
    one client in a shuffled order, each through the callable
    ``__spark_entry__.queries()`` returns and collected with ``toPandas``.

    Every result is checked against the lane's DuckDB ``oracle_sql()``
    twin over the same files (``truth``, from ``oracle_results``): row
    count, columns and order-insensitive value hash, as
    ``tools/selfcheck.py`` computes them.
    """

    def __init__(self, work_dir: str, truth: dict):
        import __spark_entry__ as entry

        self.spark = None  # set once the session is up
        self.sf_dir = os.path.join(work_dir, "tables")
        self.lanes = list(LANES)
        self.fns = entry.queries()
        self.modules = lane_modules()
        self.expected = truth

    def ops(self, pass_no: int) -> list[Op]:
        # One shuffled order for every run: the first lane of a run pays
        # the JVM's first-query costs, so an order drawn from the run's
        # seed would move those costs between lanes from run to run.
        order = list(self.lanes)
        random.Random(pass_no).shuffle(order)
        return [Op(lane, lambda t, lane=lane: self._lane_op(t, lane)) for lane in order]

    def _lane_op(self, tracer, lane: str) -> Check:
        with tracer.layer(f"{self.modules[lane]}.{lane}"):
            got = self.fns[lane](self.spark, self.sf_dir).toPandas()

        def check() -> None:
            from selfcheck import normalize, value_hash

            norm = normalize(got)
            rows, columns, digest = self.expected[lane]
            check_equal(f"{lane} rows vs oracle", len(norm), rows)
            check_equal(f"{lane} columns vs oracle", list(norm.columns), columns)
            check_equal(f"{lane} value hash vs oracle", value_hash(norm), digest)

        return check


def prepare(name: str, work_dir: str, seed: int, month: int, years: int, sf: float) -> dict:
    """Write workload ``name``'s inputs under ``work_dir``; return their truth."""
    if name == "import_roundtrip":
        backups = gen.write_backups(os.path.join(work_dir, "backups"), seed, month, years)
        return {k: asdict(b) for k, b in backups.items()}
    if name == "lane_mix":
        gen.write_lane_tables(os.path.join(work_dir, "tables"), seed, sf)
        return oracle_results(os.path.join(work_dir, "tables"))
    raise ValueError(f"unknown workload {name!r} (import_roundtrip, lane_mix)")


if __name__ == "__main__":
    # python3 perfbench/workloads.py <workload> <seed> <dir> <month> <years> <sf>
    # writes the inputs and <dir>/truth.json
    name, seed, work, month, years, sf = sys.argv[1:]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[1:1] = [root, os.path.join(root, "tools")]
    truth = prepare(name, work, int(seed), int(month), int(years), float(sf))
    with open(os.path.join(work, "truth.json"), "w") as fh:
        json.dump(truth, fh)
