"""Job ceilings of the import → store → export round trip and of the
heaviest lane, q174.

The scheduler's job-id delta over one call is a machine-independent
count: the same at `local[2]`, `local[4]` and `local[8]`. Each ceiling
is the count the call reaches today, so a change that adds a Spark
action or an AQE stage to one of these calls fails here, on any machine,
instead of only showing up as a slower benchmark pass.
"""

from __future__ import annotations

from sms_db_spark.operators.similarity import PQ_NQ
from sms_db_spark.plans import registry
from sms_db_spark.sinks.sqlite_sink import read_store_sqlite, write_store_sqlite
from sms_db_spark.sinks.xml_export import export_xml
from sms_db_spark.sources.canonical import finalize_import
from sms_db_spark.sources.xml_source import normalize_xml
from tests.fixtures import xml_frames

CEILINGS = {
    "finalize_import": 10,
    "write_store_sqlite": 6,
    "read_store_sqlite": 0,
    "export_xml": 12,
    "finalize_import into a store": 11,
}
# q174_ivfadc_clustered at sf0.001: the call (index pin, two codebooks)
# plus the collect of its serving pass
Q174_CEILING = 31


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_round_trip_job_ceilings(spark, tmp_path):
    """The CLI's path on the 5-message fixture: import into an empty
    store, write it, read it back from the file and export it, then
    import the same backup again into that store file (all duplicates)."""
    jobs = {}

    def counted(name, fn, *args):
        start = _next_job_id(spark)
        out = fn(*args)
        jobs[name] = _next_job_id(spark) - start
        return out

    m, p = normalize_xml(*xml_frames(spark))
    res = counted("finalize_import", finalize_import, m, p)
    db = str(tmp_path / "sms.db")
    counted("write_store_sqlite", write_store_sqlite, res.messages, res.parts, db)
    messages, parts = counted("read_store_sqlite", read_store_sqlite, spark, db)
    assert counted("export_xml", export_xml, messages, parts, str(tmp_path / "out.xml")) == 5
    again = counted("finalize_import into a store", finalize_import, m, p, db)
    assert (again.inserted, again.duplicates) == (0, 5)
    over = {k: (n, CEILINGS[k]) for k, n in jobs.items() if n > CEILINGS[k]}
    assert not over, f"jobs over their ceiling (count, ceiling): {over}"


def test_q174_job_ceiling(spark):
    """q174 builds its index and both codebooks, then serves all three
    rankings in one pass: one call and its collect stay within
    Q174_CEILING jobs."""
    start = _next_job_id(spark)
    rows = registry()["q174_ivfadc_clustered"].fn(spark, "/root/testdata/sf0.001").collect()
    n = _next_job_id(spark) - start
    assert len(rows) == PQ_NQ
    assert n <= Q174_CEILING, f"q174 launched {n} jobs, ceiling {Q174_CEILING}"
