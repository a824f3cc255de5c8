"""Job ceilings of the import → store → export round trip, of the
five product-quantization lanes (q166, q167, q168, q174, q177), the
heaviest lanes of the registry, and of the five recall audits that rank
in the same one pass (q120, q121, q122, q123, q138).

The scheduler's job-id delta over one call is a machine-independent
count: the same at `local[2]`, `local[4]` and `local[8]`. Each ceiling
is the count the call reaches today, so a change that adds a Spark
action or an AQE stage to one of these calls fails here, on any machine,
instead of only showing up as a slower benchmark pass.
"""

from __future__ import annotations

import pytest

from sms_db_spark.operators.similarity import PQ_NQ
from sms_db_spark.plans import registry
from sms_db_spark.sinks.sqlite_sink import read_store_sqlite, write_store_sqlite
from sms_db_spark.sinks.xml_export import export_xml
from sms_db_spark.sources.canonical import finalize_import
from sms_db_spark.sources.xml_source import normalize_xml
from tests.fixtures import xml_frames
from tests.test_plans import SF_DIR

CEILINGS = {
    "finalize_import": 10,
    "write_store_sqlite": 6,
    "read_store_sqlite": 0,
    "export_xml": 12,
    "finalize_import into a store": 11,
}
# the PQ lanes at sf0.001: the call (index pins, codebook training and,
# for q177, the store commit, reload and checksums) plus the collect of
# its one serving pass
PQ_CEILINGS = {
    "q166_pq_adc_recall": 18,
    "q167_ivfpq_serving": 31,
    "q168_ivfadc_residual": 28,
    "q174_ivfadc_clustered": 31,
    "q177_pq_index_store_audit": 58,
}
# the recall audits at sf0.001: the call plus the collect of its one
# ranking pass, with the rows it returns (one per audited query)
RECALL_CEILINGS = {
    "q120_ann_recall": (9, 20),
    "q121_ivf_recall": (14, 10),
    "q122_multiprobe_recall": (9, 20),
    "q123_ann_serving": (16, 5),
    "q138_jl_projection_recall": (9, 20),
}


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


@pytest.mark.parametrize("name", sorted(PQ_CEILINGS))
def test_pq_lane_job_ceiling(spark, name):
    """A PQ lane builds its index and codebooks, then serves every
    ranking it audits in one pass: one call and its collect stay within
    the lane's ceiling."""
    start = _next_job_id(spark)
    rows = registry()[name].fn(spark, SF_DIR).collect()
    n = _next_job_id(spark) - start
    assert len(rows) == PQ_NQ
    assert n <= PQ_CEILINGS[name], f"{name} launched {n} jobs, ceiling {PQ_CEILINGS[name]}"


@pytest.mark.parametrize("name", sorted(RECALL_CEILINGS))
def test_recall_lane_job_ceiling(spark, name):
    """A recall audit ranks its exact and approx keys in one pass: one
    call and its collect stay within the lane's ceiling and return one
    row per audited query."""
    ceiling, n_rows = RECALL_CEILINGS[name]
    start = _next_job_id(spark)
    rows = registry()[name].fn(spark, SF_DIR).collect()
    n = _next_job_id(spark) - start
    assert len(rows) == n_rows
    assert n <= ceiling, f"{name} launched {n} jobs, ceiling {ceiling}"
