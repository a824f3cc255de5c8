"""bench.py's lane lists must always resolve against the registry — a
rename that orphans a name would crash the bench run and cost it its
artifact. The job-counter test uses the `spark` fixture (conftest's
sys.path insert makes `import bench` work)."""

from __future__ import annotations

import bench

from sms_db_spark.plans import registry


def test_bench_names_resolve_and_buckets_are_disjoint():
    specs = registry()
    missing = [n for n in bench.HEADLINE + bench.WRITE_AUDITS if n not in specs]
    assert not missing, missing
    overlap = set(bench.HEADLINE) & set(bench.WRITE_AUDITS)
    assert not overlap, f"a query must live in exactly one bucket: {overlap}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert len(set(bench.WRITE_AUDITS)) == len(bench.WRITE_AUDITS)


def _lane(spark, sf_dir):
    # one partition, no shuffle: the noop write and a count are one job
    # each
    return spark.range(0, 1000, 1, 1).selectExpr("id", "id % 7 AS g")


def _lane_with_extra_count(spark, sf_dir):
    df = _lane(spark, sf_dir)
    df.count()  # the seeded regression: one extra round-trip
    return df


def test_time_lane_counts_a_seeded_extra_job(spark):
    _, base = bench.time_lane(spark, _lane, None, best_of=1, warm=True)
    _, again = bench.time_lane(spark, _lane, None, best_of=2, warm=False)
    _, seeded = bench.time_lane(
        spark, _lane_with_extra_count, None, best_of=1, warm=True
    )
    assert base >= 1
    assert again == base
    assert seeded == base + 1
