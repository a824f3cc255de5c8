"""bench.py's lane lists must always resolve against the registry — a
rename that orphans a name would crash the bench run and cost it its
artifact. The compact-line test is metadata-only; the job-counter test
uses the `spark` fixture (conftest's sys.path insert makes `import bench`
work)."""

from __future__ import annotations

import json

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


def test_per_query_lines_order_by_time_and_put_write_audits_last():
    # every headline name, times spread 0.05 s .. 6.1 s so several lanes
    # fall under the compact floor and the rest span several chunks
    headline = {q: 0.05 + 0.1 * i for i, q in enumerate(reversed(bench.HEADLINE))}
    write_audits = {q: 1.0 + i for i, q in enumerate(bench.WRITE_AUDITS)}
    docs = [json.loads(line) for line in bench._per_query_lines(headline, write_audits)]

    assert docs[-1]["metric"] == "per_query_write_audits"
    assert docs[-1]["write_audits"] == {q: round(t, 1) for q, t in write_audits.items()}

    parts = docs[:-1]
    assert len(parts) > 1
    assert all(d["metric"] == "per_query_headline" for d in parts)
    n = len(parts)
    assert [d["part"] for d in parts] == [f"{k}/{n}" for k in range(1, n + 1)]
    fast = [q for q, t in headline.items() if t < bench.COMPACT_MIN_SEC]
    assert fast and all(d["n_omitted"] == len(fast) for d in parts)

    shown = [q for d in parts for q in d["queries"]]
    assert shown == sorted(
        (q for q in headline if q not in fast), key=lambda q: headline[q]
    )
    assert shown[-1] == max(headline, key=headline.get)  # slowest in the tail


def test_per_query_lines_all_lanes_fast():
    lines = bench._per_query_lines({"q01_eq_filter_sort": 0.1}, {})
    docs = [json.loads(line) for line in lines]
    assert docs[0] == {
        "metric": "per_query_headline",
        "part": "1/1",
        "n_omitted": 1,
        "queries": {},
    }
    assert docs[1] == {"metric": "per_query_write_audits", "write_audits": {}}


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
