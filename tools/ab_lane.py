"""Per-lane A/B timing harness used for the r17/r18 optimization
evidence (the A/B scripts cited in OPTIMIZATION_r17.md and
OPTIMIZATION_r18.md, both in git at commit da8599e, are instances of
this shape, committed here so the A/B methodology is reproducible from
the repo).

Times registry lanes with the noop sink (guide §1.4) against an
arbitrary TREE (the working repo or a git worktree pinned at a "before"
commit) in a fresh session per process, two passes per lane (r1 ≈
bucket-cold, r2 ≈ warm). The session's core count (defaultParallelism)
prints first, so every A/B states it. An honest A/B runs this once per
tree in BOTH orders (tree A first, then tree B first): a serial pair has a
warm-machine bias toward whichever tree runs second — the r18 sf1 spot
check showed per-lane order effects of the same magnitude (±1.5 s) as
several real wins.

Each lane's jobs carry the description `ab_lane:LANE:rN`. Jobs a lane
submits from worker threads carry it too: the lanes run concurrent
jobs through `session.concurrent`, whose threads inherit the caller's
local properties.

Each run prints `rN LANE WALL_S jobs N`: N is the scheduler's job-id
delta over the run (`dagScheduler().nextJobId()`, the counter
tests/test_job_ceilings.py and bench.py read), a machine-independent
count to set beside the wall.

Usage: python tools/ab_lane.py TREE_ROOT SF_DIR LANE [LANE ...]
"""

from __future__ import annotations

import sys
import time


def main() -> None:
    root, sf = sys.argv[1], sys.argv[2]
    sys.path.insert(0, root)
    from sms_db_spark.session import get_spark
    from sms_db_spark.plans import registry

    spark = get_spark("ab_lane")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"cores {spark.sparkContext.defaultParallelism}", flush=True)
    specs = registry()
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    # untimed scheduler/codegen warm-up job
    (
        spark.range(1000)
        .selectExpr("id", "id % 7 AS g")
        .groupBy("g")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    for rnd in (1, 2):
        for n in sys.argv[3:]:
            spark.sparkContext.setJobDescription(f"ab_lane:{n}:r{rnd}")
            j0 = scheduler.nextJobId()
            t0 = time.time()
            specs[n].fn(spark, sf).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            print(f"r{rnd} {n} {wall:.3f} jobs {scheduler.nextJobId() - j0}", flush=True)


if __name__ == "__main__":
    main()
