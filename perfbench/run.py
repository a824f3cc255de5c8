"""The repository's benchmark: one workload per run, from the checkout root.

    python3 perfbench/run.py --workload import_roundtrip --seed 1 --seconds 10 --trace 0

A run makes its inputs from the seed (in a child process), starts Spark
on ``local[<cores>]`` from this one driver process, in a fresh JVM
SETUPS times, runs one untimed warm-up query, then times
whole passes over the workload's operations until ``--seconds`` have
elapsed (at least one pass), checking every operation's output. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and the metrics. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same passes with a span around every
call into the program and reports the per-layer metrics instead.
BENCHMARK.json lists both sets; perfbench/README.md says what each
means and which layer should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes. The years backup is a realistic multi-year phone history;
# month is one month of it.
MONTH_MESSAGES = 1000
YEARS_MESSAGES = 20000
LANE_SF = 0.01
SETUPS = 2  # fresh-JVM session starts per run; each costs about 7 s here

IMPORT_LAYERS = [
    "sources.xml_source.read_xml_staging",
    "sources.xml_source.normalize_xml",
    "sources.canonical.finalize_import",
    "sinks.sqlite_sink.read_store_sqlite",
    "sinks.sqlite_sink.write_store_sqlite",
    "sinks.xml_export.export_xml",
]
IMPORT_OPS = ["import_month", "export", "import_years"]
LANE_LAYERS = [
    "plans.compat_queries",
    "operators.textstats",
    "operators.dedup",
    "operators.similarity",
    "operators.ngrams",
    "plans.importer_queries",
    "plans.storage_queries",
    "operators.similarity.q174_ivfadc_clustered",
]
LAYER_FIELDS = [("wall_s", "s"), ("jobs", "count"), ("exec_cpu_ms", "ms"),
                ("driver_ms", "ms"), ("shuffle_bytes", "bytes")]


def end_to_end_units() -> dict[str, str]:
    return {"setup_s": "s", "pass_s": "s", "jobs_per_pass": "count", "driver_rss_peak_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{f}": u for layer in IMPORT_LAYERS + LANE_LAYERS for f, u in LAYER_FIELDS}
    units.update({f"op.{op}.wall_s": "s" for op in IMPORT_OPS})
    units.update({
        "sinks.sqlite_sink.db_bytes_per_msg": "bytes",
        "sources.xml_source.rows_staged": "count",
        "exec_gc_ms": "ms",
        "session.get_spark_s": "s",
        "session.first_job_s": "s",
        "trace.pass_s": "s",
        "trace.self_s": "s",
    })
    return units


def pin_environment(work: str) -> int:
    """Pin what the measurement depends on, before Spark or tempfile start.

    Cores: every core this process may run on, and no client threads
    beyond the one driver thread. Python workers get the checkout on
    their path (a ``mapInPandas`` worker imports the program). Scratch,
    Spark local and temp directories stay inside the checkout. The
    driver heap is the program's default.
    """
    import tempfile

    cores = len(os.sched_getaffinity(0))
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    return cores


def start_session(work: str, cores: int, trace: bool):
    """Start the session; return it and the time ``get_spark`` took."""
    from sms_db_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # keep a whole traced pass in the status store
        conf.update({"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "40000"})
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    t = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t


def setup(work: str, cores: int, trace: bool, starts: int):
    """Start the session ``starts`` times, each in a fresh JVM, as every
    run of the program's CLI does, then time a first one-row job on the
    last one. Returns that session, its JVM process, the ``get_spark``
    times and the first job's time."""
    from pyspark import SparkContext

    times, spark, proc = [], None, None
    for _ in range(starts):
        if spark is not None:
            shutdown(spark, proc)
        spark, t = start_session(work, cores, trace)
        proc = SparkContext._gateway.proc
        times.append(t)
    t0 = time.perf_counter()
    spark.range(1).count()
    return spark, proc, times, time.perf_counter() - t0


def shutdown(spark, proc) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def rss_peak_mb() -> float:
    """Peak resident memory of this driver process, in MB: session
    starts, the warm-up query, the passes and their checks. Inputs and
    oracle results are made in a child process, so they are left out,
    and so is the JVM: its heap grows with garbage-collector timing,
    not need."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


class Results:
    """Operation outcomes of the timed passes."""

    def __init__(self):
        self.attempted = 0
        self.errors: list[str] = []  # the program raised
        self.wrong: list[str] = []  # the program returned a wrong output
        self.pass_spans = []
        self.pass_walls: list[float] = []  # operation time per pass, checks excluded
        self.check_s = 0.0

    @property
    def failed(self) -> int:
        return len(self.errors) + len(self.wrong)


def run_pass(workload, tracer, pass_no: int, results: Results) -> None:
    """One pass over the workload's operations, each timed and checked."""
    from workloads import WrongOutput

    busy = 0.0
    with tracer.span(f"pass{pass_no}") as pass_span:
        for op in workload.ops(pass_no):
            check, err, t_check = None, None, 0.0
            with tracer.span(op.name) as op_span:
                try:
                    check = op.run(tracer)
                except Exception as e:  # the program failed: count it, go on
                    err = f"{op.name}: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            busy += op_span.wall_s
            results.attempted += 1
            if err is None:
                t_check = time.perf_counter()
                try:
                    check()
                except Exception as e:  # WrongOutput, or output too broken to read
                    what = "" if isinstance(e, WrongOutput) else f"{type(e).__name__}: "
                    err = f"{op.name}: wrong output: {what}{e}"
                    results.wrong.append(err)
                t_check = time.perf_counter() - t_check
                results.check_s += t_check
            else:
                results.errors.append(err)
            print(f"# {op.name} {op_span.wall_s:.3f}s jobs={op_span.job_hi - op_span.job_lo}"
                  f" check={t_check:.2f}s{' FAILED' if err else ''}", flush=True)
    results.pass_spans.append(pass_span)
    results.pass_walls.append(busy)


def layer_metrics(tracer, passes: list) -> dict[str, float]:
    """Per-layer figures of the traced passes, per pass."""
    tracer.profile(tracer.spans)
    out = {name: 0.0 for name in per_layer_units()}

    def add(layer: str, s) -> None:
        out[f"{layer}.wall_s"] += s.wall_s
        for f in ("jobs", "exec_cpu_ms", "driver_ms", "shuffle_bytes"):
            out[f"{layer}.{f}"] += s.profile[f]

    for s in tracer.spans:
        if s.parent is None:  # a pass
            out["exec_gc_ms"] += s.profile["gc_ms"]
        elif s.parent.startswith("pass"):  # an operation
            if s.name in IMPORT_OPS:
                out[f"op.{s.name}.wall_s"] += s.wall_s
        elif s.name in IMPORT_LAYERS:
            add(s.name, s)
        else:  # a lane, <module>.<lane>
            add(s.name.rsplit(".", 1)[0], s)
            if s.name in LANE_LAYERS:
                add(s.name, s)
    return {k: v / len(passes) for k, v in out.items()}


def warm_up(spark) -> None:
    """Untimed. The first Spark SQL work in a JVM pays class loading, JIT
    compilation and the Python workers' start. One small query pays
    most of that before the clock starts, so it does not land, with
    run-to-run jitter, on whichever operation comes first."""
    import pandas as pd
    from pyspark.sql import functions as F

    local = spark.createDataFrame(pd.DataFrame({"k": range(2000), "v": [i * 0.5 for i in range(2000)]}))
    rows = spark.createDataFrame([(i, str(i)) for i in range(200)], "k long, s string")
    (local.join(rows, "k").groupBy((F.col("k") % 7).alias("g"))
     .agg(F.sum("v"), F.count_distinct(F.sha2("s", 256))).orderBy("g").toPandas())


def make_workload(name: str, work: str, seed: int):
    """The workload, with its inputs and their truth written by a child
    process (see ``workloads.prepare``)."""
    import workloads

    kinds = {"import_roundtrip": workloads.ImportRoundtrip, "lane_mix": workloads.LaneMix}
    if name not in kinds:
        raise ValueError(f"unknown workload {name!r} ({', '.join(kinds)})")
    subprocess.run([sys.executable, os.path.join(HERE, "workloads.py"), name, str(seed), work,
                    str(MONTH_MESSAGES), str(YEARS_MESSAGES), str(LANE_SF)],
                   check=True, timeout=120)
    with open(os.path.join(work, "truth.json")) as fh:
        return kinds[name](work, json.load(fh))


def measure(workload_name: str, seed: int, seconds: float, trace: bool, work: str,
            spans_out: str | None = None) -> dict:
    cores = pin_environment(work)
    from spans import Tracer
    from workloads import ImportRoundtrip

    t_gen = time.perf_counter()
    workload = make_workload(workload_name, work, seed)
    t_gen = time.perf_counter() - t_gen
    spark, proc, setup_times, first_job_s = setup(work, cores, trace, SETUPS)
    try:
        workload.spark = spark
        warm_up(spark)
        print(f"# {workload_name}: seed={seed} cores={cores} inputs={t_gen:.1f}s"
              f" get_spark={[round(t, 3) for t in setup_times]}s first_job={first_job_s:.3f}s",
              flush=True)
        tracer = Tracer(spark, f"{workload_name}-{seed}-trace{int(trace)}", enabled=trace)
        results = Results()
        t0 = time.perf_counter()
        while not results.pass_spans or time.perf_counter() - t0 < seconds:
            run_pass(workload, tracer, len(results.pass_spans), results)
        walls = results.pass_walls
        if trace:
            metrics = layer_metrics(tracer, results.pass_spans)
            metrics.update({
                "trace.pass_s": statistics.median(walls),
                "trace.self_s": tracer.self_s / len(walls),
                "session.get_spark_s": statistics.median(setup_times),
                "session.first_job_s": first_job_s,
            })
            if isinstance(workload, ImportRoundtrip):
                workload.count_staged()
                metrics["sinks.sqlite_sink.db_bytes_per_msg"] = workload.db_bytes_per_msg
                metrics["sources.xml_source.rows_staged"] = workload.rows_staged
            if spans_out:
                tracer.write(spans_out)
            units = per_layer_units()
        else:
            metrics = {
                "setup_s": statistics.median(setup_times),
                "pass_s": statistics.median(walls),
                "jobs_per_pass": statistics.median(s.job_hi - s.job_lo for s in results.pass_spans),
                "driver_rss_peak_mb": rss_peak_mb(),
            }
            units = end_to_end_units()
        print(f"# {len(walls)} pass(es) in {time.perf_counter() - t0:.1f}s,"
              f" checks {results.check_s:.1f}s", flush=True)
        for line in results.errors + results.wrong:
            print(f"# failed: {line}", flush=True)
        return {
            "correct": not results.wrong,
            "attempted": results.attempted,
            "failed": results.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        shutdown(spark, proc)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="with --trace 1, write the spans here (JSON lines)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sms_db_spark")):
        print(f"perfbench: no sms_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), work,
                         args.spans)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
