"""Self-test of the benchmark harness at tiny sizes.

    python3 perfbench/selftest.py

Checks, in this order:

1. every metric BENCHMARK.json names prints, with its unit, for each
   workload with ``--trace 0`` (end-to-end) and ``--trace 1`` (per layer);
2. a corrupted output is counted as a failed operation and makes the run
   incorrect: a store whose ``messages._id`` is not 1..N, an export file
   cut short so it no longer parses, and a lane result with a row missing;
3. the id check itself rejects a duplicated ``_id``.

It also reports whether ``export_xml`` still raises on an MMS whose first
part is binary (see README.md); that is a finding, not a pass condition.
Sizes: a 100-message month backup, a 300-message years backup and
scale factor 0.001 for the lane tables. Takes a few minutes.
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import sqlite3
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

run.MONTH_MESSAGES, run.YEARS_MESSAGES, run.LANE_SF = 100, 300, 0.001
WORK = os.path.join(run.ROOT, ".perfbench-work", f"selftest-{os.getpid()}")


def declared() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def check_metrics(result: dict, want: dict[str, str], label: str) -> list[str]:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    problems = [f"{label}: {k} missing" for k in want if k not in got]
    problems += [f"{label}: {k} unit {got[k]} != {u}" for k, u in want.items()
                 if k in got and got[k] != u]
    problems += [f"{label}: {k} not declared" for k in got if k not in want]
    problems += [f"{label}: {k} is not a number" for k, v in result["metrics"].items()
                 if not isinstance(v["value"], (int, float))]
    if result["attempted"] < 1:
        problems.append(f"{label}: nothing attempted")
    return problems


def corrupt_store_ids(workload) -> None:
    """Renumber message 1 after every store write, so _id is not 1..N."""
    write = workload.api["write_store_sqlite"]

    def write_then_corrupt(messages, parts, path):
        write(messages, parts, path)
        con = sqlite3.connect(path)
        con.execute("UPDATE messages SET _id = (SELECT max(_id) + 5 FROM messages) WHERE _id = 1")
        con.commit()
        con.close()

    workload.api["write_store_sqlite"] = write_then_corrupt


def truncate_export(workload) -> None:
    """Cut the exported XML file in half after every export."""
    export = workload.api["export_xml"]

    def export_then_truncate(messages, parts, path):
        count = export(messages, parts, path)
        with open(path, "r+b") as fh:
            fh.truncate(os.path.getsize(path) // 2)
        return count

    workload.api["export_xml"] = export_then_truncate


def drop_lane_row(workload) -> None:
    """Make one lane return one row fewer than its oracle."""
    lane = "q01_eq_filter_sort"
    fn = workload.fns[lane]
    workload.fns[lane] = lambda spark, sf_dir: fn(spark, sf_dir).limit(
        max(fn(spark, sf_dir).count() - 1, 0))


def measure_with(name: str, trace: bool, corrupt=None) -> dict:
    make = run.make_workload

    def patched(*args):
        workload = make(*args)
        if corrupt is not None:
            corrupt(workload)
        return workload

    run.make_workload = patched
    try:
        return run.measure(name, 7, 1, trace, os.path.join(WORK, f"{name}-{int(trace)}"))
    finally:
        run.make_workload = make


def export_binary_first_mms() -> str:
    """Import one MMS whose only part is a JPEG, export the store, and
    say whether export_xml raised."""
    path = os.path.join(WORK, "binary_first.xml")
    data = base64.b64encode(bytes([0xFF, 0xD8, 0xFF, 0xE0, 0x80, 0xFE])).decode()
    with open(path, "w") as fh:
        fh.write('<?xml version="1.0" encoding="UTF-8"?><smses count="2">'
                 '<sms address="+15550001111" date="1577836800000" type="1" body="hi"'
                 ' contact_name="Alice"/>'
                 '<mms date="1577836900000" msg_box="1" address="+15550002222"'
                 ' contact_name="Bob"><parts><part ct="image/jpeg" name="IMG_0001.jpg"'
                 f' text="null" data="{data}"/></parts><addrs><addr address="+15550002222"'
                 ' type="137"/></addrs></mms></smses>')
    os.makedirs(os.path.join(WORK, "export"), exist_ok=True)
    cores = run.pin_environment(os.path.join(WORK, "export"))
    spark, proc, _, _ = run.setup(os.path.join(WORK, "export"), cores, False, starts=1)
    try:
        from sms_db_spark.sinks.xml_export import export_xml
        from sms_db_spark.sources.canonical import finalize_import
        from sms_db_spark.sources.xml_source import normalize_xml, read_xml_staging

        result = finalize_import(*normalize_xml(*read_xml_staging(spark, path)))
        try:
            export_xml(result.messages, result.parts, os.path.join(WORK, "out.xml"))
        except Exception as e:  # the finding being reported
            return f"raises {type(e).__name__}"
        return "exports"
    finally:
        run.shutdown(spark, proc)


def main() -> int:
    e2e, layers = declared()
    problems = []
    try:
        for name in ("import_roundtrip", "lane_mix"):
            for trace, want in ((False, e2e), (True, layers)):
                result = measure_with(name, trace)
                problems += check_metrics(result, want, f"{name} trace={int(trace)}")
                if not result["correct"]:
                    problems.append(f"{name} trace={int(trace)}: uncorrupted run is incorrect")
                print(f"# {name} trace={int(trace)}: {len(result['metrics'])} metrics,"
                      f" attempted={result['attempted']} failed={result['failed']}", flush=True)
        for name, corrupt in (("import_roundtrip", corrupt_store_ids),
                              ("import_roundtrip", truncate_export),
                              ("lane_mix", drop_lane_row)):
            result = measure_with(name, False, corrupt)
            if result["correct"] or result["failed"] < 1:
                problems.append(f"{name} {corrupt.__name__}: corrupted output not counted as failed")
            print(f"# {name} {corrupt.__name__}: correct={result['correct']}"
                  f" failed={result['failed']}", flush=True)
        try:
            workloads.check_dense_ids("parts", [1, 2, 2, 3])
            problems.append("check_dense_ids accepted a duplicated _id")
        except workloads.WrongOutput:
            pass
        print(f"# export_xml on an MMS whose first part is binary: {export_binary_first_mms()}",
              flush=True)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
