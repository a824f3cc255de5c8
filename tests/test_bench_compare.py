"""Pin tools/bench_compare's two-artifact diff: its exit code is the
CI-style guard (1 when a shared query got slower than the threshold, 0
otherwise), and it must read both an artifact that wraps the bench line
under "parsed" and bench.py's raw stdout."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import bench_compare

OLD = {"q01": 1.0, "q06": 2.0, "q07": 0.5}


def _wrapped_artifact(tmp_path, queries):
    """The bench line wrapped under "parsed", next to other fields."""
    p = tmp_path / "old.json"
    doc = {"metric": "headline_queries_total_wall", "queries": queries}
    p.write_text(json.dumps({"rc": 0, "parsed": doc, "tail": "..."}))
    return str(p)


def _raw_stdout(tmp_path, queries):
    """bench.py's stdout: progress-bar noise, the main line, the compact
    per-query lines (which also carry a "queries" key) and the totals."""
    main = {"metric": "headline_queries_total_wall", "queries": queries,
            "value": round(sum(queries.values()), 3)}
    compact = {"metric": "per_query_headline", "part": "1/1", "n_omitted": 0,
               "queries": {"q01": 99.0}}
    totals = {"metric": "headline_queries_total_wall", "value": main["value"]}
    p = tmp_path / "new.txt"
    p.write_text(
        "[Stage 3:====>   (2 + 2) / 4]\r"
        + "\n".join(json.dumps(d) for d in (main, compact, totals))
        + "\n"
    )
    return str(p)


def _paths(tmp_path, new):
    return _wrapped_artifact(tmp_path, OLD), _raw_stdout(tmp_path, new)


def _main(monkeypatch, *argv):
    monkeypatch.setattr(sys, "argv", ["bench_compare.py", *argv])
    return bench_compare.main()


def test_loads_wrapped_artifact_and_raw_stdout(tmp_path):
    assert bench_compare.load(_wrapped_artifact(tmp_path, OLD))["queries"] == OLD
    # the main line, not a compact per-query line, is what gets diffed
    assert bench_compare.load(_raw_stdout(tmp_path, OLD))["queries"] == OLD


def test_shared_query_past_threshold_exits_1(tmp_path, monkeypatch, capsys):
    new = dict(OLD, q06=3.2)  # 1.6x > default 1.5x
    rc = _main(monkeypatch, *_paths(tmp_path, new))
    out = capsys.readouterr().out
    assert rc == 1
    flagged = [line for line in out.splitlines() if "REGRESSION" in line]
    assert len(flagged) == 1 and flagged[0].startswith("q06")


def test_within_threshold_exits_0(tmp_path, monkeypatch, capsys):
    # q06 slower by 1.6x but under an explicit 2.0 threshold; an added
    # lane is reported, never flagged
    new = dict(OLD, q06=3.2, q99=10.0)
    assert _main(monkeypatch, *_paths(tmp_path, new), "2.0") == 0
    out = capsys.readouterr().out
    assert "REGRESSION" not in out
    assert "added (1)" in out


def test_faster_and_removed_queries_exit_0(tmp_path, monkeypatch, capsys):
    new = {"q01": 0.5, "q06": 2.0}
    rc = _main(monkeypatch, *_paths(tmp_path, new))
    assert rc == 0
    assert "removed (1): ['q07']" in capsys.readouterr().out
