"""Diff two bench JSON artifacts (bench.py's main line, its raw stdout,
or an artifact that wraps that line under "parsed"): per-query
deltas, regressions flagged, and the net total movement, so plan
changes can be told apart from query-set changes at a glance.

Usage: python tools/bench_compare.py OLD.json NEW.json [threshold_ratio]
Exit code 1 if any shared query got slower by more than the threshold
(default 1.5x), 0 otherwise.
"""

from __future__ import annotations

import json
import re
import sys


def load(path: str) -> dict:
    raw = open(path).read()
    try:
        doc = json.loads(raw)
        # driver artifact shape: the bench line lives under "parsed"
        if isinstance(doc, dict) and "parsed" in doc:
            return doc["parsed"]
        if isinstance(doc, dict) and "queries" in doc:
            return doc
    except json.JSONDecodeError:
        pass
    m = re.search(r'\{"metric".*\}', raw)  # raw bench.py stdout (progress bars ok)
    if not m:
        raise SystemExit(f"{path}: no bench JSON line found")
    return json.loads(m.group(0))


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old, new = load(sys.argv[1]), load(sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    oq, nq = old["queries"], new["queries"]
    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))

    regressions = []
    print(f"{'query':<34} {'old':>8} {'new':>8} {'ratio':>7}")
    for q in sorted(shared, key=lambda q: -(nq[q] / max(oq[q], 1e-9))):
        ratio = nq[q] / max(oq[q], 1e-9)
        flag = " <-- REGRESSION" if ratio > threshold else ""
        if flag:
            regressions.append(q)
        print(f"{q:<34} {oq[q]:>8.2f} {nq[q]:>8.2f} {ratio:>6.2f}x{flag}")

    so, sn = sum(oq[q] for q in shared), sum(nq[q] for q in shared)
    print(f"\nshared ({len(shared)}): {so:.2f}s -> {sn:.2f}s ({sn / max(so, 1e-9):.2f}x)")
    if added:
        print(f"added ({len(added)}): {sum(nq[q] for q in added):.2f}s  {added}")
    if removed:
        print(f"removed ({len(removed)}): {removed}")
    # artifacts with per-query timings but no precomputed total still diff
    ot = old.get("value", sum(oq.values()))
    nt = new.get("value", sum(nq.values()))
    print(f"totals: {ot:.2f}s -> {nt:.2f}s")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
