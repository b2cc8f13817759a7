"""Adjudicate bench reproducibility: reduce two runs of the bench log
separately and compare them per query, reporting whether they agree
within a tolerance (r5 verdict #2: two consecutive full runs must agree
within +-30% per query or the ratios are environment noise, not
measurements).

Usage: python tools/bench_agreement.py RUN_ID_A RUN_ID_B [tol]

Compares the sf0.1 per-query Spark minima and, when both runs carry
sf1 rows, the sf1 minima for both engines. Queries flagged ``unstable``
(spread > 2x) in either run are reported separately — their
disagreement is already declared by the record itself. Without
arguments it lists the run ids in the log.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def compare(a: dict, b: dict, label: str, tol: float, unstable: set):
    rows = []
    for name in sorted(set(a) & set(b)):
        x, y = a[name], b[name]
        if min(x, y) <= 0:
            continue
        rel = max(x, y) / min(x, y) - 1.0
        rows.append((name, x, y, rel))
    bad = [r for r in rows if r[3] > tol and r[0] not in unstable]
    print(f"\n== {label}: {len(rows)} paired, "
          f"{len(bad)} beyond {tol:.0%} (excl. declared-unstable)")
    for name, x, y, rel in sorted(rows, key=lambda r: -r[3]):
        flag = (" UNSTABLE" if name in unstable
                else ("  <-- DISAGREES" if rel > tol else ""))
        print(f"  {name:28s} {x:8.3f} {y:8.3f}  {rel:6.1%}{flag}")
    return len(bad)


def run_record(rows: list[dict], run_id: str) -> dict:
    """The detail record of one run's rows alone."""
    mine = [r for r in rows if r.get("run_id") == run_id]
    key = bench.last_run(mine)
    if key is None:
        sys.exit(f"run {run_id} has no headline rows in {bench.LOG_PATH}")
    return bench.reduce(mine, *key)[0]


def main() -> int:
    rows = bench.read_log()
    if len(sys.argv) < 3:
        for run_id in dict.fromkeys(r.get("run_id") for r in rows):
            print(run_id)
        return 0
    tol = float(sys.argv[3]) if len(sys.argv) > 3 else 0.30
    r1, r2 = (run_record(rows, run_id) for run_id in sys.argv[1:3])
    s1, s2 = r1.get("sf1") or {}, r2.get("sf1") or {}
    unstable = set(s1.get("unstable", [])) | set(s2.get("unstable", []))
    n_bad = compare(r1["queries"], r2["queries"], "sf0.1 spark (min)", tol, set())
    n_bad += compare(s1.get("queries", {}), s2.get("queries", {}),
                     "sf1 spark (min)", tol, unstable)
    n_bad += compare(s1.get("duckdb", {}), s2.get("duckdb", {}),
                     "sf1 duckdb (min)", tol, unstable)
    print(f"\nverdict: {'AGREE' if n_bad == 0 else f'{n_bad} DISAGREEMENTS'}"
          f" at tol={tol:.0%} (unstable-declared excluded: {sorted(unstable)})")
    return 0 if n_bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
