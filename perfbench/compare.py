"""Compare two benchmark reports metric by metric.

Reports are the files ``run.py`` saves under ``.perfbench/results/``.
Runs made with different task-slot counts (``SPARK_GRAFT_CPUS``) are
never compared: the tool refuses and exits with code 2.

Usage: ``python3 perfbench/compare.py BEFORE.json AFTER.json``
"""

from __future__ import annotations

import json
import sys


def main(before_path: str, after_path: str) -> int:
    with open(before_path) as f:
        before = json.load(f)
    with open(after_path) as f:
        after = json.load(f)
    cpus = (before["env"]["SPARK_GRAFT_CPUS"], after["env"]["SPARK_GRAFT_CPUS"])
    if cpus[0] != cpus[1]:
        print(f"refusing to compare runs with different cpus: {cpus[0]} vs {cpus[1]}",
              file=sys.stderr)
        return 2
    for key in ("workload", "sf", "tree_id"):
        print(f"{key:10s} {before['env'][key]}  ->  {after['env'][key]}")
    for name, b in before["metrics"].items():
        a = after["metrics"].get(name)
        if a is None:
            continue
        ratio = f"{a['value'] / b['value']:.3f}x" if b["value"] else "-"
        print(f"{name:36s} {b['value']:12.4f} {a['value']:12.4f} {b['unit']:6s} {ratio}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
