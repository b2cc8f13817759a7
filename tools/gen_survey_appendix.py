"""Regenerate SURVEY.md Appendix A from the live registry.

Run after adding/renaming registered queries:

    python tools/gen_survey_appendix.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_verkada_spark.registry import build_registry  # noqa: E402

SURVEY = os.path.join(ROOT, "SURVEY.md")
MARK = "## Appendix A"


def main() -> None:
    r = build_registry()
    hdr = (
        f"{len(r)} queries; every row is runnable as "
        "`__spark_entry__.queries()[name](spark, sf_dir)`. 'oracle' = "
        "checked against DuckDB SQL by value hash; 'rows-only' = genuinely "
        "engine-specific result (sketches, ANN cells, streaming state), "
        "deterministic via fixed seeds. 'window' = insertion-order "
        "position; positions 0-49 (✓) are inside the driver's hard "
        "correctness window (registry.PRIORITY_ORDER — rotated each round "
        "toward never-driver-checked and recently-changed queries; "
        "everything past 50 has a driver-green row from an earlier round "
        "or parity coverage via tools/parity_check.py)."
    )
    pos = {n: i for i, n in enumerate(r)}
    lines = []
    for n in sorted(r):
        q = r[n]
        check = "oracle" if q.oracle else "rows-only"
        p = pos[n]
        w = f"{p} ✓" if p < 50 else str(p)
        lines.append(
            f"| `{n}` | {check} | {w} | {', '.join(sorted(q.tags))} |"
            f" {q.doc} |"
        )
    text = open(SURVEY).read()
    head, _ = text.split(MARK, 1)
    with open(SURVEY, "w") as f:
        f.write(
            head
            + "## Appendix A — registered operator inventory "
            "(generated from the registry)\n\n"
            + hdr
            + "\n\n| query | check | window | provenance | what it does |\n"
            "|---|---|---|---|---|\n"
            + "\n".join(lines)
            + "\n"
        )
    print(f"Appendix A regenerated: {len(lines)} rows")


if __name__ == "__main__":
    main()
