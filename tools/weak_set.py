"""Print the adjudicated bench weak set from the bench log.

The per-round grading question is always the same: which pairs are
>2x floor-adjusted, NOT floor-bound, and what does the record already
say about them (annotation / unstable flag / twin exclusion)? This
reduces the log (``bench.reduce``) for the newest run's tree, core
count and sf, and answers it in one table per section.

    python tools/weak_set.py [BENCH_LOG.jsonl]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
import bench  # noqa: E402

# the in-record floor-band policy — ONE definition, owned by bench.py
# (r14 advice: a local copy could drift from the committed record's
# floor_bound tags)
from bench import FLOOR_BAND_DUCK_S as FLOOR_DUCK_S  # noqa: E402
from bench import FLOOR_BAND_SPARK_S as FLOOR_SPARK_S  # noqa: E402


def weak_rows(queries, duck, floor_s, annotations, unstable):
    rows = []
    for n in sorted(duck, key=lambda n: -(
        max(queries.get(n, 0) - floor_s, 0.0) / duck[n] if duck[n] else 0
    )):
        if n not in queries or duck[n] <= 0:
            continue
        ratio = max(queries[n] - floor_s, 0.0) / duck[n]
        if ratio <= 2.0:
            continue
        floor_bound = (
            queries[n] <= FLOOR_SPARK_S and duck[n] <= FLOOR_DUCK_S
        )
        tags = []
        if floor_bound:
            tags.append("floor-bound")
        if n in (annotations or {}):
            tags.append("annotated")
        if n in (unstable or []):
            tags.append("unstable")
        rows.append((n, ratio, queries[n], duck[n], tags))
    return rows


def report(label, queries, duck, floor_s, annotations, unstable):
    rows = weak_rows(queries, duck, floor_s, annotations, unstable)
    hot = [r for r in rows if "floor-bound" not in r[4]]
    print(f"\n== {label}: {len(hot)} non-floor-bound >2x "
          f"({len(rows) - len(hot)} floor-bound suppressed) ==")
    for n, ratio, s, d, tags in hot:
        print(f"  {n:32s} {ratio:6.2f}x  spark {s:7.3f}  duck {d:7.3f}"
              f"  {','.join(tags) or '-'}")


def main() -> None:
    path = sys.argv[1] if len(sys.argv) > 1 else bench.LOG_PATH
    rows = bench.read_log(path)
    key = bench.last_run(rows)
    if key is None:
        sys.exit(f"no headline rows in {path}")
    d, _ = bench.reduce(rows, *key)
    floor = d["spark_fixed_overhead_sec"]
    s1 = d.get("sf1") or {}
    ann = s1.get("annotations") or {}
    report(
        f"sf{d['sf']} ({d['runs_merged']} runs)", d["queries"], d["duckdb"],
        floor, ann, [],
    )
    if s1.get("queries"):
        report(
            f"sf1 ({s1['runs_merged']} runs)", s1["queries"],
            s1.get("duckdb", {}), s1.get("floor_s", floor), ann,
            s1.get("unstable"),
        )


if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:  # `| head` is a normal way to read this
        pass
