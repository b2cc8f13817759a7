"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and (when an oracle exists) the
oracle SQL on DuckDB over the same parquet tables, then compares the
results the way the driver does: BOTH sides go through pandas
(``toPandas()`` / ``.df()``), so dtype-level drift the driver's hash
would catch (e.g. DuckDB HUGEINT -> float64 vs Spark int64) fails here
too.  See etl_verkada_spark/compare.py.  Usage:

    python tools/parity_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_verkada_spark.catalog import TABLES
from etl_verkada_spark.compare import compare_frames
from etl_verkada_spark.registry import build_registry
from etl_verkada_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    registry = build_registry()
    spark = get_spark("parity-check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            continue
        if q.oracle is None:
            print(
                f"ok*   {name}: rows-only, {len(spdf)} rows "
                f"({time.time() - t0:.1f}s)"
            )
            continue
        try:
            opdf = con.execute(q.oracle).df()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            continue
        problems = compare_frames(spdf, opdf)
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: " + " | ".join(problems))
        else:
            print(f"PASS  {name}: {len(spdf)} rows ({time.time() - t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
