"""Filters and predicates (reference P2/P3/P4, SURVEY.md §2.2).

Every predicate here reaches the parquet scan (check ``PushedFilters``
in ``.explain("formatted")``): the scale path, because at 100 TB a
filter that does not reach the scan reads the whole table. P2 and P3
run their oracle text on Spark (``sql_spec``); P4's JSON guard is a
Column expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec


# P2: conjunctive filter, equality AND not-null. Reference:
# ``lease.layer === layer.id && lease.source_id`` (task.ts:122) applied
# before the join build, i.e. O1 early filtering.
ORACLE_FILTER_CONJ = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_discount
FROM lineitem
WHERE l_returnflag = 'A' AND l_discount > 0.02 AND l_partkey IS NOT NULL
"""


# P3: disjunctive membership, the ACL gate. Reference:
# ``accessibleSites.includes(site_id) ||
# accessibleCameras.includes(camera_id)`` (task.ts:209-212). Small
# literal lists compile to In predicates pushed to the scan; large ACLs
# take the semi-join form of join_semi.
ORACLE_FILTER_ISIN = """
SELECT c_custkey, c_mktsegment, c_nationkey
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
   OR c_nationkey IN (1, 2, 3)
"""


def filter_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: existence/null-guard before enrichment.

    Reference: ``lease && lease.protocols && lease.protocols.hls``
    (task.ts:245,266) — safe nested access. Emulated over events.props:
    the guard keeps only rows whose JSON payload actually has the field.
    """
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.filter(k.isNotNull() & (k.cast("int") >= F.lit(50))).select(
        "event_id", k.cast("int").alias("k")
    )


ORACLE_FILTER_NULLSAFE = """
SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
FROM events
WHERE props->>'$.k' IS NOT NULL AND CAST(props->>'$.k' AS INTEGER) >= 50
"""


QUERIES = {
    "filter_conj": sql_spec(
        ORACLE_FILTER_CONJ, "reference:P2", "reference:O1",
        doc="equality + not-null conjunctive filter, task.ts:122",
    ),
    "filter_isin": sql_spec(
        ORACLE_FILTER_ISIN, "reference:P3",
        doc="disjunctive IN-list membership gate, task.ts:209-212",
    ),
    "filter_nullsafe": spec(
        filter_nullsafe, ORACLE_FILTER_NULLSAFE, "reference:P4",
        doc="null-guarded nested access, task.ts:245,266",
    ),
}
