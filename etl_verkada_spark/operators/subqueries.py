"""Correlated / scalar subqueries (beyond-reference).

The reference's only subquery-shaped logic is the ACL membership gate
(task.ts:209-212 — a semi-join, covered by J3). The engine exposes the
full SQL subquery surface through ``spark.sql`` so Catalyst's
decorrelation is exercised end-to-end:

* EXISTS  -> rewritten to a left-semi join (RewriteCorrelatedScalarQuery
  / RewritePredicateSubquery) — same physical plan as J3;
* IN      -> left-semi with null-aware handling;
* scalar  -> one-row aggregate joined as a broadcast (cross) — computed
  once, not per row.

Except ``subquery_all``, each query is its oracle's SQL text, run by
Spark through ``catalog.sql`` (the point is the SQL surface; the
DataFrame forms live in joins.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec, sql_spec


# Catalyst decorrelates the correlated EXISTS to a left-semi join on
# c_custkey: no per-row subquery execution exists in the plan.
ORACLE_SUBQUERY_EXISTS = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
"""


ORACLE_SUBQUERY_IN = """
SELECT l_orderkey, l_partkey, l_quantity
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
"""


# MAX is exact on doubles (no accumulation), so the predicate boundary
# is bit-identical in both engines: the reason this query uses MAX/2
# rather than AVG (an order-sensitive double sum).
ORACLE_SUBQUERY_SCALAR = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > (SELECT MAX(o_totalprice) / 2 FROM orders)
"""


# The per-row-subplan operator (Postgres LATERAL / APPLY): for each
# outer row, the inner SELECT sees that row's columns. Catalyst
# decorrelates it (the plan is a window rank over the join, not an
# inner query per customer), which is the entire reason the construct
# survives at 100 TB: the naive per-row execution is O(customers)
# subplans; the decorrelated form is one join + one window. Total
# ordering (price desc, orderkey) makes the top-2 deterministic.
ORACLE_SUBQUERY_LATERAL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
"""


def subquery_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparison (`> ALL (...)`) — suppliers whose account
    balance beats EVERY rich BUILDING-segment customer balance in the
    same nation (the inner restriction keeps the result non-empty at
    every SF and exercises BOTH arms: nations with no qualifying
    customers take the vacuous-truth path).

    Spark SQL has no ALL/ANY subquery syntax, so this is the manual
    decorrelation Catalyst would have to produce anyway: the correlated
    inner set collapses to one MAX per nation (exact on doubles — no
    accumulation), a broadcast-able grid joins back, and the ALL
    semantics over an EMPTY inner set (vacuously true) survives as the
    left join's NULL arm. One corpus-scale scan per side, one
    nation-sized join — the O(|inner|) per-outer-row evaluation never
    exists.
    """
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    mx = (
        c.filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("c_acctbal") > 9000.0)
        )
        .groupBy("c_nationkey")
        .agg(F.max("c_acctbal").alias("max_bal"))
    )
    return (
        s.join(F.broadcast(mx),
               s["s_nationkey"] == mx["c_nationkey"], "left")
        .filter(F.col("max_bal").isNull()
                | (F.col("s_acctbal") > F.col("max_bal")))
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )


ORACLE_SUBQUERY_ALL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier s
WHERE s_acctbal > ALL (
  SELECT c_acctbal FROM customer c
  WHERE c.c_nationkey = s.s_nationkey
    AND c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 9000.0
)
"""


# NOT IN with a NULL-tainted subquery: the three-valued-logic trap every
# SQL engine must get right and naive anti-join rewrites get wrong. One
# NULL in the list makes ``x NOT IN (list)`` UNKNOWN for every x, so the
# tainted predicate admits ZERO rows, while the null-filtered form is a
# plain anti join. One row pins the corpus size, the tainted count (0:
# Spark plans a null-aware anti join, NAAJ) and the null-filtered count
# (customers with no non-P order, an ordinary left-anti).
#
# At 100 TB the null-filtered form is a shuffled left-anti join (scales
# like J4); the tainted form degenerates to a broadcast nested loop BY
# SEMANTIC NECESSITY (any NULL anywhere decides every row). The advice
# is what every warehouse gives: write NOT EXISTS (subquery_exists).
ORACLE_SUBQUERY_NOT_IN = """
SELECT
  (SELECT COUNT(*) FROM customer) AS n_customers,
  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
     (SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_custkey END FROM orders)) AS n_tainted,
  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
     (SELECT o_custkey FROM orders WHERE o_orderstatus <> 'P'))
    AS n_filtered
"""


QUERIES = {
    "subquery_exists": sql_spec(
        ORACLE_SUBQUERY_EXISTS, "beyond",
        doc="correlated EXISTS, decorrelated to left-semi",
    ),
    "subquery_in": sql_spec(
        ORACLE_SUBQUERY_IN, "beyond",
        doc="IN-subquery -> null-aware left-semi",
    ),
    "subquery_scalar": sql_spec(
        ORACLE_SUBQUERY_SCALAR, "beyond",
        doc="scalar subquery computed once (broadcast)",
    ),
    "subquery_lateral": sql_spec(
        ORACLE_SUBQUERY_LATERAL, "beyond",
        doc="correlated LATERAL top-N per row, decorrelated by Catalyst",
    ),
    "subquery_all": spec(
        subquery_all, ORACLE_SUBQUERY_ALL, "beyond",
        doc="quantified > ALL comparison, manually decorrelated to "
            "max-grid + null-armed left join",
    ),
    "subquery_not_in": sql_spec(
        ORACLE_SUBQUERY_NOT_IN, "beyond",
        doc="NOT IN three-valued-logic trap: NULL-tainted list admits "
            "zero rows (null-aware anti join) vs the filtered anti join",
    ),
}
