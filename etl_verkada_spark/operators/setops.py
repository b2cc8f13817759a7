"""Set operations (SURVEY.md §2.7 — beyond-reference).

UNION DISTINCT / INTERSECT / EXCEPT each plan as a hash aggregate or
join over the shuffled key set; partial aggregation keeps the shuffle
proportional to distinct keys, not rows. Each query is its oracle's SQL
text, run by Spark through ``catalog.sql``.
"""

from __future__ import annotations

from ..registry import sql_spec


ORACLE_SET_UNION = """
SELECT c_custkey AS key FROM customer
UNION
SELECT o_custkey AS key FROM orders
"""


ORACLE_SET_INTERSECT = """
SELECT c_custkey AS key FROM customer
INTERSECT
SELECT o_custkey AS key FROM orders
"""


# Customers with no orders (the relational anti-join's twin). EXCEPT is
# distinct-set difference; EXCEPT ALL (bag difference, below) disagrees
# when a key occurs on both sides with different multiplicities.
ORACLE_SET_EXCEPT = """
SELECT c_custkey AS key FROM customer
EXCEPT
SELECT o_custkey AS key FROM orders
"""


# Bag difference: each customer row consumes one occurrence of its key.
# Distinct-set EXCEPT can't express per-occurrence accounting; bag
# semantics matter whenever multiplicity is data (inventory, retries,
# quota). Spark plans EXCEPT ALL as a counted anti-join (generate +
# aggregate), one shuffle.
ORACLE_SET_EXCEPT_ALL = """
SELECT o_custkey AS key FROM orders
EXCEPT ALL
SELECT c_custkey AS key FROM customer
"""


# Bag intersection: each key keeps the smaller of its two multiplicities.
ORACLE_SET_INTERSECT_ALL = """
SELECT o_custkey AS key FROM orders
INTERSECT ALL
SELECT c_custkey AS key FROM customer
"""


QUERIES = {
    "set_union": sql_spec(ORACLE_SET_UNION, "beyond", doc="UNION DISTINCT"),
    "set_intersect": sql_spec(
        ORACLE_SET_INTERSECT, "beyond", doc="INTERSECT"
    ),
    "set_except": sql_spec(ORACLE_SET_EXCEPT, "beyond", doc="EXCEPT"),
    "set_except_all": sql_spec(
        ORACLE_SET_EXCEPT_ALL, "beyond",
        doc="EXCEPT ALL (bag difference, counted anti-join)",
    ),
    "set_intersect_all": sql_spec(
        ORACLE_SET_INTERSECT_ALL, "beyond",
        doc="INTERSECT ALL (bag intersection)",
    ),
}
